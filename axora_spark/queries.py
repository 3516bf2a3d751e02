"""Driver-contract query library (__spark_entry__.py backend).

Each entry pairs a PySpark callable `(spark, sf_dir) -> DataFrame` with an
ANSI-SQL oracle string for DuckDB over the same parquet tables. Column
names and value semantics are aligned exactly (the driver hash-compares
values after sorting columns by name).

The queries exercise the engine's own operators (SURVEY.md §2) on the
driver tables, plus the large-scale training-data-pipeline operator family
(dedup: exact/minhash/simhash/jaccard; similarity search; text analysis) —
each one is the same code path the crawl engine uses.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from axora_spark.operators.embed import cosine_similarity
from axora_spark.functions.quality import (distinct_word_count,
                                           score_from_counts,
                                           sentence_count, word_count)
from axora_spark.operators.chunking import token_count_col
from axora_spark.operators.decontam import contamination_check
from axora_spark.operators import mixing
from axora_spark.operators.mixing import mix_sample
from axora_spark.operators.pagerank import pagerank as pagerank_op
from axora_spark.functions.sketch import hll_alpha, hll_estimate
from axora_spark.functions.words import (WORDS_SQL, shingles_of_words,
                                         words_col)
from axora_spark.operators.passages import (duplicate_passages,
                                            excise_passages)


@functools.lru_cache(maxsize=64)
def _parquet_schema(spark: SparkSession, path: str, mtime_ns: int,
                    size: int) -> T.StructType:
    """The schema of the parquet file at `path` as it is now: a
    schema-less read runs a one-task inference job every time, so it is
    inferred once per file identity (realpath, st_mtime_ns, st_size); a
    table rewritten in place gets a new identity and is inferred again."""
    return spark.read.parquet(path).schema


def _t(spark: SparkSession, sf_dir: str, name: str,
       spread: bool = False) -> DataFrame:
    """Read a driver table. Its schema is inferred on the first read of
    the file and reused after (no Spark job). spread=True repartitions
    to the session's parallelism — the sandbox tables are
    single-row-group files (one scan task), which would serialize
    CPU-heavy per-row expressions (hashing, shingling) onto one core. At
    production scale scans have thousands of splits and the repartition
    is a no-op-sized shuffle either way."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    schema = _parquet_schema(spark, os.path.realpath(path), st.st_mtime_ns,
                             st.st_size)
    df = spark.read.schema(schema).parquet(path)
    if spread:
        n = spread if isinstance(spread, int) and spread is not True \
            else spark.sparkContext.defaultParallelism
        df = df.repartition(n)
    return df


# single definition (code-review r5): functions/words.py owns the
# tokenization and its SQL mirror
_words_col = words_col
_WORDS_SQL = WORDS_SQL


# --------------------------------------------------------------------------
# Crawl-engine operators on driver tables
# --------------------------------------------------------------------------

# F1–F3 — frontier filters over synthesized URLs (documents table).
# URL path construction is shared verbatim between both sides.

def q_frontier_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    path = (F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit("/about_us/"), F.col("doc_id")))
             .when(F.col("doc_id") % 5 == 1,
                   F.concat(F.lit("/tag/"), F.col("doc_id")))
             .when(F.col("doc_id") % 5 == 2,
                   F.concat(F.lit("/subscribe/"), F.col("doc_id")))
             .when(F.col("doc_id") % 5 == 3,
                   F.concat(F.lit("/Page.php/"), F.col("doc_id")))
             .otherwise(F.concat(F.lit("/post/"), F.col("doc_id"))))
    scheme = F.when(F.col("doc_id") % 7 == 0, F.lit("http://")) \
              .otherwise(F.lit("https://"))
    df = docs.select(
        F.col("doc_id"),
        F.concat(scheme, F.col("source"), F.lit(".example.org"), path)
         .alias("url"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"))
    # real engine predicates: F1 https allowlist + F3 skip-path
    from axora_spark.operators.filters import (low_value_skip_filter,
                                               url_allow_filter)
    kept = df.filter(url_allow_filter(F.col("url"), (r"^https://.*$",))
                     & low_value_skip_filter(F.col("url")))
    return kept.select("doc_id", "url", "host")


SQL_FRONTIER_FILTERS = """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END)
         || source || '.example.org' ||
         (CASE WHEN doc_id % 5 = 0 THEN '/about_us/' || doc_id
               WHEN doc_id % 5 = 1 THEN '/tag/' || doc_id
               WHEN doc_id % 5 = 2 THEN '/subscribe/' || doc_id
               WHEN doc_id % 5 = 3 THEN '/Page.php/' || doc_id
               ELSE '/post/' || doc_id END) AS url,
         source || '.example.org' AS host,
         (CASE WHEN doc_id % 5 = 0 THEN '/about_us/' || doc_id
               WHEN doc_id % 5 = 1 THEN '/tag/' || doc_id
               WHEN doc_id % 5 = 2 THEN '/subscribe/' || doc_id
               WHEN doc_id % 5 = 3 THEN '/Page.php/' || doc_id
               ELSE '/post/' || doc_id END) AS path
  FROM documents)
SELECT doc_id, url, host FROM u
WHERE regexp_matches(url, '^https://.*$')
  AND NOT regexp_matches(
        replace(replace(lower(path), '_', '-'), '.', '-'),
        '(contact|privacy|terms|faq|tag|archive|about|signin|login|register|\nsubscribe|feedback|cookies|sitemap|help|introduction|portal|events|community|search|changes|contribution)')
"""


# W1 — politeness admission over documents-as-frontier.

def q_politeness_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from axora_spark.operators import politeness
    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc/"), F.col("doc_id")).alias("url"),
        F.col("source").alias("host"),
        F.lit(1).alias("depth"),
        F.col("n_chars").cast("double").alias("priority"),
        F.lit(0).alias("discovered_wave"),
        F.lit("pending").alias("status"),
    ).withColumn("url_hash", F.xxhash64(F.col("url")))
    admitted, _deferred = politeness.admit(frontier, host_budget=5, salt=4)
    return admitted.select("host", "rank", "url",
                           F.col("priority").alias("n_chars"))


SQL_POLITENESS_RANK = """
WITH f AS (
  SELECT 'https://' || source || '.example.org/doc/' || doc_id AS url,
         source AS host, CAST(n_chars AS DOUBLE) AS n_chars
  FROM documents),
r AS (
  SELECT host, url, n_chars,
         row_number() OVER (PARTITION BY host
                            ORDER BY n_chars DESC, url ASC) AS rank
  FROM f)
SELECT host, rank, url, n_chars FROM r WHERE rank <= 5
"""


# J1 — URL-seen anti-join shape (lineitem anti orders).

def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
              .groupBy("l_returnflag")
              .agg(F.count("*").alias("n_items"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))


SQL_SEEN_ANTIJOIN = """
SELECT l_returnflag, count(*) AS n_items,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_orderkey = l_orderkey AND o_totalprice > 150000)
GROUP BY l_returnflag
"""


# U1 — within-wave dedup (deterministic groupBy collapse) on events.

def q_wave_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id", "event_type")
              .agg(F.min("ts").alias("first_ts"),
                   F.max("value").alias("max_value"),
                   F.count("*").alias("n_dups")))


SQL_WAVE_DEDUP = """
SELECT user_id, event_type, min(ts) AS first_ts,
       max(value) AS max_value, count(*) AS n_dups
FROM events GROUP BY user_id, event_type
"""


# --------------------------------------------------------------------------
# Dedup family (training-data pipeline)
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text), keep min doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return (docs
            .withColumn("content_hash", F.sha2(F.col("text"), 256))
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("keeper_doc_id"),
                 F.count("*").alias("n_copies")))


SQL_DEDUP_EXACT = """
SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""

N_MINHASH = 8


# single definition in functions/words.py (the words_col precedent —
# the minhash family, doc_fingerprint and the incremental ingest all
# shingle identically or oracle parity breaks)
_shingles_of_words = shingles_of_words


def _shingles_col(text: Column) -> Column:
    """Shingles straight from text — only for single-use expression
    positions; multi-stage plans should materialize words + shingles in
    their own projections (see q_minhash_signature)."""
    return _shingles_of_words(_words_col(text))


_SHINGLES_SQL = f"""
CASE WHEN len({_WORDS_SQL}) >= 3 THEN
  list_transform(range(0, len({_WORDS_SQL}) - 2),
    i -> {_WORDS_SQL}[i+1] || ' ' || {_WORDS_SQL}[i+2] || ' ' || {_WORDS_SQL}[i+3])
ELSE [] END
"""


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash: ONE sha256 per shingle; permutation i = the i-th disjoint
    8-hex-char slice of that digest (8 × 32-bit values — the standard
    one-hash minhash family; min over fixed-width hex is a valid uniform
    minhash). Exploded to (doc_id, perm, minhash) rows.

    Round 1 hashed every shingle 8× (sha256(shingle∥'#'∥i) per
    permutation) — 16.9s at sf0.1 under the honest noop-sink bench; the
    digest-slice family needs one hash. Every stage is materialized in
    its OWN projection (words → shingles → digests → sig) so each is
    referenced as a column attribute. Two pushdown traps defeated here
    (both caught via PLANS.md — each silently recomputed the WHOLE
    sha256 pipeline in a pre-Exchange Filter):
      * the emptiness filter runs on size(words) >= 3 — filtering on
        size(sh) > 0 lets pushdown substitute the full shingle tree
        into the filter;
      * the explode is posexplode_OUTER — a plain posexplode makes
        InferFiltersFromGenerate add size(sig) > 0, whose pushdown
        inlines the digest pipeline (sig is always length-8 here, so
        outer ≡ inner)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    words = (docs.select("doc_id", _words_col(F.col("text")).alias("w"))
             .filter(F.size("w") >= 3))
    sh = words.select("doc_id",
                      _shingles_of_words(F.col("w")).alias("sh"))
    hashed = sh.select(
        "doc_id",
        F.transform(F.col("sh"), lambda s: F.sha2(s, 256)).alias("hs"))
    def _slice_min(lo: int) -> Column:
        # closure factory, NOT a lambda default arg — a 2-arg transform
        # lambda is the (element, index) overload
        return F.array_min(F.transform(
            F.col("hs"), lambda h: F.substring(h, lo, 8)))

    sig = hashed.select(
        "doc_id",
        F.array(*[_slice_min(i * 8 + 1)
                  for i in range(N_MINHASH)]).alias("sig"))
    return sig.select("doc_id",
                      F.posexplode_outer("sig").alias("perm", "minhash"))


SQL_MINHASH_SIGNATURE = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
),
h AS (
  SELECT doc_id, list_transform(sh, x -> sha256(x)) AS hs
  FROM s WHERE len(sh) > 0
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {N_MINHASH}),
           i -> list_min(list_transform(hs,
                  x -> substr(x, (i*8)::int + 1, 8)))) AS sig
  FROM h
)
SELECT doc_id, u.i - 1 AS perm, sig[u.i] AS minhash
FROM sig, (SELECT unnest(range(1, {N_MINHASH} + 1)) AS i) u
"""


def q_minhash_near_dup(spark: SparkSession, sf_dir: str,
                       sig: DataFrame | None = None,
                       max_bucket: int | None = None) -> DataFrame:
    """LSH banding: 4 bands × 2 rows; pair (a<b) is a candidate if any band
    signature matches. Scale path: band bucket-join, not pairwise; `sig`
    lets callers (bench, crawl path) pass a PERSISTED signature instead of
    recomputing it, and `max_bucket` caps degenerate buckets
    (operators/neardup.lsh_candidate_pairs)."""
    from axora_spark.operators import neardup
    standalone = sig is None
    if standalone:
        sig = q_minhash_signature(spark, sf_dir)
    bands = neardup.band_buckets(sig, rows_per_band=2)
    if standalone:
        # compute the band table ONCE for the self-join: Spark's
        # exchange reuse does not fire across these two branches
        # (verified in the executed plan — both sides carried a full
        # signature pipeline). Only the standalone form checkpoints: a
        # caller-persisted sig already makes the branches cheap, and a
        # second executor-storage copy would just inflate memory
        bands = bands.localCheckpoint(eager=False)
    return neardup.lsh_candidate_pairs(bands, max_bucket=max_bucket)


SQL_MINHASH_NEAR_DUP = f"""
WITH s AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
),
h AS (
  SELECT doc_id, list_transform(sh, x -> sha256(x)) AS hs
  FROM s WHERE len(sh) > 0
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {N_MINHASH}),
           i -> list_min(list_transform(hs,
                  x -> substr(x, (i*8)::int + 1, 8)))) AS sig
  FROM h
),
bands AS (
  SELECT doc_id, u.b AS band,
         list_aggregate(list_sort([sig[2*u.b + 1], sig[2*u.b + 2]]),
                        'string_agg', '|') AS band_key
  FROM sig, (SELECT unnest(range(0, 4)) AS b) u
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest (operators/incremental.py): docs with
    doc_id % 5 == 4 arrive as the NEW batch against a signature store
    of the rest; a new doc is assigned dup_of = the smallest store or
    earlier-batch doc sharing an LSH band whose signature-agreement
    Jaccard estimate is ≥ 0.5. This is the per-wave dedup shape a
    production pipeline runs instead of re-blocking the whole corpus
    (the store holds 8 minhash slices per doc, never text)."""
    from axora_spark.operators.incremental import (incremental_near_dup,
                                                   minhash_sig_array)
    docs = _t(spark, sf_dir, "documents", spread=True)
    new = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 5 != 4).select("doc_id", "text")
    return incremental_near_dup(minhash_sig_array(new),
                                minhash_sig_array(store), threshold=0.5)


SQL_NEARDUP_INCREMENTAL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
h AS (SELECT doc_id, list_transform(sh, x -> sha256(x)) AS hs
      FROM s WHERE len(sh) > 0),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {N_MINHASH}),
           i -> list_min(list_transform(hs,
                  x -> substr(x, (i*8)::int + 1, 8)))) AS sig
  FROM h),
ob AS (
  SELECT doc_id, doc_id % 5 <> 4 AS is_store, u.b AS band,
         list_aggregate(list_sort([sig[2*u.b + 1], sig[2*u.b + 2]]),
                        'string_agg', '|') AS band_key
  FROM sig, (SELECT unnest(range(0, 4)) AS b) u),
nb AS (SELECT doc_id, band, band_key FROM ob WHERE NOT is_store),
cand AS (
  SELECT DISTINCT nb.doc_id AS doc_id, ob.doc_id AS partner
  FROM nb JOIN ob ON nb.band = ob.band AND nb.band_key = ob.band_key
       AND (ob.is_store OR ob.doc_id < nb.doc_id)),
v AS (
  SELECT c.doc_id, c.partner,
         round(CAST(len(list_filter(range(1, {N_MINHASH} + 1),
                 i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
               / {N_MINHASH}, 6) AS est
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_id
              JOIN sig sb ON sb.doc_id = c.partner)
SELECT doc_id, min(partner) AS dup_of,
       arg_min(est, partner) AS est_jaccard
FROM v WHERE est >= 0.5 GROUP BY doc_id
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expensive CC stage of q_dedup_clusters on its own: minhash
    signature → LSH band buckets → star edges → alternating large/small-
    star connected components. A production corpus build runs this ONCE,
    persists (doc_id, cluster_id), and every downstream audit joins
    against it — bench.py measures that shape as
    pipeline_funnel_cached."""
    from axora_spark.operators import neardup
    sig = q_minhash_signature(spark, sf_dir)
    bands = (neardup.band_buckets(sig, rows_per_band=2)
             .localCheckpoint(eager=False))  # see q_minhash_near_dup
    edges = neardup.bucket_star_edges(bands)
    return neardup.connected_components_star(edges)


def q_dedup_clusters(spark: SparkSession, sf_dir: str,
                     comp: DataFrame | None = None) -> DataFrame:
    """Dedup CLUSTER assignment — the step after candidate pairs that a
    real dedup pipeline materializes: connected components over the
    minhash LSH bucket graph, cluster_id = min doc_id of the component,
    one row per document (singletons cluster alone).

    Scale shape: star edges per bucket (O(members), never O(members²) —
    operators/neardup.bucket_star_edges) + alternating large-star/
    small-star CC (neardup.connected_components_star — O(log n) rounds
    vs min-label's diameter rounds; min-label remains the small-graph
    path and is parity-tested against it). Keeper choice = min doc_id,
    matching the exact-dedup keeper rule.

    comp=: a precomputed (doc_id, cluster_id) component frame — the
    production shape where the CC job ran once and was persisted; the
    query then costs only the label/size joins (q_pipeline_funnel
    passes this to avoid re-running the fixpoint inline)."""
    if comp is None:
        comp = dedup_components(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    labeled = (docs.join(comp, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("cluster_id", "doc_id")
                       .alias("cluster_id")))
    sizes = (labeled.groupBy("cluster_id")
             .agg(F.count("*").alias("cluster_size")))
    return labeled.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size")


# Oracle: same bucket construction as SQL_MINHASH_NEAR_DUP, star edges,
# then transitive closure via a recursive CTE (UNION dedups → terminates)
# and min reachable doc_id as the component label.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE s AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
),
h AS (
  SELECT doc_id, list_transform(sh, x -> sha256(x)) AS hs
  FROM s WHERE len(sh) > 0
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {N_MINHASH}),
           i -> list_min(list_transform(hs,
                  x -> substr(x, (i*8)::int + 1, 8)))) AS sig
  FROM h
),
bands AS (
  SELECT doc_id, u.b AS band,
         list_aggregate(list_sort([sig[2*u.b + 1], sig[2*u.b + 2]]),
                        'string_agg', '|') AS band_key
  FROM sig, (SELECT unnest(range(0, 4)) AS b) u
),
roots AS (
  SELECT band, band_key, min(doc_id) AS root
  FROM bands GROUP BY band, band_key
),
edges AS (
  SELECT DISTINCT b.doc_id AS a, r.root AS b
  FROM bands b JOIN roots r USING (band, band_key)
  WHERE b.doc_id <> r.root
),
sym AS (
  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
),
labeled AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit): per word w, h = first 4 hex chars of sha256(w);
    bit b of the fingerprint is 1 iff Σ_words (bit_b(h) ? 1 : -1) > 0.
    Native on both engines via hex-nibble arithmetic.

    SINGLE-PASS formulation: one aggregate carries a 16-wide counter array
    (acc[b] += bit_b(h) ? 1 : -1), so the per-word sha256 transform is
    evaluated exactly once per row — the round-1 version ran 16 separate
    aggregates, each re-evaluating the same hash transform (16× redundant
    hashing; VERDICT r1 'What's wrong' #5)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    w = _words_col(F.col("text"))
    hashes = F.transform(w, lambda x: F.conv(
        F.substring(F.sha2(x, 256), 1, 4), 16, 10).cast("int"))
    masks = F.array(*[F.lit(1 << b) for b in range(16)])
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) > 0,
                                    F.lit(1)).otherwise(F.lit(-1))))
    fingerprint = F.aggregate(
        F.zip_with(counters, masks,
                   lambda c, m: F.when(c > 0, m).otherwise(F.lit(0))),
        F.lit(0), lambda acc, x: acc + x)
    return docs.select("doc_id", fingerprint.alias("simhash16"))


def _simhash_sql() -> str:
    hashes = (f"list_transform({_WORDS_SQL}, "
              "x -> ('0x' || substr(sha256(x), 1, 4))::int)")
    terms = []
    for b in range(16):
        contrib = (f"list_sum(list_transform({hashes}, "
                   f"h -> CASE WHEN (h & {1 << b}) > 0 THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN coalesce({contrib}, 0) > 0 "
                     f"THEN {1 << b} ELSE 0 END)")
    return ("SELECT doc_id, (" + " + ".join(terms)
            + ") AS simhash16 FROM documents")


SQL_SIMHASH = _simhash_sql()


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup, BLOCKED leader dedup (block → compare with
    the block's min-doc_id leader → verify, SURVEY.md §2.3): blocking =
    2 min-word-hash keys/doc. The 1-(1-J)² = 0.96 bound (at J=0.8) is the
    probability a dup pair SHARES a block — it is LEADER-CONDITIONAL: the
    pair is only emitted when one of them is (or near-dups) the block's
    min-doc_id leader, so a pair led by an unrelated lower-doc_id doc is
    missed and effective dup-pair recall is lower (ADVICE r2 #4; iterate
    by re-blocking survivors, or use ngram_jaccard_pairs for all pairs).
    Output = (doc_id, dup_of, jaccard) keeper assignments, ≤n rows.
    Round 1 self-joined on `lang` (~n²/5 candidate pairs) and even blocked
    ALL-pairs output is quadratic-sized on this near-dup-heavy corpus —
    leader assignment is the 100-TB dedup shape (VERDICT r1 #2)."""
    from axora_spark.operators import neardup
    docs = _t(spark, sf_dir, "documents", spread=True)
    return neardup.ngram_jaccard_dedup(docs.select("doc_id", "text"),
                                       threshold=0.8, n_keys=2)


_JAC_SQL = ("round(CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
            " / len(list_distinct({a} || {b})), 6)")

SQL_NGRAM_JACCARD = f"""
WITH s AS (
  SELECT doc_id, list_distinct({_WORDS_SQL}) AS ws FROM documents),
k AS (
  SELECT doc_id, ws,
         unnest([
           list_min(list_transform(ws, w -> sha256(w || '#0'))),
           list_min(list_transform(ws, w -> sha256(w || '#1')))]) AS bk
  FROM s WHERE len(ws) > 0),
l AS (
  SELECT bk, min(doc_id) AS leader, arg_min(ws, doc_id) AS lws
  FROM k GROUP BY bk),
c AS (
  SELECT k.doc_id, l.leader,
         {_JAC_SQL.format(a='k.ws', b='l.lws')} AS jaccard
  FROM k JOIN l ON k.bk = l.bk AND k.doc_id > l.leader),
q AS (
  SELECT doc_id, leader, jaccard,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY leader, jaccard) AS rn
  FROM c WHERE jaccard >= 0.8)
SELECT doc_id, leader AS dup_of, jaccard FROM q WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Similarity search (embeddings)
# --------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 query vector (X9; baseline
    ANN). Exact arithmetic in double; ordered output re-ranked determinin-
    istically by (score desc, vec_id)."""
    emb = _t(spark, sf_dir, "embeddings", spread=True)
    qv = emb.filter(F.col("vec_id") == 0) \
            .select(F.col("embedding").alias("qe"))
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    scored = (emb.filter(F.col("vec_id") != 0)
              .crossJoin(F.broadcast(qv))
              .select("vec_id",
                      F.round(cosine_similarity(
                          dbl(F.col("embedding")), dbl(F.col("qe"))), 6)
                       .alias("cos_sim")))
    # orderBy().limit() compiles to TakeOrderedAndProject: per-partition
    # top-10 + a 10-row driver merge. Round 1 used an unpartitioned
    # row_number window, funnelling every scored row through ONE task
    # (VERDICT r1 'What's wrong' #4).
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         round(
           list_sum(list_transform(range(1, len(embedding) + 1),
                    i -> embedding[i]::DOUBLE * qe[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cos_sim
  FROM embeddings, q WHERE vec_id <> 0)
SELECT vec_id, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN scale path: bucket = 4 sign bits of dims 0..3;
    per-bucket population + mean norm (the IVF-style partition statistic)."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = sum(
        F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i))
         .otherwise(F.lit(0))
        for i in range(4))
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))
    return (emb.select(bucket.alias("bucket"), norm.alias("norm"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_vecs"),
                 F.round(F.avg("norm"), 6).alias("avg_norm")))


SQL_ANN_LSH_BUCKETS = """
SELECT
  ((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
   + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
   + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
   + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)) AS bucket,
  count(*) AS n_vecs,
  round(avg(sqrt(list_sum(list_transform(embedding,
        x -> x::DOUBLE * x::DOUBLE)))), 6) AS avg_norm
FROM embeddings GROUP BY 1
"""


_IVF_CELLS = 8   # coarse centroids = vectors vec_id 1..8 (deterministic)
_IVF_PROBES = 2  # cells searched per query


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest of 8
    fixed centroids (vec_id 1..8 — a deterministic stand-in for trained
    k-means centroids), probe the query's 2 nearest cells, exact cosine
    top-10 within the probed cells only. The scale shape: assignment is a
    broadcast 8-row cross join (narrow), the search touches ~probes/cells
    of the data, and the final top-k is TakeOrderedAndProject. Re-training
    centroids is an offline job; the operator is the serving path."""
    emb = _t(spark, sf_dir, "embeddings", spread=True)
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    cents = (emb.filter((F.col("vec_id") >= 1)
                        & (F.col("vec_id") <= _IVF_CELLS))
             .select(F.col("vec_id").alias("cell"),
                     F.col("embedding").alias("cemb")))
    qv = emb.filter(F.col("vec_id") == 0) \
            .select(F.col("embedding").alias("qe"))

    # probe list: the query's _IVF_PROBES nearest centroids (8-row job)
    probe_rows = (cents.crossJoin(F.broadcast(qv))
                  .select("cell",
                          F.round(cosine_similarity(dbl(F.col("cemb")),
                                                    dbl(F.col("qe"))), 6)
                          .alias("qcos"))
                  .orderBy(F.col("qcos").desc(), F.col("cell"))
                  .limit(_IVF_PROBES))

    # assignment: nearest centroid per vector (deterministic tie-break on
    # lower cell id), computed against the broadcast centroid table.
    # Reduce with a partial-aggregating argmax (max_by over the ordering
    # struct (ccos, -cell)) — NOT row_number over a window: the window
    # shape shuffles the full nlist×-expanded relation (embeddings
    # included) with zero map-side reduction, which at production nlist
    # (thousands) makes assignment the dominant shuffle of the job. The
    # partial HashAggregate collapses each vector's nlist scored rows to
    # one BEFORE the exchange, so the shuffle is ~N rows regardless of
    # nlist — same shape q_ann_pq_topk's encoder uses. Plan-gated
    # (test_plan_shapes: partial agg present, no Window exchange).
    base = emb.filter(F.col("vec_id") > _IVF_CELLS)
    scored = (base.crossJoin(F.broadcast(cents))
              .select("vec_id", "embedding", "cell",
                      F.round(cosine_similarity(dbl(F.col("embedding")),
                                                dbl(F.col("cemb"))), 6)
                      .alias("ccos")))
    assigned = (scored.groupBy("vec_id")
                .agg(F.max_by(F.struct("cell", "embedding"),
                              F.struct(F.col("ccos"),
                                       (-F.col("cell")).alias("_nc")))
                     .alias("_a"))
                .select("vec_id", F.col("_a.cell").alias("cell"),
                        F.col("_a.embedding").alias("embedding")))

    probed = assigned.join(F.broadcast(probe_rows.select("cell")), "cell")
    res = (probed.crossJoin(F.broadcast(qv))
           .select("vec_id", "cell",
                   F.round(cosine_similarity(dbl(F.col("embedding")),
                                             dbl(F.col("qe"))), 6)
                   .alias("cos_sim")))
    return res.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)


_COS_SQL = """round(
  list_sum(list_transform(range(1, len({a}) + 1),
           i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
  / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))), 6)"""

SQL_ANN_IVF_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS cemb FROM embeddings
  WHERE vec_id BETWEEN 1 AND {_IVF_CELLS}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cell FROM cents, q
  ORDER BY {_COS_SQL.format(a='cemb', b='qe')} DESC, cell
  LIMIT {_IVF_PROBES}),
scored AS (
  SELECT e.vec_id, e.embedding, c.cell,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cemb')} DESC,
                    c.cell) AS rn
  FROM embeddings e, cents c WHERE e.vec_id > {_IVF_CELLS}),
assigned AS (
  SELECT vec_id, embedding, cell FROM scored WHERE rn = 1),
probed AS (
  SELECT a.* FROM assigned a JOIN probes p ON a.cell = p.cell)
SELECT vec_id, cell, {_COS_SQL.format(a='embedding', b='qe')} AS cos_sim
FROM probed, q
ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


_PQ_M = 4          # subspaces (64-dim fixture → 16 dims each)
_PQ_SUB = 16       # dims per subspace
_PQ_K = 8          # codewords per subspace = the 8 "trained" rows


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): encode each vector
    as M per-subspace codeword ids (argmin squared-L2 to the subspace
    codebook), answer the query by Asymmetric Distance Computation —
    sum over subspaces of the PRECOMPUTED query→codeword distance —
    and return the approximate top-10. Codebook = the subvectors of
    rows 1..K (deterministic stand-in for k-means training, same
    convention as the IVF centroids); the query is row 0.

    Why this operator matters at 100 TB: the encoded table stores
    M bytes per vector instead of 4·D (64× compression here), and the
    serving scan is additions over an M×K lookup table — no float dot
    products against raw vectors at all. Scale shape: encoding is a
    broadcast K-row cross join + one groupBy-min per vector (narrow,
    single aggregation exchange); ADC is a map-side 4-way broadcast
    join against the M×K query-distance table; top-k is
    TakeOrderedAndProject. Distances round to 6dp with codeword-id
    tie-breaks so the cut is engine-stable."""
    emb = _t(spark, sf_dir, "embeddings", spread=True)
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731

    def sub(col: Column, m: int) -> Column:
        return F.slice(col, m * _PQ_SUB + 1, _PQ_SUB)

    def l2sq(a: Column, b: Column) -> Column:
        return F.round(F.aggregate(
            F.zip_with(dbl(a), dbl(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v), 6)

    cents = (emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= _PQ_K))
             .select(F.col("vec_id").alias("cw"),
                     F.col("embedding").alias("cemb")))
    qv = emb.filter(F.col("vec_id") == 0) \
            .select(F.col("embedding").alias("qe"))

    # M×K query→codeword distance lookup table (K rows, tiny)
    qd = (cents.crossJoin(F.broadcast(qv))
          .select("cw", *[l2sq(sub(F.col("qe"), m), sub(F.col("cemb"), m))
                          .alias(f"qd{m}") for m in range(_PQ_M)]))

    # encode: per subspace, the codeword with min (distance, id)
    base = emb.filter(F.col("vec_id") > _PQ_K)
    scored = (base.crossJoin(F.broadcast(cents))
              .select("vec_id", "cw",
                      *[l2sq(sub(F.col("embedding"), m),
                             sub(F.col("cemb"), m)).alias(f"d{m}")
                        for m in range(_PQ_M)]))
    enc = scored.groupBy("vec_id").agg(
        *[F.min(F.struct(F.col(f"d{m}"), F.col("cw")))["cw"]
          .alias(f"code{m}") for m in range(_PQ_M)])

    # ADC: 4 broadcast joins against the lookup table
    res = enc
    for m in range(_PQ_M):
        res = res.join(
            F.broadcast(qd.select(F.col("cw").alias(f"code{m}"),
                                  F.col(f"qd{m}"))), f"code{m}")
    adc = F.round(sum(F.col(f"qd{m}") for m in range(_PQ_M)), 6)
    return (res.select("vec_id",
                       *[F.col(f"code{m}") for m in range(_PQ_M)],
                       adc.alias("pq_dist"))
            .orderBy(F.col("pq_dist").asc(), F.col("vec_id")).limit(10))


def _sql_l2sq(a: str, b: str) -> str:
    return (f"round(list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
            f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))), 6)")


def _sql_sub(col: str, m: int) -> str:
    return f"list_slice({col}, {m * _PQ_SUB + 1}, {(m + 1) * _PQ_SUB})"


SQL_ANN_PQ_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cw, embedding AS cemb FROM embeddings
  WHERE vec_id BETWEEN 1 AND {_PQ_K}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qd AS (
  SELECT cw,
         {", ".join(f"{_sql_l2sq(_sql_sub('qe', m), _sql_sub('cemb', m))} AS qd{m}"
                    for m in range(_PQ_M))}
  FROM cents, q),
scored AS (
  SELECT e.vec_id, c.cw,
         {", ".join(f"{_sql_l2sq(_sql_sub('e.embedding', m), _sql_sub('c.cemb', m))} AS d{m}"
                    for m in range(_PQ_M))}
  FROM embeddings e, cents c WHERE e.vec_id > {_PQ_K}),
ranked AS (
  SELECT vec_id, cw,
         {", ".join(f"row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, cw) AS rn{m}"
                    for m in range(_PQ_M))}
  FROM scored),
enc AS (
  SELECT vec_id,
         {", ".join(f"max(CASE WHEN rn{m} = 1 THEN cw END) AS code{m}"
                    for m in range(_PQ_M))}
  FROM ranked GROUP BY vec_id)
SELECT enc.vec_id,
       {", ".join(f"enc.code{m}" for m in range(_PQ_M))},
       round({" + ".join(f"t{m}.qd{m}" for m in range(_PQ_M))}, 6)
         AS pq_dist
FROM enc
{chr(10).join(f"JOIN qd t{m} ON t{m}.cw = enc.code{m}"
              for m in range(_PQ_M))}
ORDER BY pq_dist ASC, enc.vec_id LIMIT 10
"""


# --------------------------------------------------------------------------
# Text analysis (quality, tokens, language, fingerprint)
# --------------------------------------------------------------------------

_EMB_BITS = 8     # sign bits per LSH table
_EMB_TABLES = 2   # tables (dims [0,8) and [8,16))
# 8 bits × 2 tables keeps the fixture output non-empty (the driver
# embeddings are RANDOM 64-dim vectors, so survivors of a 16-bit agreement
# barely exist); a production 0.99-cosine near-dup run uses bits=16,
# tables=4 + max_bucket — same operator, different constants
# (operators/neardup.embedding_near_dup_pairs; SEMANTICS.md).


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, multi-table sign-LSH blocking: candidates
    must agree on ALL 8 sign bits of one table (2 tables), then exact
    cosine ≥ 0.4 verifies. Round 1 blocked on 4 bits = 16 buckets
    (O(n²/16) pairs — VERDICT r1 'What's wrong' #3)."""
    from axora_spark.operators import neardup
    emb = _t(spark, sf_dir, "embeddings", spread=True)
    return neardup.embedding_near_dup_pairs(
        emb.select("vec_id", "embedding"),
        threshold=0.4, bits=_EMB_BITS, tables=_EMB_TABLES)


def _emb_key_sql(t: int, bits: int = _EMB_BITS) -> str:
    terms = [f"(CASE WHEN embedding[{t * bits + i + 1}] >= 0 "
             f"THEN {1 << i} ELSE 0 END)" for i in range(bits)]
    return "(" + " + ".join(terms) + f" + {t << bits})"


SQL_EMBEDDING_NEAR_DUP = f"""
WITH e AS (
  SELECT vec_id, embedding,
         unnest([{_emb_key_sql(0)}, {_emb_key_sql(1)}]) AS bk
  FROM embeddings),
p AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(
           list_sum(list_transform(range(1, len(a.embedding) + 1),
                    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cos_sim
  FROM e a JOIN e b ON a.bk = b.bk AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.4
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 + A1–A3 on the documents table — the engine's own native exprs.
    Counts materialize once as attribute columns; score and gate derive
    from those (see quality.score_from_counts — the single-select form
    re-ran the split 22× per row)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    t = F.col("text")
    base = docs.select(
        "doc_id",
        word_count(t).alias("wc"),
        distinct_word_count(t).alias("dwc"),
        sentence_count(t).alias("sc"))
    score = score_from_counts(F.col("wc"), F.col("dwc"), F.col("sc"))
    return base.select(
        "doc_id", "wc", "dwc", "sc",
        F.round(score, 6).alias("score"),
        (score >= 67.0).alias("passes"))


SQL_QUALITY_SCORES = f"""
WITH m AS (
  SELECT doc_id,
    len({_WORDS_SQL}) AS wc,
    len(list_distinct(list_filter(
      list_transform({_WORDS_SQL},
        w -> regexp_replace(regexp_replace(lower(w),
               '^[.,!?"''():;\\[\\]{{}}]+', ''),
               '[.,!?"''():;\\[\\]{{}}]+$', '')),
      w -> w <> ''))) AS dwc,
    greatest(len(string_split_regex(text, '[.!?]+')), 1) AS sc
  FROM documents),
s AS (
  SELECT doc_id, wc, dwc, sc,
    (CASE WHEN wc < 200 THEN 0.0 WHEN wc > 10000 THEN 0.7 ELSE 1.0 END)
      AS length_s,
    (CASE WHEN CAST(dwc AS DOUBLE) / (CASE WHEN wc = 0 THEN 1 ELSE wc END)
            < 0.25 THEN 0.0
          WHEN CAST(dwc AS DOUBLE) / (CASE WHEN wc = 0 THEN 1 ELSE wc END)
            > 0.6 THEN 0.8 ELSE 1.0 END) AS rich_s,
    (CASE WHEN sc < 5 THEN 0.0
          WHEN CAST(wc AS DOUBLE)/sc < 10 OR CAST(wc AS DOUBLE)/sc > 30
            THEN 0.7 ELSE 1.0 END) AS sent_s
  FROM m)
SELECT doc_id, wc, dwc, sc,
       round(CAST((0.50*length_s + 0.30*rich_s + 0.20*sent_s) * 100.0
                  AS DOUBLE), 6) AS score,
       ((0.50*length_s + 0.30*rich_s + 0.20*sent_s) * 100.0) >= 67.0 AS passes
FROM s
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 + C4 gate on documents."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    tc = token_count_col(F.col("text"))
    return docs.select("doc_id", tc.alias("token_count"),
                       ((tc >= 75) & (tc <= 480)).alias("in_window"))


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
  CAST(coalesce(list_sum(list_transform({_WORDS_SQL},
    w -> CAST(ceil(length(w)/4.0) AS INT))), 0) AS INT) AS token_count,
  CAST(coalesce(list_sum(list_transform({_WORDS_SQL},
    w -> CAST(ceil(length(w)/4.0) AS INT))), 0) AS INT) BETWEEN 75 AND 480
    AS in_window
FROM documents
"""


# GPT-style sequence packing (concat-and-chunk): pre-training prep
# concatenates the corpus token stream per source in a canonical order
# and cuts it into fixed L-token blocks; every document maps to its
# block span (first_block..last_block) and offset. Pure integer
# arithmetic — no float anywhere.
_PACK_L = 2048      # tokens per training block
_PACK_BKT = 1024    # doc_ids per cumsum bucket (two-pass prefix sum)


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map every document to its span in the per-source packed token
    stream (docs concatenated in doc_id order, cut into L=2048-token
    blocks) — the concat-and-chunk packing GPT-style pre-training uses;
    the block ids are what a training-data loader shuffles.

    Scale shape — the prefix sum is TWO-PASS, never a per-source
    window over the full doc table (a single window task per source is
    the IVF-window mistake at 10^9 docs/source): pass 1 computes the
    exclusive running sum WITHIN (source, doc_id-range bucket)
    partitions (bounded rows each), pass 2 computes bucket-level
    prefix offsets on the dwarf (source, bucket, sum) table, and a
    co-partitioned join adds the two — the doc-level rows are
    exchanged ONCE on (source, bucket) and that partitioning is reused
    by the window and the join (plan-gated). Empty docs (0 estimated
    tokens) contribute nothing to the stream and emit no row."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    t = (docs.select("doc_id", "source",
                     token_count_col(F.col("text")).cast("long")
                     .alias("n_tok"))
         .filter(F.col("n_tok") >= 1)
         .withColumn("_bkt",
                     F.floor(F.col("doc_id") / _PACK_BKT).cast("long"))
         # feeds the in-bucket window AND the bucket-sum aggregate —
         # branches don't bridge via exchange reuse (the tfidf lesson)
         .localCheckpoint(eager=False))
    w_in = (Window.partitionBy("source", "_bkt").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    in_off = t.withColumn("_in_off",
                          F.coalesce(F.sum("n_tok").over(w_in),
                                     F.lit(0)))
    bsums = t.groupBy("source", "_bkt").agg(F.sum("n_tok").alias("_bs"))
    w_b = (Window.partitionBy("source").orderBy("_bkt")
           .rowsBetween(Window.unboundedPreceding, -1))
    pre = (bsums.withColumn("_pre",
                            F.coalesce(F.sum("_bs").over(w_b), F.lit(0)))
           .select("source", "_bkt", "_pre"))
    c = (in_off.join(pre, ["source", "_bkt"])
         .withColumn("start_off",
                     (F.col("_pre") + F.col("_in_off")).cast("long")))
    L = float(_PACK_L)  # exact double; offsets << 2^53 so / is exact
    first = F.floor(F.col("start_off") / L).cast("long")
    last = F.floor((F.col("start_off") + F.col("n_tok") - 1) / L) \
        .cast("long")
    return c.select("doc_id", "source", "n_tok", "start_off",
                    first.alias("first_block"), last.alias("last_block"),
                    (last - first + 1).alias("n_blocks"))


SQL_SEQ_PACKING = f"""
WITH t AS (
  SELECT doc_id, source,
    CAST(coalesce(list_sum(list_transform({_WORDS_SQL},
      w -> CAST(ceil(length(w)/4.0) AS INT))), 0) AS BIGINT) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, source, n_tok,
    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS start_off
  FROM t WHERE n_tok >= 1)
SELECT doc_id, source, n_tok, start_off,
  CAST(floor(start_off / {float(_PACK_L)}) AS BIGINT) AS first_block,
  CAST(floor((start_off + n_tok - 1) / {float(_PACK_L)}) AS BIGINT)
    AS last_block,
  CAST(floor((start_off + n_tok - 1) / {float(_PACK_L)})
       - floor(start_off / {float(_PACK_L)}) + 1 AS BIGINT) AS n_blocks
FROM c
"""


# fixture-oracle tables (tools/make_fixtures.py): expected outputs of the
# non-SQL-expressible operators, precomputed by the engine's own pure-Python
# cores over the UNION of every sf dir's texts, keyed by sha256(text) —
# doc_ids carry different text per sf, hashes don't. The oracle join
# restricts to the driver's sf; a stale fixture fails loudly (row drop).
_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def q_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 real path — BGE/BERT wordpiece token counts + C4 gate over
    documents (chunking.go:134-136: len(Encode(text, false))). Greedy
    wordpiece over a 30k vocab is not expressible in DuckDB SQL, so the
    oracle is a FIXTURE table (tools/make_fixtures.py) computed by the same
    pure-Python tokenizer the UDF runs; the tokenizer itself is
    independently verified by tests/test_wordpiece.py's greedy-invariant
    re-check against the raw vocab. The UDF raises (never silently
    estimates) if an executor can't load the vocab — operators/chunking.py."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    from axora_spark.operators.chunking import token_count_expr
    tc = token_count_expr(F.col("text"), "wordpiece")
    return docs.select("doc_id", tc.alias("wp_tokens"),
                       ((tc >= 75) & (tc <= 480)).alias("in_window"))


SQL_WORDPIECE_TOKENS = f"""
SELECT d.doc_id, f.wp_tokens,
       f.wp_tokens BETWEEN 75 AND 480 AS in_window
FROM documents d
JOIN read_parquet('{_FIXTURES}/wordpiece_counts.parquet') f
  ON sha256(d.text) = f.text_sha
"""


def q_chunk_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1→C4 + A4 — the real chunk pipeline (crawler/chunking.go:48-149)
    over the documents table: recursive-character split ("sen") →
    posexplode fan-out index → trim/drop-empty → REAL wordpiece token
    count → 75..480 gate. Exactly the ops of
    plans/content.chunks_from_documents; fixture oracle precomputed by the
    same pure-Python splitter+tokenizer (tools/make_fixtures.py)."""
    from axora_spark.operators.chunking import (chunk_gate, chunks_udf,
                                                token_count_expr)
    docs = _t(spark, sf_dir, "documents", spread=True)
    # posexplode_OUTER + post-filter: plain posexplode gets a size>0
    # pre-filter that re-evaluates the chunker UDF (the q_html_links trap)
    exploded = (docs
                .withColumn("_chunks", chunks_udf("sen")(F.col("text")))
                .select("doc_id",
                        F.posexplode_outer("_chunks")
                        .alias("chunk_index", "chunk"))
                .filter(F.col("chunk").isNotNull())
                .withColumn("chunk", F.trim(F.col("chunk")))
                .filter(F.col("chunk") != ""))
    tc = token_count_expr(F.col("chunk"), "wordpiece")
    gated = (exploded.withColumn("token_count", tc)
             .filter(chunk_gate(F.col("token_count"))))
    return gated.select("doc_id", "chunk_index",
                        F.sha2(F.col("chunk"), 256).alias("chunk_sha"),
                        "token_count")


SQL_CHUNK_PIPELINE = f"""
SELECT d.doc_id, f.chunk_index, f.chunk_sha, f.token_count
FROM documents d
JOIN read_parquet('{_FIXTURES}/chunks.parquet') f
  ON sha256(d.text) = f.text_sha
"""


def q_meta_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 — the meta-relevance gate (crawler/dom_handler.go:130-199:
    per-meta blob = title∥name∥property∥content, split on ` ,.;:!?\\n`,
    Porter2 stem-prefix compare vs topic 'economy') through the REAL
    operator (plans/content.meta_relevant_udf) over (title, metas)
    synthesized natively per doc_id. Inputs cover: keyword stem hit
    ('economies'), trigram-present-but-stem-miss ('macro-economic'),
    description-path hit ('economical'), and clean misses. Stemming is not
    DuckDB-expressible → fixture oracle precomputed by the same
    pure-Python predicate (tools/make_fixtures.py, input equality pinned
    by tests/test_fixture_oracles.py)."""
    from axora_spark.plans.content import meta_relevant_udf
    docs = _t(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    title = F.concat(F.lit("Doc "), did, F.lit(" briefing"))
    kw = (F.when(did % 4 == 0, F.lit("growth,economies"))
           .when(did % 4 == 1, F.lit("sports,travel"))
           .when(did % 4 == 2, F.lit("policy macro-economic"))
           .otherwise(F.lit("weather")))
    desc = (F.when(did % 5 == 0, F.lit("An economical overview"))
             .otherwise(F.lit("General notes")))
    metas = F.array(
        F.struct(F.lit("keywords").alias("name"),
                 F.lit("").alias("property"), kw.alias("content")),
        F.struct(F.lit("").alias("name"),
                 F.lit("og:description").alias("property"),
                 desc.alias("content")))
    return docs.select(
        "doc_id",
        meta_relevant_udf("economy")(title, metas).alias("relevant"))


SQL_META_GATE = f"""
SELECT d.doc_id, f.relevant
FROM documents d
JOIN read_parquet('{_FIXTURES}/meta_gate.parquet') f USING (doc_id)
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 (+F3's path normalizer) — absolutize (urljoin,
    dom_handler.go:19-21) → canonicalize → skip-norm path, through the
    REAL pandas UDFs (operators/urls.py) over (base, href) cases
    synthesized natively per doc_id: ../ traversal, rooted path with
    fragment + unsorted query, relative leaf, absolute href with
    mixed-case host and non-default-for-scheme port, scheme-relative,
    query-only, fragment suffix — len(bases)=4 ⊥ len(hrefs)=7 sweeps
    all 28 combinations across doc_ids. RFC 3986 resolution is not
    DuckDB-expressible → fixture oracle precomputed by the same
    pure-Python urlnorm core (tools/make_fixtures.py; input equality
    pinned by tests/test_fixture_oracles.py)."""
    from axora_spark.fixture_inputs import URL_BASES, URL_HREFS
    from axora_spark.operators.urls import (absolutize_udf,
                                            canonicalize_udf,
                                            skip_norm_path_udf)
    docs = _t(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    base = F.element_at(F.array(*[F.lit(b) for b in URL_BASES]),
                        (did % 4 + 1).cast("int"))
    href = F.element_at(F.array(*[F.lit(h) for h in URL_HREFS]),
                        (did % 7 + 1).cast("int"))
    absu = absolutize_udf(base, href)
    return docs.select(
        "doc_id", absu.alias("abs_url"),
        canonicalize_udf(absu).alias("canonical_url"),
        skip_norm_path_udf(absu).alias("skip_path"))


SQL_URL_CANONICALIZE = f"""
SELECT d.doc_id, f.abs_url, f.canonical_url, f.skip_path
FROM documents d
JOIN read_parquet('{_FIXTURES}/url_canon.parquet') f USING (doc_id)
"""


def q_chunk_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 in isolation — the heading-hierarchy markdown splitter
    (chunking.go:48-58 'md' path; operators/chunking.chunk_markdown_py):
    heading path re-attached per section, same-level replacement, ###
    nesting, and a section longer than CHUNK_SIZE that recurses into the
    character splitter with the heading prefix — over markdown docs
    synthesized natively per doc_id (structure varies with doc_id%2/%3/%4
    so chunk counts differ). Oracle = fixture table precomputed by the
    same pure-Python splitter (tools/make_fixtures.py; input equality
    pinned by tests/test_fixture_oracles.py)."""
    from axora_spark.fixture_inputs import MD_FILLER
    from axora_spark.operators.chunking import chunks_udf
    docs = _t(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    s = did.cast("string")
    nl = F.lit("\n")
    md = F.concat(F.lit("# Guide "), s, F.lit("\n\n"),
                  F.lit("Intro paragraph for document "), s,
                  F.lit(" covering the basics."))
    md = F.concat(md, F.when(did % 2 == 0, F.concat(
        F.lit("\n\n## Setup\n\nInstall step "), (did % 7).cast("string"),
        F.lit(" then configure option "), (did % 5).cast("string"),
        F.lit("."))).otherwise(F.lit("")))
    md = F.concat(md, F.when(did % 3 == 0, F.concat(
        F.lit("\n\n### Details\n\nDeep dive line one."), nl,
        F.lit("Deep dive line two with id "), s,
        F.lit("."))).otherwise(F.lit("")))
    md = F.concat(md, F.lit("\n\n## Usage\n\nRun the tool with flag --n="),
                  (did % 9).cast("string"), F.lit(" and observe."))
    md = F.concat(md, F.when(did % 4 == 1, F.concat(
        F.lit("\n\n## Appendix\n\n"), F.lit(MD_FILLER), F.lit(" tail"),
        s)).otherwise(F.lit("")))
    exploded = (docs
                .withColumn("_chunks", chunks_udf("md")(md))
                .select("doc_id",
                        F.posexplode_outer("_chunks")
                        .alias("chunk_index", "chunk"))
                .filter(F.col("chunk").isNotNull()))
    return exploded.select(
        "doc_id", "chunk_index",
        F.sha2(F.col("chunk"), 256).alias("chunk_sha"),
        F.length("chunk").alias("chunk_len"))


SQL_CHUNK_MARKDOWN = f"""
SELECT d.doc_id, f.chunk_index, f.chunk_sha, f.chunk_len
FROM documents d
JOIN read_parquet('{_FIXTURES}/chunks_md.parquet') f USING (doc_id)
"""


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (operators/multimodal.py): interleaved
    spans (input_hint shape) → media_spans explode → fetch_media
    (deterministic payload synth) → extract_media_features (decode stub:
    dims from the payload header bytes) → resize_plan (native aspect-ratio
    column algebra). The decode kernel is a documented deterministic stub
    (no PIL/ffmpeg in this sandbox) which is exactly what makes the whole
    chain oracle-expressible: the DuckDB SQL states payload length and
    header bytes from sha256(media_ref) declaratively."""
    from axora_spark.operators.multimodal import (extract_media_features,
                                                  fetch_media, media_spans,
                                                  resize_plan)
    docs = _t(spark, sf_dir, "documents", spread=True)
    ref = F.concat(F.lit("https://cdn.example.org/"), F.col("doc_id"),
                   F.lit(".png"))
    spans = F.array(
        F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"),
                 F.lit("").alias("media_ref"), F.lit(0).alias("offset")),
        F.struct(F.lit("media").alias("kind"), F.lit("").alias("text"),
                 ref.alias("media_ref"), F.lit(1).alias("offset")))
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                    spans.alias("spans"))
    feats = extract_media_features(fetch_media(media_spans(d)))
    plan = resize_plan(feats)
    return plan.select("doc_id", "media_ref", "width", "height",
                       "target_width", "target_height")


SQL_MEDIA_PIPELINE = """
WITH m AS (
  SELECT doc_id::varchar AS doc_id,
         'https://cdn.example.org/' || doc_id || '.png' AS media_ref
  FROM documents),
d AS (
  SELECT doc_id, media_ref,
         64 + (('0x' || substr(sha256(media_ref), 1, 2))::int % 192) * 8
           AS width,
         64 + (('0x' || substr(sha256(media_ref), 3, 2))::int % 192) * 8
           AS height
  FROM m)
SELECT doc_id, media_ref, width, height,
       CAST(ceil(width * least(1.0, 256 / greatest(width, height)))
            AS INT) AS target_width,
       CAST(ceil(height * least(1.0, 256 / greatest(width, height)))
            AS INT) AS target_height
FROM d
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots gating (north_rule target mode) through the REAL operator
    (operators/robots.py: parse → broadcast → vectorized longest-prefix
    filter) over synthesized per-doc URLs; the oracle states RFC-9309
    longest-match semantics declaratively. Hosts: a = Disallow /private
    with an Allow /private/ok carve-out; b = fully disallowed; c = no
    rules."""
    from axora_spark.operators.robots import parse_robots, robots_filter
    docs = _t(spark, sf_dir, "documents", spread=True)
    host = (F.when(F.col("doc_id") % 3 == 0, F.lit("a.example.org"))
             .when(F.col("doc_id") % 3 == 1, F.lit("b.example.org"))
             .otherwise(F.lit("c.example.org")))
    path = (F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("/private/doc/"), F.col("doc_id")))
             .when(F.col("doc_id") % 4 == 1,
                   F.concat(F.lit("/private/ok/"), F.col("doc_id")))
             .when(F.col("doc_id") % 4 == 2,
                   F.concat(F.lit("/post/"), F.col("doc_id")))
             .otherwise(F.lit("/")))
    df = docs.select("doc_id", host.alias("host"),
                     F.concat(F.lit("https://"), host, path).alias("url"))
    rules = {
        "a.example.org": parse_robots(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
        "b.example.org": parse_robots("User-agent: *\nDisallow: /\n"),
    }
    return robots_filter(df, rules).select("doc_id", "host", "url")


SQL_ROBOTS_GATE = """
WITH u AS (
  SELECT doc_id,
         (CASE doc_id % 3 WHEN 0 THEN 'a.example.org'
                          WHEN 1 THEN 'b.example.org'
                          ELSE 'c.example.org' END) AS host,
         (CASE doc_id % 4 WHEN 0 THEN '/private/doc/' || doc_id
                          WHEN 1 THEN '/private/ok/' || doc_id
                          WHEN 2 THEN '/post/' || doc_id
                          ELSE '/' END) AS path
  FROM documents)
SELECT doc_id, host, 'https://' || host || path AS url
FROM u
WHERE CASE host
  WHEN 'c.example.org' THEN TRUE                         -- no rules
  WHEN 'b.example.org' THEN FALSE                        -- Disallow /
  ELSE  -- a: longest prefix wins, tie -> allow
    CASE WHEN path LIKE '/private/ok%' THEN TRUE         -- Allow len 11
         WHEN path LIKE '/private%' THEN FALSE           -- Disallow len 8
         ELSE TRUE END
  END
"""


# Mojibake / encoding-noise detection (the ftfy-class cleanup gate
# OSCAR/CCNet pipelines run before anything else): UTF-8 bytes decoded
# as Latin-1 leave telltale digraphs, and lossy decodes leave U+FFFD.
# The driver corpus is clean, so the query INJECTS a deterministic
# artifact blob into doc_id % 7 == 0 docs (repeated 1 + doc_id % 3
# times) — same synthesis on both engines, so detection is non-trivial
# and the counts are exact integers end to end.
_MOJI_MARKERS = ("Ã©", "â€™", "Â", "�")
_MOJI_BLOB = " cafÃ© donâ€™t Â nbsp �"


def _moji_count(txt, m: str):
    # exact occurrence count via replace-diff — no regex escaping
    # hazards, identical codepoint semantics on both engines
    return ((F.length(txt) - F.length(F.replace(txt, F.lit(m))))
            / F.lit(len(m))).cast("int")


def q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc encoding-artifact counts + a clean verdict: occurrences
    of the classic UTF-8-as-Latin-1 digraphs (Ã©, â€™, Â) and the
    replacement char U+FFFD. Map-only codegen (length/replace algebra
    — one scan, no UDF, no shuffle until the driver's collect); the
    production form is this exact projection feeding a filter, the
    same class as text_clean/pii_mask."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"),
                 F.repeat(F.lit(_MOJI_BLOB),
                          (F.lit(1) + F.col("doc_id") % 3).cast("int"))))\
        .otherwise(F.col("text"))
    base = docs.select("doc_id", injected.alias("t"))
    counts = [_moji_count(F.col("t"), m).alias(f"c{i}")
              for i, m in enumerate(_MOJI_MARKERS)]
    c = base.select("doc_id", *counts)
    total = sum(F.col(f"c{i}") for i in range(len(_MOJI_MARKERS)))
    return c.select(
        "doc_id",
        total.cast("int").alias("moji_total"),
        F.col(f"c{len(_MOJI_MARKERS) - 1}").alias("n_replacement"),
        (total == 0).alias("clean"))


def _moji_count_sql(m: str) -> str:
    lit = m.replace("'", "''")
    return (f"CAST((length(t) - length(replace(t, '{lit}', '')))"
            f" / {len(m)} AS INT)")


SQL_MOJIBAKE = f"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || repeat('{_MOJI_BLOB}',
                                  CAST(1 + doc_id % 3 AS INT))
              ELSE text END AS t
  FROM documents),
c AS (
  SELECT doc_id,
         {", ".join(f"{_moji_count_sql(m)} AS c{i}"
                    for i, m in enumerate(_MOJI_MARKERS))}
  FROM b)
SELECT doc_id,
       CAST(c0 + c1 + c2 + c3 AS INT) AS moji_total,
       c3 AS n_replacement,
       (c0 + c1 + c2 + c3) = 0 AS clean
FROM c
"""


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data text normalization (fully native, codegen'd):
    control chars stripped, whitespace runs collapsed, trimmed,
    lowercased; emits cleaned text + how many chars the cleanup removed.
    At 100 TB this is a pure map stage — no shuffle, whole-stage
    codegen, filter-pushdown-friendly."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    cleaned = F.lower(F.trim(F.regexp_replace(
        F.regexp_replace(F.col("text"), "[\\x00-\\x08\\x0b-\\x1f\\x7f]", ""),
        r"\s+", " ")))
    return docs.select(
        "doc_id", cleaned.alias("clean_text"),
        (F.length("text") - F.length(cleaned)).alias("removed_chars"))


SQL_TEXT_CLEAN = r"""
SELECT doc_id,
       lower(trim(regexp_replace(
         regexp_replace(text, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
         '\s+', ' ', 'g'))) AS clean_text,
       length(text) - length(lower(trim(regexp_replace(
         regexp_replace(text, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
         '\s+', ' ', 'g')))) AS removed_chars
FROM documents
"""


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?\d[\d\- ]{7,}\d"


def q_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training corpora: emails and phone-like digit runs →
    fixed tokens; counts per doc ride along (the audit metric a redaction
    pipeline reports). Synthesizes the PII deterministically from row
    columns so the masking actually fires on the fixture corpus. Native
    regexp_replace — map-only at scale."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    with_pii = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@mail.example.com or +1 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit("-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    masked = F.regexp_replace(
        F.regexp_replace(with_pii, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE, "<PHONE>")
    n_emails = F.size(F.split(with_pii, _EMAIL_RE, -1)) - 1
    n_phones = F.size(F.split(
        F.regexp_replace(with_pii, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, -1)) - 1
    return docs.select("doc_id", masked.alias("masked_text"),
                       n_emails.alias("n_emails"),
                       n_phones.alias("n_phones"))


SQL_PII_MASK = rf"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user' || doc_id
              || '@mail.example.com or +1 555-01'
              || lpad((doc_id % 100)::varchar, 2, '0') || '-'
              || lpad((doc_id % 10000)::varchar, 4, '0') AS with_pii
  FROM documents),
e AS (
  SELECT doc_id, with_pii,
         regexp_replace(with_pii, '{_EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM p)
SELECT doc_id,
       regexp_replace(no_email, '{_PHONE_RE}', '<PHONE>', 'g')
         AS masked_text,
       len(string_split_regex(with_pii, '{_EMAIL_RE}')) - 1 AS n_emails,
       len(string_split_regex(no_email, '{_PHONE_RE}')) - 1 AS n_phones
FROM e
"""


_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}
# zh markers are actual CJK particles (的/了/是) counted as SUBSTRING
# occurrences — CJK text has no whitespace word boundaries, so word-token
# matching can't see them, and round 2's romanized stand-ins ("de","le",
# "shi") collided with the fr/en marker sets (VERDICT r2 #5).
_ZH_MARKERS = ("的", "了", "是")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token hit counts per language (word
    markers for space-delimited languages, CJK-character occurrence counts
    for zh); predict argmax with deterministic tie-break (lexicographic
    lang), 'und' if all zero. (The driver corpus is synthetic so hits are
    sparse — the operator contract is what's tested.)"""
    docs = _t(spark, sf_dir, "documents", spread=True)
    # words materialize once: the per-language marker filters each embed
    # the split otherwise (~8 splits/row, interpreted — PLANS.md audit)
    base = docs.select(
        "doc_id", "lang", "text",
        _words_col(F.lower(F.col("text"))).alias("w"))
    score_cols = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        s = F.size(F.filter(F.col("w"), lambda x: x.isin(*markers)))
        score_cols.append(F.struct(s.alias("score"), F.lit(lang).alias("lang")))
    zh = sum((F.length("text") - F.length(F.translate(F.col("text"), m, "")))
             for m in _ZH_MARKERS).cast("int")
    score_cols.append(F.struct(zh.alias("score"), F.lit("zh").alias("lang")))
    best = F.array_max(F.array(*score_cols))
    return base.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
         .alias("predicted_lang"))


def _lang_id_sql() -> str:
    w = ("list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
         "w -> w <> '')")
    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        inlist = ", ".join(f"'{m}'" for m in markers)
        scores.append(
            f"len(list_filter({w}, x -> x IN ({inlist}))) AS s_{lang}")
    zh_terms = " + ".join(
        f"(length(text) - length(replace(text, '{m}', '')))"
        for m in _ZH_MARKERS)
    scores.append(f"({zh_terms}) AS s_zh")
    struct_list = ", ".join(
        f"{{'score': s_{lang}, 'lang': '{lang}'}}"
        for lang in (*sorted(_LANG_MARKERS), "zh"))
    return f"""
WITH m AS (SELECT doc_id, lang, {', '.join(scores)} FROM documents),
b AS (SELECT doc_id, lang,
             list_max([{struct_list}]) AS best
      FROM m)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END
         AS predicted_lang
FROM b
"""


SQL_LANG_ID = _lang_id_sql()


_HLL_M = 16            # registers (4-bit bucket index)
_HLL_ALPHA = hll_alpha(_HLL_M)     # 0.673 (Flajolet et al. 2007, m=16)


def _source_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents", spread=True)
    return (docs.select("source", _words_col(F.col("text")).alias("ws"))
            .select("source", F.explode("ws").alias("word")))


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct-word count per source
    (functions/sketch.hll_estimate — Flajolet et al. 2007, m=16 here so
    the DuckDB oracle hash-verifies every bit of the ESTIMATE itself;
    production m=2¹⁴ is the same plan with 1.04/√m ≈ 0.8% error,
    measured in tests/test_hll.py).

    Sketch-only (VERDICT r4 #2): the registered operator pays NO exact
    count_distinct — r4 bolted a full corpus-words shuffle onto the
    query for the rel_err contract; that contract now lives in
    tests/test_hll.py::test_rel_err_contract_m16 against the same
    frame. Here the whole job is one map-side (source, bucket) partial
    max → 16 rows per source however many words stream through — THE
    shape for distinct-URL/host accounting on a 100-TB crawl."""
    words = _source_words(spark, sf_dir)
    return (hll_estimate(words, "source", "word", m=_HLL_M)
            .select("source", F.round("hll_distinct", 6)
                    .alias("hll_distinct")))


def hll_distinct_with_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract-test variant (NOT registered): sketch estimate joined
    with the exact count and relative error — the ±1.04/√m check. The
    exact branch shuffles every corpus word, which is exactly why the
    registered q_hll_distinct omits it."""
    words = _source_words(spark, sf_dir)
    est = hll_estimate(words, "source", "word", m=_HLL_M)
    exact = (words.groupBy("source")
             .agg(F.count_distinct("word").cast("long").alias("exact")))
    return (est.join(exact, "source")
            .select("source",
                    F.round("hll_distinct", 6).alias("hll_distinct"),
                    "exact",
                    F.round(F.abs(F.col("hll_distinct")
                                  - F.col("exact"))
                            / F.col("exact"), 6).alias("rel_err")))


SQL_HLL_DISTINCT = f"""
WITH words AS (
  SELECT source, unnest({_WORDS_SQL}) AS word FROM documents),
h AS (
  SELECT source,
         CAST(('0x' || substr(sha256(word), 1, 8))::UBIGINT AS BIGINT)
           AS h, word
  FROM words),
rb AS (
  SELECT source, h >> 28 AS bucket,
         CASE WHEN (h & {(1 << 28) - 1}) = 0 THEN 29
              ELSE 29 - length(bin(h & {(1 << 28) - 1})) END AS rho
  FROM h),
regs AS (
  SELECT source, bucket, max(rho) AS m_reg FROM rb
  GROUP BY source, bucket),
agg AS (
  SELECT source, sum(power(2.0, -m_reg)) AS z_present,
         count(*) AS nb
  FROM regs GROUP BY source)
SELECT source,
       round(CASE WHEN ({_HLL_ALPHA * _HLL_M * _HLL_M}e0
                        / (z_present + CAST({_HLL_M} - nb AS DOUBLE)))
                       <= {2.5 * _HLL_M}e0
                       AND ({_HLL_M} - nb) > 0
                  THEN {float(_HLL_M)}e0
                       * ln({float(_HLL_M)}e0
                            / CAST({_HLL_M} - nb AS DOUBLE))
                  ELSE {_HLL_ALPHA * _HLL_M * _HLL_M}e0
                       / (z_present + CAST({_HLL_M} - nb AS DOUBLE)) END,
             6) AS hll_distinct
FROM agg
"""


_QS_B = 64          # histogram buckets
_QS_WIDTH = 6.25    # domain [0, 400): 400/64 — exactly representable
_QS_QS = (0.5, 0.9, 0.99)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch — p50/p90/p99 of event value per
    event_type estimated from a FIXED-width 64-bucket histogram (the
    deterministic sibling of t-digest/KLL: mergeable, bounded state,
    and — unlike approx_percentile's black-box t-digest — every bit of
    the estimate reproducible by the DuckDB oracle). Production shape
    for latency/score distributions on a 100-TB crawl: known domain,
    fixed buckets, error bounded by bucket width.

    Estimate: rank r = q·total; the first bucket whose cumulative count
    reaches r contributes lo + width·(r − cum_before)/count —
    classic within-bucket linear interpolation.

    Scale shape vs the exact q_value_percentiles (which shuffles every
    VALUE to its group): one map-side partial agg to ≤64 rows per
    event_type, a window over that tiny frame, and a 3-row quantile
    cross join — sketch traffic is CONSTANT per key however many events
    stream through (the HLL story for quantiles)."""
    ev = _t(spark, sf_dir, "events", spread=True)
    b = F.least(F.lit(_QS_B - 1),
                F.floor(F.col("value") / _QS_WIDTH)).cast("int")
    cnts = (ev.groupBy("event_type", b.alias("bucket"))
            .agg(F.count("*").alias("c")))
    wspec = Window.partitionBy("event_type").orderBy("bucket")
    cum = cnts.select("event_type", "bucket", "c",
                      F.sum("c").over(wspec).alias("cum"))
    tot = cnts.groupBy("event_type").agg(F.sum("c").alias("total"))
    qdf = spark.createDataFrame([(q,) for q in _QS_QS], "q double")
    j = cum.join(tot, "event_type").crossJoin(F.broadcast(qdf))
    r = F.col("q") * F.col("total")
    # earliest bucket whose cumulative count covers the rank
    pick = (j.filter(F.col("cum") >= r)
            .groupBy("event_type", "q")
            .agg(F.min(F.struct("bucket", "c", "cum", "total"))
                 .alias("p")))
    est = (F.col("p.bucket") * _QS_WIDTH
           + F.lit(_QS_WIDTH)
           * (F.col("q") * F.col("p.total")
              - (F.col("p.cum") - F.col("p.c"))) / F.col("p.c"))
    def at(q):
        return F.round(F.max(F.when(F.col("q") == q, est)), 6)
    return (pick.groupBy("event_type")
            .agg(at(0.5).alias("p50_est"), at(0.9).alias("p90_est"),
                 at(0.99).alias("p99_est")))


SQL_QUANTILE_SKETCH = f"""
WITH b AS (
  SELECT event_type,
         LEAST({_QS_B - 1},
               CAST(floor(value / {_QS_WIDTH}) AS INT)) AS bucket
  FROM events),
c AS (SELECT event_type, bucket, count(*) AS c FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bucket, CAST(c AS BIGINT) AS c,
         CAST(sum(c) OVER (PARTITION BY event_type
                           ORDER BY bucket) AS BIGINT) AS cum
  FROM c),
t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS total
      FROM c GROUP BY 1),
q(q) AS (VALUES (0.5), (0.9), (0.99)),
pick AS (
  SELECT event_type, q, min(struct_pack(bucket := bucket, c := c,
                                        cum := cum, total := total)) AS p
  FROM cum JOIN t USING (event_type) CROSS JOIN q
  WHERE cum >= q * total
  GROUP BY 1, 2)
SELECT event_type,
       round(max(CASE WHEN q = 0.5 THEN p.bucket * {_QS_WIDTH}
                 + {_QS_WIDTH} * (q * p.total - (p.cum - p.c)) / p.c
                 END), 6) AS p50_est,
       round(max(CASE WHEN q = 0.9 THEN p.bucket * {_QS_WIDTH}
                 + {_QS_WIDTH} * (q * p.total - (p.cum - p.c)) / p.c
                 END), 6) AS p90_est,
       round(max(CASE WHEN q = 0.99 THEN p.bucket * {_QS_WIDTH}
                 + {_QS_WIDTH} * (q * p.total - (p.cum - p.c)) / p.c
                 END), 6) AS p99_est
FROM pick GROUP BY event_type
"""


_CMS_D = 4    # hash rows
_CMS_W = 64   # counters per row (small so the fixture exercises
              # collisions; production widens w, same plan)


def _cms_cells(word: Column) -> Column:
    """array<struct<i,col>> of the d count-min cells for a word:
    col_i = first-32-bits of sha256(word ∥ '#cms' ∥ i) mod w."""
    cells = []
    for i in range(_CMS_D):
        h = (F.conv(F.substring(
            F.sha2(F.concat(word, F.lit(f"#cms{i}")), 256), 1, 8),
            16, 10).cast("long") % _CMS_W)
        cells.append(F.struct(F.lit(i).alias("i"), h.alias("col")))
    return F.array(*cells)


def q_cms_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch word-frequency estimates (Cormode & Muthu-
    krishnan 2005): d=4 hash rows × w=64 counters per source; the
    estimate for a probe word is min over rows of its counter —
    always ≥ the true count, with collisions pushing it up (w is
    deliberately small here so the fixture exercises them; the oracle
    reproduces every counter bit, so even collided estimates
    hash-match). Output: (source, word, cms_count) for a FIXED probe
    set — the distinct words of the corpus's min-doc_id document.

    The probe set being small and given is the operator's contract
    (heavy-hitter candidates from a stream, blocklist terms, …): the
    corpus side is ONE map-side partial agg into d·w counters per
    source — never a vocabulary-sized shuffle (the q_hll_distinct
    lesson: keep exact-vocabulary work out of the sketch operator).

    Scale shape: counters ≤ sources·d·w rows (tiny, broadcastable);
    probe × sources cross join is tiny²; the min-over-rows agg runs on
    probe-sized data."""
    words = _source_words(spark, sf_dir)
    cells = (words
             .select("source", F.explode(_cms_cells(F.col("word")))
                     .alias("rc"))
             .groupBy("source", F.col("rc.i").alias("i"),
                      F.col("rc.col").alias("col"))
             .agg(F.count("*").alias("c")))
    docs = _t(spark, sf_dir, "documents")
    min_id = docs.agg(F.min("doc_id").alias("_mid"))
    probe = (docs.join(F.broadcast(min_id),
                       F.col("doc_id") == F.col("_mid"))
             .select(F.explode(_words_col(F.col("text"))).alias("word"))
             .distinct())
    # sources listed from the docs scan, NOT words: going through the
    # explode would re-run the whole word fan-out just to name 20 keys
    sources = docs.select("source").distinct()
    probe_cells = (sources.crossJoin(F.broadcast(probe))
                   .select("source", "word",
                           F.explode(_cms_cells(F.col("word")))
                           .alias("rc"))
                   .select("source", "word", F.col("rc.i").alias("i"),
                           F.col("rc.col").alias("col")))
    return (probe_cells
            .join(cells, ["source", "i", "col"], "left")
            .groupBy("source", "word")
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .cast("long").alias("cms_count")))


def _cms_col_sql(word_expr: str, i_expr: str) -> str:
    return (f"CAST(('0x' || substr(sha256({word_expr} || '#cms' || "
            f"CAST({i_expr} AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT) "
            f"% {_CMS_W}")


SQL_CMS_COUNT = f"""
WITH words AS (
  SELECT source, unnest({_WORDS_SQL}) AS word FROM documents),
cells AS (
  SELECT source, i, {_cms_col_sql('word', 'i')} AS col,
         count(*) AS c
  FROM words CROSS JOIN range({_CMS_D}) t(i)
  GROUP BY 1, 2, 3),
probe AS (
  SELECT DISTINCT unnest({_WORDS_SQL}) AS word FROM documents
  WHERE doc_id = (SELECT min(doc_id) FROM documents)),
srcs AS (SELECT DISTINCT source FROM documents),
pc AS (
  SELECT s.source, p.word, t.i,
         {_cms_col_sql('p.word', 't.i')} AS col
  FROM srcs s CROSS JOIN probe p CROSS JOIN range({_CMS_D}) t(i))
SELECT pc.source, pc.word,
       CAST(min(coalesce(cells.c, 0)) AS BIGINT) AS cms_count
FROM pc LEFT JOIN cells
  ON pc.source = cells.source AND pc.i = cells.i AND pc.col = cells.col
GROUP BY 1, 2
"""


_PR_ITERS = 5
_PR_DAMP = 0.85
_PR_TELEPORT = 0.15  # NOT computed as 1-_PR_DAMP: 1.0-0.85 is
# 0.15000000000000002 in doubles while both engines' 0.15 literal is the
# exact double 0.15 — the oracle mirrors the literal, so the engine must too
_PR_EDGE_KS = (31, 17)   # two deterministic out-edges per node


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over a deterministic synthetic link
    graph on the documents table — the second iterative-algorithm shape
    a frontier engine needs (crawl prioritization by link authority;
    operators/priority.py is the static-score path, this is the graph
    one). Node set = doc_ids; each node emits edges to
    (doc_id·k + 7) mod N for k ∈ {31, 17} (self-loops dropped), so the
    graph derives purely from the driver table and both engines build
    the identical structure. 5 power iterations of
    r' = (1-d)/N + d·Σ_in r/outdeg, dangling nodes' mass redistributed
    uniformly each step (the standard correction — without it the total
    mass leaks and ranks drift from the oracle).

    Scale shape per iteration: one shuffle join (ranks ⋈ edges on src)
    + one keyed agg on dst — the canonical Spark PageRank step; the
    iteration count is FIXED so the whole thing is one declarative plan
    (no driver-side fixpoint loop, no checkpointing needed at 5 levels;
    a convergence-driven variant would reuse connected_components_star's
    checkpoint-per-round protocol). Output ranks rounded to 6dp —
    double-sum association differs between engines at ~1e-15, far
    below the rounding grain.

    No spread=True here (r6): the only per-row work before the first
    shuffle is doc_id arithmetic, and the r6 checkpoint protocol runs
    each static frame as its own job — a pre-spread exchange of the
    corpus re-executed once per checkpoint job (+~2s at sf1.0) while
    buying nothing (the scan is a doc_id-only column read)."""
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    n_df = ids.agg(F.count("*").alias("n"))
    nodes = ids.crossJoin(F.broadcast(n_df))  # (doc_id, n)

    edges = None
    for k in _PR_EDGE_KS:
        e = nodes.select(F.col("doc_id").alias("src"),
                         ((F.col("doc_id") * k + 7) % F.col("n"))
                         .alias("dst"))
        edges = e if edges is None else edges.unionByName(e)
    # the power iteration itself lives in operators/pagerank.py — the
    # same code path plans/crawl.py runs over the REAL extracted link
    # graph for priority_mode="pagerank" (VERDICT r4 #5)
    ranks = pagerank_op(edges, ids, iters=_PR_ITERS, damp=_PR_DAMP,
                        teleport=_PR_TELEPORT)
    return ranks.select("doc_id", F.round("r", 6).alias("rank"))


def _pagerank_sql() -> str:
    edge_sel = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {k} + 7) % (SELECT n FROM nn) "
        f"AS dst FROM documents" for k in _PR_EDGE_KS)
    sql = f"""WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS ({edge_sel}),
e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
od AS (SELECT src, count(*) AS outdeg FROM e1 GROUP BY src),
e AS (SELECT e1.src, e1.dst, od.outdeg FROM e1 JOIN od USING (src)),
r0 AS (SELECT doc_id, 1e0 / (SELECT n FROM nn) AS r FROM documents)"""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
c{i} AS (SELECT e.dst, sum({prev}.r / e.outdeg) AS inflow
        FROM e JOIN {prev} ON e.src = {prev}.doc_id GROUP BY e.dst),
d{i} AS (SELECT coalesce(sum(r), 0e0) AS dmass FROM {prev}
        WHERE doc_id NOT IN (SELECT src FROM od)),
r{i} AS (SELECT p.doc_id,
               {_PR_TELEPORT}e0 / (SELECT n FROM nn)
               + {_PR_DAMP}e0 * (coalesce(c{i}.inflow, 0e0)
                               + (SELECT dmass FROM d{i})
                                 / (SELECT n FROM nn)) AS r
        FROM r0 p LEFT JOIN c{i} ON p.doc_id = c{i}.dst)"""
        prev = f"r{i}"
    sql += f"\nSELECT doc_id, round(r, 6) AS rank FROM {prev}"
    return sql


SQL_PAGERANK = _pagerank_sql()


_MIX_HASH = mixing.MIX_HASH      # Knuth multiplicative constant
_MIX_MOD = mixing.MIX_MOD        # 2^32


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced deterministic sampling — the training-data MIXING
    step: give every source (domain) an equal token budget, convert the
    budget into a per-source keep-rate, and keep each document by a
    deterministic per-doc uniform draw. Output: the kept (doc_id,
    source, sample_rate) rows; over-represented sources are downsampled
    to ~the uniform token share, under-represented ones keep everything
    (rate capped at 1).

    The per-doc uniform is a Knuth multiplicative hash of a
    2³¹-bounded (doc_id, epoch) key (operators/mixing.mix_draw) — pure
    BOUNDED integer arithmetic, so the draw is reproducible across
    engines and runs at ANY id range (ADVICE r4: the unbounded
    doc_id·2654435761 form wrapped int64 in Spark at doc_id ≥ ~3.47e9
    while DuckDB raised); epoch is the mixing-epoch seam, fixture-
    pinned to 0 here (two-epoch contract in tests/test_mixing.py).

    Scale shape: one map-side token estimate, one tiny per-source agg
    (n_sources rows — its total via an unbounded window over that tiny
    frame, never over the corpus), broadcast of the rates back onto the
    corpus, then a stateless filter. No corpus-sized shuffle at all
    beyond the per-source partial agg."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return mix_sample(docs.select("doc_id", "source", "text"), epoch=0)


# pmod-on-both-engines: doc_id is non-negative in the driver tables, but
# the SQL mirrors Spark's pmod exactly anyway (DuckDB % follows the sign)
_MIX_KEY_SQL = ("(((doc_id % 2147483648) + 2147483648) % 2147483648)")

SQL_MIX_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(coalesce(list_sum(list_transform({_WORDS_SQL},
           w -> CAST(ceil(length(w)/4.0) AS INT))), 0) AS INT) AS tok
  FROM documents),
s AS (
  SELECT source, CAST(sum(tok) AS DOUBLE) AS src_tok FROM t
  GROUP BY source),
r AS (
  SELECT source,
         round(least(1.0, sum(src_tok) OVER () / count(*) OVER ()
                          / src_tok), 6) AS sample_rate
  FROM s)
SELECT t.doc_id, t.source, r.sample_rate
FROM t JOIN r USING (source)
WHERE ({_MIX_KEY_SQL} * {_MIX_HASH}) % {_MIX_MOD} / {_MIX_MOD}.0
      < r.sample_rate
"""


_DECON_N = 8           # n-gram width (the common decontamination unit)
_DECON_MIN_OVERLAP = 3  # distinct shared n-grams to flag a pair


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-data step that flags
    corpus documents sharing ≥ K distinct word 8-grams with an
    evaluation set (the standard n-gram-overlap contamination test,
    e.g. GPT-3 appendix C / Gopher's 13-gram variant — same operator,
    `contamination_check(docs, eval_df, n=13)` for the Gopher form;
    sandbox-sized n here). Benchmark rows are synthesized natively from
    the corpus itself (every 50th doc donates a 12-word span at word 5)
    so hits are guaranteed and deterministic: (doc_id, bench_id,
    overlap_8grams) per flagged pair — the donor doc always flags
    against its own benchmark row, near-dups of the donor usually do.
    This is the fixture form of operators/decontam.contamination_check
    (VERDICT r4 #7): any real (bench_id, text) eval set slots into the
    same call.

    Scale shape: the eval set is tiny by nature → its exploded n-grams
    BROADCAST to the corpus-side n-gram flatmap; the corpus side
    reaches the join with NO exchange — the r4 pre-join distinct()
    shuffled every corpus 8-gram before the broadcast join (the
    dominant 100-TB cost, VERDICT r4 #1) and was redundant: the final
    count_distinct per (doc_id, bench_id) dedupes. Plan-gated: no
    hashpartitioning(doc_id, shingle) exchange anywhere."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    eval_df = (docs
               .select("doc_id", _words_col(F.col("text")).alias("w"))
               .filter((F.col("doc_id") % 50 == 0) & (F.size("w") >= 16))
               .select(F.col("doc_id").alias("bench_id"),
                       F.array_join(F.slice(F.col("w"), 5, 12), " ")
                       .alias("text")))
    return contamination_check(docs.select("doc_id", "text"), eval_df,
                               n=_DECON_N,
                               min_overlap=_DECON_MIN_OVERLAP)


SQL_CONTAMINATION = f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
d AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len(w) - {_DECON_N - 1} + 1),
             i -> array_to_string(w[i:i+{_DECON_N - 1}], ' '))) AS shingle
    FROM w WHERE len(w) >= {_DECON_N})),
b0 AS (
  SELECT doc_id AS bench_id, w[5:16] AS bw
  FROM w WHERE doc_id % 50 = 0 AND len(w) >= 16),
b AS (
  SELECT DISTINCT bench_id, shingle FROM (
    SELECT bench_id,
           unnest(list_transform(
             range(1, len(bw) - {_DECON_N - 1} + 1),
             i -> array_to_string(bw[i:i+{_DECON_N - 1}], ' '))) AS shingle
    FROM b0))
SELECT d.doc_id, b.bench_id,
       CAST(count(DISTINCT d.shingle) AS INT) AS overlap_8grams
FROM d JOIN b USING (shingle)
GROUP BY d.doc_id, b.bench_id
HAVING count(DISTINCT d.shingle) >= {_DECON_MIN_OVERLAP}
"""

_PASSAGE_N = 8


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated passages (Lee et al. 2022's
    exact-substring dedup, Spark-native over word 8-grams): maximal
    word-position spans covered by 8-grams occurring in ≥2 distinct
    documents — the shared-boilerplate/quoted-passage detector that
    complements whole-doc (dedup_exact) and near-doc (minhash) dedup.
    Output: (doc_id, span_start, span_end, span_grams), positions
    0-based inclusive. operators/passages.py documents the 100-TB
    shape (hash-keyed gram shuffle, AQE-broadcast verdict join,
    single doc_id exchange for span assembly); plan-gated: the gram
    exchanges partition on the 64-bit key, never the gram string."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return duplicate_passages(docs.select("doc_id", "text"),
                              n=_PASSAGE_N, min_docs=2)


SQL_DUPLICATE_PASSAGES = f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
g AS (
  SELECT doc_id,
         unnest(range(0, len(w) - {_PASSAGE_N - 1})) AS pos,
         unnest(list_transform(range(1, len(w) - {_PASSAGE_N - 1} + 1),
           i -> array_to_string(w[i:i+{_PASSAGE_N - 1}], ' '))) AS gram
  FROM w WHERE len(w) >= {_PASSAGE_N}),
k AS (SELECT gram FROM g GROUP BY gram
      HAVING min(doc_id) <> max(doc_id)),
p AS (SELECT g.doc_id, g.pos FROM g JOIN k USING (gram)),
b AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                        ORDER BY pos) > {_PASSAGE_N}
              THEN 1 ELSE 0 END AS brk
  FROM p),
i AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM b)
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {_PASSAGE_N - 1} AS INT) AS span_end,
       CAST(count(*) AS INT) AS span_grams
FROM i GROUP BY doc_id, island
"""

# the detect CTEs above, reused verbatim by the excision oracle
_PASSAGE_CTES = SQL_DUPLICATE_PASSAGES.split("SELECT doc_id, CAST")[0]


def q_passage_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect → ACT: excise every duplicated-passage word span found by
    duplicate_passages from its document (operators/passages.py
    `excise_passages` — the Lee et al. remove-the-substring step).
    Output: (doc_id, kept_words, dropped_words, clean_sha) for EVERY
    document (untouched docs pass through with dropped_words = 0);
    clean_sha = sha256 of the space-rejoined surviving words keeps the
    oracle comparison value-exact without shipping cleaned text."""
    docs = _t(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text")
    spans = duplicate_passages(docs, n=_PASSAGE_N, min_docs=2)
    return excise_passages(docs, spans)


SQL_PASSAGE_EXCISE = f"""{_PASSAGE_CTES.rstrip()},
sp AS (
  SELECT doc_id, min(pos) AS ss, max(pos) + {_PASSAGE_N - 1} AS se
  FROM i GROUP BY doc_id, island),
spl AS (
  SELECT doc_id, list(struct_pack(ss := ss, se := se)) AS sps
  FROM sp GROUP BY doc_id),
base AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
kept AS (
  SELECT b.doc_id, b.w,
         list_filter(b.w, (x, i) ->
           len(list_filter(coalesce(spl.sps, []),
                           s -> i - 1 BETWEEN s.ss AND s.se)) = 0) AS k
  FROM base b LEFT JOIN spl USING (doc_id))
SELECT doc_id, CAST(len(k) AS INT) AS kept_words,
       CAST(len(w) - len(k) AS INT) AS dropped_words,
       sha256(coalesce(array_to_string(k, ' '), '')) AS clean_sha
FROM kept
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min sha256 over word-3-gram shingles (a
    1-permutation minhash — rolling-hash analog, SURVEY extension).
    Shingles materialize in their own projection: the single-select form
    repeated the shingle tree 3× (size / transform / branch) and HOF
    trees are interpreted — each textual repeat re-evaluated (PLANS.md
    audit)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    sh = (docs.select("doc_id", "text",
                      _words_col(F.col("text")).alias("w"))
          .select("doc_id", "text",
                  _shingles_of_words(F.col("w")).alias("sh")))
    return sh.select(
        "doc_id",
        F.when(F.size("sh") > 0,
               F.array_min(F.transform(F.col("sh"),
                                       lambda s: F.sha2(s, 256))))
         .otherwise(F.sha2(F.col("text"), 256)).alias("fingerprint"))


SQL_DOC_FINGERPRINT = f"""
WITH s AS (SELECT doc_id, text, {_SHINGLES_SQL} AS sh FROM documents)
SELECT doc_id,
       CASE WHEN len(sh) > 0
            THEN list_min(list_transform(sh, x -> sha256(x)))
            ELSE sha256(text) END AS fingerprint
FROM s
"""


def _rep_counts_udf():
    """(text) → struct<c2,c3,c4:int> — per n ∈ {2,3,4}, the maximum over
    the doc's word n-grams of  occurrences × characters-in-gram  (the
    numerator of the 'fraction of characters in the most repetition-
    covering n-gram' statistic). Exact linear-time Counter per doc,
    Arrow-batched. Words = whitespace split (str.split ≡ _words_col)."""
    import pandas as pd
    from collections import Counter

    @F.pandas_udf(T.StructType([
        T.StructField("c2", T.LongType()),
        T.StructField("c3", T.LongType()),
        T.StructField("c4", T.LongType())]))
    def _udf(texts):
        rows = {"c2": [], "c3": [], "c4": []}
        for t in texts:
            words = (t or "").split()
            for n in (2, 3, 4):
                best = 0
                if len(words) >= n:
                    counts = Counter(
                        tuple(words[i:i + n])
                        for i in range(len(words) - n + 1))
                    best = max(cnt * sum(len(w) for w in g)
                               for g, cnt in counts.items())
                rows[f"c{n}"].append(best)
        return pd.DataFrame(rows)
    return _udf


def q_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021, appendix A1.1): a doc is
    dropped when too much of it is covered by repeated n-grams. Metrics
    per doc: fraction of word-characters inside the most repetition-
    covering word n-gram for n=2,3,4 (deterministic max of
    occurrences×gram-chars — no mode tie-break needed), duplicate-word
    fraction, and the pass verdict against the published thresholds
    (2-gram ≤0.20, 3-gram ≤0.18, 4-gram ≤0.16).

    Scale shape: the statistic is ROW-LOCAL, so the plan is map-only —
    one Arrow-batched pandas UDF with a linear-time Counter per doc
    (SCALE.md Python-boundary policy). The alternatives both lose at
    100 TB: explode+groupBy shuffles 3×(corpus tokens) rows for a per-row
    quantity, and a native HOF count-of-each-distinct is O(L²) per doc
    (hostile for 100k-token pages)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    w = _words_col(F.col("text"))
    total = F.aggregate(w, F.lit(0).cast("long"),
                        lambda acc, x: acc + F.length(x))
    c = _rep_counts_udf()(F.col("text"))
    base = docs.select(
        "doc_id", c.alias("c"), total.alias("tot"),
        F.size(w).alias("wc"),
        F.size(F.array_distinct(w)).alias("dw"))
    r2 = F.col("c.c2") / F.col("tot")
    r3 = F.col("c.c3") / F.col("tot")
    r4 = F.col("c.c4") / F.col("tot")
    dupw = F.round(1 - F.col("dw") / F.col("wc"), 6)
    return base.select(
        "doc_id",
        F.round(r2, 6).alias("top2gram_char_frac"),
        F.round(r3, 6).alias("top3gram_char_frac"),
        F.round(r4, 6).alias("top4gram_char_frac"),
        dupw.alias("dup_word_frac"),
        # gate on the RAW fractions (both engines), not the rounded ones
        ((r2 <= 0.20) & (r3 <= 0.18) & (r4 <= 0.16))
        .alias("passes_repetition"))


SQL_REPETITION_FILTERS = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
b AS (
  SELECT doc_id, words,
         len(list_aggregate(words, 'string_agg', '')) AS tot,
         len(words) AS wc, len(list_distinct(words)) AS dw
  FROM w),
g AS (
  SELECT doc_id, n, gram, count(*) AS cnt,
         len(replace(gram, ' ', '')) AS gchars
  FROM (
    SELECT doc_id, 2 AS n,
           unnest(list_transform(range(1, len(words)),
                  i -> words[i] || ' ' || words[i+1])) AS gram
    FROM w
    UNION ALL
    SELECT doc_id, 3,
           unnest(list_transform(range(1, len(words) - 1),
                  i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
    FROM w
    UNION ALL
    SELECT doc_id, 4,
           unnest(list_transform(range(1, len(words) - 2),
                  i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                       || ' ' || words[i+3]))
    FROM w)
  GROUP BY doc_id, n, gram),
m AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN cnt * gchars END) AS c2,
         max(CASE WHEN n = 3 THEN cnt * gchars END) AS c3,
         max(CASE WHEN n = 4 THEN cnt * gchars END) AS c4
  FROM g GROUP BY doc_id)
SELECT b.doc_id,
       round(coalesce(m.c2, 0) / b.tot, 6) AS top2gram_char_frac,
       round(coalesce(m.c3, 0) / b.tot, 6) AS top3gram_char_frac,
       round(coalesce(m.c4, 0) / b.tot, 6) AS top4gram_char_frac,
       round(1 - b.dw / (1.0 * b.wc), 6) AS dup_word_frac,
       (coalesce(m.c2, 0) / b.tot <= 0.20
        AND coalesce(m.c3, 0) / b.tot <= 0.18
        AND coalesce(m.c4, 0) / b.tot <= 0.16) AS passes_repetition
FROM b LEFT JOIN m USING (doc_id)
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by TF-IDF (tf = term count / doc words,
    idf = ln(N / df) over distinct-doc frequency) — the classic corpus
    statistic a training-data pipeline logs for topic drift monitoring.

    Scale shape: per-doc word count rides ALONG the explode (it is
    known before the fan-out — a window over doc_id after the explode
    would re-shuffle corpus-token rows for a number the scan already
    had); term-per-doc counts are one keyed aggregation; document
    frequency comes from THAT aggregate's output (tf already has one
    row per (doc, term), so df = count per term — no distinct over the
    raw token stream); df joins back via a shuffle join on term
    (vocabulary is unbounded at web scale — never broadcast it), then a
    per-doc top-k window over the small tf table. Ranking is on
    round(score, 9) with a term tie-break so the two engines' libm ulp
    differences cannot reorder the cut (same guard the politeness
    ranker uses for floats)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    n_docs = docs.count()  # tiny scalar, known up front (count of corpus)
    # words materialized in their OWN projection: size() and explode()
    # then reference one column attribute, so the regex split runs once
    # per row (the _shingles_col / CollapseProject lesson)
    terms = (docs.select("doc_id", _words_col(F.col("text")).alias("words"))
             .select("doc_id", F.size("words").alias("wc"),
                     F.explode("words").alias("term")))
    tf = (terms.groupBy("doc_id", "term")
          .agg(F.count("*").alias("cnt"), F.min("wc").alias("wc"))
          # tf feeds BOTH the df aggregation and the scored join;
          # exchange reuse does not bridge the branches (see
          # q_minhash_near_dup), so materialize it once
          .localCheckpoint(eager=False))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(df_tbl, "term")
              .withColumn("score",
                          F.round((F.col("cnt") / F.col("wc"))
                                  * F.log(F.lit(float(n_docs))
                                          / F.col("df")), 9)))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.col("score").desc(), F.col("term").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("doc_id", "rank", "term",
                    F.round("score", 6).alias("tfidf")))


SQL_TFIDF_TOP_TERMS = f"""
WITH t AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS cnt,
         sum(count(*)) OVER (PARTITION BY doc_id) AS wc
  FROM t GROUP BY doc_id, term),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round((tf.cnt / (1.0 * tf.wc))
               * ln(n.n_docs / (1.0 * df.df)), 9) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, rank, term, round(score, 6) AS tfidf
FROM ranked WHERE rank <= 3
"""


# CCNet-style LM filtering (Wenzek et al., LREC 2020): score every
# document by the perplexity of a corpus-trained n-gram LM, then keep
# the low-perplexity head/middle terciles. The production CCNet model
# is KenLM (unavailable in this sandbox); the operator trains an add-α
# bigram LM on the corpus itself — fully deterministic, so the score
# is oracle-verifiable bit-for-bit, and the PLAN (the part that has to
# survive 100 TB) is identical to the KenLM form: a model table joined
# by key, never broadcast, never a Python UDF. The reusable two-corpus
# form (train on a trusted corpus, score another — CCNet's actual
# shape) is operators/lm.py; this query registers the self-scoring
# form.
_LM_ALPHA = 0.5  # add-α smoothing; exact in doubles (integer + 0.5)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM cross-entropy (nats/bigram) + per-source
    CCNet tercile split: tercile 1 = lowest-perplexity head, keep =
    head ∪ middle (Wenzek et al. 2020 §4.3 keep the head+middle of the
    perplexity distribution; tail is the noise bucket).

    Model: P(w2|w1) = (c(w1 w2) + α) / (c(w1) + α·V), α = 0.5,
    V = distinct context types — trained on the same corpus it scores
    (the driver-table analog of CCNet's LM; the two-corpus form is the
    same plan with the model aggregated from the other table).

    Scale shape (the tfidf_top_terms lesson applied to an LM): the
    token stream collapses to per-doc bigram TYPE counts in ONE keyed
    aggregation — the only token-volume exchange in the job. The model
    (c12, c1, V) derives from THAT aggregate's output (type-level, not
    token-level), the scored join is per-doc-type ⋈ model on
    (w1, w2) — the model/vocabulary is unbounded at web scale and is
    NEVER broadcast — and the per-doc reduce is
    Σ cnt·(-ln P) / Σ cnt, algebraically equal to the token-stream
    mean without re-touching token rows. The tercile split is ntile(3)
    per source over DOC-level rows ordered by (round(nats,9), doc_id)
    — rank-based, so engines' 1-ulp ln() differences cannot flip a
    bucket (the politeness float-guard idiom); at production the
    per-source sort swaps for approx_percentile cutoffs (doc-level
    rows, 3-4 orders below token volume either way)."""
    from axora_spark.operators.lm import lm_perplexity as _lm_op
    docs = _t(spark, sf_dir, "documents", spread=True)
    doc = _lm_op(docs.select("doc_id", "source", "text"),
                 alpha=_LM_ALPHA)
    win = (Window.partitionBy("source")
           .orderBy(F.round("nats_raw", 9), F.col("doc_id")))
    return (doc.withColumn("tercile", F.ntile(3).over(win))
            .select("doc_id", "source", "n_bigrams",
                    F.round("nats_raw", 6).alias("nats"), "tercile",
                    (F.col("tercile") <= 2).alias("keep")))


_LM_WORDS_SQL = _WORDS_SQL.replace("trim(text)", "trim(lower(text))")

SQL_LM_PERPLEXITY = f"""
WITH wd AS (
  SELECT doc_id, source, {_LM_WORDS_SQL} AS w FROM documents),
bg AS (
  SELECT doc_id, source,
         unnest(list_slice(w, 1, len(w) - 1)) AS w1,
         unnest(list_slice(w, 2, len(w))) AS w2
  FROM wd),
tf AS (
  SELECT doc_id, source, w1, w2, count(*) AS cnt
  FROM bg GROUP BY 1, 2, 3, 4),
c12 AS (SELECT w1, w2, sum(cnt) AS c12 FROM tf GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
v AS (SELECT count(*) AS v FROM c1),
doc AS (
  SELECT tf.doc_id, tf.source,
         CAST(sum(tf.cnt) AS BIGINT) AS n_bigrams,
         sum(tf.cnt * -ln((c12.c12 + {_LM_ALPHA})
                          / (c1.c1 + {_LM_ALPHA} * v.v)))
           / sum(tf.cnt) AS nats_raw
  FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY 1, 2),
b AS (
  SELECT doc_id, source, n_bigrams, nats_raw,
         ntile(3) OVER (PARTITION BY source
                        ORDER BY round(nats_raw, 9), doc_id) AS tercile
  FROM doc)
SELECT doc_id, source, n_bigrams, round(nats_raw, 6) AS nats,
       tercile, tercile <= 2 AS keep
FROM b
"""


def _page_lines(words: Column, doc_id: Column) -> Column:
    """Deterministically lay the word stream out as pseudo-lines (10 words
    per line, bullet prefix on every 3rd line, ellipsis/period suffix on a
    5/2 cadence keyed by doc_id+line). The driver documents are single-line
    word streams, so line-structured quality filters (Gopher bullet/
    ellipsis ratios, C4 sentence rules) need a page layout; constructing
    it identically in both engines — the same trick interleaved_spans
    uses — keeps the filters hash-checkable AND non-degenerate."""
    n_lines = F.greatest(F.ceil(F.size(words) / F.lit(10)).cast("int"),
                         F.lit(1))

    def mk(i):
        body = F.array_join(F.slice(words, i * F.lit(10) + 1, 10), " ")
        pre = (F.when((doc_id + i) % 3 == 0, F.lit("• "))
                .otherwise(F.lit("")))
        suf = (F.when((doc_id + i) % 5 == 0, F.lit("…"))
                .when((doc_id + i) % 2 == 0, F.lit("."))
                .otherwise(F.lit("")))
        return F.concat(pre, body, suf)

    return F.transform(F.sequence(F.lit(0), n_lines - 1), mk)


# DuckDB twin of _page_lines: range(0, n) is 0..n-1, list_slice is 1-based
# inclusive with clamping (≡ F.slice(words, start, 10)).
_PAGE_SQL = f"""
  SELECT doc_id, words,
         list_transform(
           range(0, greatest(cast(ceil(len(words) / 10.0) AS int), 1)),
           i -> (CASE WHEN (doc_id + i) % 3 = 0 THEN '• ' ELSE '' END)
                || array_to_string(
                     list_slice(words, i * 10 + 1, i * 10 + 10), ' ')
                || (CASE WHEN (doc_id + i) % 5 = 0 THEN '…'
                         WHEN (doc_id + i) % 2 = 0 THEN '.'
                         ELSE '' END)) AS lines
  FROM (SELECT doc_id, {_WORDS_SQL} AS words FROM documents)
"""

_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality signals (Rae et al. 2021, appendix A1.1) — the
    doc-level companions to q_repetition_filters: word count in
    [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    (# / ellipsis) ≤ 0.1, ≤90% of lines bullet-led, ≤30% of lines
    ellipsis-ended, ≥80% of words containing an alphabetic character,
    and ≥2 of the 8 canonical stop words present.

    Scale shape: map-only — every statistic is row-local column algebra
    over split/HOF arrays (no UDF, whole-stage codegen end to end), so
    the filter costs one scan at any corpus size and pushes nothing to
    a shuffle. Gates evaluate on RAW fractions; displayed fractions are
    rounded to 6dp (same contract as repetition_filters)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    # words materialized FIRST: _page_lines' transform lambda slices the
    # words array per line element, and handing it the split EXPRESSION
    # re-runs the regex split once per line (the _shingles_col lesson —
    # confirmed in the dumped physical plan); a column attribute is
    # evaluated once per row
    base = (docs.select("doc_id", _words_col(F.col("text")).alias("words"))
            .select("doc_id",
                    _page_lines(F.col("words"), F.col("doc_id"))
                    .alias("lines"),
                    "words"))
    page = F.array_join(F.col("lines"), "\n")
    wc = F.size(F.col("words"))
    tot_chars = F.aggregate(F.col("words"), F.lit(0).cast("long"),
                            lambda acc, x: acc + F.length(x))
    mwl = tot_chars / wc
    n_sym = ((F.length(page)
              - F.length(F.translate(page, "#…", ""))))
    sym_ratio = n_sym / wc
    nl = F.size(F.col("lines"))
    bullet = F.size(F.filter(
        F.col("lines"), lambda l: l.startswith("•"))) / nl
    ellip = F.size(F.filter(
        F.col("lines"), lambda l: l.endswith("…"))) / nl
    alpha = F.size(F.filter(
        F.col("words"), lambda x: x.rlike("[A-Za-z]"))) / wc
    stop_hits = sum(
        (F.array_contains(F.col("words"), sw).cast("int")
         for sw in _GOPHER_STOPWORDS),
        start=F.lit(0))
    passes = ((wc >= 50) & (wc <= 100_000)
              & (mwl >= 3) & (mwl <= 10)
              & (sym_ratio <= 0.1)
              & (bullet <= 0.9) & (ellip <= 0.3)
              & (alpha >= 0.8) & (stop_hits >= 2))
    return base.select(
        "doc_id",
        wc.alias("word_count"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet, 6).alias("bullet_line_frac"),
        F.round(ellip, 6).alias("ellipsis_line_frac"),
        F.round(alpha, 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        passes.alias("passes_gopher"))


SQL_GOPHER_QUALITY = f"""
WITH p AS ({_PAGE_SQL}),
b AS (
  SELECT doc_id, words, lines,
         array_to_string(lines, chr(10)) AS page,
         len(words) AS wc,
         len(list_aggregate(words, 'string_agg', '')) AS tot,
         len(lines) AS nl
  FROM p),
m AS (
  SELECT doc_id, wc, nl,
         tot / (1.0 * wc) AS mwl,
         (len(page) - len(replace(replace(page, '#', ''), '…', '')))
           / (1.0 * wc) AS sym_ratio,
         len(list_filter(lines, l -> l LIKE '•%')) / (1.0 * nl)
           AS bullet,
         len(list_filter(lines, l -> l LIKE '%…')) / (1.0 * nl)
           AS ellip,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           / (1.0 * wc) AS alpha,
         {" + ".join(f"list_contains(words, '{sw}')::int"
                     for sw in _GOPHER_STOPWORDS)} AS stop_hits
  FROM b)
SELECT doc_id,
       wc AS word_count,
       round(mwl, 6) AS mean_word_len,
       round(sym_ratio, 6) AS symbol_word_ratio,
       round(bullet, 6) AS bullet_line_frac,
       round(ellip, 6) AS ellipsis_line_frac,
       round(alpha, 6) AS alpha_word_frac,
       stop_hits AS stopword_hits,
       (wc BETWEEN 50 AND 100000 AND mwl BETWEEN 3 AND 10
        AND sym_ratio <= 0.1 AND bullet <= 0.9 AND ellip <= 0.3
        AND alpha >= 0.8 AND stop_hits >= 2) AS passes_gopher
FROM m
"""


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning rules (Raffel et al. 2020 §2.2): keep only
    lines that end in terminal punctuation AND have ≥5 words; a page
    survives when ≥3 lines remain. Emits per-doc kept/total line counts
    and the retained character fraction — the audit columns a training-
    data pipeline logs before dropping text. Page layout from
    _page_lines (shared with gopher_quality).

    Scale shape: map-only HOF filter per row — the line predicate runs
    inside codegen, no explode (the per-line explode+groupBy alternative
    shuffles corpus-linecount rows to recompute a row-local number)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    # words → own projection first (see q_gopher_quality: hands
    # _page_lines an attribute, not the split expression)
    base = (docs.select("doc_id", _words_col(F.col("text")).alias("words"))
            .select("doc_id",
                    _page_lines(F.col("words"), F.col("doc_id"))
                    .alias("lines")))

    def line_wc(l):
        return F.size(F.filter(F.split(l, " "), lambda x: x != ""))

    kept = F.filter(
        F.col("lines"),
        lambda l: F.substring(l, -1, 1).isin(".", "!", "?", "…")
        & (line_wc(l) >= 5))
    chars = (lambda arr: F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)))
    retained = chars(kept) / chars(F.col("lines"))
    return base.select(
        "doc_id",
        F.size(F.col("lines")).alias("n_lines"),
        F.size(kept).alias("kept_lines"),
        F.round(retained, 6).alias("retained_char_frac"),
        (F.size(kept) >= 3).alias("passes_c4"))


SQL_C4_LINE_FILTERS = f"""
WITH p AS ({_PAGE_SQL}),
k AS (
  SELECT doc_id, lines,
         list_filter(lines,
           l -> right(l, 1) IN ('.', '!', '?', '…')
                AND len(list_filter(string_split(l, ' '), x -> x <> ''))
                    >= 5) AS kept
  FROM p)
SELECT doc_id,
       len(lines) AS n_lines,
       len(kept) AS kept_lines,
       round(coalesce(list_sum(list_transform(kept, x -> len(x))), 0)
             / (1.0 * list_sum(list_transform(lines, x -> len(x)))), 6)
         AS retained_char_frac,
       len(kept) >= 3 AS passes_c4
FROM k
"""


def q_pipeline_funnel(spark: SparkSession, sf_dir: str,
                      comp: DataFrame | None = None) -> DataFrame:
    """The whole training-data pipeline as ONE composed plan — the shape a
    real corpus build materializes as its audit table: per document, the
    verdict of every stage (quality score F7, Gopher quality signals,
    exact-dedup keeper, near-dup cluster keeper, token-count window) and
    the final keep bit (AND of all five).

    Composition IS the point: each stage is the same operator that runs
    standalone (q_quality_scores, q_gopher_quality, q_dedup_clusters,
    q_token_counts), joined back on doc_id — keyed shuffle joins that
    AQE plans independently per stage. A 100-TB run would persist each
    stage's verdict column and this query is their join, so corpus-build
    reruns only recompute stages whose config changed — comp= is that
    shape for the expensive stage: pass the persisted CC component frame
    and the funnel costs only its joins (bench.py measures both forms)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    qual = q_quality_scores(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("passes_quality"))
    gop = q_gopher_quality(spark, sf_dir).select("doc_id", "passes_gopher")
    clus = q_dedup_clusters(spark, sf_dir, comp=comp).select(
        "doc_id", (F.col("cluster_id") == F.col("doc_id"))
        .alias("is_cluster_keeper"))
    tok = q_token_counts(spark, sf_dir).select(
        "doc_id", F.col("in_window").alias("tokens_in_window"))
    wmin = Window.partitionBy(F.sha2(F.col("text"), 256))
    exact = docs.select(
        "doc_id", (F.col("doc_id") == F.min("doc_id").over(wmin))
        .alias("is_exact_keeper"))
    out = (exact.join(qual, "doc_id").join(gop, "doc_id")
           .join(clus, "doc_id").join(tok, "doc_id"))
    keep = (F.col("passes_quality") & F.col("passes_gopher")
            & F.col("is_exact_keeper") & F.col("is_cluster_keeper")
            & F.col("tokens_in_window"))
    return out.select("doc_id", "passes_quality", "passes_gopher",
                      "is_exact_keeper", "is_cluster_keeper",
                      "tokens_in_window", keep.alias("keep"))


# each stage's published SQL nests as a parenthesized derived table
# (DuckDB allows WITH / WITH RECURSIVE inside a subquery)
SQL_PIPELINE_FUNNEL = f"""
SELECT d.doc_id,
       q.passes AS passes_quality,
       g.passes_gopher,
       (d.doc_id = ek.keeper) AS is_exact_keeper,
       (c.cluster_id = c.doc_id) AS is_cluster_keeper,
       t.in_window AS tokens_in_window,
       (q.passes AND g.passes_gopher AND d.doc_id = ek.keeper
        AND c.cluster_id = c.doc_id AND t.in_window) AS keep
FROM documents d
JOIN ({SQL_QUALITY_SCORES}) q USING (doc_id)
JOIN ({SQL_GOPHER_QUALITY}) g USING (doc_id)
JOIN ({SQL_DEDUP_CLUSTERS}) c ON c.doc_id = d.doc_id
JOIN ({SQL_TOKEN_COUNTS}) t USING (doc_id)
JOIN (SELECT doc_id,
             min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
      FROM documents) ek ON ek.doc_id = d.doc_id
"""


def q_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — content hash (vector-sink merge key)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_hash"))


SQL_SHA256 = "SELECT doc_id, sha256(text) AS content_hash FROM documents"


# --------------------------------------------------------------------------
# Interleaved span model on driver tables
# --------------------------------------------------------------------------

def q_interleaved_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — build a markdown doc per row (heading + body + image), run the
    real spans operator, explode to rows. The DuckDB oracle states the
    expected span algebra directly."""
    from axora_spark.operators.spans import spans_udf
    docs = _t(spark, sf_dir, "documents", spread=8)
    md = F.concat(F.lit("# Doc "), F.col("doc_id"), F.lit("\n\n"),
                  F.col("text"), F.lit("\n\n![img](https://cdn.example.org/"),
                  F.col("doc_id"), F.lit(".png)"))
    spans = docs.select("doc_id", spans_udf()(md, F.lit("")).alias("spans"))
    # explode_outer: avoids the optimizer's size>0 pre-filter that would
    # re-evaluate the spans UDF (same trap as q_html_links)
    s = (spans.select("doc_id", F.explode_outer("spans").alias("s"))
         .filter(F.col("s").isNotNull()))
    return s.select("doc_id", F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("span_text"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.offset").alias("offset"))


SQL_INTERLEAVED_SPANS = """
SELECT doc_id, 'text' AS kind, '# Doc ' || doc_id AS span_text,
       '' AS media_ref, 0 AS offset FROM documents
UNION ALL
SELECT doc_id, 'text', trim(text), '', 1 FROM documents
  WHERE trim(text) <> ''
UNION ALL
SELECT doc_id, 'media', '',
       'https://cdn.example.org/' || doc_id || '.png', 2 FROM documents
"""


# --------------------------------------------------------------------------
# Raw-HTML stage (X3/X4/X5 + P1) on driver tables: build a synthetic page
# per documents row NATIVELY (concat), run the REAL parser (one pandas UDF,
# one parse per row), and state the expected output declaratively in the
# DuckDB oracle. Any drift in link order, main-content selection,
# HTML→markdown, or metadata projection breaks the hash.
# --------------------------------------------------------------------------

def _synth_html_col() -> Column:
    """Deterministic page: head metas from row columns; nav + footer carry
    boilerplate links; <main> holds h1 + the doc text + a linked sentence +
    an image. The X4 heuristic must pick <main> over nav/footer."""
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"),
                         "<", "&lt;"), ">", "&gt;")
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    return F.concat(
        F.lit('<html lang="'), F.col("lang"),
        F.lit('"><head><title>Doc '), F.col("doc_id"),
        F.lit('</title><meta name="author" content="Writer '),
        F.col("doc_id") % 9,
        F.lit('"/><meta property="og:site_name" content="'), F.col("source"),
        F.lit('"/><meta name="keywords" content="k'), F.col("doc_id") % 3,
        F.lit(',k'), F.col("doc_id") % 5,
        F.lit('"/><meta property="article:published_time" content="2025-02-'),
        day,
        F.lit('T00:00:00Z"/></head><body><nav><a href="/login">log in</a>'
              '<a href="/tag/x">tags</a></nav><main><h1>Doc '),
        F.col("doc_id"),
        F.lit('</h1><p>'), esc,
        F.lit('</p><p>See <a href="/next/'), F.col("doc_id"),
        F.lit('">next</a> and <a href="https://ext.example.com/'),
        F.col("doc_id"),
        F.lit('">ext</a>.</p><img alt="fig" src="https://cdn.example.org/'),
        F.col("doc_id"),
        F.lit('.png"/></main><footer><a href="/about">about</a>'
              '</footer></body></html>'))


def _html_parse_udf():
    from axora_spark.operators.html import parse_page
    from axora_spark.schemas import METADATA
    from pyspark.sql import types as T
    import pandas as pd
    out_t = T.StructType([
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("body_md", T.StringType()),
        T.StructField("metadata", METADATA),
    ])

    # struct-returning scalar pandas UDF: no type annotations (the hint
    # checker rejects Series->DataFrame), plain pd.DataFrame out
    @F.pandas_udf(returnType=out_t)
    def _udf(html):
        def safe(h):
            # per-row guard mirroring operators.html.parse_fetched_html:
            # a pathological page yields a null struct, not a task failure
            try:
                return parse_page(h or "")
            except Exception:
                return None

        parsed = [safe(h) for h in html]
        return pd.DataFrame({
            "links": [p["out_links"] if p else None for p in parsed],
            "body_md": [p["body_md"] if p else None for p in parsed],
            "metadata": [p["metadata"] if p else None for p in parsed],
        }, index=html.index)
    return _udf


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — per-anchor hrefs in DOM order over the whole page (the
    reference's OnHTML fires per anchor, nav/footer included)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    parsed = docs.select("doc_id",
                         _html_parse_udf()(_synth_html_col()).alias("p"))
    # posexplode_OUTER: plain posexplode makes the optimizer push a
    # `size(links)>0` pre-filter whose expression re-evaluates the parse
    # UDF — every page parsed twice (measured 10.5s vs 0.25s at sf0.1).
    # Outer generate keeps one ArrowEvalPython; the null row (empty links)
    # is dropped after the generate instead.
    return (parsed
            .select("doc_id",
                    F.posexplode_outer("p.links").alias("link_pos", "href"))
            .filter(F.col("href").isNotNull()))


SQL_HTML_LINKS = """
SELECT doc_id, u.pos AS link_pos,
       CASE u.pos
         WHEN 0 THEN '/login'
         WHEN 1 THEN '/tag/x'
         WHEN 2 THEN '/next/' || doc_id
         WHEN 3 THEN 'https://ext.example.com/' || doc_id
         ELSE '/about' END AS href
FROM documents, (SELECT unnest(range(0, 5)) AS pos) u
"""


def q_html_main_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+X5 — main-content selection must skip nav/footer, and the
    markdown conversion of the picked <main> is stated exactly by the
    oracle (heading, escaped-text round-trip, inline links, image)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    parsed = docs.select("doc_id",
                         _html_parse_udf()(_synth_html_col()).alias("p"))
    return parsed.select("doc_id", F.col("p.body_md").alias("body_md"))


SQL_HTML_MAIN_MD = r"""
SELECT doc_id,
       '# Doc ' || doc_id || chr(10) || chr(10)
       || trim(regexp_replace(text, '\s+', ' ', 'g')) || chr(10) || chr(10)
       || 'See [next](/next/' || doc_id
       || ') and [ext](https://ext.example.com/' || doc_id || ').'
       || chr(10) || chr(10)
       || '![fig](https://cdn.example.org/' || doc_id || '.png)'
         AS body_md
FROM documents
"""


def q_doc_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — the 16-field ContentMetadata projection
    (text_extraction.go:24-41); scalar fields + fingerprint (sha256 of the
    whitespace-collapsed main text) checked value-exactly."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    parsed = docs.select(
        "doc_id", _html_parse_udf()(_synth_html_col()).alias("p"))
    m = F.col("p.metadata")
    return parsed.select(
        "doc_id",
        m["title"].alias("title"),
        m["author"].alias("author"),
        m["site_name"].alias("site_name"),
        m["language"].alias("language"),
        F.concat_ws(",", m["tags"]).alias("tags"),
        F.date_format(m["published_date"], "yyyy-MM-dd HH:mm:ss")
         .alias("published"),
        m["fingerprint"].alias("fingerprint"))


SQL_DOC_METADATA = r"""
SELECT doc_id,
       'Doc ' || doc_id AS title,
       'Writer ' || (doc_id % 9) AS author,
       source AS site_name,
       lang AS language,
       'k' || (doc_id % 3) || ',k' || (doc_id % 5) AS tags,
       '2025-02-' || lpad((doc_id % 28 + 1)::varchar, 2, '0')
         || ' 00:00:00' AS published,
       sha256(trim(regexp_replace(
         'Doc ' || doc_id || text || 'See next and ext.',
         '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_serp_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/W3/U2 — the SERP collector (crawler/urls_collector.go) over a
    deterministic engine fixture: 16 queries, 1+(q%3) result pages each,
    every page carrying 3 result links each rendered THREE ways (clean
    https, in-page duplicate, plain-http) plus an empty-text link — the
    evaluated-JS filters and the in-page Set dedup (U2) must strip all but
    the clean three; pagination walks the real next-button selector and
    the W3 cap is exercised by the loop shape. Runs the REAL selector
    engine + mini-DOM extraction + wave loop (sources/serp.py); the oracle
    states the surviving rows closed-form."""
    from axora_spark.sources.serp import collect_serp

    def tp(su: str, page: int):
        q = int(su.rsplit("q=", 1)[1].rsplit("-", 1)[1])
        total = 1 + (q % 3)
        links = "".join(
            f'<a href="https://res.example.org/{q}/{page}/{j}">r{j}</a>'
            f'<a href="https://res.example.org/{q}/{page}/{j}">dup</a>'
            f'<a href="http://plain.example.org/{q}/{page}/{j}">http</a>'
            f'<a href="https://void.example.org/{q}/{page}/{j}"> </a>'
            for j in range(3))
        nxt = ('<form aria-label="go to page Next">'
               '<button data-testid="pagination-button">N</button></form>'
               if page < total else "")
        return 200, (f'<html><body><section id="main">{links}</section>'
                     f'{nxt}</body></html>')

    return collect_serp(spark, [f"topic-{i}" for i in range(16)], tp)


SQL_SERP_COLLECT = """
SELECT 'topic-' || q.q AS query, p.p::int AS page, j.j::int AS pos,
       'https://res.example.org/' || q.q || '/' || p.p || '/' || j.j AS url
FROM (SELECT unnest(range(0, 16)) AS q) q,
     (SELECT unnest(range(1, 4)) AS p) p,
     (SELECT unnest(range(0, 3)) AS j) j
WHERE p.p <= 1 + (q.q % 3)
"""


# --------------------------------------------------------------------------
# Classic analytics (window / agg / join coverage)
# --------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("count_order")))


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analogue (shipping priority): 3-way join with filters on
    every input, per-order revenue, top-10. The fixture has no
    o_shippriority, so o_orderpriority stands in.

    Scale shape: all three filters reach the parquet scans (pushed
    predicates), the two fact-fact joins shuffle on their keys, and the
    top-10 over rounded revenue with an orderkey tie-break is
    TakeOrderedAndProject — the cut is engine-stable because per-order
    revenue sums a handful of terms and ties break on the unique key."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.round(F.sum(F.col("l_extendedprice")
                         * (1 - F.col("l_discount"))), 2))
    return (cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .filter(F.col("o_orderdate") < "1996-01-01")
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .filter(F.col("l_shipdate") > "1996-01-01")
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(rev.alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue (local supplier volume): 6-way join — customer,
    orders, lineitem, supplier (with the c_nationkey = s_nationkey
    locality constraint), nation, region — revenue per nation in ASIA
    for one order year.

    Scale shape: region/nation/supplier are broadcast dims (AQE picks
    the broadcast; supplier stays broadcast-able because the region
    filter prunes it through the nation join), the orders date filter
    pushes to the scan, and the fact-side joins shuffle on orderkey/
    custkey. This is the canonical join-reordering showcase — Catalyst
    starts from the selective region filter, not the declared order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    rev = (F.round(F.sum(F.col("l_extendedprice")
                         * (1 - F.col("l_discount"))), 2))
    return (cust
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .filter((F.col("o_orderdate") >= "1996-01-01")
                    & (F.col("o_orderdate") < "1997-01-01"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(supp, (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(nat),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(reg),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .filter(F.col("r_name") == "ASIA")
            .groupBy("n_name")
            .agg(rev.alias("revenue")))


SQL_TPCH_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price (the W1 window pattern)."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (part.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("p_brand", "rnk", "p_partkey", "p_retailprice"))


SQL_TOPK_PER_GROUP = """
SELECT p_brand, rnk, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rnk
  FROM part) WHERE rnk <= 3
"""


def q_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim star join: revenue per region (J2 shape at scale)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    return (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders")))


SQL_BROADCAST_JOIN_AGG = """
SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window aggregation (streaming semantics, batch-
    checked; the Structured-Streaming variant shares this exact groupBy)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long")
    return (ev.groupBy(bucket.alias("window_start"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


SQL_EVENTS_TUMBLING = """
SELECT CAST(floor(epoch(ts)/300) * 300 AS BIGINT) AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour event statistics at every event: count
    and average `value` over the RANGE frame [ts-1h, ts].

    Scale shape: one keyed window (shuffle on user_id, in-partition
    range scan) — the canonical time-range frame. Sums run in integer
    cents (`value` is 2-decimal) so frame-internal float summation
    order can't produce cross-engine ulp drift; the average divides
    two exact integers at the end."""
    ev = _t(spark, sf_dir, "events", spread=True)
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "user_id", sec.alias("es"),
                     cents.alias("cents"))
    w = (Window.partitionBy("user_id").orderBy("es")
         .rangeBetween(-3600, 0))
    return (base.select(
        "event_id", "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("cents").over(w) / 100.0
                / F.count("*").over(w), 6).alias("avg_value_1h")))


SQL_MOVING_WINDOW = """
WITH b AS (
  SELECT event_id, user_id,
         date_diff('microsecond', TIMESTAMP '1970-01-01', ts) / 1000000.0
           AS es,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(sum(cents) OVER w / 100.0 / count(*) OVER w, 6)
         AS avg_value_1h
FROM b
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (o_orderpriority, o_orderstatus): revenue subtotals at
    every level plus the grand total — the OLAP cube primitive. Totals
    run in integer cents (o_totalprice is 2-decimal) so the rolled-up
    grand total is exactly the sum of its parts in both engines."""
    orders = _t(spark, sf_dir, "orders", spread=True)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (orders.select("o_orderpriority", "o_orderstatus",
                          cents.alias("cents"))
            .rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("cents") / 100.0, 2).alias("revenue")))


SQL_ROLLUP_ORDERS = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
         AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, hour-of-day bucket): counts and exact cent
    sums at every grouping-set level including both marginals and the
    grand total — the full cube companion to q_rollup_orders' rollup.
    One aggregation pass computes all 4 grouping sets (Spark expands
    the cube in a single Expand+Aggregate, not one scan per set)."""
    ev = _t(spark, sf_dir, "events", spread=True)
    cents = F.round(F.col("value") * 100).cast("long")
    hour = F.hour(F.col("ts").cast("timestamp"))
    return (ev.select("event_type", hour.alias("hour"),
                      cents.alias("cents"))
            .cube("event_type", "hour")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("cents") / 100.0, 2).alias("sum_value")))


SQL_CUBE_EVENTS = """
SELECT event_type, hour(ts) AS hour,
       count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
         AS sum_value
FROM events
GROUP BY CUBE (event_type, hour(ts))
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of `value` per event_type (percentile_cont
    interpolation — identical formula both engines). Exact percentiles
    shuffle each group's values to one aggregation; at true scale the
    approx_percentile sketch (t-digest) replaces this per-column —
    same query shape, mergeable partial aggregates."""
    ev = _t(spark, sf_dir, "events", spread=True)
    def pct(p):
        return F.round(F.expr(f"percentile(value, {p})"), 6)
    return (ev.groupBy("event_type")
            .agg(pct(0.5).alias("p50"), pct(0.9).alias("p90"),
                 pct(0.99).alias("p99")))


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


def q_event_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion within one hour, per user: first click
    timestamp, whether a purchase followed inside the window, and the
    exact microsecond latency of the earliest qualifying purchase.

    Scale shape: two keyed aggregations on user_id sharing one exchange
    (first-click min, then the conditional min over joined purchases);
    the purchase side joins on user_id — keyed, AQE-skew-splittable,
    never a time-range cross join. Latency stays in integer
    microseconds (unix_micros both engines) so no float drift."""
    ev = _t(spark, sf_dir, "events", spread=True)
    first_click = (ev.filter(F.col("event_type") == "click")
                   .groupBy("user_id")
                   .agg(F.min("ts").alias("first_click")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").alias("pts")))
    hour_us = 3_600_000_000
    joined = (first_click.join(purchases, "user_id", "left")
              .withColumn("lat",
                          # parquet gives TIMESTAMP_NTZ; session TZ is
                          # UTC so the cast changes type, not instant
                          F.unix_micros(F.col("pts").cast("timestamp"))
                          - F.unix_micros(
                              F.col("first_click").cast("timestamp")))
              .withColumn("ok", (F.col("lat") > 0) & (F.col("lat") <= hour_us)))
    return (joined.groupBy("user_id", "first_click")
            .agg(F.max(F.coalesce("ok", F.lit(False))).alias("converted"),
                 F.min(F.when(F.col("ok"), F.col("lat")))
                 .alias("micros_to_purchase"))
            .select("user_id", "first_click", "converted",
                    "micros_to_purchase"))


SQL_EVENT_CONVERSION = """
WITH fc AS (
  SELECT user_id, min(ts) AS first_click FROM events
  WHERE event_type = 'click' GROUP BY user_id),
j AS (
  SELECT fc.user_id, fc.first_click,
         date_diff('microsecond', fc.first_click, p.ts) AS lat
  FROM fc LEFT JOIN (SELECT user_id, ts FROM events
                     WHERE event_type = 'purchase') p USING (user_id))
SELECT user_id, first_click,
       coalesce(max(lat > 0 AND lat <= 3600000000), false) AS converted,
       min(CASE WHEN lat > 0 AND lat <= 3600000000 THEN lat END)
         AS micros_to_purchase
FROM j GROUP BY user_id, first_click
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily signup cohorts with day-1 / day-7 retention: cohort = date
    of the user's first `signup` event; a user is retained at +N days
    iff they produced ANY event on exactly that date.

    Scale shape: distinct (user, day) activity first (collapses the raw
    event volume to user-days BEFORE the join), then a keyed join on
    user_id and two date-equality flags folded in one aggregation —
    no per-day subqueries, no cross join of cohorts × days. Cohort
    dates emit as strings so both engines hash identically (pandas
    renders Spark DATE as datetime.date but DuckDB DATE as Timestamp)."""
    ev = _t(spark, sf_dir, "events", spread=True)
    cohorts = (ev.filter(F.col("event_type") == "signup")
               .groupBy("user_id")
               .agg(F.min(F.to_date("ts")).alias("cohort")))
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    flags = (cohorts.join(active, "user_id")
             .groupBy("user_id", "cohort")
             .agg(F.max(F.col("d") == F.date_add("cohort", 1))
                  .alias("r1"),
                  F.max(F.col("d") == F.date_add("cohort", 7))
                  .alias("r7")))
    return (flags.groupBy("cohort")
            .agg(F.count("*").alias("n_users"),
                 F.sum(F.col("r1").cast("long")).alias("retained_d1"),
                 F.sum(F.col("r7").cast("long")).alias("retained_d7"))
            .select(F.date_format("cohort", "yyyy-MM-dd")
                    .alias("cohort_date"),
                    "n_users", "retained_d1", "retained_d7"))


SQL_RETENTION_COHORTS = """
WITH c AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (
  SELECT c.user_id, c.cohort,
         max(a.d = c.cohort + 1) AS r1,
         max(a.d = c.cohort + 7) AS r7
  FROM c JOIN a USING (user_id) GROUP BY c.user_id, c.cohort)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_date,
       count(*) AS n_users,
       CAST(sum(r1::int) AS BIGINT) AS retained_d1,
       CAST(sum(r7::int) AS BIGINT) AS retained_d7
FROM f GROUP BY cohort
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via lag + cumsum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = F.sum(F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    return (ev.withColumn("session_id", sess)
            .groupBy("user_id")
            .agg(F.max("session_id").alias("n_sessions"),
                 F.count("*").alias("n_events")))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS gap
  FROM events),
s AS (
  SELECT user_id,
         sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM g)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM s GROUP BY user_id
"""


# Freshness-driven recrawl scheduling (operators/recrawl.py) — the
# revisit-policy operator the reference's crawl-once session lacks.

_RC_WAVES = 8          # observation horizon (waves 0..7), "now" = 8
_RC_NOW = 8


def _rc_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic observation log synthesized from the documents
    table: doc d is fetched at wave w iff w ≡ 0 (mod (d%3)+1) — three
    interleaved revisit cadences — and its content version advances
    every (d%5)+2 waves, so change periods 2..6 cross cadences 1..3.
    Both engines state the identical log (SQL twin in
    SQL_RECRAWL_SCHEDULE)."""
    docs = _t(spark, sf_dir, "documents", spread=True)
    obs = (docs.select("doc_id",
                       F.explode(F.sequence(F.lit(0),
                                            F.lit(_RC_WAVES - 1)))
                       .alias("wave"))
           .filter(F.col("wave") % (F.col("doc_id") % 3 + 1) == 0))
    version = F.expr(f"wave div (doc_id % 5 + 2)")
    return obs.withColumn("content_hash",
                          F.concat(F.lit("v"), version.cast("string")))


# Latency-adaptive politeness budgets (operators/adaptive.py — the
# Heritrix delay-factor analog). The fixture observation log derives
# from the events table: host = user bucket, wave = event bucket,
# latency = floor(value·100) ms — deterministic on both engines.
_AD_NUM_MS = 60_000.0   # parallelism × wave_seconds × 1000 closure
_AD_PRIOR_MS = 2500.0
_AD_MIN_DELAY_MS = 1000.0
_AD_MAX_BUDGET = 50


def q_adaptive_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness budget from EWMA'd fetch latency
    (operators/adaptive.py): est = fold of per-wave mean latency from a
    prior with α=0.5 (closed form — every weight an exact power of
    two), delay = max(2·est, floor), budget = clamp(num/delay). This is
    the budget table W1's admit() broadcasts in
    cfg.adaptive_politeness sessions.

    Scale shape: input is (host, wave) grain — already the collapsed
    state table the crawl maintains; one host-keyed exchange shared by
    the ranking window and the EWMA aggregate; output = one row per
    host. est_ms rounded 6dp (sum-order ulps), budget is rank-free
    integer arithmetic off the same est."""
    from axora_spark.operators.adaptive import latency_budgets
    ev = _t(spark, sf_dir, "events", spread=True)
    obs = (ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
        .alias("host"),
        (F.col("event_id") % 6).cast("int").alias("wave"),
        F.floor(F.col("value") * 100).alias("ms"))
        .groupBy("host", "wave")
        .agg(F.sum("ms").cast("long").alias("sum_ms"),
             F.count("*").alias("n")))
    b = latency_budgets(obs, num_ms=_AD_NUM_MS, prior_ms=_AD_PRIOR_MS,
                        min_delay_ms=_AD_MIN_DELAY_MS,
                        max_budget=_AD_MAX_BUDGET)
    return b.select("host", "n_waves",
                    F.round("est_ms", 6).alias("est_ms"),
                    F.col("_budget").alias("budget"))


SQL_ADAPTIVE_BUDGETS = f"""
WITH obs AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         CAST(event_id % 6 AS INT) AS wave,
         sum(CAST(floor(value * 100) AS BIGINT)) AS sum_ms,
         count(*) AS n
  FROM events GROUP BY 1, 2),
mw AS (
  SELECT host, wave, sum(sum_ms) / (1.0 * sum(n)) AS mw
  FROM obs GROUP BY 1, 2),
rk AS (
  SELECT host, mw,
         row_number() OVER (PARTITION BY host ORDER BY wave DESC) - 1
           AS k
  FROM mw),
est AS (
  SELECT host, count(*) AS n_waves,
         sum(mw * 0.5 * pow(0.5, k))
           + pow(0.5, count(*)) * {_AD_PRIOR_MS} AS est_ms
  FROM rk GROUP BY 1)
SELECT host, n_waves, round(est_ms, 6) AS est_ms,
       CAST(least({_AD_MAX_BUDGET}, greatest(1,
         CAST(floor(round({_AD_NUM_MS} /
                    greatest(est_ms * 2.0, {_AD_MIN_DELAY_MS}, 1.0), 6))
              AS BIGINT))) AS INT) AS budget
FROM est
"""


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate estimation + staleness revisit priority
    (operators/recrawl.py; Cho & Garcia-Molina, ACM TODS 2003). The
    reference fetches each URL exactly once per session
    (crawler/crawler.go:77 visited set); a long-lived engine must decide
    WHAT to re-fetch — this ranks URLs by expected staleness
    1 − e^{−λ̂·age} under the bias-corrected Poisson-rate MLE
    λ̂ = −ln((n−X+0.5)/(n+0.5))/I̅ over the crawl's own observation log.

    Scale shape: the lag-window and the per-URL aggregate both hash by
    doc_id — ONE Exchange for the whole job (gated,
    test_plan_shapes.py); output cardinality = |seen|, the table the
    crawl already maintains. Rounded to 6dp like pagerank — ln/exp
    differ between engines at ~1e-16."""
    from axora_spark.operators.recrawl import estimate_change_rate
    rates = estimate_change_rate(_rc_obs(spark, sf_dir), _RC_NOW,
                                 url_col="doc_id")
    return rates.select("doc_id", "n_obs", "n_changes",
                        F.round("change_rate", 6).alias("change_rate"),
                        F.round("staleness", 6).alias("staleness"))


SQL_RECRAWL_SCHEDULE = f"""
WITH waves AS (SELECT unnest(range(0, {_RC_WAVES})) AS wave),
obs AS (
  SELECT doc_id, wave,
         'v' || CAST(wave // (doc_id % 5 + 2) AS VARCHAR) AS h
  FROM documents, waves
  WHERE wave % (doc_id % 3 + 1) = 0),
lagged AS (
  SELECT doc_id, wave, h,
         lag(h) OVER (PARTITION BY doc_id ORDER BY wave) AS prev
  FROM obs),
per AS (
  SELECT doc_id, count(*) AS n_obs,
         sum(CASE WHEN prev IS NOT NULL AND prev <> h
                  THEN 1 ELSE 0 END) AS n_changes,
         min(wave) AS w0, max(wave) AS w1
  FROM lagged GROUP BY doc_id),
est AS (
  SELECT doc_id, n_obs, n_changes,
         CASE WHEN n_obs > 1 THEN
           -ln((n_obs - 1 - n_changes + 0.5) / (n_obs - 1 + 0.5))
           / ((w1 - w0) * 1e0 / (n_obs - 1))
         END AS lam,
         {_RC_NOW} - w1 AS age
  FROM per)
SELECT doc_id, n_obs, CAST(n_changes AS BIGINT) AS n_changes,
       round(lam, 6) AS change_rate,
       round(CASE WHEN lam IS NULL THEN 1e0
                  ELSE 1e0 - exp(-lam * age) END, 6) AS staleness
FROM est
"""


# Crawl-trap detection (operators/traps.py) — (host, path-template)
# families whose URL space explodes (calendars, session params).

_TRAP_MIN_URLS = 16
_TRAP_MAX_DEPTH = 4
_TRAP_MAX_PARAMS = 3


def q_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical crawl-trap detection (operators/traps.py; the
    Heritrix/IRLbot defense the reference's static skip-list and
    max_depth cannot express — a calendar mints unbounded DISTINCT urls
    at depth 2). URL synthesis: five deterministic families per host —
    an article space (high volume, benign), a /cal/N/N/N calendar, a
    session+facet parameter space, a static page, and a deep /p/N/q/N
    facet walk; the detector must flag exactly the calendar, the
    parameter space, and the deep walk, and must NOT flag the
    equally-high-volume article family.

    Scale shape: map-only codegen signature extraction, one keyed
    aggregate with partial reduction, signature-cardinality output —
    the frontier gate (traps.trap_filter) then broadcast-anti-joins
    this tiny table."""
    from axora_spark.operators.traps import detect_traps
    docs = _t(spark, sf_dir, "documents", spread=True)
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    host = F.concat(F.lit("h"), s(d % 4), F.lit(".example.com"))
    v = d % 5
    path = (F.when(v == 0, F.concat(F.lit("/article/"), s(d)))
            .when(v == 1, F.concat(F.lit("/cal/"), s(d % 3), F.lit("/"),
                                   s(d % 12), F.lit("/"), s(d % 28)))
            .when(v == 2, F.concat(F.lit("/p?session="), s(d),
                                   F.lit("&sort="), s(d % 2),
                                   F.lit("&ref="), s(d % 7)))
            .when(v == 3, F.lit("/about"))
            .otherwise(F.concat(F.lit("/p/"), s(d % 7), F.lit("/q/"),
                                s(d % 11))))
    urls = docs.select(F.concat(F.lit("https://"), host, path)
                       .alias("url"))
    return detect_traps(urls, min_urls=_TRAP_MIN_URLS,
                        max_depth=_TRAP_MAX_DEPTH,
                        max_params=_TRAP_MAX_PARAMS)


SQL_TRAP_DETECTION = f"""
WITH u AS (
  SELECT 'https://h' || (doc_id % 4) || '.example.com' ||
    CASE doc_id % 5
      WHEN 0 THEN '/article/' || doc_id
      WHEN 1 THEN '/cal/' || (doc_id % 3) || '/' || (doc_id % 12)
                  || '/' || (doc_id % 28)
      WHEN 2 THEN '/p?session=' || doc_id || '&sort=' || (doc_id % 2)
                  || '&ref=' || (doc_id % 7)
      WHEN 3 THEN '/about'
      ELSE '/p/' || (doc_id % 7) || '/q/' || (doc_id % 11)
    END AS url
  FROM documents),
s AS (
  SELECT url,
         regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
         regexp_replace(regexp_extract(url,
             '^[a-z]+://[^/?#]+([^?#]*)', 1), '[0-9]+', 'N', 'g')
           AS template,
         len(list_filter(string_split(regexp_extract(url,
             '^[a-z]+://[^/?#]+([^?#]*)', 1), '/'), x -> x <> ''))
           AS depth,
         CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = '' THEN 0
              ELSE len(string_split(
                       regexp_extract(url, '\\?([^#]*)', 1), '&')) END
           AS n_params
  FROM u),
p AS (
  SELECT host, template, count(DISTINCT url) AS n_urls,
         max(depth) AS max_depth, max(n_params) AS max_params,
         len(string_split(template, '/N')) - 1 AS n_num_segs
  FROM s GROUP BY host, template)
SELECT host, template, n_urls,
       CAST(max_depth AS INTEGER) AS max_depth,
       CAST(max_params AS INTEGER) AS max_params,
       CAST(n_num_segs AS INTEGER) AS n_num_segs,
       concat_ws(',',
         CASE WHEN n_urls >= {_TRAP_MIN_URLS} THEN 'volume' END,
         CASE WHEN n_num_segs >= 3 THEN 'calendar' END,
         CASE WHEN max_depth >= {_TRAP_MAX_DEPTH} THEN 'depth' END,
         CASE WHEN max_params >= {_TRAP_MAX_PARAMS} THEN 'params' END)
         AS reasons
FROM p
WHERE n_urls >= {_TRAP_MIN_URLS}
  AND (max_depth >= {_TRAP_MAX_DEPTH}
       OR max_params >= {_TRAP_MAX_PARAMS} OR n_num_segs >= 3)
"""


# Cross-source overlap estimation (functions/sketch.py minhash set
# sketch) — "how much do two corpora share?" before mixing them.

_SO_PERMS = 8


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap between sources via per-source MinHash
    set sketches (Broder 1997; functions/sketch.minhash_set_sketch).
    The question a mixing recipe asks before combining corpora — and
    the dedup audit asks after (near-identical sources = double-counted
    mass). Exact pairwise overlap needs |S|² set intersections over the
    full corpus; the sketch answers it from n_perm strings per source.

    Scale shape: one keyed aggregate with map-side partial min (the
    hll_registers shape — 8 strings per source however many words
    stream through), then the pair join runs on the sources×8 sketch
    table, broadcast. est_jaccard is count/8 — exact in binary, no
    rounding needed."""
    from axora_spark.functions.sketch import (minhash_set_sketch,
                                              sketch_pairwise_jaccard)
    words = _source_words(spark, sf_dir)
    sk = minhash_set_sketch(words, "source", "word", n_perm=_SO_PERMS)
    return (sketch_pairwise_jaccard(sk, "source", n_perm=_SO_PERMS)
            .select(F.col("key_a").alias("source_a"),
                    F.col("key_b").alias("source_b"),
                    "est_jaccard"))


def _source_overlap_sql() -> str:
    mins = ",\n         ".join(
        f"min(substr(hh, {i * 8 + 1}, 8)) AS mh{i}"
        for i in range(_SO_PERMS))
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_SO_PERMS))
    return f"""
WITH w AS (
  SELECT source, unnest({WORDS_SQL}) AS word FROM documents),
h AS (SELECT source, sha256(word) AS hh FROM w),
sk AS (
  SELECT source,
         {mins}
  FROM h GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       ({agree}) / {_SO_PERMS}.0 AS est_jaccard
FROM sk a JOIN sk b ON a.source < b.source
"""


SQL_SOURCE_OVERLAP = _source_overlap_sql()


# Anchor-text aggregation per link target (operators/anchors.py).

def _anchor_links_udf():
    """array<struct<href,text>> per page — REAL DOM walk
    (html.extract_links_text), one parse per page, Arrow-batched."""
    import pandas as pd
    from pyspark.sql import types as T

    from axora_spark.operators.html import extract_links_text, parse_dom
    out_t = T.ArrayType(T.StructType([
        T.StructField("href", T.StringType()),
        T.StructField("text", T.StringType())]))

    # no type hints: the hint checker rejects Series→Series-of-structs
    @F.pandas_udf(out_t)
    def u(html):
        return html.map(lambda h: extract_links_text(parse_dom(h)))

    return u.asNondeterministic()


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link TARGET (operators/anchors.py)
    over the real parse (html.extract_links_text — hrefs WITH their
    DOM-order anchor text) and the real absolutizer (X1 pandas UDF).
    Page URL = https://h{doc_id%4}.example.com/doc/{doc_id}, so
    boilerplate targets (/login, /tag/x, /about) merge per host across
    thousands of pages while /next/{id} and the external link stay
    singletons — the in-degree/anchor profile an indexer consumes.

    Scale: one parse per page (outer explode defeats the size>0
    re-evaluation trap), then two keyed aggregates + a WindowGroupLimit
    top-k all hashed by target (see operators/anchors.py). The link
    rows are materialized ONCE at the UDF boundary (lazy
    localCheckpoint): the profile and phrase aggregates shuffle on
    different keys, so without it each branch re-ran the whole
    parse + absolutize pipeline (r6 measured: the 'one parse per page'
    claim was false in the executed plan — 2× ArrowEvalPython, 5.0s vs
    1.5s for the rows themselves at sf1.0). A repartition-by-target
    shared exchange was rejected: it would funnel a mega-target's rows
    into one partition BEFORE the partial aggregation, the exact skew
    the operator's two-phase design avoids."""
    from axora_spark.operators.anchors import aggregate_anchor_text
    from axora_spark.operators.urls import absolutize_udf, host_col
    docs = _t(spark, sf_dir, "documents", spread=True)
    d = F.col("doc_id")
    page_url = F.concat(F.lit("https://h"), (d % 4).cast("string"),
                        F.lit(".example.com/doc/"), d.cast("string"))
    parsed = docs.select(
        page_url.alias("page_url"),
        _anchor_links_udf()(_synth_html_col()).alias("links"))
    rows = (parsed
            .select("page_url", F.explode_outer("links").alias("l"))
            .filter(F.col("l").isNotNull())
            .select("page_url",
                    absolutize_udf(F.col("page_url"),
                                   F.col("l.href")).alias("target"),
                    F.col("l.text").alias("text")))
    rows = (rows.withColumn("src_host", host_col(F.col("page_url")))
            .localCheckpoint(eager=False))
    return aggregate_anchor_text(rows, top_k=8)


SQL_ANCHOR_TEXT = """
WITH l AS (
  SELECT doc_id,
         'h' || (doc_id % 4) || '.example.com' AS src_host,
         CASE u.pos
           WHEN 0 THEN 'https://h' || (doc_id % 4) || '.example.com/login'
           WHEN 1 THEN 'https://h' || (doc_id % 4) || '.example.com/tag/x'
           WHEN 2 THEN 'https://h' || (doc_id % 4) || '.example.com/next/'
                       || doc_id
           WHEN 3 THEN 'https://ext.example.com/' || doc_id
           ELSE 'https://h' || (doc_id % 4) || '.example.com/about'
         END AS target,
         CASE u.pos WHEN 0 THEN 'log in' WHEN 1 THEN 'tags'
           WHEN 2 THEN 'next' WHEN 3 THEN 'ext' ELSE 'about'
         END AS anchor
  FROM documents, (SELECT unnest(range(0, 5)) AS pos) u),
p AS (
  SELECT target, count(*) AS in_links,
         count(DISTINCT src_host) AS n_src_hosts
  FROM l GROUP BY target),
c AS (SELECT target, anchor, count(*) AS n FROM l GROUP BY target, anchor),
r AS (
  SELECT target, anchor,
         row_number() OVER (PARTITION BY target
                            ORDER BY n DESC, anchor) AS rk
  FROM c),
t AS (
  SELECT target, list_sort(list(anchor)) AS anchors
  FROM r WHERE rk <= 8 GROUP BY target)
SELECT p.target AS url, in_links, n_src_hosts, anchors
FROM p JOIN t ON p.target = t.target
"""


# Host-graph coarsening + weighted HostRank (operators/pagerank.py).

_HR_HOSTS = 16


def q_hostrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HostRank: coarsen the doc link graph to a weighted HOST graph
    (operators/pagerank.coarsen_edges — intra-host edges dropped, the
    Bharat & Henzinger host-aggregation) and power-iterate the weighted
    PageRank over it. Same deterministic doc graph as q_pagerank
    (edges doc→(doc·k+7) mod N), host = doc_id mod 16.

    This is the authority signal at the granularity a CRAWLER allocates
    budget (per-host politeness, per-domain quotas): the coarsened
    graph is |hosts|²-bounded — orders of magnitude smaller than the
    doc graph — so the 5 rank iterations run on a dwarf table while the
    only corpus-scale work is the coarsening join+count. Rounded to 6dp
    as in q_pagerank. No spread=True (see q_pagerank — doc_id-only
    arithmetic, and the pre-spread exchange re-ran per checkpoint
    job)."""
    from axora_spark.operators.pagerank import (coarsen_edges,
                                                pagerank_weighted)
    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    n_df = ids.agg(F.count("*").alias("n"))
    nodes = ids.crossJoin(F.broadcast(n_df))
    edges = None
    for k in _PR_EDGE_KS:
        e = nodes.select(F.col("doc_id").alias("src"),
                         ((F.col("doc_id") * k + 7) % F.col("n"))
                         .alias("dst"))
        edges = e if edges is None else edges.unionByName(e)
    mapping = ids.select("doc_id", (F.col("doc_id") % _HR_HOSTS)
                         .alias("grp"))
    # the rank operator derives BOTH its static frames (weighted edges,
    # dangling set) from the coarsened graph — without this checkpoint
    # the corpus-scale coarsening join+count runs once per derivation
    # (the q_pagerank 10.3→3.9s lesson applied one level up)
    hedges = coarsen_edges(edges, mapping).localCheckpoint(eager=False)
    hnodes = (ids.select((F.col("doc_id") % _HR_HOSTS).alias("doc_id"))
              .distinct())
    ranks = pagerank_weighted(hedges, hnodes, iters=_PR_ITERS,
                              damp=_PR_DAMP, teleport=_PR_TELEPORT)
    return ranks.select(F.col("doc_id").alias("host"),
                        F.round("r", 6).alias("rank"))


def _hostrank_sql() -> str:
    edge_sel = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {k} + 7) % (SELECT n FROM nn) "
        f"AS dst FROM documents" for k in _PR_EDGE_KS)
    h = _HR_HOSTS
    sql = f"""WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS ({edge_sel}),
he AS (SELECT src % {h} AS src, dst % {h} AS dst, count(*) AS w
       FROM e0 WHERE src % {h} <> dst % {h} GROUP BY 1, 2),
hn AS (SELECT DISTINCT doc_id % {h} AS host FROM documents),
hc AS (SELECT count(*) AS n FROM hn),
wo AS (SELECT src, sum(w) AS wout FROM he GROUP BY src),
e AS (SELECT he.src, he.dst, he.w, wo.wout FROM he JOIN wo USING (src)),
r0 AS (SELECT host, 1e0 / (SELECT n FROM hc) AS r FROM hn)"""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
c{i} AS (SELECT e.dst, sum({prev}.r * e.w / e.wout) AS inflow
        FROM e JOIN {prev} ON e.src = {prev}.host GROUP BY e.dst),
d{i} AS (SELECT coalesce(sum(r), 0e0) AS dmass FROM {prev}
        WHERE host NOT IN (SELECT src FROM wo)),
r{i} AS (SELECT hn.host,
               {_PR_TELEPORT}e0 / (SELECT n FROM hc)
               + {_PR_DAMP}e0 * (coalesce(c{i}.inflow, 0e0)
                               + (SELECT dmass FROM d{i})
                                 / (SELECT n FROM hc)) AS r
        FROM hn LEFT JOIN c{i} ON hn.host = c{i}.dst)"""
        prev = f"r{i}"
    sql += f"""
SELECT host, round(r, 6) AS rank FROM {prev}"""
    return sql


SQL_HOSTRANK = _hostrank_sql()


# Cross-host mirror detection (operators/mirrors.py).


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host pairs serving the same content (operators/mirrors.py;
    Bharat & Broder WWW 1999) — the crawl-once-skip-the-mirror signal.
    Synthesis: six hosts; h0/h1 syndicate 3/4 of their articles to each
    other (shared fp 'm' keys, every 4th exclusive), h2/h3 mirror
    completely at half cadence ('p' keys), h4/h5 publish unique
    content. The detector must report exactly (h0,h1) at ratio≈0.75 and
    (h2,h3) at ratio 1.0.

    Scale shape: (host, fp) dedup agg → per-fingerprint SORTED host
    list capped at max_hosts_per_fp (boilerplate guard — no hot
    fingerprint can explode the pair fan-out) → bounded pair explode →
    keyed pair count. The oracle's plain self-join states the same
    semantics (cap non-binding at two hosts per fingerprint)."""
    from axora_spark.operators.mirrors import detect_mirrors
    docs = _t(spark, sf_dir, "documents", spread=True)
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    grp6 = F.expr("doc_id div 6")
    grp12 = F.expr("doc_id div 12")
    fp = (F.when((d % 6 < 2) & (grp6 % 4 != 0),
                 F.concat(F.lit("m"), s(grp6)))
          .when((d % 6 >= 2) & (d % 6 < 4),
                F.concat(F.lit("p"), s(grp12)))
          .otherwise(F.concat(F.lit("u"), s(d))))
    hf = docs.select(F.concat(F.lit("h"), s(d % 6)).alias("host"),
                     fp.alias("fingerprint"))
    return detect_mirrors(hf, min_shared=8, min_ratio=0.5)


SQL_MIRROR_HOSTS = """
WITH d AS (
  SELECT DISTINCT 'h' || (doc_id % 6) AS host,
    CASE
      WHEN doc_id % 6 < 2 AND (doc_id // 6) % 4 <> 0
        THEN 'm' || (doc_id // 6)
      WHEN doc_id % 6 >= 2 AND doc_id % 6 < 4
        THEN 'p' || (doc_id // 12)
      ELSE 'u' || doc_id
    END AS fp
  FROM documents),
ph AS (SELECT host, count(*) AS n FROM d GROUP BY host),
pr AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM d a JOIN d b ON a.fp = b.fp AND a.host < b.host
  GROUP BY 1, 2)
SELECT host_a, host_b, shared, na.n AS n_a, nb.n AS n_b,
       round(shared * 1e0 / least(na.n, nb.n), 6) AS ratio
FROM pr
JOIN ph na ON pr.host_a = na.host
JOIN ph nb ON pr.host_b = nb.host
WHERE shared >= 8 AND shared * 1e0 / least(na.n, nb.n) >= 0.5
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES = {
    "frontier_filters": q_frontier_filters,
    "politeness_rank": q_politeness_rank,
    "seen_antijoin": q_seen_antijoin,
    "wave_dedup": q_wave_dedup,
    "dedup_exact": q_dedup_exact,
    "minhash_signature": q_minhash_signature,
    "minhash_near_dup": q_minhash_near_dup,
    "neardup_incremental": q_neardup_incremental,
    "dedup_clusters": q_dedup_clusters,
    "simhash": q_simhash,
    "ngram_jaccard": q_ngram_jaccard,
    "cosine_topk": q_cosine_topk,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "quality_scores": q_quality_scores,
    "token_counts": q_token_counts,
    "wordpiece_tokens": q_wordpiece_tokens,
    "chunk_pipeline": q_chunk_pipeline,
    "meta_gate": q_meta_gate,
    "url_canonicalize": q_url_canonicalize,
    "chunk_markdown": q_chunk_markdown,
    "media_pipeline": q_media_pipeline,
    "robots_gate": q_robots_gate,
    "text_clean": q_text_clean,
    "mojibake": q_mojibake,
    "pii_mask": q_pii_mask,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "contamination": q_contamination,
    "duplicate_passages": q_duplicate_passages,
    "passage_excise": q_passage_excise,
    "mix_sample": q_mix_sample,
    "pagerank": q_pagerank,
    "hll_distinct": q_hll_distinct,
    "quantile_sketch": q_quantile_sketch,
    "cms_count": q_cms_count,
    "repetition_filters": q_repetition_filters,
    "gopher_quality": q_gopher_quality,
    "c4_line_filters": q_c4_line_filters,
    "tfidf_top_terms": q_tfidf_top_terms,
    "lm_perplexity": q_lm_perplexity,
    "seq_packing": q_seq_packing,
    "pipeline_funnel": q_pipeline_funnel,
    "sha256_hash": q_sha256,
    "interleaved_spans": q_interleaved_spans,
    "html_links": q_html_links,
    "html_main_md": q_html_main_md,
    "doc_metadata": q_doc_metadata,
    "serp_collect": q_serp_collect,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "topk_per_group": q_topk_per_group,
    "broadcast_join_agg": q_broadcast_join_agg,
    "events_tumbling": q_events_tumbling,
    "moving_window": q_moving_window,
    "rollup_orders": q_rollup_orders,
    "cube_events": q_cube_events,
    "value_percentiles": q_value_percentiles,
    "event_conversion": q_event_conversion,
    "retention_cohorts": q_retention_cohorts,
    "sessionize": q_sessionize,
    "recrawl_schedule": q_recrawl_schedule,
    "adaptive_budgets": q_adaptive_budgets,
    "trap_detection": q_trap_detection,
    "source_overlap": q_source_overlap,
    "anchor_text": q_anchor_text,
    "hostrank": q_hostrank,
    "mirror_hosts": q_mirror_hosts,
}

ORACLES = {
    "frontier_filters": SQL_FRONTIER_FILTERS,
    "politeness_rank": SQL_POLITENESS_RANK,
    "seen_antijoin": SQL_SEEN_ANTIJOIN,
    "wave_dedup": SQL_WAVE_DEDUP,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signature": SQL_MINHASH_SIGNATURE,
    "minhash_near_dup": SQL_MINHASH_NEAR_DUP,
    "neardup_incremental": SQL_NEARDUP_INCREMENTAL,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "simhash": SQL_SIMHASH,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_lsh_buckets": SQL_ANN_LSH_BUCKETS,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "ann_pq_topk": SQL_ANN_PQ_TOPK,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "quality_scores": SQL_QUALITY_SCORES,
    "token_counts": SQL_TOKEN_COUNTS,
    "wordpiece_tokens": SQL_WORDPIECE_TOKENS,
    "chunk_pipeline": SQL_CHUNK_PIPELINE,
    "meta_gate": SQL_META_GATE,
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "chunk_markdown": SQL_CHUNK_MARKDOWN,
    "media_pipeline": SQL_MEDIA_PIPELINE,
    "robots_gate": SQL_ROBOTS_GATE,
    "text_clean": SQL_TEXT_CLEAN,
    "mojibake": SQL_MOJIBAKE,
    "pii_mask": SQL_PII_MASK,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "contamination": SQL_CONTAMINATION,
    "duplicate_passages": SQL_DUPLICATE_PASSAGES,
    "passage_excise": SQL_PASSAGE_EXCISE,
    "mix_sample": SQL_MIX_SAMPLE,
    "pagerank": SQL_PAGERANK,
    "hll_distinct": SQL_HLL_DISTINCT,
    "quantile_sketch": SQL_QUANTILE_SKETCH,
    "cms_count": SQL_CMS_COUNT,
    "repetition_filters": SQL_REPETITION_FILTERS,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "c4_line_filters": SQL_C4_LINE_FILTERS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "seq_packing": SQL_SEQ_PACKING,
    "pipeline_funnel": SQL_PIPELINE_FUNNEL,
    "sha256_hash": SQL_SHA256,
    "interleaved_spans": SQL_INTERLEAVED_SPANS,
    "html_links": SQL_HTML_LINKS,
    "html_main_md": SQL_HTML_MAIN_MD,
    "doc_metadata": SQL_DOC_METADATA,
    "serp_collect": SQL_SERP_COLLECT,
    "tpch_q1": SQL_TPCH_Q1,
    "tpch_q3": SQL_TPCH_Q3,
    "tpch_q5": SQL_TPCH_Q5,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "broadcast_join_agg": SQL_BROADCAST_JOIN_AGG,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "moving_window": SQL_MOVING_WINDOW,
    "rollup_orders": SQL_ROLLUP_ORDERS,
    "cube_events": SQL_CUBE_EVENTS,
    "value_percentiles": SQL_VALUE_PERCENTILES,
    "event_conversion": SQL_EVENT_CONVERSION,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "sessionize": SQL_SESSIONIZE,
    "recrawl_schedule": SQL_RECRAWL_SCHEDULE,
    "adaptive_budgets": SQL_ADAPTIVE_BUDGETS,
    "trap_detection": SQL_TRAP_DETECTION,
    "source_overlap": SQL_SOURCE_OVERLAP,
    "anchor_text": SQL_ANCHOR_TEXT,
    "hostrank": SQL_HOSTRANK,
    "mirror_hosts": SQL_MIRROR_HOSTS,
}
