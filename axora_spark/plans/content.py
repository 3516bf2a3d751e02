"""Branch B — the per-page content pipeline (SURVEY.md §3.3):

    fetched(w) → F5/F6 meta-relevance gate → X5 spans → F7 quality gate
      → documents (merge on doc_id)
      → C1–C4 chunk + token gate → chunks
      → C5 embed → S4 vectors (merge on content_hash, insert-if-absent)

Stage order preserves the reference's hand-tuned short-circuits
(SURVEY.md §4.1): the meta gate runs before span extraction, and the
native quality gate runs before the (Python) chunker — Catalyst cannot
reorder through opaque pandas UDFs, so the ordering is explicit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from axora_spark import schemas
from axora_spark.catalog import SnapshotCatalog
from axora_spark.config import CrawlConfig
from axora_spark.functions.quality import quality_gate
from axora_spark.functions.textproc import is_meta_relevant
from axora_spark.operators.chunking import (chunk_gate, chunks_udf,
                                            token_count_expr)
from axora_spark.operators.embed import with_embeddings
from axora_spark.operators.spans import spans_to_text, spans_udf


def meta_relevant_udf(topic: str):
    """F5/F6 — vectorized page gate (dom_handler.go:179-199)."""
    @F.pandas_udf(T.BooleanType())
    def _udf(title: pd.Series, metas: pd.Series) -> pd.Series:
        return pd.Series(
            [is_meta_relevant(t or "", m, topic)
             for t, m in zip(title, metas)],
            index=title.index)
    return _udf


def documents_from_fetched(fetched: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """fetched rows → DOCUMENTS rows (meta gate → spans → quality gate).

    Cheap native pre-filter first (the reference's own optimization,
    dom_handler.go:149-151): pages whose title+meta blob lacks topic[:3]
    can't be relevant — expressed natively so it prunes before the UDF."""
    pages = fetched.filter(F.col("http_status") == 200)
    if len(cfg.topic) >= 3:
        # per-meta blob = title∥name∥property∥content with NO separator —
        # the exact concatenation is_meta_relevant/the reference gate test
        # (dom_handler.go:190-196), so the native pre-filter is a strict
        # SUPERSET of the UDF gate (a trigram spanning the title/meta-field
        # boundary must not be pruned here)
        blobs = F.transform(
            F.col("metas"),
            lambda m: F.lower(F.concat_ws("", F.col("title"), m["name"],
                                          m["property"], m["content"])))
        hit = F.exists(blobs,
                       lambda b: b.contains(cfg.topic[:3].lower()))
        pages = pages.filter(F.coalesce(hit, F.lit(False)))
    pages = pages.filter(meta_relevant_udf(cfg.topic)(
        F.col("title"), F.col("metas")))

    # P1 — metadata rides along from the HTML parse stage; pre-parsed
    # corpora (no parse stage upstream) get a null struct
    meta_col = F.col("metadata") if "metadata" in pages.columns \
        else F.lit(None).cast(schemas.METADATA)
    docs = (pages
            .withColumn("spans", spans_udf()(F.col("body_md"), F.col("url")))
            .withColumn("_text", spans_to_text(F.col("spans")))
            .filter(quality_gate(F.col("_text"), cfg.quality_threshold))
            .select(F.sha2(F.col("url"), 256).alias("doc_id"),
                    "url", "spans", meta_col.alias("metadata"), "_text"))
    return docs


def chunks_from_documents(docs: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """C1–C4 over the documents' concatenated text spans."""
    text_col = F.col("_text") if "_text" in docs.columns \
        else spans_to_text(F.col("spans"))
    # posexplode_OUTER: a plain generate would get a size>0 pre-filter
    # whose expression re-evaluates the chunker UDF (each doc chunked
    # twice); outer + post-filter keeps one ArrowEvalPython
    exploded = (docs
                .withColumn("_chunks", chunks_udf(cfg.chunk_method)(text_col))
                .select("doc_id", "url",
                        F.posexplode_outer("_chunks")
                        .alias("chunk_index", "text"))
                .filter(F.col("text").isNotNull())
                .withColumn("text", F.trim(F.col("text")))
                .filter(F.col("text") != ""))
    return (exploded
            .withColumn("token_count",
                        token_count_expr(F.col("text"), cfg.tokenizer))
            .filter(chunk_gate(F.col("token_count"),
                               cfg.min_tokens, cfg.max_tokens)))


def vectors_from_chunks(chunks: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """C5 + X8 — embed and key by content hash."""
    return (with_embeddings(chunks.select("doc_id", "url", "text"),
                            dim=cfg.embedding_dim)
            .withColumn("content_hash", F.sha2(F.col("text"), 256))
            .select("content_hash", "doc_id", "url", "text", "embedding"))


def make_content_sink(cfg: CrawlConfig):
    """content_sink callable for plans.crawl.run_crawl.

    cfg.near_dup_ingest adds the incremental near-dup gate between the
    content pipeline and the sinks: each wave's extracted documents
    dedupe against the catalog's accumulated minhash-signature store
    (operators/incremental.py) — near-dups land in `dup_log` (the audit
    trail) instead of documents/chunks/vectors, survivors append their
    signatures to `sigs`. Both tables join the wave rollback set, so a
    mid-wave crash can't double-ingest signatures on resume."""
    def sink(spark: SparkSession, catalog: SnapshotCatalog,
             fetched: DataFrame, wave: int) -> None:
        catalog.create_table("documents", schemas.DOCUMENTS)
        catalog.create_table("chunks", schemas.CHUNKS)
        catalog.create_table("vectors", schemas.VECTORS)

        raw_docs = documents_from_fetched(fetched, cfg).persist()
        docs = raw_docs
        assigns = None
        if cfg.near_dup_ingest:
            from axora_spark.operators.incremental import dedup_ingest
            catalog.create_table("sigs", schemas.SIGS)
            catalog.create_table("dup_log", schemas.DUP_LOG)
            assigns = dedup_ingest(
                spark, catalog,
                docs.select("doc_id", F.col("_text").alias("text")),
                table="sigs", threshold=cfg.near_dup_threshold,
                max_bucket=cfg.near_dup_max_bucket)
            # skip_empty: a dup-free wave must not commit an empty
            # dup_log dir + snapshot (dir-per-wave accretion)
            catalog.append(
                spark, "dup_log",
                assigns.select(F.lit(wave).alias("wave"), "doc_id",
                               "dup_of", "est_jaccard"),
                skip_empty=True)
            docs = docs.join(assigns.select("doc_id"),
                             "doc_id", "left_anti")
        chunks = None
        try:
            catalog.merge_insert_if_absent(
                spark, "documents",
                docs.select("doc_id", "url", "spans", "metadata"),
                key="doc_id")
            # the chunks append and the vectors merge both read it: keep
            # the chunker + token counter to one pass per wave
            chunks = chunks_from_documents(docs, cfg).persist()
            catalog.append(spark, "chunks",
                           chunks.select("doc_id", "chunk_index", "text",
                                         "token_count"))
            vectors = vectors_from_chunks(chunks, cfg)
            catalog.merge_insert_if_absent(spark, "vectors", vectors,
                                           key="content_hash")
        finally:
            raw_docs.unpersist()
            if chunks is not None:
                chunks.unpersist()
            if assigns is not None:
                # the dedup_ingest contract: the caller releases the
                # eager assigns checkpoint once the sinks consumed it —
                # else one RDD pins per wave for the session (r5
                # no-op-unpersist lesson, code-review r5)
                from axora_spark.checkpoints import release
                release(assigns)
    return sink
