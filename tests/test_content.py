"""Branch B end-to-end: documents span invariant, chunks, vectors —
engine vs pure-Python content oracle (input_hint per-row invariant:
span-sequence equality (kind, text, media_ref, order) per doc_id)."""

from __future__ import annotations

import pytest

from axora_spark import datagen, oracle, oracle_content, schemas
from axora_spark.plans import content, crawl


@pytest.fixture(scope="module")
def fixture_pages():
    return datagen.link_graph_rows(n_pages=120, seed=42)


@pytest.fixture(scope="module")
def cfg(fixture_pages):
    return datagen.fixture_config(fixture_pages)


@pytest.fixture(scope="module")
def crawled(spark, cfg, fixture_pages, tmp_path_factory):
    from axora_spark.catalog import SnapshotCatalog
    cat = SnapshotCatalog(str(tmp_path_factory.mktemp("wh")))
    corpus = spark.createDataFrame(fixture_pages, schemas.LINK_GRAPH)
    crawl.run_crawl(spark, cat, cfg, corpus,
                    content_sink=content.make_content_sink(cfg))
    return cat


def test_span_invariant(spark, crawled, cfg, fixture_pages):
    want_order = oracle.simulate(fixture_pages, cfg)
    want_docs = oracle_content.expected_documents(
        fixture_pages, want_order.seen, cfg)

    got = {r.doc_id: r for r in
           crawled.read(spark, "documents").collect()}
    assert set(got) == set(want_docs)
    assert len(got) > 10  # fixture must exercise the pipeline nontrivially
    for doc_id, want in want_docs.items():
        got_spans = [(s.kind, s.text, s.media_ref, s.offset)
                     for s in got[doc_id].spans]
        want_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in want["spans"]]
        assert got_spans == want_spans, doc_id
    # media spans present (interleaved, not text-only)
    assert any(s.kind == "media" for r in got.values() for s in r.spans)


def test_chunks_match_oracle(spark, crawled, cfg, fixture_pages):
    want_order = oracle.simulate(fixture_pages, cfg)
    want_docs = oracle_content.expected_documents(
        fixture_pages, want_order.seen, cfg)
    want_chunks = set(oracle_content.expected_chunks(want_docs, cfg))

    got = {(r.doc_id, r.chunk_index, r.text, r.token_count)
           for r in crawled.read(spark, "chunks").collect()}
    assert got == want_chunks
    assert len(got) > 5


def test_vectors_idempotent_and_keyed(spark, crawled, cfg):
    vecs = crawled.read(spark, "vectors")
    n = vecs.count()
    assert n > 0
    assert vecs.select("content_hash").distinct().count() == n
    # embeddings are unit-norm, 768-dim
    import math
    row = vecs.select("embedding").first()
    assert len(row.embedding) == cfg.embedding_dim
    assert math.isclose(sum(x * x for x in row.embedding), 1.0, rel_tol=1e-3)


def test_crawl_with_content_and_seen_filters_releases_storage(
        spark, catalog, cfg, fixture_pages):
    # diff SETS of persisted RDD ids (ContextCleaner-race-proof, as in
    # test_incremental): every per-wave persist — the discovered∪deferred
    # union, the content sink's chunks, the seen filters — is released
    def persisted_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    corpus = spark.createDataFrame(fixture_pages, schemas.LINK_GRAPH)
    before = persisted_ids()
    run = crawl.run_crawl(spark, catalog, cfg, corpus, bloom_threshold=0,
                          content_sink=content.make_content_sink(cfg))
    assert run.waves_run > 1
    assert persisted_ids() - before == set()
