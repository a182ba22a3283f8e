"""One cache lifecycle (fonduer_spark.cache): every frame an operator caches
is released by the caller's ``released()`` block, or by the operator's own
block when its result no longer reads it; a plan the caller cached first is
never released by the library."""

import os

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from fonduer_spark.cache import cached, released
from fonduer_spark.candidates_fused import extract_candidates_auto, same_row_py
from fonduer_spark.candidates_op import same_row
from fonduer_spark.corpus import load_docs
from fonduer_spark.featurize import featurize
from fonduer_spark.functions import dedup as dd
from fonduer_spark.functions import similarity as sim
from fonduer_spark.functions.sketches import bloom_build, bloom_contains
from fonduer_spark import linking as lk
from fonduer_spark.pipeline import default_mention_specs, kg_stages
from fonduer_spark.streaming import stream_triples_incremental
from test_fused_kernel import SF  # the same sf0.001 corpus

GRAPH = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(autouse=True)
def empty_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 80")


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(40, 16).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype("float32")
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>")


def _edges(spark):
    return spark.createDataFrame(GRAPH, "a string, b string")


def _mentions(spark):
    return spark.createDataFrame(
        [("PN100A",), ("PN100B",), ("pn100a",), ("ZZ999X",)],
        "span_text string")


def _auto(spark, docs, emb):
    return extract_candidates_auto(
        load_docs(spark, SF, max_docs=6), default_mention_specs(),
        "part_temp", "part", "temp", py_throttler=same_row_py,
        column_throttler=same_row)


def _featurize(spark, docs, emb):
    st = kg_stages(spark, SF, max_docs=4)
    return featurize(st["candidates"], st["sentences"])


OPERATORS = {
    "extract_candidates_auto": _auto,
    "kg_stages_mentions": lambda spark, docs, emb: kg_stages(
        spark, SF, max_docs=6)["mentions"],
    "minhash_lsh_pairs": lambda spark, docs, emb: dd.minhash_lsh_pairs(docs),
    "lsh_verified_pairs": lambda spark, docs, emb: dd.lsh_verified_pairs(docs),
    "ngram_jaccard_pairs": lambda spark, docs, emb: dd.ngram_jaccard_pairs(
        docs.where("doc_id < 30")),
    "embedding_near_dup_pairs_lsh": lambda spark, docs, emb:
        dd.embedding_near_dup_pairs_lsh(emb, dim=16, threshold=0.4),
    "semantic_dedup": lambda spark, docs, emb: dd.semantic_dedup(
        emb, dim=16, n_centroids=4),
    "set_similarity_join": lambda spark, docs, emb: dd.set_similarity_join(
        docs),
    "knn_graph": lambda spark, docs, emb: sim.knn_graph(emb, dim=16, k=3),
    "similarity_edges": lambda spark, docs, emb: lk.similarity_edges(
        lk.surface_forms(_mentions(spark))),
    "featurize": _featurize,
    "cooccurrence_edges": lambda spark, docs, emb: lk.cooccurrence_edges(
        _edges(spark).select(F.col("a").alias("url"), F.col("b").alias("ent"))),
    "triangle_counts": lambda spark, docs, emb: lk.triangle_counts(
        _edges(spark)),
    "neighborhood_counts": lambda spark, docs, emb: lk.neighborhood_counts(
        _edges(spark)),
    "neighborhood_kmv": lambda spark, docs, emb: lk.neighborhood_kmv(
        _edges(spark), k=4),
    "bfs_distances": lambda spark, docs, emb: lk.bfs_distances(
        _edges(spark).toDF("src", "dst"), ["a"], max_hops=3),
    "link_prediction_scores": lambda spark, docs, emb:
        lk.link_prediction_scores(_edges(spark), min_common=1),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_block_releases_every_operator_cache(spark, docs, emb, name):
    with released():
        OPERATORS[name](spark, docs, emb).collect()
        assert not _cache_empty(spark), f"{name} cached nothing"
    assert _cache_empty(spark)


def test_self_releasing_operators_leave_nothing_cached(spark, docs, emb):
    """near_dup_keep, semantic_clusters and canonical_entities run connected
    components eagerly and pagerank checkpoints its rounds, so their
    results read no cache: they release their own with no block open."""
    assert dd.near_dup_keep(docs).collect()
    assert _cache_empty(spark)
    assert lk.canonical_entities(_mentions(spark), 0.5).collect()
    assert _cache_empty(spark)
    assert sim.semantic_clusters(emb, dim=16, threshold=0.9, k=3).collect()
    assert _cache_empty(spark)
    edges = spark.createDataFrame(GRAPH, "src string, dst string")
    assert lk.pagerank(edges, iters=2).collect()
    assert _cache_empty(spark)


def test_block_never_releases_the_callers_cache(spark, docs):
    """Spark matches cached frames by plan: near_dup_keep re-derives the
    verified pairs with the plan the caller cached, and must leave that
    cache in place."""
    mine = dd.lsh_verified_pairs(docs).persist()
    mine.count()
    want = sorted(map(tuple, dd.near_dup_keep(docs).collect()))
    assert mine.storageLevel != StorageLevel.NONE
    with released():
        theirs = cached(dd.lsh_verified_pairs(docs))
        assert theirs.storageLevel != StorageLevel.NONE
    assert mine.storageLevel != StorageLevel.NONE
    assert sorted(map(tuple, dd.near_dup_keep(docs).collect())) == want


def test_exception_and_nesting(spark, docs):
    with pytest.raises(RuntimeError, match="boom"):
        with released():
            dd.lsh_verified_pairs(docs).count()
            assert not _cache_empty(spark)
            raise RuntimeError("boom")
    assert _cache_empty(spark)

    with released():
        outer = dd.minhash_lsh_pairs(docs)
        with released():
            inner = dd.lsh_verified_pairs(docs.where("doc_id < 40"))
            inner.count()
        # the inner block released only what it cached
        assert not _cache_empty(spark)
        outer.count()
    assert _cache_empty(spark)


def test_featurize_keeps_each_calls_slice_until_block_exit(spark):
    """A second featurize() call must not release the first call's
    sentence slice: the first result still reads it."""
    st = kg_stages(spark, SF, max_docs=4)
    s1 = st["sentences"].drop("ctx_type")
    s2 = s1.where(F.col("url").isNotNull())
    with released():
        cands = st["candidates"]
        f1 = featurize(cands, s1)
        f2 = featurize(cands, s2)
        assert s1.storageLevel != StorageLevel.NONE
        assert s2.storageLevel != StorageLevel.NONE
        assert f1.count() == f2.count() > 0
    assert s1.storageLevel == StorageLevel.NONE
    assert s2.storageLevel == StorageLevel.NONE
    assert _cache_empty(spark)


def test_stream_triples_releases_each_micro_batch(spark, tmp_path):
    in_dir = str(tmp_path / "docs")
    work = str(tmp_path / "work")
    (spark.read.parquet(f"{SF}/documents.parquet").where("doc_id < 40")
     .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
     .repartition(4).write.parquet(in_dir))
    out = stream_triples_incremental(spark, in_dir, work, pred="p",
                                     max_files_per_trigger=2)
    assert out.count() > 0
    batches = [f for f in os.listdir(f"{work}/_stream_cp/offsets")
               if f.isdigit()]
    assert len(batches) >= 2
    assert _cache_empty(spark)


def test_bloom_contains_leaves_the_callers_bitmap_uncached(spark):
    df = spark.createDataFrame([(f"v{i}",) for i in range(30)], "v string")
    bm = bloom_build(df, "v", m=128, k_hashes=2)
    got = {r.v: r.member for r in
           bloom_contains(bm, df, "v", m=128, k_hashes=2).collect()}
    assert got == {f"v{i}": 1 for i in range(30)}
    assert bm.storageLevel == StorageLevel.NONE
    assert _cache_empty(spark)
    # every bitmap row is shape-checked, not just the first one collected
    mixed = bm.unionByName(bloom_build(df, "v", m=128, k_hashes=3))
    with pytest.raises(ValueError, match="false negatives"):
        bloom_contains(mixed, df, "v", m=128, k_hashes=2)
