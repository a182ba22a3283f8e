"""Python tasks only where there is per-document work: ``load_docs`` feeds
the per-document Python stages one partition per core, and frames built on
the driver (``session.rows_frame`` and the operators that use it) plan no
PythonRDD, so reading them launches no Python task."""

from pyspark.sql import functions as F

from fonduer_spark.checkpoints import CheckpointedPipeline
from fonduer_spark.corpus import load_docs
from fonduer_spark.functions.bpe import bpe_train
from fonduer_spark.functions.sampling import pack_token_stream
from fonduer_spark.functions.sketches import bloom_build, bloom_contains
from fonduer_spark.linking import connected_components
from fonduer_spark.session import rows_frame
from test_fused_kernel import SF  # the same sf0.001 corpus


def _num_partitions(df) -> int:
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _plans_python_rdd(df) -> bool:
    """True when the result's RDD lineage, or that of any RDD scan in its
    plan (a broadcast side is not in the result's lineage), holds a
    PythonRDD."""
    qe = df._jdf.queryExecution()
    lineages = [qe.toRdd().toDebugString()]
    leaves = qe.sparkPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "RDDScanExec":
            lineages.append(leaf.rdd().toDebugString())
    return any("PythonRDD" in s for s in lineages)


def _docs(spark, n):
    return rows_frame(spark, [(i, "a b " * i) for i in range(n)],
                      "doc_id bigint, text string")


def test_load_docs_one_partition_per_core(spark):
    n = spark.sparkContext.defaultParallelism
    assert _num_partitions(load_docs(spark, SF)) == n
    assert _num_partitions(load_docs(spark, SF, replicate=2)) == 4 * n


def test_rows_frame_keeps_rows_and_nulls(spark):
    df = rows_frame(spark, [("a", 1), ("b", None)], "v string, n bigint")
    assert df.schema == spark.createDataFrame([], "v string, n bigint").schema
    assert sorted(map(tuple, df.collect())) == [("a", 1), ("b", None)]
    assert not _plans_python_rdd(df)
    empty = rows_frame(spark, [], "v string, n bigint")
    assert empty.columns == ["v", "n"] and empty.collect() == []
    assert not _plans_python_rdd(empty)


def test_a_list_backed_frame_plans_a_python_rdd(spark):
    # the probe sees what it is meant to exclude
    assert _plans_python_rdd(
        spark.createDataFrame([("a", 1)], "v string, n bigint"))


def test_connected_components_driver_path(spark):
    verts = rows_frame(spark, [(v,) for v in "abcde"], "v string")
    edges = rows_frame(spark, [("a", "b"), ("b", "c"), ("d", "e")],
                       "a string, b string")
    cc = connected_components(verts, edges)
    assert sorted(map(tuple, cc.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")]
    assert not _plans_python_rdd(cc)
    none = connected_components(verts.limit(0), edges.limit(0))
    assert none.collect() == [] and not _plans_python_rdd(none)


def test_pack_token_stream_prefix_table(spark):
    packed = pack_token_stream(_docs(spark, 6), capacity=4)
    assert [r.start_offset for r in packed.orderBy("doc_id").collect()] == [
        0, 0, 2, 6, 12, 20]
    assert not _plans_python_rdd(packed)
    empty = pack_token_stream(_docs(spark, 0), capacity=4)
    assert empty.collect() == [] and not _plans_python_rdd(empty)


def test_bloom_contains_bit_table(spark):
    words = rows_frame(spark, [("x",), ("y",)], "w string")
    hits = bloom_contains(bloom_build(words, "w"), words, "w")
    assert sorted(map(tuple, hits.collect())) == [("x", 1), ("y", 1)]
    assert not _plans_python_rdd(hits)
    nothing = words.limit(0)
    none = bloom_contains(bloom_build(nothing, "w"), words, "w")
    assert none.where(F.col("member") == 1).collect() == []
    assert not _plans_python_rdd(none)


def test_bpe_train_empty_merge_table(spark):
    single = rows_frame(spark, [(0, "a b c")], "doc_id bigint, text string")
    merges = bpe_train(single, rounds=2)
    assert merges.collect() == []
    assert merges.columns == [
        "round", "left_sym", "right_sym", "merged", "pair_count"]
    assert not _plans_python_rdd(merges)


def test_checkpoint_table(spark, tmp_path):
    run = CheckpointedPipeline(spark, str(tmp_path), "sig")
    empty = run.checkpoints()
    assert empty.collect() == [] and not _plans_python_rdd(empty)
    run.stage("demo", lambda: spark.range(3))
    table = run.checkpoints()
    assert [(r.kind, r.stage, r.n_rows) for r in table.collect()] == [
        ("compute", "demo", 3)]
    assert not _plans_python_rdd(table)
