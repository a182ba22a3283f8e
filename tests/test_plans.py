"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the plan, not assumed (predicate pushdown to parquet, broadcast
joins for small dims, throttlers fused into the join condition, whole-stage
codegen on relational stages)."""

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_parquet(spark):
    df = E.q_rel_filter_agg(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "l_discount" in plan.split("PushedFilters")[1][:300]
    # column pruning: the scan reads only the three needed columns
    read = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read and "l_shipdate" not in read


def test_broadcast_join_for_small_dim(spark):
    plan = plan_of(E.q_rel_join(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_throttler_fused_into_join_condition(spark):
    from fonduer_spark.candidates_op import extract_candidates, same_row
    from fonduer_spark.pipeline import kg_stages

    st = kg_stages(spark, SF, max_docs=10)
    plan = plan_of(extract_candidates(
        st["mentions"], "part_temp", "part", "temp",
        throttler=same_row, throttler_kind="column"))
    # same_table equality became part of the join key (equi-join on
    # table_sid + url), and the row-overlap predicate sits in the join
    # condition rather than a post-join filter
    assert "a_table_sid" in plan and "Join" in plan
    join_section = plan[plan.index("Join"):][:2000]
    assert "row_end" in join_section or "row_start" in join_section
    st["mentions"].unpersist()


def test_wholestage_codegen_on_agg(spark):
    df = E.q_rel_agg(spark, SF)
    # AQE hides codegen spans in the pre-execution formatted plan; the
    # codegen explain mode shows the generated subtrees directly
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in plan


def test_fused_pipeline_single_python_stage(spark):
    """The fused candidate stage is ONE MapInPandas python stage
    (render+parse+mentions+product fused, the whole point of the fusion);
    the auto-routing wrapper's overflow branch reuses the CACHED fused
    output (InMemoryTableScan in the plan — the corpus is parsed once, and
    AQE's empty-relation propagation skips the overflow join when no doc
    overflows)."""
    from fonduer_spark.candidates_fused import (
        extract_candidates_fused, same_row_py)
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.pipeline import default_mention_specs, kg_stages

    import re

    docs = load_docs(spark, SF, max_docs=10)
    fused = extract_candidates_fused(
        docs, default_mention_specs(), "part_temp", "part", "temp",
        throttler=same_row_py, slim=True)
    plan = plan_of(fused)
    # one tree node "MapInPandas (n)" (it also appears once in the node
    # detail section below the tree)
    assert len(re.findall(r"MapInPandas \(\d+\)", plan)) == 1
    # and the doc_id filter was pushed into the parquet scan
    assert "PushedFilters" in plan and "LessThan(doc_id,10)" in plan

    st = kg_stages(spark, SF, max_docs=10)
    plan2 = plan_of(st["triples"])
    assert "InMemoryTableScan" in plan2  # overflow scan reuses the cache
    st["mentions"].unpersist()


def _outside_cache(plan: str, node: str) -> list:
    """Tree lines of a formatted plan naming ``node`` that have no
    InMemoryRelation among their ancestors (found by indentation)."""
    tree = plan.split("\n\n")[0].splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :|+-"))

    hits = []
    for i, line in enumerate(tree):
        if node not in line:
            continue
        d, cached = depth(line), False
        for above in reversed(tree[:i]):
            if depth(above) < d:
                d = depth(above)
                cached = cached or "InMemoryRelation" in above
        if not cached:
            hits.append(line.strip())
    return hits


def test_auto_hot_doc_parses_once(spark):
    """With a document over the cap, auto's overflow branch reads the
    mentions its marker carries from the CACHED fused frame: every
    MapInPandas and every parquet scan lies under the InMemoryRelation, so
    there is no second Python parse stage, no join against the documents
    and no url -> doc_id regexp."""
    from fonduer_spark.cache import released
    from fonduer_spark.candidates_fused import (
        extract_candidates_auto, same_row_py)
    from fonduer_spark.candidates_op import same_row
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.pipeline import default_mention_specs

    docs = load_docs(spark, SF, max_docs=8)
    with released():
        plan = plan_of(extract_candidates_auto(
            docs, default_mention_specs(), "part_temp", "part", "temp",
            py_throttler=same_row_py, column_throttler=same_row,
            max_mentions_per_doc=40, slim=True))  # doc 0 overflows
    assert "Union" in plan and "InMemoryRelation" in plan  # overflow planned
    assert "MapInPandas" in plan and "Scan parquet" in plan
    assert _outside_cache(plan, "MapInPandas") == []
    assert _outside_cache(plan, "Scan parquet") == []
    assert "regexp_extract" not in plan


def test_minhash_pairs_single_signature_pass(spark):
    """The relational MinHash computes md5 aggregations ONCE (no duplicated
    signature subtrees): since r07 the post-aggregation signature frame is
    persisted, so BOTH band-join sides read the cache — the plan carries
    exactly one shingle-explode+aggregation tower (inside the cached
    relation) and two band-key explodes (one per join side), instead of the
    pre-r07 shape that planned the whole explode+md5+min tower once per
    side (2x the dominant md5 cost, visible as two SortAggregate towers in
    plans/r07/dedup_minhash_pairs_before.txt)."""
    from fonduer_spark.functions.dedup import minhash_lsh_pairs

    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs, k=8, bands=4))
    # both join sides scan the persisted signature frame
    assert plan.count("InMemoryTableScan") >= 2
    # DISTINCT Generate nodes: 2 band-key explodes (one per join side) + 1
    # shingle explode inside the single cached signature tower (the cached
    # tower prints under each side but its node ids are shared — one
    # execution). Pre-r07 the tower was planned per side: 4 distinct.
    gen_ids = set(re.findall(r"Generate \((\d+)\)", plan))
    assert len(gen_ids) == 3, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_multi_relation_single_parse(spark):
    """Materializing BOTH relations (kg_triples_all) adds ZERO python stages
    over the single-relation plan: the pred column rides the same groupBy,
    the scored lineage is not re-derived per relation."""
    import re

    one = plan_of(E.q_kg_triples(spark, SF))
    both = plan_of(E.q_kg_triples_all(spark, SF))
    n_one = len(re.findall(r"MapInPandas \(\d+\)", one))
    n_both = len(re.findall(r"MapInPandas \(\d+\)", both))
    assert n_both == n_one


def test_embcos_lsh_no_cartesian(spark):
    """The embedding near-dup scale path must never plan an all-pairs
    product over the corpus: banded sign-LSH buckets + in-bucket verify
    plan as equi-joins (the r02 verdict's one scale-killer, fixed)."""
    from fonduer_spark.functions.dedup import embedding_near_dup_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(embedding_near_dup_pairs_lsh(emb, dim=64, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the bucket computation is JVM-side (no Python stage at all)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_mention_join_no_shuffle(spark):
    """write_bucketed_mentions: the candidate equi-join over a url-bucketed
    mention table plans WITHOUT shuffle exchanges — both sides scan
    co-located buckets (the write-once join-many layout for 100 TB)."""
    from fonduer_spark.candidates_op import write_bucketed_mentions
    from fonduer_spark.pipeline import default_mention_specs
    from fonduer_spark.corpus import load_docs
    from fonduer_spark.mentions_op import extract_mentions_fused
    from pyspark.sql import functions as F

    mentions = extract_mentions_fused(
        load_docs(spark, SF, max_docs=20), default_mention_specs())
    write_bucketed_mentions(mentions, "bucketed_mentions_test", buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table("bucketed_mentions_test")
        a = t.where(F.col("mention_type") == "part").alias("a")
        b = t.where(F.col("mention_type") == "temp").alias("b")
        joined = a.join(b, F.col("a.url") == F.col("b.url"))
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located bucket scans, no shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bucketed_mentions_test")


def test_featurize_caches_sentence_slice(spark):
    """featurize must feed every join branch from ONE cached sentence
    slice (Catalyst cannot CSE MapInPandas subtrees; without the persist
    the corpus parse re-executes ~10x — measured 1.5-1.7x wall)."""
    from fonduer_spark.featurize import featurize
    from fonduer_spark.pipeline import kg_stages

    st = kg_stages(spark, SF, max_docs=5)
    plan = plan_of(featurize(st["candidates"], st["sentences"]))
    assert "InMemoryTableScan" in plan
    st["mentions"].unpersist()


def test_triplet_fit_is_single_aggregation(spark):
    """The triplet label-model fit collects ONE aggregate row (k^2 scalar
    moments), never per-candidate data: the moment frame's plan is a
    two-stage HashAggregate over the candidate scan with no Python stage
    and no join."""
    from pyspark.sql import functions as F

    from fonduer_spark.labeling import _eval_lfs, _pm_cols

    df = spark.createDataFrame(
        [("c%d" % i, i % 2, (i // 2) % 2, (i // 4) % 2) for i in range(64)],
        "candidate_sid string, va int, vb int, vc int")
    lfs = {"a": F.col("va"), "b": F.col("vb"), "c": F.col("vc")}
    ev = _eval_lfs(df, lfs)
    pm = _pm_cols(sorted(lfs))
    agg = ev.agg(*[F.sum(pm[x] * pm[y]).alias(f"m_{x}{y}")
                   for x, y in (("a", "b"), ("a", "c"), ("b", "c"))])
    plan = plan_of(agg)
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" in plan
    assert "MapInPandas" not in tree and "BatchEvalPython" not in tree
    assert "Join" not in tree  # moments come from one pass, no self-join
    assert agg.count() == 1


def test_snapshot_merge_broadcasts_small_batch(spark, tmp_path):
    """SnapshotTable.merge: with a small incremental batch, the carried-over
    side plans a BROADCAST left-anti join against the new keys (the
    committed snapshot is never shuffled) — the plan shape kg_incremental
    relies on at scale."""
    from pyspark.sql import functions as F

    from fonduer_spark.checkpoints import SnapshotTable

    t = SnapshotTable(str(tmp_path), "m")
    big = spark.range(5000).select(
        F.col("id").alias("k"), F.lit("old").alias("v"))
    t.commit(big)
    new = spark.range(3).select(
        F.col("id").alias("k"), F.lit("new").alias("v"))
    old = t.read(spark)
    carried = old.join(new.select("k").distinct(), ["k"], "left_anti")
    plan = plan_of(carried)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    snap = t.merge(new, keys=["k"])
    assert snap.n_rows == 5000
    merged = t.read(spark)
    assert merged.where(F.col("v") == "new").count() == 3


def test_minhash_km_single_digest_plan(spark):
    """The Kirsch-Mitzenmacher MinHash family must hash each shingle ONCE:
    its plan mentions md5 only in the two digest-half projections, while
    the md5 family's aggregate carries one salted md5 per signature slot
    (k=16) — the k-fold hashing reduction is structural, not incidental."""
    from fonduer_spark.functions import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    km = dd.minhash_lsh_pairs(docs, k=16, bands=8, family="km")
    md = dd.minhash_lsh_pairs(docs, k=16, bands=8, family="md5")
    km_plan, md_plan = plan_of(km), plan_of(md)
    assert km_plan.count("md5") <= 4, km_plan.count("md5")
    assert md_plan.count("md5") >= 16
    # same bucketed join shape, and a deterministic pair set
    assert sorted(map(tuple, km.collect())) == sorted(map(tuple, km.collect()))


def test_triangle_counts_no_cartesian_all_jvm(spark):
    """Triangle counting must plan as equi-joins only (degree orientation
    bounds wedge fan-out; a CartesianProduct would be the all-pairs
    scale-killer) and stay entirely JVM-side."""
    from fonduer_spark.linking import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "a string, b string")
    plan = plan_of(triangle_counts(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_bpe_rounds_never_rescan_corpus(spark):
    """bpe_train touches the corpus exactly once (the word census is
    localCheckpointed before round 1); every merge round iterates the
    vocab-sized table, so the final merge-table plan must contain no
    parquet scan at all — THE property that keeps round cost independent
    of corpus bytes at 100 TB."""
    from fonduer_spark.functions import bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = bpe.bpe_train(docs, rounds=2)
    plan = plan_of(merges)
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert merges.count() == 2


def test_neighborhood_kmv_no_cartesian_all_jvm(spark):
    """The ANF sketch path must plan as equi-joins only (|E|-linear sketch
    pull — a CartesianProduct or nested-loop join would be the all-pairs
    scale-killer the sketch family exists to avoid) and stay JVM-side."""
    from fonduer_spark.linking import neighborhood_kmv

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "a string, b string")
    plan = plan_of(neighborhood_kmv(edges, k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_link_prediction_no_cartesian_all_jvm(spark):
    """Link prediction must plan as equi-joins only: the wedge self-join
    keys on the apex and non-adjacency is a left_anti equi-join — a
    CartesianProduct would be the all-pairs scale-killer the blocking
    exists to avoid. Integer-only scoring keeps it JVM-side."""
    from fonduer_spark.linking import link_prediction_scores

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "a string, b string")
    plan = plan_of(link_prediction_scores(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_join_blocked_equi_join_banded_kernel(spark):
    """The edit-distance join must candidate-generate via equi-joins on
    the block keys (never cartesian) and verify with the THRESHOLDED
    levenshtein kernel (banded O(d*n), visible as the 3-arg form in the
    plan), entirely JVM-side."""
    from fonduer_spark.linking import fuzzy_join_levenshtein

    df = spark.createDataFrame(
        [(1, "chartreuse goldenrod")], "id long, name string")
    out = fuzzy_join_levenshtein(
        df, df, "id", "id", "name", "name", max_dist=2, block_len=8)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein(_ls" in plan and "Some(2)" in plan


def test_skyline_grouped_no_single_partition_no_python(spark):
    """The grouped skyline must plan with NO single-partition exchange
    (both window passes partition by the group key) and no Python
    stages — the property that keeps per-group frontiers parallel at
    100 TB. Ungrouped, phase 2 IS a single-partition pass, but only
    over the phase-1-reduced set (disclosed in the docstring)."""
    from fonduer_spark.functions.skyline import skyline_min_max

    df = spark.createDataFrame(
        [("a", 1, 2), ("b", 3, 4)], "g string, x int, y int")
    plan = plan_of(skyline_min_max(df, "x", "y", by=["g"]))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_set_similarity_join_no_cartesian_all_jvm(spark):
    """The prefix-filtered EXACT set-similarity join must candidate-
    generate via an equi-join on prefix tokens — a CartesianProduct
    would be the all-pairs scale-killer the prefix filter exists to
    avoid — and stay JVM-side end to end (arrays + array_intersect,
    no Python stages)."""
    from fonduer_spark.functions.dedup import set_similarity_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(set_similarity_join(docs, threshold=0.25))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_analytics_plans_no_cartesian_no_python(spark):
    """The analytics family (basket self-equi-join on the basket key,
    funnel cascade on the user key, per-user transitions window, exact-
    decimal pearson moments, cohort census) must plan as equi-joins /
    keyed windows with no Python stages and no cartesian anywhere."""
    from fonduer_spark.functions import analytics as an

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    frames = [
        an.basket_pairs(li, "l_orderkey", "l_partkey", min_support=2),
        an.funnel(ev, ["view", "click", "purchase"]),
        an.event_transitions(ev),
        an.grouped_pearson(li, "l_quantity", "l_extendedprice",
                           ["l_returnflag"]),
        an.cohort_retention(ev),
    ]
    for df in frames:
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
