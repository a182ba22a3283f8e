"""Candidate-join semantics: self/nested/symmetric toggles + throttlers
(reference tests/candidates/test_candidates.py:293-323 analogues, with
golden counts derived by construction)."""

import pytest
from pyspark.sql import functions as F

from fonduer_spark.candidates_op import (
    extract_candidates,
    same_cell,
    same_row,
    same_table,
)
from fonduer_spark.mentions_op import MENTION_COLUMNS, MENTION_SCHEMA


def mention(mtype, url, sid_i, sent_i, cs, ce, text, emit, table=None,
            row=None, col=None, cell=None):
    base = dict.fromkeys(MENTION_COLUMNS)
    base.update(
        mention_type=mtype, url=url,
        stable_id=f"{url}::span_mention:{sid_i}:{sid_i + (ce - cs)}",
        sentence_sid=f"{url}::sentence:{sent_i}", sentence_position=sent_i,
        char_start=cs, char_end=ce, word_start=0, word_end=0,
        span_text=text, emit_seq=emit,
        table_sid=table, cell_sid=cell,
        row_start=row, row_end=row, col_start=col, col_end=col,
    )
    return base


@pytest.fixture(scope="module")
def mentions_df(spark):
    # doc d1: sentence 0 has overlapping spans (nested); a table with two
    # rows. Two mention types A and B.
    rows = [
        # same sentence, B nested inside A's range
        mention("A", "d1", 0, 0, 0, 9, "wide span", 0),
        mention("B", "d1", 0, 0, 0, 3, "wide", 0),       # nested in A
        mention("B", "d1", 5, 0, 5, 8, "span", 1),       # nested in A
        # identical span context for A and B (self-relation case)
        mention("A", "d1", 20, 1, 0, 4, "exact", 0),
        mention("B", "d1", 20, 1, 0, 4, "exact", 0),
        # table mentions: A in row 1, B in row 1 and row 2 of table t0
        mention("A", "d1", 30, 2, 0, 5, "PN100A", 0,
                table="d1::table:0", row=1, col=0, cell="d1::cell:0:1:0"),
        mention("B", "d1", 40, 3, 0, 1, "85", 0,
                table="d1::table:0", row=1, col=1, cell="d1::cell:0:1:1"),
        mention("B", "d1", 50, 4, 0, 1, "92", 0,
                table="d1::table:0", row=2, col=1, cell="d1::cell:0:2:1"),
        # another doc d2: one A, one B -> no cross-doc candidates
        mention("A", "d2", 0, 0, 0, 5, "PN200B", 0),
        mention("B", "d2", 0, 1, 0, 1, "77", 0),
    ]
    return spark.createDataFrame(
        [tuple(r[c] for c in MENTION_COLUMNS) for r in rows], MENTION_SCHEMA
    )


def n(df):
    return df.count()


def test_defaults_drop_self_and_nested(spark, mentions_df):
    # default: self=False, nested=False, symmetric=True
    cands = extract_candidates(mentions_df, "AB", "A", "B")
    # d1: A-mentions = {wide span, exact, PN100A}; B = {wide, span, exact, 85, 92}
    # products per doc d1: 3*5 = 15; minus nested (wide span x wide, wide
    # span x span) = 2; minus self (exact x exact) = 1 -> 12
    # d2: 1*1 = 1 -> total 13
    assert n(cands) == 13


def test_allow_self_and_nested(spark, mentions_df):
    cands = extract_candidates(
        mentions_df, "AB", "A", "B",
        self_relations=True, nested_relations=True,
    )
    assert n(cands) == 16


def test_symmetric_filter(spark, mentions_df):
    # symmetric=False keeps only pairs with a_idx <= b_idx
    base = extract_candidates(mentions_df, "AA", "A", "A",
                              self_relations=True)
    sym = extract_candidates(mentions_df, "AA", "A", "A",
                             self_relations=True, symmetric_relations=False)
    # Diagonal (a,a) pairs survive the self filter (self_relations=True) but
    # are dropped by the default nested filter (equal spans contain each
    # other) — matching the reference order of checks (candidates.py:290-306).
    # d1: 9 ordered pairs - 3 diagonals = 6; d2: 1 - 1 = 0.
    assert n(base) == 6
    # symmetric=False keeps i <= j: d1 6 - 3 diagonals = 3; d2 0.
    assert n(sym) == 3


def test_same_row_throttler(spark, mentions_df):
    cands = extract_candidates(mentions_df, "AB", "A", "B",
                               throttler=same_row)
    got = {(r.a_span_text, r.b_span_text) for r in cands.collect()}
    assert got == {("PN100A", "85")}


def test_same_table_and_cell_throttlers(spark, mentions_df):
    ct = extract_candidates(mentions_df, "AB", "A", "B", throttler=same_table)
    assert {(r.a_span_text, r.b_span_text) for r in ct.collect()} == {
        ("PN100A", "85"), ("PN100A", "92")
    }
    cc = extract_candidates(mentions_df, "AB", "A", "B", throttler=same_cell)
    assert n(cc) == 0


def test_pandas_throttler(spark, mentions_df):
    thr = lambda pdf: pdf["b_span_text"].str.len() == 2  # noqa: E731
    cands = extract_candidates(mentions_df, "AB", "A", "B",
                               throttler=thr, throttler_kind="pandas")
    assert {r.b_span_text for r in cands.collect()} <= {"85", "92", "77"}
    # d1: A={wide span, exact, PN100A} x B={85, 92} = 6 (none nested/self);
    # d2: (PN200B, 77) -> 7 total
    assert n(cands) == 7


def test_salted_join_same_result(spark, mentions_df):
    plain = extract_candidates(mentions_df, "AB", "A", "B")
    salted = extract_candidates(mentions_df, "AB", "A", "B", salt_buckets=4)
    a = {(r.a_stable_id, r.b_stable_id) for r in plain.collect()}
    b = {(r.a_stable_id, r.b_stable_id) for r in salted.collect()}
    assert a == b


def test_nary_extraction(spark, mentions_df):
    from fonduer_spark.candidates_op import extract_candidates_nary

    # ternary A x B x B in d1/d2 with a column throttler over slot coords
    c3 = extract_candidates_nary(
        mentions_df, "ABB", ["A", "B", "B"],
        throttler=lambda df: (
            F.col("m0_table_sid").isNotNull()
            & (F.col("m0_table_sid") == F.col("m1_table_sid"))
            & (F.col("m1_table_sid") == F.col("m2_table_sid"))
        ),
    )
    rows = c3.collect()
    # d1 table t0: A=PN100A, B in {85, 92} -> 1 x 2 x 2 = 4 tuples
    assert len(rows) == 4
    assert all(r.candidate_sid.count("~~") == 2 for r in rows)
    assert {r.m0_span_text for r in rows} == {"PN100A"}


def test_snorkel_fallback_marginals(spark, mentions_df):
    from fonduer_spark.labeling import (
        apply_lfs, majority_vote_marginals, snorkel_label_model_marginals)

    cands = extract_candidates(mentions_df, "AB", "A", "B")
    lfs = {"lf": F.when(F.col("b_span_text").try_cast("int") > 80, 1).otherwise(0)}
    labels = apply_lfs(cands, lfs)
    # snorkel absent -> a warning, then the exact majority-vote fallback
    with pytest.warns(UserWarning, match="falling back to majority vote"):
        fallback = snorkel_label_model_marginals(labels)
    a = {(r.candidate_sid, r.prob) for r in fallback.collect()}
    b = {(r.candidate_sid, r.prob)
         for r in majority_vote_marginals(labels).collect()}
    assert a == b


def test_mention_dedup_flag(spark):
    from fonduer_spark.mentions_op import extract_mentions
    from fonduer_spark.parse import CONTEXT_COLUMNS, CONTEXT_SCHEMA
    from fonduer_spark.pipeline import default_mention_specs

    s = dict.fromkeys(CONTEXT_COLUMNS)
    s.update(url="d", stable_id="d::sentence:0:6", ctx_type="sentence",
             position=0, text="PN100A", words=["PN100A"],
             char_offsets=[0], abs_char_offsets=[0])
    row = tuple(s[c] for c in CONTEXT_COLUMNS)
    # duplicated sentence row (simulating an incremental re-run overlap)
    sentences = spark.createDataFrame([row, row], CONTEXT_SCHEMA)
    raw = extract_mentions(sentences, default_mention_specs())
    assert raw.count() == 2
    deduped = extract_mentions(sentences, default_mention_specs(), dedup=True)
    assert deduped.count() == 1


def test_overflow_marker_and_routing(spark):
    """Hot-doc overflow: the fused stage emits a marker (never silently
    drops), and extract_candidates_auto routes the doc through the join
    path — the union is row-identical to the pure join strategy."""
    from fonduer_spark.candidates_fused import (
        OVERFLOW_TYPE, extract_candidates_auto, extract_candidates_fused,
        same_row_py)
    from fonduer_spark.corpus import load_docs, n_rows, n_tables, url_of
    from fonduer_spark.mentions_op import extract_mentions_fused
    from fonduer_spark.pipeline import default_mention_specs

    sf = "/root/testdata/sf0.001"
    docs = load_docs(spark, sf, max_docs=8)
    specs = default_mention_specs()
    # doc 0 is a hot doc (7 tables): cap mentions so it (and only the
    # biggest docs) overflow
    cap = 40

    fused = extract_candidates_fused(
        docs, specs, "part_temp", "part", "temp",
        throttler=same_row_py, max_mentions_per_doc=cap)
    markers = fused.where(F.col("candidate_type") == OVERFLOW_TYPE)
    marker_urls = {r.url for r in markers.select("url").collect()}
    assert url_of(0) in marker_urls  # the hot doc was flagged, not dropped
    # marker rows carry no candidate payload ...
    assert all(r.a_stable_id is None for r in markers.collect())
    # ... but the document's mentions, exactly as the mention stage has them
    carried = markers.where(F.col("url") == url_of(0)) \
        .select(F.explode("overflow_mentions").alias("m")).select("m.*")
    mentions = extract_mentions_fused(docs, specs) \
        .where(F.col("url") == url_of(0))
    assert sorted(map(tuple, carried.collect())) == \
        sorted(map(tuple, mentions.collect()))

    routed = extract_candidates_auto(
        docs, specs, "part_temp", "part", "temp",
        py_throttler=same_row_py, column_throttler=same_row,
        max_mentions_per_doc=cap)
    joined = extract_candidates(
        extract_mentions_fused(docs, specs), "part_temp", "part", "temp",
        throttler=same_row, throttler_kind="column")
    got = {tuple(r) for r in
           routed.select("candidate_sid", "a_span_text", "b_span_text").collect()}
    want = {tuple(r) for r in
            joined.select("candidate_sid", "a_span_text", "b_span_text").collect()}
    assert got == want
    # the overflow doc's candidates are present in the routed output
    assert any(sid.startswith(url_of(0)) for sid, _, _ in got)


def test_nullable_slot_candidates(spark, mentions_df):
    """Per-slot nullables (reference candidate.py:100-102, candidates.py:
    268, tests/candidates/test_candidates.py:547): a nullable slot adds one
    (span, None) candidate per document; the all-null tuple is dropped by
    the null-safe self check; nested check skips null sides."""
    from fonduer_spark.candidates_op import extract_candidates

    mentions = mentions_df
    base = extract_candidates(mentions, "pt", "A", "B")
    nb = extract_candidates(mentions, "pt", "A", "B",
                            nullables=(False, True))
    n_parts = mentions.where(F.col("mention_type") == "A").count()
    assert nb.count() == base.count() + n_parts
    nulls = nb.where(F.col("b_stable_id").isNull())
    assert nulls.count() == n_parts
    r = nulls.select("candidate_sid", "url", "a_stable_id").first()
    assert r.candidate_sid.endswith("~~NULL")
    assert r.url is not None and r.a_stable_id is not None
    # both nullable: adds (None, temp) per doc too, but never (None, None)
    n_docs = mentions.select("url").distinct().count()
    n_temps = mentions.where(F.col("mention_type") == "B").count()
    both = extract_candidates(mentions, "pt", "A", "B",
                              nullables=(True, True))
    assert both.count() == base.count() + n_parts + n_temps
    assert both.where(
        F.col("a_stable_id").isNull() & F.col("b_stable_id").isNull()
    ).count() == 0
    # non-nullable call sites are untouched (default path identical)
    assert base.count() == extract_candidates(
        mentions, "pt", "A", "B", nullables=(False, False)).count()


def test_nary_nullable_slot(spark, mentions_df):
    """N-ary nullables: a nullable slot adds the per-document None option
    to the product; no arity-2 filters apply (reference TODO), so counts
    are exact products."""
    from fonduer_spark.candidates_op import extract_candidates_nary

    base = extract_candidates_nary(mentions_df, "abb", ["A", "B", "B"])
    nb = extract_candidates_nary(mentions_df, "abb", ["A", "B", "B"],
                                 nullables=[False, False, True])
    # per doc: + |A| * |B| tuples with m2 = None
    extra = (
        mentions_df.where(F.col("mention_type") == "A")
        .groupBy("url").count().withColumnRenamed("count", "na")
        .join(
            mentions_df.where(F.col("mention_type") == "B")
            .groupBy("url").count().withColumnRenamed("count", "nb"),
            "url")
        .selectExpr("sum(na * nb) AS s").first().s
    )
    assert nb.count() == base.count() + extra
    nulls = nb.where(F.col("m2_stable_id").isNull())
    assert nulls.count() == extra
    assert nulls.first().candidate_sid.endswith("~~NULL")


def test_skew_corpus_strategies_row_identical(spark):
    """VERDICT r3 item 10: on an adversarial hot-doc corpus (bench.py
    skew_render: doc 0 carries 175 tables, ~100x the median mention count)
    the three candidate strategies — fused, salted join, and auto with the
    overflow routed — produce IDENTICAL rows, and the auto path's overflow
    marker actually engages for the hot doc."""
    from bench import skew_render
    from fonduer_spark.candidates_fused import (
        OVERFLOW_TYPE, extract_candidates_auto, extract_candidates_fused,
        same_row_py)
    from fonduer_spark.corpus import load_docs, url_of
    from fonduer_spark.mentions_op import extract_mentions_fused
    from fonduer_spark.pipeline import default_mention_specs

    docs = load_docs(spark, "/root/testdata/sf0.001", max_docs=24)
    specs = default_mention_specs()
    cap = 400

    mentions = extract_mentions_fused(docs, specs, render=skew_render)
    hot = mentions.where(F.col("url") == url_of(0)).count()
    assert hot > cap  # the skew corpus actually skews past the cap

    joined = extract_candidates(
        mentions, "part_temp", "part", "temp",
        throttler=same_row, throttler_kind="column")

    fused = extract_candidates_fused(
        docs, specs, "part_temp", "part", "temp",
        throttler=same_row_py, render=skew_render, max_mentions_per_doc=cap)
    markers = fused.where(F.col("candidate_type") == OVERFLOW_TYPE)
    assert {r.url for r in markers.select("url").collect()} == {url_of(0)}

    routed = extract_candidates_auto(
        docs, specs, "part_temp", "part", "temp",
        py_throttler=same_row_py, column_throttler=same_row,
        render=skew_render, max_mentions_per_doc=cap)

    cols = ["candidate_sid", "a_stable_id", "b_stable_id",
            "a_span_text", "b_span_text"]
    got = {tuple(r) for r in routed.select(*cols).collect()}
    want = {tuple(r) for r in joined.select(*cols).collect()}
    assert got == want
    # the hot doc's quadratic product went through the join path un-dropped
    assert sum(1 for t in got if t[0].startswith(url_of(0))) > 1000
