"""Label convention (0-shifted storage, ABSTAIN=-1), majority vote,
entity-level P/R/F1 (reference supervision/labeler.py:42-45,
utils_udf.py:196-203, tests/shared/hardware_utils.py:71-131)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fonduer_spark.labeling import (
    apply_lfs,
    entity_level_prf1,
    label_keys,
    majority_vote_marginals,
    with_marginals,
)


def cands(spark):
    return spark.createDataFrame(
        [("c1", "t", "u1", 100), ("c2", "t", "u1", -40), ("c3", "t", "u2", 7)],
        "candidate_sid string, candidate_type string, url string, val int",
    )


def test_shift_convention_and_keys(spark):
    lfs = {
        "lf_pos": F.when(F.col("val") > 0, 1).otherwise(0),
        "lf_abstain": F.lit(-1),
    }
    labels = apply_lfs(cands(spark), lfs)
    rows = {r.candidate_sid: r for r in labels.collect()}
    assert rows["c1"].keys == ["lf_abstain", "lf_pos"]
    # stored = user + 1: ABSTAIN(-1) -> 0, FALSE(0) -> 1, TRUE(1) -> 2
    assert rows["c1"].values == [0, 2]
    assert rows["c2"].values == [0, 1]
    keys = {r.key: set(r.candidate_classes) for r in label_keys(labels).collect()}
    assert keys == {"lf_pos": {"t"}, "lf_abstain": {"t"}}


def test_majority_vote(spark):
    lfs = {
        "a": F.when(F.col("val") > 0, 1).otherwise(0),
        "b": F.when(F.col("val") > 50, 1).when(F.col("val") < 0, 0).otherwise(-1),
        "c": F.lit(1),
    }
    m = majority_vote_marginals(apply_lfs(cands(spark), lfs))
    probs = {r.candidate_sid: r.prob for r in m.collect()}
    assert probs["c1"] == 1.0            # votes (1,1,1)
    assert abs(probs["c2"] - 1 / 3) < 1e-9   # votes (0,0,1)
    assert probs["c3"] == 1.0            # votes (1,-,1) -> 2/2


def test_with_marginals_no_shuffle_columns(spark):
    lfs = {"a": F.when(F.col("val") > 0, 1).otherwise(0)}
    out = with_marginals(cands(spark), lfs)
    assert {"keys", "values", "prob"} <= set(out.columns)
    assert not [c for c in out.columns if c.startswith("_lf_")]


def test_pandas_lf(spark):
    lfs = {"plf": lambda pdf: pd.Series((pdf["val"] > 0).map({True: 1, False: 0}))}
    labels = apply_lfs(cands(spark), lfs)
    vals = {r.candidate_sid: r.values for r in labels.collect()}
    assert vals == {"c1": [2], "c2": [1], "c3": [2]}


def test_binary_vote_outside_range_raises(spark):
    """A binary vote outside {-1, 0, 1} fails fast, in the column and the
    pandas branch alike: stored as 3 it would count as a non-TRUE vote in
    majority vote and as an abstain in the label model."""
    with pytest.raises(Exception, match=r"outside \[-1, 1\]"):
        with_marginals(cands(spark), {"ok": F.lit(1), "bad": F.lit(2)}
                       ).collect()
    with pytest.raises(Exception, match=r"outside \[-1, 1\]"):
        with_marginals(cands(spark), {"ok": F.lit(1),
                                      "bad": lambda pdf: pdf["val"] * 0 + 2}
                       ).collect()
    # the boundary votes still store as 0 (abstain) and 2 (TRUE)
    r = apply_lfs(cands(spark), {"ab": F.lit(-1), "hi": F.lit(1)}).collect()[0]
    assert r.values == [0, 2]


def test_entity_level_prf1(spark):
    pred = spark.createDataFrame(
        [("x", "1"), ("y", "2"), ("z", "3")], "subj string, obj string")
    gold = spark.createDataFrame(
        [("x", "1"), ("y", "2"), ("w", "4")], "subj string, obj string")
    m = entity_level_prf1(pred, gold, ["subj", "obj"])
    assert m["tp"] == 2 and m["fp"] == 1 and m["fn"] == 1
    assert abs(m["precision"] - 2 / 3) < 1e-9
    assert abs(m["recall"] - 2 / 3) < 1e-9


def _noisy_fixture(spark, n=3000):
    """Conditionally-independent weak-supervision fixture with KNOWN LF
    accuracies: latent y alternates; each LF copies y but flips on a
    deterministic md5-derived coin independent of the others (hash of
    (row, lf) -> uniform nibble), giving true accuracies ~0.95/0.75/0.65."""
    import hashlib

    def coin(i, lf, p_err):
        h = int(hashlib.md5(f"{i}:{lf}".encode()).hexdigest()[:8], 16)
        return (h % 1000) < p_err * 1000

    rows = []
    for i in range(n):
        y = i % 2  # balanced classes
        votes = {
            lf: (1 - y if coin(i, lf, err) else y)
            for lf, err in (("a", 0.05), ("b", 0.25), ("c", 0.35))
        }
        rows.append(("c%d" % i, "t", "u", votes["a"], votes["b"], votes["c"], y))
    return spark.createDataFrame(
        rows, "candidate_sid string, candidate_type string, url string, "
              "va int, vb int, vc int, y int")


def test_triplet_model_recovers_accuracies(spark):
    """Snorkel-parity evidence: the triplet estimator targets the same
    pairwise-agreement moments as snorkel's LabelModel; on a conditionally-
    independent fixture with known accuracies (0.95/0.75/0.65) the
    closed-form estimates land within +/-0.04 of truth."""
    from fonduer_spark.labeling import triplet_label_model

    df = _noisy_fixture(spark)
    lfs = {"a": F.col("va"), "b": F.col("vb"), "c": F.col("vc")}
    model = triplet_label_model(df, lfs)
    assert abs(model["a"]["accuracy"] - 0.95) < 0.04
    assert abs(model["b"]["accuracy"] - 0.75) < 0.04
    assert abs(model["c"]["accuracy"] - 0.65) < 0.04
    # weights are the per-vote log-likelihood ratios, ordered by accuracy
    assert model["a"]["weight"] > model["b"]["weight"] > model["c"]["weight"] > 0
    # deterministic refit (exact integer moments)
    assert model == triplet_label_model(df, lfs)


def test_triplet_marginals_beat_majority_on_conflicts(spark):
    """The payoff over majority vote: where the two weak LFs jointly
    outvote the strong one (a right, b+c wrong), majority flips to the
    wrong side while the accuracy-weighted posterior stays right."""
    from fonduer_spark.labeling import triplet_marginals, with_marginals

    df = _noisy_fixture(spark)
    lfs = {"a": F.col("va"), "b": F.col("vb"), "c": F.col("vc")}
    weighted = {r.candidate_sid: r.prob
                for r in triplet_marginals(df, lfs).collect()}
    majority = {r.candidate_sid: r.prob
                for r in with_marginals(df, lfs).collect()}
    truth = {r.candidate_sid: r.y for r in df.collect()}
    conflict = [r.candidate_sid for r in df.collect()
                if r.va == r.y and r.vb != r.y and r.vc != r.y]
    assert len(conflict) > 50  # ~8.75% of rows
    for sid in conflict:
        assert (majority[sid] > 0.5) != (truth[sid] == 1)  # majority wrong
        assert (weighted[sid] > 0.5) == (truth[sid] == 1)  # weighted right
    # overall accuracy strictly improves
    acc_w = sum((weighted[s] > 0.5) == (truth[s] == 1) for s in truth) / len(truth)
    acc_m = sum((majority[s] > 0.5) == (truth[s] == 1) for s in truth) / len(truth)
    assert acc_w > acc_m


def test_triplet_model_needs_three_lfs(spark):
    import pytest

    from fonduer_spark.labeling import triplet_label_model

    with pytest.raises(ValueError, match="3 LFs"):
        triplet_label_model(cands(spark), {"a": F.lit(1), "b": F.lit(0)})


def test_triplet_marginals_abstain_scores_prior(spark):
    from fonduer_spark.labeling import triplet_marginals

    lfs = {
        "a": F.when(F.col("val") > 0, 1).otherwise(0),
        "b": F.when(F.col("val") > 50, 1).otherwise(0),
        "c": F.lit(-1),  # always abstains
    }
    out = {r.candidate_sid: r.prob
           for r in triplet_marginals(cands(spark), lfs, prior=0.5).collect()}
    assert set(out) == {"c1", "c2", "c3"}
    # all-abstain would score exactly the prior; here c abstains everywhere
    # and contributes nothing to any z
    assert out["c1"] > 0.5 and out["c2"] < 0.5


def test_kg_stages_triplet_label_model_option(spark):
    """triplet_marginals over the slim candidates kg_stages scores swaps the
    accuracy-weighted model into the pipeline and still recovers exactly
    the gold triples on the fixture (the strong sign/range LFs dominate the
    constant part-format LF), matching the majority-vote path's output."""
    from fonduer_spark.candidates_fused import (extract_candidates_auto,
                                                same_row_py)
    from fonduer_spark.candidates_op import same_row
    from fonduer_spark.corpus import PRED, load_docs
    from fonduer_spark.labeling import triplet_marginals
    from fonduer_spark.parse import ParseConfig
    from fonduer_spark.pipeline import (default_lfs, default_mention_specs,
                                        kg_stages)
    from fonduer_spark.triples import materialize_triples

    sf = "/root/testdata/sf0.001"
    slim = extract_candidates_auto(
        load_docs(spark, sf, 30), default_mention_specs(),
        "part_temp", "part", "temp", py_throttler=same_row_py,
        column_throttler=same_row, slim=True,
        parse_cfg=ParseConfig(structural=False))
    tri = materialize_triples(triplet_marginals(slim, default_lfs()),
                              pred=PRED, prob_threshold=0.5)
    maj = kg_stages(spark, sf, max_docs=30)["triples"]
    got = {(r.subj, r.obj) for r in tri.select("subj", "obj").collect()}
    want = {(r.subj, r.obj) for r in maj.select("subj", "obj").collect()}
    assert got == want and got
