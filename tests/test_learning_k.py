"""k-class discriminative heads (reference learning/task.py:59-219 sizes the
head by candidate cardinality: ConcatLinear -> len(values) outputs trained
with soft_cross_entropy over k classes) + the bounded-fit contract on the
logreg path (shared bounded_fit_rows sampler: deterministic xxhash64 cap,
marginals joined BEFORE the collect)."""

import hashlib
import warnings

import pytest
from pyspark.sql import functions as F

from fonduer_spark.api import DiscriminativeModel
from fonduer_spark.learning import (
    bounded_fit_rows,
    score_sequences_k,
    score_with_model,
    score_with_model_k,
    train_logreg,
    train_logreg_k,
    train_sequence_model,
    train_sequence_model_k,
)

VALUES = ("low", "mid", "high")


def _feat_fixture(spark, n=300):
    """3-class sparse-feature fixture: one-hot class indicator features
    (integer values, multiples of 3 — see the determinism note on
    train_logreg_k) + a label-independent noise feature; probs one-hot."""
    rows = []
    for i in range(n):
        gold = i % 3
        keys = ["f_low", "f_mid", "f_high", "f_noise"]
        vals = [3.0 * (gold == 0), 3.0 * (gold == 1), 3.0 * (gold == 2),
                float(3 * (i % 2))]
        probs = [1.0 if c == gold else 0.0 for c in range(3)]
        rows.append((f"c{i:04d}", gold, keys, vals, probs))
    return spark.createDataFrame(
        rows, "candidate_sid string, gold int, keys array<string>, "
              "values array<double>, probs array<double>")


def _marked_fixture(spark, n=240):
    """Marked-sequence fixture: slot-0 token carries the 3-class signal,
    slot-1 is noise; probs one-hot."""
    sig = ["klow", "kmid", "khigh"]
    rows = []
    for i in range(n):
        gold = i % 3
        rows.append((f"c{i:04d}", gold,
                     ["~~[[0", sig[gold], "0]]~~"],
                     ["~~[[1", f"t{i % 5}", "1]]~~"],
                     [1.0 if c == gold else 0.0 for c in range(3)]))
    return spark.createDataFrame(
        rows, "candidate_sid string, gold int, e0_marked array<string>, "
              "e1_marked array<string>, probs array<double>")


# ------------------------------------------------------------- logreg_k


def test_train_logreg_k_learns_three_classes(spark):
    df = _feat_fixture(spark)
    W, B = train_logreg_k(df, df.select("candidate_sid", "probs"), 3,
                          lr=1.0, epochs=60, l2=0.0)
    assert set(W) == {"f_low", "f_mid", "f_high", "f_noise"}
    assert all(len(w) == 3 for w in W.values()) and len(B) == 3
    scored = score_with_model_k(df, W, B, values=list(VALUES))
    assert {"logits", "pred_idx", "pred_value"} <= set(scored.columns)
    acc = scored.select(
        F.avg((F.col("pred_idx") == F.col("gold")).cast("int")).alias("a")
    ).collect()[0].a
    assert acc == 1.0, acc
    # pred_value maps through the value list
    got = {r.gold: r.pred_value
           for r in scored.select("gold", "pred_value").distinct().collect()}
    assert got == {0: "low", 1: "mid", 2: "high"}


def test_logreg_k_one_epoch_closed_form(spark):
    """epochs=1, zero init, l2=0, no intercept, integer features, one-hot
    labels -> w[k][j] == lr * (sum(x*y_k) - sum(x)/3) / n bit-identically
    (every gradient sum is integer-exact) — the arithmetic the
    kg_multiclass_discrim DuckDB oracle replays."""
    df = _feat_fixture(spark, 90)
    lr = 0.25
    W, B = train_logreg_k(df, df.select("candidate_sid", "probs"), 3,
                          lr=lr, epochs=1, l2=0.0, fit_intercept=False)
    assert B == [0.0, 0.0, 0.0]
    rows = df.select("keys", "values", "probs").collect()
    n = len(rows)
    for j, key in enumerate(["f_low", "f_mid", "f_high", "f_noise"]):
        s0 = sum(r.values[r.keys.index(key)] for r in rows)
        for k in range(3):
            s1 = sum(r.values[r.keys.index(key)] * r.probs[k] for r in rows)
            assert W[key][k] == lr * (s1 - s0 / 3.0) / n, (key, k)


def test_logreg_k_null_probs_uniform_and_validation(spark):
    df = _feat_fixture(spark, 30)
    # candidates missing from marginals fall back to uniform — no crash
    half = df.where(F.col("gold") != 2).select("candidate_sid", "probs")
    W, B = train_logreg_k(df, half, 3, lr=0.5, epochs=5, l2=0.0)
    assert len(B) == 3
    with pytest.raises(ValueError, match="cardinality"):
        train_logreg_k(df, half, 1)


# ------------------------------------------------------------ sequence_k


def test_sequence_model_k_learns_three_classes(spark):
    df = _marked_fixture(spark)
    W, B = train_sequence_model_k(
        df, df.select("candidate_sid", "probs"), 3,
        lr=0.5, epochs=150, l2=0.0)
    assert all(len(w) == 3 for w in W.values()) and len(B) == 3
    scored = score_sequences_k(df, W, B, values=list(VALUES))
    acc = scored.select(
        F.avg((F.col("pred_idx") == F.col("gold")).cast("int")).alias("a")
    ).collect()[0].a
    assert acc == 1.0, acc


# --------------------------------------------------------------- facade


def test_discriminative_model_facade_k3_both_archs(spark):
    feats = _feat_fixture(spark, 120)
    m = DiscriminativeModel(spark, cardinality=3, values=VALUES)
    out = m.fit(feats, feats.select("candidate_sid", "probs"),
                lr=1.0, epochs=40, l2=0.0).predict(feats)
    assert "pred_value" in out.columns
    marked = _marked_fixture(spark, 120)
    m2 = DiscriminativeModel(spark, cardinality=3, values=VALUES,
                             arch="sequence")
    out2 = m2.fit(marked, marked.select("candidate_sid", "probs"),
                  lr=0.5, epochs=80, l2=0.0).predict(marked)
    assert "pred_value" in out2.columns


def test_discriminative_model_facade_binary_backcompat(spark):
    rows = [(f"c{i}", ["f_a", "f_b"],
             [1.0 * (i % 2), 1.0 * ((i + 1) % 2)],
             1.0 if i % 2 else 0.0) for i in range(60)]
    feats = spark.createDataFrame(
        rows, "candidate_sid string, keys array<string>, "
              "values array<double>, prob double")
    m = DiscriminativeModel(spark)
    out = m.fit(feats, feats.select("candidate_sid", "prob"),
                lr=1.0, epochs=40, l2=0.0).predict(feats)
    assert "model_prob" in out.columns  # binary sigmoid head preserved
    with pytest.raises(ValueError, match="arch"):
        DiscriminativeModel(spark, arch="transformer")
    with pytest.raises(ValueError, match="fit"):
        DiscriminativeModel(spark).predict(feats)


# ----------------------------------------------------- bounded fit path


def test_logreg_fit_collect_is_bounded(spark):
    """VERDICT r5 watch-item: the logreg fit point must cap its collect the
    same way the sequence/LSTM paths do, while scoring stays distributed
    over the FULL frame."""
    rows = [(f"c{i:04d}", ["f_a", "f_b"],
             [1.0 * (i % 2), 1.0 * ((i + 1) % 2)],
             1.0 if i % 2 else 0.0) for i in range(200)]
    feats = spark.createDataFrame(
        rows, "candidate_sid string, keys array<string>, "
              "values array<double>, prob double")
    marginals = feats.select("candidate_sid", "prob")
    # the shared sampler caps the collected rows (hash sample ~= cap)
    capped = bounded_fit_rows(feats, marginals, ["keys", "values"], 50)
    assert len(capped) < 200 and len(capped) <= 90
    # deterministic: the same subset on a rerun
    again = bounded_fit_rows(feats, marginals, ["keys", "values"], 50)
    assert [r.candidate_sid for r in capped] == \
        [r.candidate_sid for r in again]
    W, b = train_logreg(feats, marginals, lr=1.0, epochs=30, l2=0.0,
                        max_fit_candidates=50)
    scored = score_with_model(feats, W, b)
    assert scored.count() == 200  # scoring covers the full frame


def test_collect_csr_default_is_capped(spark):
    """r07 (VERDICT r6 watch-item): collect_csr's DEFAULT path must bound
    the driver collect — max_fit_candidates now defaults to the shared
    200k cap instead of None, with None as the explicit opt-out."""
    import inspect

    from fonduer_spark.learning import collect_csr

    sig = inspect.signature(collect_csr)
    assert sig.parameters["max_fit_candidates"].default == 200_000
    feats = spark.createDataFrame(
        [(f"c{i:03d}", ["f"], [1.0]) for i in range(30)],
        "candidate_sid string, keys array<string>, values array<double>")
    # small cap engages the deterministic sampler on the same entry point
    indptr, indices, data, sids, key_order = collect_csr(
        feats, max_fit_candidates=10)
    assert 0 < len(sids) < 30
    indptr2, indices2, data2, sids2, _ = collect_csr(
        feats, max_fit_candidates=10)
    assert sids == sids2  # hash-stable subset
    # explicit opt-out collects everything
    assert len(collect_csr(feats, max_fit_candidates=None)[3]) == 30


def test_collect_csr_warns_when_the_cap_drops_rows(spark):
    from fonduer_spark.learning import collect_csr

    feats = spark.createDataFrame(
        [(f"c{i:03d}", ["f"], [1.0]) for i in range(30)],
        "candidate_sid string, keys array<string>, values array<double>")
    with pytest.warns(UserWarning, match="collect_csr") as rec:
        sids = collect_csr(feats, max_fit_candidates=10)[3]
    assert f"kept {len(sids)} of 30 rows" in str(rec.pop(UserWarning).message)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        collect_csr(feats, max_fit_candidates=30)  # nothing dropped
    assert not [w for w in rec if "collect_csr" in str(w.message)]


def test_bounded_fit_rows_dedupes_duplicate_marginals(spark):
    """ADVICE r5: duplicate candidate_sids in marginals must not duplicate
    fit rows (which would inflate those candidates' weight and overshoot
    the cap)."""
    feats = spark.createDataFrame(
        [(f"c{i}", ["f"], [1.0]) for i in range(20)],
        "candidate_sid string, keys array<string>, values array<double>")
    dup = spark.createDataFrame(
        [(f"c{i}", 1.0) for i in range(20)] +
        [("c0", 1.0), ("c1", 0.25)],
        "candidate_sid string, prob double")
    rows = bounded_fit_rows(feats, dup, ["keys", "values"], 1000)
    assert len(rows) == 20
    # deterministic pick: max() of the duplicate probs
    by_sid = {r.candidate_sid: r["_fit_prob"] for r in rows}
    assert by_sid["c1"] == 1.0


def test_tensorboard_logger_scalar_stream(spark, tmp_path):
    """Reference TensorBoardLogger parity (utils/logging/
    tensorboard_writer.py): add_scalar/close call shape, JSONL backend
    always on (tensorboardX env-gated), and the trainer hook records a
    decreasing loss curve."""
    from fonduer_spark.logging_utils import TensorBoardLogger

    lg = TensorBoardLogger(str(tmp_path / "run1"))
    lg.add_scalar("x", 1.5, 0)
    lg.add_scalar("x", 1.0, 1)
    lg.add_scalar("other", 9.0, 0)
    lg.close()
    xs = lg.scalars("x")
    assert [r["value"] for r in xs] == [1.5, 1.0]
    assert [r["step"] for r in xs] == [0, 1]
    assert len(lg.scalars()) == 3

    # trainer hook: per-epoch loss logged and decreasing overall
    feats = _feat_fixture(spark, 90)
    lg2 = TensorBoardLogger(str(tmp_path / "run2"))
    train_logreg_k(feats, feats.select("candidate_sid", "probs"), 3,
                   lr=1.0, epochs=20, l2=0.0, logger=lg2)
    lg2.close()
    losses = [r["value"] for r in lg2.scalars("train/loss")]
    assert len(losses) == 20 and losses[-1] < losses[0]


def test_score_margin_matches_prob(spark):
    """score_margin_with_model and score_with_model share one margin
    expression: sigmoid(margin) == model_prob bit-for-bit, and the kept
    decision (prob >= 0.5) equals margin >= 0 away from the boundary."""
    import math

    from fonduer_spark.learning import (
        score_margin_with_model, score_with_model)

    feats = spark.createDataFrame(
        [("a", ["k1", "k2"], [2.0, 1.0]),
         ("b", ["k1", "k3"], [1.0, 4.0]),
         ("c", ["k2"], [0.0])],
        "candidate_sid string, keys array<string>, values array<double>")
    W, B = {"k1": 0.25, "k2": -0.5, "k3": 0.125}, -0.25
    rows = {r.candidate_sid: r for r in
            score_with_model(score_margin_with_model(feats, W, B),
                             W, B).collect()}
    for sid, want_z in (("a", 2 * 0.25 + 1 * -0.5 - 0.25),
                        ("b", 0.25 + 4 * 0.125 - 0.25),
                        ("c", -0.25)):
        r = rows[sid]
        assert r.model_margin == want_z
        assert r.model_prob == 1.0 / (1.0 + math.exp(-want_z))
        assert (r.model_prob >= 0.5) == (r.model_margin >= 0)


# ------------------------------------------------------- pinned fit outputs


def _fit_digest(weights, biases) -> str:
    """sha256 over the keys and the float.hex of every weight (in key
    order), then of every bias — one binary or k-class fit's exact output."""
    h = hashlib.sha256()
    for key, w in weights.items():
        h.update(key.encode())
        for x in (w if isinstance(w, list) else [w]):
            h.update(float(x).hex().encode())
    for b in (biases if isinstance(biases, list) else [biases]):
        h.update(float(b).hex().encode())
    return h.hexdigest()


# Captured from the four trainers before they shared one gradient-descent
# loop (numpy 1.26, x86-64): any change to the float program of a fit --
# summation order, the softmax shift, the update arithmetic -- moves them.
FIT_DIGESTS = {
    "logreg":
        "7d6dfbb1c001c768e5327277385ad8ab8c504239fa23df0bb18dc140b3ccfac8",
    "logreg_k":
        "15bfd83f8242f2caf16fdada76e0c711bcf5636d49286db86e9cf8ea95b1b9d7",
    "logreg_k_no_intercept":
        "334ad716d77ea96c695969f3e7d4f42149e9c25dd55d2e9b6ae9d3fd38ad7194",
    "sequence":
        "3e7a0b92a9a56ce923169ad713821ed871996303b806b8b4b82b1ce3b78e8926",
    "sequence_k":
        "24fd0388926fe4dccb4c0c2131b32147fb9c7552a8ad8fb1350edd20b5b67863",
}


def test_fit_outputs_are_pinned(spark):
    """Every trainer, multi-epoch with l2 > 0 and some NULL labels (the
    candidates whose sid ends in 7 have no marginal row), reproduces its
    weights and biases bit for bit."""
    feats, marked = _feat_fixture(spark), _marked_fixture(spark)

    def labels(df, binary):
        df = df.where(~F.col("candidate_sid").endswith("7"))
        return df.select("candidate_sid", F.col("probs")[0].alias("prob")) \
            if binary else df.select("candidate_sid", "probs")

    kw = dict(lr=0.5, epochs=40, l2=1e-3)
    fits = {
        "logreg": train_logreg(feats, labels(feats, True), **kw),
        "logreg_k": train_logreg_k(feats, labels(feats, False), 3, **kw),
        "logreg_k_no_intercept": train_logreg_k(
            feats, labels(feats, False), 3, fit_intercept=False, **kw),
        "sequence": train_sequence_model(marked, labels(marked, True), **kw),
        "sequence_k": train_sequence_model_k(
            marked, labels(marked, False), 3, **kw),
    }
    assert {name: _fit_digest(*fit) for name, fit in fits.items()} \
        == FIT_DIGESTS


@pytest.mark.parametrize("trainer", ["logreg", "logreg_k", "sequence",
                                     "sequence_k"])
def test_empty_fit_set_raises(spark, trainer):
    """A fit set with no rows raises one ValueError naming it, instead of a
    numpy indexing error (the logreg heads) or a NaN bias that scores every
    candidate NaN (the sequence heads)."""
    feats = _feat_fixture(spark).limit(0)
    marked = _marked_fixture(spark).limit(0)
    binary = lambda df: df.select("candidate_sid",  # noqa: E731
                                  F.col("probs")[0].alias("prob"))
    fit = {
        "logreg": lambda: train_logreg(feats, binary(feats)),
        "logreg_k": lambda: train_logreg_k(
            feats, feats.select("candidate_sid", "probs"), 3),
        "sequence": lambda: train_sequence_model(marked, binary(marked)),
        "sequence_k": lambda: train_sequence_model_k(
            marked, marked.select("candidate_sid", "probs"), 3),
    }[trainer]
    with pytest.raises(ValueError, match="fit set is empty"):
        fit()
