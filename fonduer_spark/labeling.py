"""P6 — weak supervision: labeling functions, label matrix, label model.

Reference semantics (/root/reference/src/fonduer/supervision/labeler.py):
each LF maps a candidate to an int in {-1 (ABSTAIN), 0, 1, ...}; storage is
0-shifted (labeler.py:42-45, utils_udf.py:196-203): stored = user + 1, so
0 = ABSTAIN in storage. Labels persist as parallel ``keys``/``values`` arrays
per candidate — one row per candidate, exactly the reference's annotation
layout (utils/models/annotation.py:46-101).

Column-expression LFs are evaluated JVM-side (whole-stage codegen); opaque
Python LFs run in one Arrow-batched pass. Two generative label models ship:
majority vote (one narrow projection) and the accuracy-estimating
triplet/method-of-moments model (triplet_label_model — one aggregation pass
for the pairwise moments, closed-form accuracies, broadcast weights; the
pure-Spark stand-in for the reference's optional driver-side snorkel
LabelModel — SURVEY.md §2.8).
"""

from __future__ import annotations

import math
import warnings
from typing import Callable, Dict, Iterator, List, Mapping, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ABSTAIN = -1

ColumnLF = Callable[[], Column]          # returns int column in {-1,0,1,...}
PandasLF = Callable[[pd.DataFrame], pd.Series]

LABEL_SCHEMA = T.StructType([
    T.StructField("candidate_sid", T.StringType(), False),
    T.StructField("candidate_type", T.StringType(), True),
    T.StructField("url", T.StringType(), True),
    T.StructField("keys", T.ArrayType(T.StringType()), True),
    T.StructField("values", T.ArrayType(T.IntegerType()), True),  # 0-shifted
])


def _int_votes(name: str, expr: Column, k: int) -> Column:
    """One column LF's int votes in 0-shifted storage (stored = label + 1,
    NULL = ABSTAIN = stored 0), bound-checked to labels [-1, k-1]: an
    out-of-range vote would be stored as a class no model reads (counted
    as a vote, in no class), so it fails fast like an unknown value."""
    stored = F.coalesce(expr.cast("int"), F.lit(ABSTAIN)) + F.lit(1)
    return (
        F.when((stored >= 0) & (stored <= k), stored)
        .otherwise(F.raise_error(F.concat(
            F.lit(f"Can't parse label value for LF {name}: int "),
            expr.cast("string"),
            F.lit(f" outside [-1, {k - 1}]"))).cast("int"))
    )


def _map_value_space(df: DataFrame, name: str, expr: Column,
                     values: Sequence) -> Column:
    """Reference labeler value-space mapping (supervision/labeler.py:436-465)
    for one column LF: int outputs are assumed already mapped (stored =
    label + 1, bound-checked by _int_votes); NULL is the protected ABSTAIN
    (stored 0); any other output must be a member of ``values`` and stores
    its 1-based index; an unknown value raises, exactly like the
    reference's ValueError."""
    dtype = df.select(expr.alias("_probe")).schema[0].dataType
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _int_votes(name, expr, len(values))
    pos = F.array_position(
        F.array(*[F.lit(v) for v in values]), expr)
    return (
        F.when(expr.isNull(), F.lit(0))
        .when(pos > 0, pos.cast("int"))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"Can't parse label value for LF {name}: "),
            expr.cast("string"))).cast("int"))
    )


def _eval_lfs(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    values: Optional[Sequence] = None,
) -> DataFrame:
    """Append one 0-shifted ``_lf_<name>`` int column per LF.

    ``values=None`` keeps the binary int convention (user {-1,0,1} ->
    stored {0,1,2}; any other int raises); a ``values`` list switches to
    the reference's k-ary value space (labeler.py:436-465): LF outputs are
    members of ``values`` (stored = 1-based index), NULL = ABSTAIN (stored
    0), int outputs pass through as already-mapped (stored = label + 1)."""
    col_lfs: Dict[str, Column] = {}
    pd_lfs: Dict[str, PandasLF] = {}
    for name, lf in lfs.items():
        if isinstance(lf, Column):
            col_lfs[name] = lf
        else:
            pd_lfs[name] = lf

    df = candidates
    for name, expr in col_lfs.items():
        if values is not None:
            df = df.withColumn(f"_lf_{name}",
                               _map_value_space(df, name, expr, values))
        else:
            # a column LF evaluating to NULL (e.g. F.when with no
            # .otherwise) stores ABSTAIN, like the pandas-LF fillna below
            df = df.withColumn(f"_lf_{name}", _int_votes(name, expr, 2))

    if pd_lfs:
        schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField(f"_lf_{n}", T.IntegerType(), True) for n in pd_lfs]
        )
        val_idx = {v: i + 1 for i, v in enumerate(values)} if values else None
        k = len(val_idx) if val_idx else 2

        def _stored(s: pd.Series, lf_name: str) -> pd.Series:
            # binary votes, and already-mapped k-ary ints: the bound check
            # of _int_votes
            if val_idx is None or pd.api.types.is_integer_dtype(s):
                out = s.fillna(ABSTAIN).astype("int32") + 1
                bad = out[(out < 0) | (out > k)]
                if len(bad):
                    raise ValueError(
                        f"Can't parse label value for LF {lf_name}: int "
                        f"{int(bad.iloc[0]) - 1} outside [-1, {k - 1}]")
                return out
            def one(x):
                if x is None or (isinstance(x, float) and pd.isna(x)):
                    return 0
                if isinstance(x, int) and not isinstance(x, bool):
                    if not (-1 <= x < k):
                        raise ValueError(
                            f"Can't parse label value for LF {lf_name}: "
                            f"int {x} outside [-1, {k - 1}]")
                    return x + 1
                if x in val_idx:
                    return val_idx[x]
                raise ValueError(
                    f"Can't parse label value {x!r} for LF {lf_name} "
                    f"with candidate values {list(val_idx)}")
            return s.map(one).astype("int32")

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for n, lf in pd_lfs.items():
                    pdf[f"_lf_{n}"] = _stored(lf(pdf), n)
                yield pdf

        df = df.mapInPandas(fn, schema)

    return df


def _label_arrays(lfs: Mapping[str, object]):
    names = sorted(lfs.keys())
    keys = F.array(*[F.lit(n) for n in names])
    values = F.array(*[F.col(f"_lf_{n}") for n in names])
    return keys, values


def _append(df: DataFrame, cols: Mapping[str, Column]) -> DataFrame:
    """Append ``cols`` in order, one withColumn each, so a later column may
    read an earlier one."""
    for name, col in cols.items():
        df = df.withColumn(name, col)
    return df


def _scored(df: DataFrame, lfs: Mapping[str, object],
            scores: Mapping[str, Column]) -> DataFrame:
    """The label scorers' epilogue: append the keys/values label arrays,
    then the score columns (which may read ``values``), and drop the
    ``_lf_*`` vote columns."""
    keys, values = _label_arrays(lfs)
    df = _append(df, {"keys": keys, "values": values, **scores})
    return df.select(*[c for c in df.columns if not c.startswith("_lf_")])


def _argmax(arr: Column, values: Optional[Sequence] = None
            ) -> Dict[str, Column]:
    """The k-class decision columns, in append order: ``pred_idx``, the
    0-based argmax of ``arr`` (lowest index on exact ties), and — when
    ``values`` is given — ``pred_value``, its member of ``values``."""
    out = {"pred_idx": (F.array_position(arr, F.array_max(arr)) - 1
                        ).cast("int")}
    if values is not None:
        out["pred_value"] = F.element_at(
            F.array(*[F.lit(str(v)) for v in values]), F.col("pred_idx") + 1)
    return out


def apply_lfs(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    values: Optional[Sequence] = None,
) -> DataFrame:
    """candidates -> labels(candidate_sid, keys[], values[]) with the
    0-shifted storage convention. Column LFs stay JVM-side; any pandas LFs
    are fused into a single mapInPandas pass. Pass a candidate class's
    ``values`` list for k-ary value-space mapping (reference
    labeler.py:436-465)."""
    df = _eval_lfs(candidates, lfs, values=values)
    keys, values = _label_arrays(lfs)
    return df.select(
        "candidate_sid", "candidate_type", "url",
        keys.alias("keys"), values.alias("values"),
    )


def _n_votes() -> Column:
    """Non-abstaining votes in the stored 0-shifted ``values`` array
    (ABSTAIN is stored 0)."""
    return F.size(F.filter("values", lambda v: v != 0))


def _majority_prob() -> Column:
    """Majority-vote P(true) over ``values``: the share of non-abstaining
    votes that are TRUE (stored 2 = user 1; stored 1 = user 0), 0.5 when
    every LF abstains."""
    n_votes = _n_votes()
    pos = F.size(F.filter("values", lambda v: v == 2))
    return F.when(n_votes > 0, pos / n_votes).otherwise(F.lit(0.5))


def with_marginals(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
) -> DataFrame:
    """Append keys/values label arrays AND the majority-vote ``prob`` column
    to the candidates frame itself — zero extra shuffle on the hot path
    (labels + marginals derive from the same projection)."""
    return _scored(_eval_lfs(candidates, lfs), lfs,
                   {"prob": _majority_prob()})


def label_keys(labels: DataFrame) -> DataFrame:
    """Global LabelKey table: key -> candidate_classes[] (reference
    labeler.py:362-375 rebuilds this on train)."""
    return (
        labels.select(F.explode("keys").alias("key"), "candidate_type")
        .groupBy("key")
        .agg(F.collect_set("candidate_type").alias("candidate_classes"))
    )


def majority_vote_marginals(labels: DataFrame) -> DataFrame:
    """Generative label model: per-candidate P(true) by majority vote over
    non-abstaining LFs (binary convention: user label 1 = TRUE, 0 = FALSE).

    Pure column arithmetic over the stored 0-shifted values array — a single
    narrow projection, no shuffle."""
    return labels.select(
        "candidate_sid", "candidate_type", "url",
        _majority_prob().alias("prob"),
        _n_votes().alias("n_votes"),
    )


def snorkel_label_model_marginals(labels: DataFrame) -> DataFrame:
    """Generative label model via snorkel's LabelModel when installed
    (the reference fits snorkel.labeling.model.LabelModel on the collected
    matrix, tests/e2e/test_e2e.py:317-320); without snorkel it warns and
    returns majority_vote_marginals. Collection is O(#candidates x #LFs) —
    the reference's own driver-side fit point."""
    try:
        import numpy as np
        from snorkel.labeling.model import LabelModel  # type: ignore
    except ImportError:
        warnings.warn("snorkel_label_model_marginals: snorkel is not "
                      "installed; falling back to majority vote",
                      UserWarning, stacklevel=2)
        return majority_vote_marginals(labels)

    rows = labels.select("candidate_sid", "values").collect()
    # stored 0-shifted -> snorkel convention (-1 = ABSTAIN)
    L = np.array([[v - 1 for v in r.values] for r in rows])
    model = LabelModel(cardinality=2, verbose=False)
    model.fit(L_train=L, n_epochs=300, seed=42)
    probs = model.predict_proba(L)[:, 1]
    spark = labels.sparkSession
    pdf = [(r.candidate_sid, float(p)) for r, p in zip(rows, probs)]
    marg = spark.createDataFrame(pdf, "candidate_sid string, prob double")
    return labels.select("candidate_sid", "candidate_type", "url") \
        .join(marg, "candidate_sid")


def triplet_label_model(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    clamp: float = 0.9999,
) -> Dict[str, Dict[str, float]]:
    """Accuracy-estimating generative label model, fit in ONE Spark
    aggregation pass — the pure-Spark replacement for snorkel's LabelModel
    (the reference fits it driver-side on the collected matrix,
    tests/e2e/test_e2e.py:317-320; majority vote is its fallback).

    Method of moments over LF-pair agreements (the matrix-completion /
    triplet construction snorkel's LabelModel and FlyingSquid are built on;
    Ratner et al., "Training Complex Models with Multi-Task Weak
    Supervision", and Fu et al., "Fast and Three-rious"): in ±1 space with
    latent Y, conditional independence gives E[li*lj] = ei*ej where
    ei = E[li*Y] is LF i's alignment, so for any triplet
    ei = sqrt(E_ij * E_ik / E_jk). Estimates average over all triplets and
    assume every LF beats random (ei > 0 — the standard sign resolution).

    Scale design: the moment matrix is ONE ``agg`` over the candidates
    (k*(k-1)/2 integer product-sums + pair counts — exact arithmetic, so
    the fit is bit-deterministic under any partitioning); everything after
    is O(k^3) driver-side float math. No per-candidate collect.

    Returns {lf: {"alignment", "accuracy", "weight"}} where accuracy =
    (1+e)/2 and weight = log(acc/(1-acc)) — the naive-Bayes log-likelihood
    ratio per vote used by triplet_marginals.
    """
    names = sorted(lfs.keys())
    if len(names) < 3:
        raise ValueError("triplet_label_model needs >= 3 LFs; "
                         "use majority_vote_marginals for fewer")
    df = _eval_lfs(candidates, lfs)
    pm = _pm_cols_k(names, 1)  # binary ±1 space: class 1 = stored 2 = TRUE
    row = df.agg(*_moment_aggs(pm, names, "")).collect()[0]
    return _triplet_from_moments(_moment_reader(row, ""), names, clamp)


def _moment_aggs(pm: Dict[str, Column], names: List[str],
                 pfx: str) -> List[Column]:
    """Pairwise vote-moment aggregate columns (product sum + co-vote count)
    for one ±1 vote space, name-prefixed so several spaces can share one
    ``agg`` pass."""
    aggs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            prod = pm[a] * pm[b]
            aggs.append(F.sum(prod).alias(f"m{pfx}__{a}__{b}"))
            aggs.append(F.sum(F.abs(prod)).alias(f"c{pfx}__{a}__{b}"))
    return aggs


def _moment_reader(row, pfx: str):
    def E(a: str, b: str) -> float:
        if a > b:
            a, b = b, a
        c = row[f"c{pfx}__{a}__{b}"] or 0
        return (row[f"m{pfx}__{a}__{b}"] / c) if c else 0.0
    return E


def _triplet_from_moments(E, names: List[str],
                          clamp: float) -> Dict[str, Dict[str, float]]:
    """Driver-side closed-form triplet estimates from a pairwise-moment
    reader ``E(a, b)`` — O(k^3) float math, shared by the binary and the
    one-vs-rest k-ary fits."""
    out: Dict[str, Dict[str, float]] = {}
    for i_name in names:
        others = [n for n in names if n != i_name]
        ests = []
        for j in range(len(others)):
            for k in range(j + 1, len(others)):
                e_jk = E(others[j], others[k])
                if e_jk == 0.0:
                    continue
                ests.append(math.sqrt(abs(
                    E(i_name, others[j]) * E(i_name, others[k]) / e_jk)))
        if ests:
            e_i = sum(ests) / len(ests)
        elif any(E(i_name, o) != 0.0 for o in others):
            # No usable triplet (every supporting pair has zero moment —
            # e.g. a dead third LF) but this LF does co-vote with others:
            # fall back to snorkel LabelModel's prior init, accuracy 0.7.
            e_i = 0.4
        else:
            e_i = 0.0  # never co-votes with anything: uninformative, weight 0
        e_i = min(max(e_i, 0.0), clamp)
        acc = (1.0 + e_i) / 2.0
        out[i_name] = {
            "alignment": e_i,
            "accuracy": acc,
            "weight": math.log(acc / (1.0 - acc)),
        }
    return out


def score_with_label_model(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    model: Dict[str, Dict[str, float]],
    prior: float = 0.5,
) -> DataFrame:
    """Distributed scoring under a FITTED label model: prob =
    sigmoid(sum_i li * w_i + logit(prior)) as pure column arithmetic with
    the k weights inlined as literals (a broadcast of floats). Abstains
    contribute 0, so an all-abstain candidate scores the prior, like
    majority_vote_marginals' 0.5. Appends keys/values label arrays too."""
    z = _log_odds(_pm_cols_k(sorted(lfs.keys()), 1), model, prior)
    return _scored(_eval_lfs(candidates, lfs), lfs,
                   {"prob": F.lit(1.0) / (F.lit(1.0) + F.exp(-z))})


def triplet_marginals(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    prior: float = 0.5,
    clamp: float = 0.9999,
) -> DataFrame:
    """Candidates + accuracy-WEIGHTED ``prob`` (and the keys/values label
    arrays), the drop-in upgrade of with_marginals for conflicting-LF
    corpora: fit triplet_label_model (one aggregation), then score
    distributed via score_with_label_model."""
    model = triplet_label_model(candidates, lfs, clamp=clamp)
    return score_with_label_model(candidates, lfs, model, prior=prior)


# --------------------------------------------------------------------------
# k-ary (multi-valued) label space — reference candidate_subclass values /
# cardinality (candidates/models/candidate.py:107-136) + the labeler's
# value-space mapping (supervision/labeler.py:436-465). Storage stays the
# same keys/values layout; stored votes live in {0 (ABSTAIN), 1, ..., k}.
# --------------------------------------------------------------------------


def majority_vote_marginals_k(
    labels: DataFrame,
    cardinality: int,
    values: Optional[Sequence] = None,
) -> DataFrame:
    """k-class generative label model by per-class majority vote: for each
    candidate, prob[c] = (#votes for class c) / (#non-abstain votes), the
    uniform 1/k when every LF abstains. ``pred_idx``/``pred_value`` is the
    argmax class with the lowest-index tiebreak — computed on the INTEGER
    vote counts, so the decision is exact under any partitioning.

    Pure column arithmetic over the stored values array (one narrow
    projection, no shuffle) — the k-ary analogue of
    majority_vote_marginals."""
    if values is not None and len(values) != cardinality:
        raise ValueError("Number of values must match cardinality.")
    def _eq(c):  # closure, NOT a default arg — a 2-arg lambda binds the index
        return lambda v: v == c + 1

    counts = F.array(*[
        F.size(F.filter("values", _eq(c))) for c in range(cardinality)
    ])
    n_votes = F.size(F.filter("values", lambda v: v != 0))
    probs = F.transform(
        counts,
        lambda n: F.when(n_votes > 0, n.cast("double") / n_votes)
                   .otherwise(F.lit(1.0 / cardinality)),
    )
    decision = _argmax(counts, values)
    out = labels.select(
        "candidate_sid", "candidate_type", "url",
        probs.alias("probs"),
        decision.pop("pred_idx").alias("pred_idx"),
        n_votes.alias("n_votes"),
    )
    return _append(out, decision)


def _pm_cols_k(names: List[str], c: int) -> Dict[str, Column]:
    """One-vs-rest ±1 vote columns for class index ``c`` from the 0-shifted
    ``_lf_*`` storage: stored c+1 -> +1, any other non-abstain class -> -1,
    ABSTAIN (0) -> 0. Binary votes are stored in {0, 1, 2}, so c = 1 is the
    binary ±1 space (TRUE -> +1, FALSE -> -1)."""
    return {
        n: F.when(F.col(f"_lf_{n}") == c + 1, F.lit(1))
            .when(F.col(f"_lf_{n}") != 0, F.lit(-1))
            .otherwise(F.lit(0))
        for n in names
    }


def _log_odds(pm: Dict[str, Column], model: Dict[str, Dict[str, float]],
              prior: float) -> Column:
    """z = logit(prior) + sum_i vote_i * w_i over the ±1 vote columns
    ``pm`` (in their sorted-LF order) with the fitted weights inlined as
    literals — the naive-Bayes log-odds of one (binary or one-vs-rest)
    class."""
    z = F.lit(math.log(prior / (1.0 - prior)))
    for n, vote in pm.items():
        z = z + vote.cast("double") * F.lit(model[n]["weight"])
    return z


def ovr_triplet_label_model(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    cardinality: int,
    values: Optional[Sequence] = None,
    clamp: float = 0.9999,
) -> Dict[int, Dict[str, Dict[str, float]]]:
    """k-class accuracy-estimating label model: one-vs-rest reduction of the
    binary triplet method of moments. For each class c the stored votes map
    to ±1 (vote == c -> +1, any other vote -> -1, abstain -> 0) and the
    binary estimator runs in that space; all k * #pairs moment sums are
    computed in a SINGLE Spark aggregation pass (exact integer arithmetic,
    bit-deterministic under any partitioning), then O(k * #lfs^3)
    driver-side float math.

    Returns {class_idx: {lf: {"alignment", "accuracy", "weight"}}}."""
    names = sorted(lfs.keys())
    if len(names) < 3:
        raise ValueError("ovr_triplet_label_model needs >= 3 LFs")
    if cardinality < 2:
        raise ValueError("cardinality must be >= 2")
    df = _eval_lfs(candidates, lfs, values=values)
    aggs: List[Column] = []
    for c in range(cardinality):
        aggs.extend(_moment_aggs(_pm_cols_k(names, c), names, str(c)))
    row = df.agg(*aggs).collect()[0]
    return {
        c: _triplet_from_moments(_moment_reader(row, str(c)), names, clamp)
        for c in range(cardinality)
    }


def score_with_label_model_k(
    candidates: DataFrame,
    lfs: Mapping[str, Union[Column, PandasLF]],
    model: Dict[int, Dict[str, Dict[str, float]]],
    values: Optional[Sequence] = None,
    prior: float = None,
) -> DataFrame:
    """Distributed k-class scoring under a fitted one-vs-rest model: per
    class c, z_c = logit(prior) + sum_i vote_{i,c} * w_{i,c} with the
    weights inlined as literals; ``probs`` is the normalized sigmoid vector
    (sigma(z_c) / sum_c sigma(z_c) — the standard OvR normalization) and
    ``pred_idx`` the argmax of z (lowest index on exact ties). Appends the
    keys/values label arrays like score_with_label_model."""
    names = sorted(lfs.keys())
    cardinality = len(model)
    if prior is None:
        prior = 1.0 / cardinality
    zs = F.array(*[_log_odds(_pm_cols_k(names, c), model[c], prior)
                   for c in range(cardinality)])
    sig = F.transform(zs, lambda z: F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    tot = F.aggregate(sig, F.lit(0.0), lambda a, x: a + x)
    probs = F.transform(sig, lambda s: s / tot)
    return _scored(_eval_lfs(candidates, lfs, values=values), lfs,
                   {"probs": probs, **_argmax(zs, values)})


def entity_level_prf1(
    predicted: DataFrame, gold: DataFrame, keys: List[str]
) -> Dict[str, float]:
    """Entity-level P/R/F1 via set ops on the key tuple (the engine's port of
    reference tests/shared/hardware_utils.py:71-131: TP/FP/FN on distinct
    entity tuples)."""
    p = predicted.select(*keys).distinct()
    g = gold.select(*keys).distinct()
    tp = p.intersect(g).count()
    fp = p.exceptAll(p.intersect(g)).count()
    fn = g.exceptAll(g.intersect(p)).count()
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1,
            "tp": float(tp), "fp": float(fp), "fn": float(fn)}
