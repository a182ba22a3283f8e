"""P7/P8 — entity canonicalization + triple materialization.

New functionality mandated by the KG-construction north rule (not in the
reference, whose pipeline stops at classified candidates): canonicalize
mention surface forms into entities, then materialize
(subj, pred, obj, prob, provenance) rows into a partitioned graph table.

Round-1 canonicalization: deterministic surface normalization (upper-case,
whitespace collapse). MinHash-LSH + connected-components canonicalization
lives in functions/dedup.py and linking.py and can be swapped in via the
``canonicalize`` argument.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_surface(col: Column) -> Column:
    """Canonical entity key: trimmed, whitespace-collapsed, upper-cased."""
    return F.upper(F.regexp_replace(F.trim(col), r"\s+", " "))


def materialize_triples_multi(
    candidates_with_prob: DataFrame,
    rules,
    canonicalize: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """Materialize SEVERAL relations from ONE scored candidate set in one
    pass: ``rules`` is an ordered list of (pred_name, condition Column);
    each candidate takes the first matching pred (non-matching rows drop).

    The point at scale: the scored frame (the expensive parse+extract+label
    lineage) is scanned once and the single groupBy carries the pred column
    as an extra key — versus re-deriving the pipeline per relation.
    """
    canon = canonicalize or normalize_surface
    pred = None
    for name, cond in rules:
        pred = (F.when(cond, F.lit(name)) if pred is None
                else pred.when(cond, F.lit(name)))
    return (
        candidates_with_prob
        .withColumn("pred", pred)
        .where(F.col("pred").isNotNull())
        .select(
            canon(F.col("a_span_text")).alias("subj"),
            "pred",
            canon(F.col("b_span_text")).alias("obj"),
            F.col("prob"),
            F.col("candidate_sid"),
            F.col("url"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.max("prob").alias("prob"),
            F.count(F.lit(1)).alias("n_provenance"),
            F.slice(F.collect_list("candidate_sid"), 1, 16).alias("provenance"),
        )
    )


def materialize_triples(
    candidates_with_prob: DataFrame,
    pred: str,
    prob_threshold: float = 0.5,
    canonicalize: Optional[Callable[[Column], Column]] = None,
) -> DataFrame:
    """candidates (a_* subj mention, b_* obj mention, prob) -> triples of
    one relation: materialize_triples_multi with the single rule
    ``(pred, prob >= prob_threshold)``.

    Output grain: one row per (subj, pred, obj) with max prob and one
    provenance candidate_sid per source url collected into an array —
    aggregation is a single groupBy on the canonical triple key.
    """
    return materialize_triples_multi(
        candidates_with_prob, [(pred, F.col("prob") >= prob_threshold)],
        canonicalize)
