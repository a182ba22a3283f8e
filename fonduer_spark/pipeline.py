"""The flagship end-to-end KG-construction pipeline.

web_pages -> parse -> mentions -> candidates -> label -> triples, each stage
a DataFrame transform (SURVEY.md §7.1). The relation extracted is the
hardware-tutorial-style "(part, stg_temp_max)" binary relation over
row-aligned table cells — the same shape as the reference's e2e test
(/root/reference/tests/e2e/test_e2e.py) — whose gold output on the synthetic
corpus is reconstructible in pure SQL (corpus.gold_triples_sql).
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import cached
from .candidates_op import extract_candidates, same_row
from .corpus import PRED, load_docs
from .labeling import with_marginals
from .matchers import RegexMatchSpan
from .mention_spaces import MentionNgrams
from .mentions_op import MentionSpec, extract_mentions_fused
from .parse import ParseConfig, contexts_of, corpus_docs, parse_webpages
from .triples import materialize_triples

PART_RGX = r"PN\d{3}[A-C]"
TEMP_RGX = r"-?\d{1,3}"


class LazyStages(Mapping):
    """Read-only stage mapping with on-access construction (r07).

    kg_stages used to construct every stage DataFrame up front; since
    extract_candidates_auto probes its fused stage at call time,
    candidate construction runs a Spark job, so building unrequested
    stages would charge every caller for the parse pass even when it only
    reads e.g. ``mentions``. Access is memoized, so repeated ``st["x"]``
    returns the same DataFrame object (the unpersist contract callers
    rely on). ``items``/``values``/``get`` build through ``__getitem__``;
    iteration, ``len`` and ``in`` see only the names and build nothing.
    """

    def __init__(self, builders):
        self._builders = dict(builders)
        self._built = {}

    def __getitem__(self, key):
        if key not in self._built:
            self._built[key] = self._builders[key]()
        return self._built[key]

    def __contains__(self, key):
        return key in self._builders

    def __iter__(self):
        return iter(self._builders)

    def __len__(self):
        return len(self._builders)


def default_mention_specs() -> list:
    return [
        MentionSpec(
            "part",
            MentionNgrams(n_min=1, n_max=1),
            RegexMatchSpan(rgx=PART_RGX, ignore_case=False),
        ),
        MentionSpec(
            "temp",
            MentionNgrams(n_min=1, n_max=1),
            RegexMatchSpan(rgx=TEMP_RGX, ignore_case=False),
        ),
    ]


def default_lfs() -> Dict[str, object]:
    """Three column-expression LFs; majority vote selects positive temps.

    tmax rows vote (1,1,1) -> prob 1.0; tmin rows vote (0,0,1) -> prob 1/3.
    """
    # try_cast: a malformed value yields NULL (LF abstains) instead
    # of failing the job under ANSI mode
    obj_int = F.col("b_span_text").try_cast("int")
    return {
        "lf_temp_sign": F.when(obj_int > 0, 1).otherwise(0),
        "lf_in_range": (
            F.when((obj_int >= 50) & (obj_int <= 200), 1)
            .when(obj_int < 0, 0)
            .otherwise(-1)
        ),
        "lf_part_format": F.when(
            F.col("a_span_text").rlike(r"^PN\d{3}[A-C]$"), 1
        ).otherwise(-1),
    }


def scored_candidates(docs: DataFrame) -> DataFrame:
    """The flagship label stage over a (doc_id, text) frame: fused
    same-row (part, temp) candidates, hot documents routed through the join
    path (extract_candidates_auto), with majority-vote marginals over
    default_lfs appended (with_marginals, a pure projection).

    It reads the SLIM candidate variant (8 columns instead of 46): same
    rows, ~7x less pandas/Arrow transfer. structural=False skips
    xpath/sibling/ancestor attach entirely — the label/triple path never
    reads them, and the DOM walks are ~15% of the fused stage's CPU
    (measured at 32 cores). kg_stages' wide ``candidates`` keep the full
    structural parse for featurization queries."""
    from .candidates_fused import extract_candidates_auto, same_row_py

    return with_marginals(
        extract_candidates_auto(
            docs, default_mention_specs(), "part_temp", "part", "temp",
            py_throttler=same_row_py, column_throttler=same_row, slim=True,
            parse_cfg=ParseConfig(structural=False)),
        default_lfs())


def kg_stages(
    spark: SparkSession,
    sf_dir: str,
    max_docs: Optional[int] = None,
    replicate: int = 1,
) -> Mapping[str, DataFrame]:
    """Build every stage lazily; returns them as a LazyStages mapping.

    ``candidates`` is the fused path: the candidate product is
    document-local, so render+parse+mentions+product+filters run in ONE
    flatMap-style Python stage — zero shuffles before the triple
    aggregation. Hot docs above the per-doc mention cap route to the
    relational join path (candidates_op.extract_candidates, explicit
    salting + AQE skew-join), never dropped. ``scored`` is
    scored_candidates: majority vote over default_lfs on the slim
    candidates (a pure projection, and what the gold oracle assumes).
    The join path and the weighted label model are public calls of their
    own (extract_candidates over ``mentions``, labeling.triplet_marginals).
    """
    from .candidates_fused import extract_candidates_auto, same_row_py

    docs = load_docs(spark, sf_dir, max_docs, replicate)
    # one document source: every parse below renders each page in its own
    # Python stage, so no stage reads a pre-rendered pages frame
    parsed = parse_webpages(docs, source=corpus_docs())
    sentences = contexts_of(parsed, "sentence")

    # mentions as a standalone frame (fused render+parse+extract — one
    # python stage); cached because callers read it more than once. Only
    # constructed if a caller accesses it.
    def build_mentions() -> DataFrame:
        return cached(extract_mentions_fused(docs, default_mention_specs()))

    # extract_candidates_auto materializes the fused stage at stage-
    # construction time and the usual zero-overflow case skips the empty
    # join-path subtree — which is why stage construction is lazy
    # (LazyStages): callers that never touch candidates never pay the probe.
    def build_candidates() -> DataFrame:
        return extract_candidates_auto(
            docs, default_mention_specs(), "part_temp", "part", "temp",
            py_throttler=same_row_py, column_throttler=same_row)

    st = LazyStages({
        "parsed": lambda: parsed,
        "sentences": lambda: sentences,
        "mentions": build_mentions,
        "candidates": build_candidates,
        "scored": lambda: scored_candidates(docs),
        "triples": lambda: materialize_triples(
            st["scored"], pred=PRED, prob_threshold=0.5),
    })
    return st


def kg_triples(
    spark: SparkSession, sf_dir: str, max_docs: Optional[int] = None
) -> DataFrame:
    """The flagship query: distinct (subj, pred, obj) triples, sorted."""
    return (
        kg_stages(spark, sf_dir, max_docs)["triples"]
        .select("subj", "pred", "obj")
        .orderBy("subj", "obj")
    )


def run_checkpointed(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    max_docs: Optional[int] = None,
    replicate: int = 1,
):
    """Materialize the pipeline through snapshot-committed stage tables with
    per-stage lineage rows; re-running with the same inputs resumes from the
    last committed snapshot (kill -> rerun -> identical outputs).

    Returns (stage_name -> DataFrame read from its committed snapshot,
    checkpointed-pipeline object).
    """
    from .checkpoints import CheckpointedPipeline
    from .featurize import featurize
    from .linking import canonical_entities

    signature = f"sf={sf_dir};max={max_docs};rep={replicate};v=1"
    cp = CheckpointedPipeline(spark, root, signature)

    docs = load_docs(spark, sf_dir, max_docs, replicate)
    mentions = cp.stage(
        "mentions",
        lambda: extract_mentions_fused(docs, default_mention_specs()),
    )
    candidates = cp.stage(
        "candidates",
        lambda: extract_candidates(
            mentions, "part_temp", "part", "temp",
            throttler=same_row, throttler_kind="column",
        ),
    )
    scored = cp.stage(
        "scored", lambda: with_marginals(candidates, default_lfs())
    )
    features = cp.stage("features", lambda: featurize(candidates))
    entities = cp.stage("entities", lambda: canonical_entities(mentions))
    triples = cp.stage(
        "triples",
        lambda: materialize_triples(scored, pred=PRED, prob_threshold=0.5),
        partition_by=["pred"],  # partitioned graph table (north_rule)
    )
    cp.checkpoints()
    return {
        "mentions": mentions,
        "candidates": candidates,
        "scored": scored,
        "features": features,
        "entities": entities,
        "triples": triples,
    }, cp
