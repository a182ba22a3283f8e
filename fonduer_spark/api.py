"""Reference-compatible API facade.

A user of the reference drives it with Parser / MentionExtractor /
CandidateExtractor / Featurizer / Labeler classes
(/root/reference/src/fonduer/__init__.py surface). This module mirrors those
names and call shapes over the engine's DataFrame stages so tutorial-style
code ports 1:1 — the constructor takes a SparkSession instead of a Postgres
session, ``apply`` takes/returns DataFrames instead of writing ORM rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .candidates_op import extract_candidates
from .featurize import feature_keys, featurize
from .labeling import apply_lfs, label_keys, majority_vote_marginals
from .mentions_op import MentionSpec, extract_mentions
from .parse import ParseConfig, contexts_of, parse_webpages
from .utils import camel_to_under


@dataclass(frozen=True)
class CandidateSpec:
    """A declared candidate class — the engine's stand-in for the
    reference's dynamically-generated ORM subclass (candidate_subclass,
    candidates/models/candidate.py:73-190): name + constituent mention
    types, plus the label space (``values``/``cardinality``) the labeler
    and label model operate in, and per-slot nullability."""

    name: str
    args: Tuple[str, ...]
    table_name: str
    cardinality: int
    values: Tuple
    nullables: Tuple[bool, ...]


_candidate_subclasses: Dict[str, Tuple[CandidateSpec, tuple]] = {}


def candidate_subclass(
    class_name: str,
    args: Sequence[str],
    table_name: Optional[str] = None,
    cardinality: Optional[int] = None,
    values: Optional[Sequence] = None,
    nullables: Optional[Sequence[bool]] = None,
) -> CandidateSpec:
    """Declare a candidate class — reference-parity validation of
    ``values``/``cardinality``/``nullables`` (candidate.py:107-136):
    defaults to binary [True, False]; explicit ``values`` fixes
    cardinality = len(values) with None protected and raw ints rejected;
    explicit ``cardinality`` alone fills values = range(k); re-declaring a
    name with an incompatible spec raises."""
    args = tuple(args)
    if table_name is None:
        table_name = camel_to_under(class_name)
    if cardinality is None and values is None:
        values = (True, False)
        cardinality = 2
    elif values is not None:
        if cardinality is not None and len(values) != cardinality:
            raise ValueError("Number of values must match cardinality.")
        if None in values:
            raise ValueError("`None` is a protected value.")
        # Note that bools are instances of ints in Python...
        if any(isinstance(v, int) and not isinstance(v, bool) for v in values):
            raise ValueError(
                "Default usage of values is consecutive integers."
                "Leave values unset if trying to define values as integers."
            )
        cardinality = len(values)
    else:
        values = tuple(range(cardinality))
    if nullables:
        if len(nullables) != len(args):
            raise ValueError("The number of nullables must match that of args.")
        nullables = tuple(bool(n) for n in nullables)
    else:
        nullables = (False,) * len(args)

    spec_key = (args, table_name, cardinality, tuple(values), nullables)
    if class_name in _candidate_subclasses:
        spec, key = _candidate_subclasses[class_name]
        if key == spec_key:
            return spec
        raise ValueError(
            f"Candidate subclass {class_name} already exists in memory "
            f"with incompatible specification: {key}"
        )
    spec = CandidateSpec(class_name, args, table_name, cardinality,
                         tuple(values), nullables)
    _candidate_subclasses[class_name] = (spec, spec_key)
    return spec


class Parser:
    """Parser(spark, structural=..., blacklist=..., flatten=..., ...) —
    reference parser/parser.py:44-105 call shape; ``apply(web_pages)``
    returns the unified contexts frame."""

    def __init__(self, spark: SparkSession, **cfg) -> None:
        self.spark = spark
        allowed = {f for f in ParseConfig.__dataclass_fields__}
        cfg = {k: tuple(v) if isinstance(v, list) else v
               for k, v in cfg.items() if k in allowed}
        self.cfg = ParseConfig(**cfg)

    def apply(self, web_pages: DataFrame) -> DataFrame:
        return parse_webpages(web_pages, self.cfg)

    @staticmethod
    def get_documents(parsed: DataFrame) -> DataFrame:
        return contexts_of(parsed, "document").orderBy("stable_id")

    @staticmethod
    def get_sentences(parsed: DataFrame) -> DataFrame:
        return contexts_of(parsed, "sentence").orderBy("stable_id")


class MentionExtractor:
    """MentionExtractor(spark, names, spaces, matchers) — reference
    candidates/mentions.py:360-451 shape; a (name, space, matcher) triple per
    mention class, extraction fused per sentence."""

    def __init__(self, spark: SparkSession, names: Sequence[str],
                 spaces: Sequence, matchers: Sequence) -> None:
        if not (len(names) == len(spaces) == len(matchers)):
            raise ValueError("names, spaces, matchers must align")
        self.spark = spark
        self.specs = [MentionSpec(n, s, m)
                      for n, s, m in zip(names, spaces, matchers)]

    def apply(self, sentences: DataFrame) -> DataFrame:
        return extract_mentions(sentences, self.specs)

    @staticmethod
    def get_mentions(mentions: DataFrame,
                     mention_type: Optional[str] = None) -> DataFrame:
        df = mentions
        if mention_type:
            df = df.where(F.col("mention_type") == mention_type)
        return df.orderBy("stable_id")


class CandidateExtractor:
    """CandidateExtractor(spark, candidate_types, throttlers=..., ...) —
    reference candidates/candidates.py:23-126 shape for binary relations."""

    def __init__(
        self,
        spark: SparkSession,
        candidate_types: Sequence,  # (name, type_a, type_b) | CandidateSpec
        throttlers: Optional[Sequence] = None,
        self_relations: bool = False,
        nested_relations: bool = False,
        symmetric_relations: bool = True,
        nullables: Optional[Sequence] = None,
    ) -> None:
        self.spark = spark
        spec_nullables: Dict[int, tuple] = {}
        self.types = []
        for idx, ct in enumerate(candidate_types):
            if isinstance(ct, CandidateSpec):
                if len(ct.args) != 2:
                    raise ValueError(
                        f"CandidateExtractor is binary; use "
                        f"extract_candidates_nary for {ct.name} "
                        f"({len(ct.args)} slots)")
                self.types.append((ct.name, ct.args[0], ct.args[1]))
                spec_nullables[idx] = tuple(ct.nullables)
            else:
                self.types.append(tuple(ct))
        self.throttlers = list(throttlers or [None] * len(self.types))
        if len(self.throttlers) != len(self.types):
            raise ValueError(
                "Provided different number of throttlers and candidate classes."
            )
        # per candidate class, a (bool, bool) like the reference
        # candidate_subclass nullables (candidate.py:100-102); a
        # CandidateSpec's declared nullables win over the default
        self.nullables = list(nullables or [(False, False)] * len(self.types))
        if len(self.nullables) != len(self.types):
            raise ValueError(
                "Provided different number of nullables and candidate classes."
            )
        if nullables is None:
            for idx, nls in spec_nullables.items():
                self.nullables[idx] = nls
        self.flags = dict(
            self_relations=self_relations,
            nested_relations=nested_relations,
            symmetric_relations=symmetric_relations,
        )

    def apply(self, mentions: DataFrame, split: int = 0) -> DataFrame:
        out = None
        for (name, ta, tb), thr, nls in zip(self.types, self.throttlers,
                                            self.nullables):
            kind = "column" if thr is None or _is_column_throttler(thr) \
                else "pandas"
            c = extract_candidates(
                mentions, name, ta, tb, throttler=thr, throttler_kind=kind,
                split=split, nullables=tuple(nls), **self.flags,
            )
            out = c if out is None else out.unionByName(c)
        return out

    @staticmethod
    def get_candidates(candidates: DataFrame,
                       candidate_type: Optional[str] = None,
                       split: Optional[int] = None) -> DataFrame:
        df = candidates
        if candidate_type:
            df = df.where(F.col("candidate_type") == candidate_type)
        if split is not None:
            df = df.where(F.col("split") == split)
        return df.orderBy("candidate_sid")


def _is_column_throttler(thr) -> bool:
    """Column throttlers take a DataFrame and return a Column; pandas
    throttlers take a pandas DataFrame and return a boolean Series. Column
    throttlers from candidates_op are plain module functions — detect via a
    marker attribute or signature convention (default: column)."""
    return getattr(thr, "throttler_kind", "column") == "column"


FEATURE_LIBS = ("textual", "lingual", "tabular", "structural", "visual")


class FeatureExtractor:
    """Feature-library selection + custom feature functions (reference
    features/feature_extractors.py:24-69 call shape): ``features`` names
    the built-in libraries to run, ``customize_feature_funcs`` are
    callables over the denormalized candidate row dict yielding feature
    names — executed inside the same Arrow batch as the built-ins."""

    def __init__(self, features: Sequence[str] = ("textual", "tabular",
                                                  "structural", "visual"),
                 customize_feature_funcs=()) -> None:
        if callable(customize_feature_funcs):
            customize_feature_funcs = [customize_feature_funcs]
        for f in features:
            if f not in FEATURE_LIBS:
                raise ValueError(f"Unrecognized feature type: {f}")
        self.libs = tuple(features)
        self.custom = tuple(customize_feature_funcs)


class Featurizer:
    """Featurizer(spark, feature_libs=[...] | feature_extractor=...) —
    reference features/featurizer.py:33-146 shape; pass a FeatureExtractor
    to select libraries and add custom feature functions."""

    def __init__(self, spark: SparkSession,
                 feature_libs: Sequence[str] = ("textual", "tabular",
                                                "structural"),
                 feature_extractor: Optional[FeatureExtractor] = None) -> None:
        self.spark = spark
        if feature_extractor is not None:
            self.libs = feature_extractor.libs
            self.custom = feature_extractor.custom
        else:
            self.libs = tuple(feature_libs)
            self.custom = ()

    def apply(self, candidates: DataFrame,
              sentences: Optional[DataFrame] = None,
              train: bool = False) -> DataFrame:
        feats = featurize(candidates, sentences, libs=self.libs,
                          custom=self.custom)
        if train:
            self.key_table = feature_keys(feats)
        return feats

    def get_keys(self) -> DataFrame:
        return self.key_table.orderBy("key")


class Labeler:
    """Labeler(spark) — reference supervision/labeler.py:47-115 shape;
    ``apply(candidates, lfs)`` returns the 0-shifted labels frame."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def apply(self, candidates: DataFrame, lfs: Dict,
              train: bool = False, values: Optional[Sequence] = None
              ) -> DataFrame:
        """``values`` (or a CandidateSpec) switches LF output mapping to
        the candidate class's k-ary value space (labeler.py:436-465)."""
        if isinstance(values, CandidateSpec):
            values = values.values
        labels = apply_lfs(candidates, lfs, values=values)
        if train:
            self.key_table = label_keys(labels)
        return labels

    def get_keys(self) -> DataFrame:
        return self.key_table.orderBy("key")

    @staticmethod
    def marginals(labels: DataFrame) -> DataFrame:
        return majority_vote_marginals(labels)


def _label_space(cardinality, values) -> Tuple[int, Optional[tuple], bool]:
    """The label space of a label or discriminative model: a CandidateSpec
    passed as ``cardinality`` lends its values; values must match the
    cardinality, which must be >= 2. Returns (cardinality, values tuple or
    None, binary) — binary is the default two-class space with no values,
    the one that keeps the sigmoid heads."""
    if isinstance(cardinality, CandidateSpec):
        values = cardinality.values
        cardinality = cardinality.cardinality
    if values is not None:
        if len(values) != cardinality:
            raise ValueError("Number of values must match cardinality.")
        values = tuple(values)
    if cardinality < 2:
        raise ValueError("cardinality must be >= 2")
    return cardinality, values, cardinality == 2 and values is None


class LabelModel:
    """snorkel LabelModel call shape (the reference drives
    snorkel.labeling.model.LabelModel directly after Labeler.apply,
    tests/e2e/test_e2e.py:317-320: fit -> predict_proba) over the engine's
    triplet method-of-moments estimator — fit is ONE Spark aggregation of
    the pairwise vote moments, predict_proba scores distributed with the
    fitted weights broadcast as literals.

    ``cardinality > 2`` (reference candidate_subclass values/cardinality,
    candidate.py:107-136) fits the one-vs-rest reduction — still one
    aggregation pass for all k classes' moments — and predict_proba returns
    a ``probs`` array plus ``pred_idx``/``pred_value``. Pass ``values`` (or
    a CandidateSpec) so LF outputs in value space map per the reference's
    labeler (supervision/labeler.py:436-465)."""

    def __init__(self, spark: SparkSession, cardinality: int = 2,
                 values: Optional[Sequence] = None) -> None:
        self.cardinality, self.values, self.binary = _label_space(
            cardinality, values)
        self.spark = spark
        self.model_: Optional[Dict] = None

    def fit(self, candidates: DataFrame, lfs: Dict) -> "LabelModel":
        from .labeling import ovr_triplet_label_model, triplet_label_model

        if self.binary:
            self.model_ = triplet_label_model(candidates, lfs)
        else:
            self.model_ = ovr_triplet_label_model(
                candidates, lfs, self.cardinality, values=self.values)
        self.lfs_ = dict(lfs)
        return self

    def predict_proba(self, candidates: DataFrame,
                      prior: float = None) -> DataFrame:
        from .labeling import score_with_label_model, score_with_label_model_k

        if self.model_ is None:
            raise ValueError("fit() before predict_proba()")
        if self.binary:
            return score_with_label_model(
                candidates, self.lfs_, self.model_,
                prior=0.5 if prior is None else prior)
        return score_with_label_model_k(
            candidates, self.lfs_, self.model_, values=self.values,
            prior=prior)

    def get_weights(self):
        """Per-LF estimated accuracies (snorkel's get_weights analogue);
        {lf: acc} when binary, {class_idx: {lf: acc}} when k-ary."""
        if self.model_ is None:
            raise ValueError("fit() before get_weights()")
        if self.binary:
            return {n: m["accuracy"] for n, m in self.model_.items()}
        return {c: {n: m["accuracy"] for n, m in per.items()}
                for c, per in self.model_.items()}


class DiscriminativeModel:
    """The reference's discriminative learning call shape (EmmentalModel +
    LogisticRegression/LSTM tasks, learning/task.py:59-219: the head is
    sized by candidate ``cardinality`` — ConcatLinear -> len(values)
    outputs with soft_cross_entropy) over the engine's driver-fit /
    distributed-score models.

    ``arch="logreg"`` fits on the sparse features frame
    (featurize() output); ``arch="sequence"`` fits on the marked token
    sequences (marked_slot_tokens() output). cardinality == 2 keeps the
    binary sigmoid heads (model_prob); cardinality k > 2 fits the softmax
    heads (train_logreg_k / train_sequence_model_k) and predict() appends
    ``logits``/``pred_idx``/``pred_value``. Pass a CandidateSpec as
    ``cardinality`` to inherit its values, mirroring LabelModel."""

    def __init__(self, spark: SparkSession, cardinality: int = 2,
                 values: Optional[Sequence] = None,
                 arch: str = "logreg") -> None:
        self.cardinality, values, self.binary = _label_space(
            cardinality, values)
        if arch not in ("logreg", "sequence"):
            raise ValueError(f"unknown arch {arch!r}: logreg | sequence")
        self.spark = spark
        self.values = None if values is None else tuple(str(v) for v in values)
        self.arch = arch
        self.weights_ = None
        self.bias_ = None

    def fit(self, inputs: DataFrame, marginals: DataFrame,
            **kw) -> "DiscriminativeModel":
        from . import learning as L

        if self.binary:
            fn = L.train_logreg if self.arch == "logreg" \
                else L.train_sequence_model
            self.weights_, self.bias_ = fn(inputs, marginals, **kw)
        else:
            fn = L.train_logreg_k if self.arch == "logreg" \
                else L.train_sequence_model_k
            self.weights_, self.bias_ = fn(inputs, marginals,
                                           self.cardinality, **kw)
        return self

    def predict(self, inputs: DataFrame) -> DataFrame:
        from . import learning as L

        if self.weights_ is None:
            raise ValueError("fit() before predict()")
        if self.binary:
            fn = L.score_with_model if self.arch == "logreg" \
                else L.score_sequences
            return fn(inputs, self.weights_, self.bias_)
        fn = L.score_with_model_k if self.arch == "logreg" \
            else L.score_sequences_k
        return fn(inputs, self.weights_, self.bias_,
                  values=list(self.values) if self.values else None)
