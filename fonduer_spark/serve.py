"""Serving lifecycle: classify a single document end-to-end, session-free.

The reference packages the pipeline for MLflow serving as a per-document
chain — preprocessor -> ParserUDF -> MentionExtractorUDF ->
CandidateExtractorUDF -> featurize-or-label -> classify — with no database
(/root/reference/src/fonduer/packaging/fonduer_model.py:48-173). This module
is the engine's equivalent: the same leaf functions the Spark stages use,
composed for one document with no SparkSession — what an online scorer
deploys next to the batch pipeline, guaranteed consistent because it IS the
batch code path.
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, Mapping, Optional, Sequence, Tuple

from .candidates_fused import PyThrottler, _doc_candidates, same_row_py
from .mentions_op import MentionSpec, mentions_kernel
from .parse import ParseConfig


class FonduerPipelineModel:
    """One-document scorer mirroring the reference FonduerModel lifecycle.

    ``lfs``: name -> python fn(candidate_row_dict) -> int in {-1, 0, 1}.
    ``classify(url, html)`` returns (subj, pred, obj, prob) tuples.
    """

    def __init__(
        self,
        specs: Sequence[MentionSpec],
        candidate_type: str,
        type_a: str,
        type_b: str,
        lfs: Mapping[str, Callable[[dict], int]],
        pred: str,
        throttler: Optional[PyThrottler] = same_row_py,
        parse_cfg: Optional[ParseConfig] = None,
        prob_threshold: float = 0.5,
    ) -> None:
        self.specs = list(specs)
        self.candidate_type = candidate_type
        self.type_a, self.type_b = type_a, type_b
        self.lfs = dict(lfs)
        self.pred = pred
        self.throttler = throttler
        self.cfg = parse_cfg or ParseConfig()
        self.prob_threshold = prob_threshold
        self._lp = self.cfg.make_lingual_parser()
        self._kernel = mentions_kernel(self.specs, self.cfg)

    def classify(self, url: str, html: str) -> List[Tuple[str, str, str, float]]:
        """Score one page; raises when it fails to parse (the batch stages
        emit a marker row instead — here the caller gets the error)."""
        by_type = self._kernel(url, html, self._lp)
        cands: List[dict] = []
        _doc_candidates(
            by_type, self.candidate_type, self.type_a, self.type_b,
            self.throttler, False, False, True, 0, cands,
        )
        out: Dict[Tuple[str, str, str], float] = {}
        for c in cands:
            votes = [self.lfs[k](c) for k in sorted(self.lfs)]
            non_abstain = [v for v in votes if v != -1]
            prob = (sum(1 for v in non_abstain if v == 1) / len(non_abstain)
                    if non_abstain else 0.5)
            if prob >= self.prob_threshold:
                key = (
                    c["a_span_text"].strip().upper(), self.pred,
                    c["b_span_text"].strip().upper(),
                )
                out[key] = max(out.get(key, 0.0), prob)
        return sorted((s, p, o, pr) for (s, p, o), pr in out.items())


def save_model(model: FonduerPipelineModel, path: str) -> None:
    """Persist a serving model to a directory — the engine's
    fonduer_model.save_model (packaging/fonduer_model.py:235-346): the
    mention specs, candidate config and LFs serialize via cloudpickle
    (pyspark's vendored fork, so closures and lambdas survive — the same
    serializer every Spark python task already depends on), next to a
    meta.json the loader validates."""
    import json
    import os

    from pyspark import cloudpickle

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "model.pkl"), "wb") as f:
        cloudpickle.dump(model, f)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"engine": "fonduer_spark", "format": 1,
                   "candidate_type": model.candidate_type,
                   "pred": model.pred}, f)


def load_model(path: str) -> FonduerPipelineModel:
    """Load a model saved by save_model (fonduer_model._load_pyfunc)."""
    import json
    import os

    from pyspark import cloudpickle

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("engine") != "fonduer_spark":
        raise ValueError(f"not a fonduer_spark model: {meta}")
    with open(os.path.join(path, "model.pkl"), "rb") as f:
        return cloudpickle.load(f)


# characters Spark's string -> int cast trims: <= 0x20 and ISO controls
_SPARK_TRIM = "".join(map(chr, [*range(0x21), *range(0x7F, 0xA0)]))
_ASCII_INT = re.compile(r"[+-]?[0-9]+")


def build_default_model() -> FonduerPipelineModel:
    """The flagship relation as a serving model — the same LFs as
    pipeline.default_lfs, expressed as python fns over the candidate row."""
    from .corpus import PRED
    from .pipeline import default_mention_specs

    part_rgx = re.compile(r"^PN\d{3}[A-C]$", re.ASCII)  # Java's \d is ASCII

    def _int(c):
        # exactly what Spark's try_cast("int") accepts (pipeline.default_lfs):
        # ASCII digits, an optional sign, trimmed ASCII/ISO control
        # whitespace, int32 range; anything else -> None (abstain)
        s = (c["b_span_text"] or "").strip(_SPARK_TRIM)
        if not _ASCII_INT.fullmatch(s):
            return None
        v = int(s)
        return v if -2**31 <= v < 2**31 else None

    def lf_temp_sign(c):
        v = _int(c)
        return 0 if v is None else (1 if v > 0 else 0)

    def lf_in_range(c):
        v = _int(c)
        if v is None:
            return -1
        if 50 <= v <= 200:
            return 1
        return 0 if v < 0 else -1

    def lf_part_format(c):
        return 1 if part_rgx.match(c["a_span_text"] or "") else -1

    return FonduerPipelineModel(
        default_mention_specs(), "part_temp", "part", "temp",
        {"lf_temp_sign": lf_temp_sign, "lf_in_range": lf_in_range,
         "lf_part_format": lf_part_format},
        pred=PRED,
    )
