"""The benchmark's workloads: what each runs, its oracle, its traced form.

Every workload gets its input from ``inputs`` (seeded), runs through the
library's public entry points and is checked against an oracle computed
before timing starts. ``run`` is the measured call; ``traced`` does the
same work as a chain of calls into each module's public functions, each
layer's output persisted and materialized under its own job group and
span, so that stage metrics can be attributed to a module.
"""

from __future__ import annotations

import functools
import math
import multiprocessing
import os
import re
from dataclasses import dataclass
from typing import Optional

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
from fonduer_spark.candidates_fused import (OVERFLOW_TYPE,
                                            extract_candidates_auto,
                                            extract_candidates_fused,
                                            same_row_py)
from fonduer_spark.candidates_op import extract_candidates, same_row
from fonduer_spark.corpus import load_docs, make_web_pages
from fonduer_spark.featurize import featurize
from fonduer_spark.functions import dedup as dd
from fonduer_spark.labeling import with_marginals
from fonduer_spark.mentions_op import extract_mentions_fused
from fonduer_spark.parse import ParseConfig, contexts_of, parse_webpages
from fonduer_spark.pipeline import default_lfs, default_mention_specs
from fonduer_spark.triples import materialize_triples_multi
from perfbench.inputs import (HotRender, make_documents, pick_hot_doc,
                              write_documents)
from perfbench.replay import kernel_candidates

MENTION_CAP = 400  # max_mentions_per_doc of the hot-document workload


@dataclass
class Case:
    """One seeded input of a workload."""
    seed: int
    sf_dir: str
    docs: pd.DataFrame
    hot_id: Optional[int] = None

    @property
    def n_docs(self) -> int:
        return len(self.docs)


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def normalize(cols, rows) -> list:
    """Order-insensitive rows: columns by name, then sorted row tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def spark_rows(df) -> list:
    return normalize(df.columns, [tuple(r) for r in df.collect()])


def materialized(sql: str, ctes) -> str:
    """``sql`` with the named CTEs marked MATERIALIZED. DuckDB inlines a CTE
    at every reference by default, so a CTE read three times is computed
    three times; the hint changes the plan, not the result."""
    for name in ctes:
        sql, n = re.subn(rf"\b{name} AS \(", f"{name} AS MATERIALIZED (", sql,
                         count=1)
        if n != 1:
            raise ValueError(f"no CTE {name!r} in the oracle query")
    return sql


def oracle_rows(sf_dir: str, sql: str) -> list:
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet")
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        rel = con.sql(sql)
        return normalize(rel.columns, rel.fetchall())
    finally:
        con.close()


class Workload:
    name = ""
    n_docs = 0
    # unmeasured runs between the set-up and the measured window
    warmup_runs = 0
    # whether the per-document kernel runs, and how the replay parses
    kernel = True
    structural = True
    slim = False
    cap = 10_000  # the fused stage's max_mentions_per_doc

    def make_case(self, seed: int, work_dir: str) -> Case:
        docs = make_documents(seed, self.n_docs)
        sf_dir = write_documents(docs, os.path.join(work_dir, self.name))
        return Case(seed, sf_dir, docs)

    def expected(self, case: Case):
        """The oracle's output, computed without Spark."""
        raise NotImplementedError

    def run(self, spark, case: Case):
        raise NotImplementedError

    def traced(self, spark, case: Case, ledger, tracer):
        """Returns (output, counters)."""
        raise NotImplementedError

    def render(self, case: Case):
        return None

    def replay_docs(self, case: Case, n: int) -> list:
        """The first ``n`` documents by id (the hot one first, if any)."""
        rows = list(zip(case.docs["doc_id"].astype(int), case.docs["text"]))
        if case.hot_id is not None:
            rows.sort(key=lambda r: r[0] != case.hot_id)
        return rows[:n]


class _QueryWorkload(Workload):
    """A driver query from ``__spark_entry__.queries()``, checked against
    ``__spark_entry__.oracle_sql()`` of the same name."""
    query = ""
    materialize = ()  # CTEs of the oracle query to compute once

    def expected(self, case):
        sql = materialized(entry.oracle_sql()[self.query], self.materialize)
        return oracle_rows(case.sf_dir, sql)

    def run(self, spark, case):
        return spark_rows(entry.queries()[self.query](spark, case.sf_dir))


def _kb_docs(spark, case, ledger, tracer):
    with tracer.span("corpus.load_docs"), ledger.layer("corpus.load_docs"):
        docs = load_docs(spark, case.sf_dir).persist()
        docs.count()
    return docs


def _auto_candidates(docs, ledger, tracer, **kw):
    """kg_stages' candidate call, materialized; returns (frame, docs out)."""
    with tracer.span("candidates_fused.extract_candidates_auto"), \
            ledger.layer("candidates_fused"):
        cands = extract_candidates_auto(
            docs, default_mention_specs(), "part_temp", "part", "temp",
            py_throttler=same_row_py, column_throttler=same_row,
            probe="eager", **kw)
        docs_out = cands.agg(F.countDistinct("url")).first()[0]
    return cands, docs_out


class KbBuild(_QueryWorkload):
    """Both relations of the KB (``kg_triples_all``) over sf0.1-style docs:
    the slim per-document kernel, labelling and triples."""
    name, query, n_docs = "kb_build", "kg_triples_all", 3000
    structural, slim = False, True

    def traced(self, spark, case, ledger, tracer):
        docs = _kb_docs(spark, case, ledger, tracer)
        cands, docs_out = _auto_candidates(
            docs, ledger, tracer, slim=True,
            parse_cfg=ParseConfig(structural=False))
        with tracer.span("labeling.with_marginals"), ledger.layer("labeling"):
            scored = with_marginals(cands, default_lfs()).persist()
            scored.count()
        # the two rules of __spark_entry__.q_kg_triples_all
        obj_int = F.col("b_span_text").try_cast("int")
        rules = [
            ("stg_temp_max", F.col("prob") >= 0.5),
            ("stg_temp_min", (F.col("prob") < 0.5) & (obj_int < 0)),
        ]
        with tracer.span("triples.materialize_triples_multi"), \
                ledger.layer("triples"):
            out = spark_rows(materialize_triples_multi(scored, rules)
                             .select("subj", "pred", "obj"))
        return out, {"mentions_op.docs_out": docs_out}


class KbFeatures(_QueryWorkload):
    """The feature census (``kg_features``): the full structural parse
    twice (wide candidates, and ``parse_webpages`` for all contexts), then
    the Python feature libraries and vocabulary joins."""
    name, query, n_docs = "kb_features", "kg_features", 200

    def traced(self, spark, case, ledger, tracer):
        docs = _kb_docs(spark, case, ledger, tracer)
        cands, docs_out = _auto_candidates(docs, ledger, tracer)
        with tracer.span("parse.parse_webpages"), ledger.layer("parse"):
            sentences = contexts_of(
                parse_webpages(make_web_pages(spark, case.sf_dir)),
                "sentence").persist()
            sentences.count()
        with tracer.span("featurize.featurize"), ledger.layer("featurize"):
            feats = featurize(cands, sentences).persist()
            n_cand, n_keys = feats.agg(
                F.count(F.lit(1)), F.sum(F.size("keys"))).first()
            out = spark_rows(entry._family_census(feats))
        return out, {
            "mentions_op.docs_out": docs_out,
            "featurize.keys_per_candidate": n_keys / max(n_cand, 1),
        }


class KbHotdoc(Workload):
    """``extract_candidates_auto`` at a 400-mention cap over 1024 docs, one
    of which (seed-chosen) carries its tables 25 times: overflow routing
    and the salted join of ``candidates_op``. Checked against the fused
    stage's per-document kernel run in the driver with no cap."""
    name, n_docs = "kb_hotdoc", 1024
    cap = MENTION_CAP

    def make_case(self, seed, work_dir):
        case = super().make_case(seed, work_dir)
        case.hot_id = pick_hot_doc(seed, case.docs)
        return case

    def render(self, case):
        return HotRender(case.hot_id)

    def expected(self, case):
        docs = list(zip(case.docs["doc_id"].astype(int), case.docs["text"]))
        kernel = functools.partial(kernel_candidates, self.render(case))
        with multiprocessing.get_context("fork").Pool(
                len(os.sched_getaffinity(0))) as pool:
            per_doc = pool.map(kernel, docs, chunksize=16)
            pool.close()
            pool.join()
        # the check means something only if the hot document overflows
        n_hot = max(n for n, _ in per_doc)
        if n_hot <= MENTION_CAP:
            raise RuntimeError(f"hot document {case.hot_id} has only {n_hot} "
                               f"mentions, not above the cap {MENTION_CAP}")
        return sorted(sid for _, ids in per_doc for sid in ids)

    def run(self, spark, case):
        out = extract_candidates_auto(
            load_docs(spark, case.sf_dir), default_mention_specs(),
            "part_temp", "part", "temp", py_throttler=same_row_py,
            column_throttler=same_row, render=self.render(case),
            max_mentions_per_doc=MENTION_CAP)
        return sorted(r[0] for r in out.select("candidate_sid").collect())

    def traced(self, spark, case, ledger, tracer):
        """extract_candidates_auto's composition, one public call per layer:
        the fused stage with its cap, the overflow documents' mentions, and
        their salted relational product."""
        docs = _kb_docs(spark, case, ledger, tracer)
        render = self.render(case)
        with tracer.span("candidates_fused.extract_candidates_fused"), \
                ledger.layer("candidates_fused"):
            fused = extract_candidates_fused(
                docs, default_mention_specs(), "part_temp", "part", "temp",
                throttler=same_row_py, render=render,
                max_mentions_per_doc=MENTION_CAP).persist()
            docs_out = fused.agg(F.countDistinct("url")).first()[0]
            is_over = F.col("candidate_type") == OVERFLOW_TYPE
            over_ids = [int(r[0].rsplit("d", 1)[1]) for r in
                        fused.where(is_over).select("url").collect()]
            normal = [r[0] for r in
                      fused.where(~is_over).select("candidate_sid").collect()]
        with tracer.span("mentions_op.extract_mentions_fused"), \
                ledger.layer("mentions_op"):
            mentions = extract_mentions_fused(
                docs.where(F.col("doc_id").isin(over_ids)),
                default_mention_specs(), render=render).persist()
            mentions.count()
        with tracer.span("candidates_op.extract_candidates"), \
                ledger.layer("candidates_op"):
            joined = extract_candidates(
                mentions, "part_temp", "part", "temp", throttler=same_row,
                throttler_kind="column", salt_buckets=8)
            routed = [r[0] for r in joined.select("candidate_sid").collect()]
        return sorted(normal + routed), {
            "mentions_op.docs_out": docs_out,
            "candidates_fused.overflow_docs": len(over_ids),
        }


class NearDup(_QueryWorkload):
    """Near-duplicate removal (``dedup_keep``): MinHash bands, in-bucket
    verify and connected components; no HTML parse at all."""
    name, query, n_docs = "near_dup", "dedup_keep", 2000
    warmup_runs = 1  # the second run still pays for JIT compilation
    kernel = False
    # the shingle lists and signatures are read three times each; computed
    # once, the oracle takes ~4 s instead of ~40 s at 2000 docs
    materialize = ("sh", "sig", "e")

    def traced(self, spark, case, ledger, tracer):
        # the parameters of __spark_entry__.q_dedup_keep
        kw = dict(k=16, bands=8, shingle_n=3)
        docs = entry._docs(spark, case.sf_dir)
        with tracer.span("functions.dedup.lsh_verified_pairs"), \
                ledger.layer("functions.dedup"):
            band_pairs = dd.minhash_lsh_pairs(docs, **kw).count()
            verified = dd.lsh_verified_pairs(docs, threshold=0.1, **kw).persist()
            n_verified = verified.count()
        # near_dup_keep re-derives the verified pairs with the same plan, so
        # the cache above serves them and this layer is the closure itself
        with tracer.span("linking.connected_components"), \
                ledger.layer("linking"):
            out = spark_rows(dd.near_dup_keep(docs, threshold=0.1, **kw))
        return out, {
            "functions.dedup.band_pairs": band_pairs,
            "functions.dedup.verified_pairs": n_verified,
            "functions.dedup.verify_yield": n_verified / max(band_pairs, 1),
        }


WORKLOADS = {w.name: w for w in (KbBuild(), KbFeatures(), KbHotdoc(),
                                 NearDup())}
