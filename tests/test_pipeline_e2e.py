"""End-to-end pipeline vs the DuckDB-reconstructed gold + idempotence
(the engine's analogue of reference tests/e2e/test_e2e.py and
test_incremental.py re-run determinism)."""

import duckdb
import pytest

from fonduer_spark.corpus import gold_triples_sql
from fonduer_spark.pipeline import kg_stages

SF = "/root/testdata/sf0.001"
MAX_DOCS = 60


def gold():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * "
            f"FROM '{SF}/documents.parquet'")
    return {tuple(r) for r in con.sql(gold_triples_sql(MAX_DOCS)).fetchall()}


@pytest.fixture(scope="module")
def stages(spark):
    st = kg_stages(spark, SF, max_docs=MAX_DOCS)
    yield st
    st["mentions"].unpersist()


def test_oracle_url_matches_url_of():
    """The oracle's url formula is corpus.url_of, past six digits too
    (lpad would truncate 1000000 to d100000, doc 100000's url)."""
    import __spark_entry__ as E
    from fonduer_spark.corpus import url_of

    ids = [0, 999_999, 10**6, 12_345_678]
    got = duckdb.sql(f"SELECT {E._url_sql('i')} FROM unnest({ids}) t(i) "
                     f"ORDER BY i").fetchall()
    assert [u for (u,) in got] == [url_of(i) for i in ids]


def test_triples_match_gold_exactly(spark, stages):
    got = {(r.subj, r.pred, r.obj)
           for r in stages["triples"].select("subj", "pred", "obj").collect()}
    assert got == gold()


def test_rerun_idempotence(spark, stages):
    st2 = kg_stages(spark, SF, max_docs=MAX_DOCS)
    a = sorted((r.subj, r.obj) for r in stages["triples"].collect())
    b = sorted((r.subj, r.obj) for r in st2["triples"].collect())
    st2["mentions"].unpersist()
    assert a == b


def test_mention_stable_ids_deterministic(spark, stages):
    m = stages["mentions"].orderBy("stable_id").limit(5).collect()
    sids = [r.stable_id for r in m]
    assert sids == sorted(sids)
    for r in m:
        assert r.stable_id.startswith(r.url + "::span_mention:")


def test_candidate_prob_separates_min_max(spark, stages):
    scored = stages["scored"].select("b_span_text", "prob").collect()
    for r in scored:
        if int(r.b_span_text) > 0:
            assert r.prob >= 0.5
        else:
            assert r.prob < 0.5


def test_parse_error_isolation(spark):
    from fonduer_spark.parse import PARSE_ERROR_TYPE, parse_webpages

    bad = spark.createDataFrame(
        [("ok", bytearray(b"<html><body><p>fine.</p></body></html>")),
         ("bad", bytearray(b"<td>orphan cell"))],
        "url string, html binary")
    parsed = parse_webpages(bad)
    errs = parsed.where(parsed.ctx_type == PARSE_ERROR_TYPE).collect()
    assert [e.url for e in errs] == ["bad"]
    ok_sents = parsed.where(
        (parsed.ctx_type == "sentence") & (parsed.url == "ok")).count()
    assert ok_sents == 1
