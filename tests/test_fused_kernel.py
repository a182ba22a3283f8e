"""One per-document kernel (mentions_op.doc_mentions) behind the fused,
streaming and serving entry points, and its one parse-failure policy: a
failed document becomes a PARSE_ERROR_TYPE marker row in the batch stages
and an exception in serving — never a silent drop."""

import pytest
from pyspark.sql import functions as F

from fonduer_spark.candidates_fused import (
    CANDIDATE_COLUMNS,
    OVERFLOW_TYPE,
    extract_candidates_auto,
    extract_candidates_fused,
    same_row_py,
)
from fonduer_spark.candidates_op import same_row
from fonduer_spark.corpus import load_docs, make_web_pages, render_page, url_of
from fonduer_spark.mentions_op import (
    PARSE_ERROR_TYPE,
    extract_mentions_fused,
)
from fonduer_spark.parse import corpus_docs, parse_webpages
from fonduer_spark.pipeline import LazyStages, default_lfs, default_mention_specs
from fonduer_spark.serve import build_default_model

SF = "/root/testdata/sf0.001"
BAD = 2  # doc id whose page is replaced by a malformed one
MALFORMED = "<td>orphan cell"  # a cell outside any table: the parse raises
MENTION_KEY = ("mention_type", "stable_id", "sentence_sid", "char_start",
               "char_end", "word_start", "word_end", "span_text", "emit_seq",
               "table_sid", "row_start", "row_end")


def _make_bad_render():
    # nested, so cloudpickle ships it by value to the Python workers
    def render(i, text):
        return MALFORMED if int(i) == BAD else render_page(int(i), text)
    return render


_bad_render = _make_bad_render()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _split(df, type_col):
    """(marker rows, other rows) of a fused stage's output."""
    is_err = F.col(type_col) == PARSE_ERROR_TYPE
    return df.where(is_err).collect(), df.where(~is_err)


@pytest.fixture(scope="module")
def docs(spark):
    return load_docs(spark, SF, max_docs=6)


@pytest.fixture(scope="module")
def good_docs(docs):
    return docs.where(F.col("doc_id") != BAD)


def _candidates(frame, fn, **kw):
    return fn(frame, default_mention_specs(), "part_temp", "part", "temp",
              **kw)


# -- the failure policy at every entry point ---------------------------------
def test_mentions_fused_marks_failed_doc(docs, good_docs):
    errs, good = _split(
        extract_mentions_fused(docs, default_mention_specs(),
                               render=_bad_render), "mention_type")
    assert [(e.url, e.stable_id) for e in errs] == [(url_of(BAD), None)]
    want = extract_mentions_fused(good_docs, default_mention_specs())
    got = _rows(good, MENTION_KEY)
    assert got and got == _rows(want, MENTION_KEY)


def test_parse_marks_failed_doc(docs, good_docs):
    """The all-contexts parse runs on the same batch loop: one
    PARSE_ERROR_TYPE context row for the bad page, the rest unchanged."""
    errs, good = _split(
        parse_webpages(docs, source=corpus_docs(_bad_render)), "ctx_type")
    assert [(e.url, e.stable_id, e.text) for e in errs] == [
        (url_of(BAD), None, None)]
    want = parse_webpages(good_docs, source=corpus_docs())
    assert good.count() == want.count() > 0
    assert good.exceptAll(want).count() == 0


def test_stream_mentions_marks_failed_page(spark, tmp_path):
    from fonduer_spark.streaming import (run_stream_to_parquet,
                                         stream_mentions, stream_web_pages)

    pages = make_web_pages(spark, SF, max_docs=6)
    bad_url = url_of(BAD)
    html = F.when(F.col("url") == bad_url,
                  F.lit(MALFORMED.encode())).otherwise(F.col("html"))
    in_dir, out_dir = str(tmp_path / "pages"), str(tmp_path / "mentions")
    pages.withColumn("html", html).write.parquet(in_dir)
    run_stream_to_parquet(
        stream_mentions(stream_web_pages(spark, in_dir),
                        default_mention_specs()),
        out_dir, str(tmp_path / "ck"))
    errs, good = _split(spark.read.parquet(out_dir), "mention_type")
    assert [e.url for e in errs] == [bad_url]
    want = stream_mentions(pages.where(F.col("url") != bad_url),
                           default_mention_specs())
    assert _rows(good, MENTION_KEY) == _rows(want, MENTION_KEY)


def test_candidates_fused_marks_failed_doc(docs, good_docs):
    kw = dict(throttler=same_row_py, slim=True)
    errs, good = _split(
        _candidates(docs, extract_candidates_fused, render=_bad_render, **kw),
        "candidate_type")
    assert [(e.url, e.split, e.candidate_sid) for e in errs] == [
        (url_of(BAD), 0, None)]
    want = _candidates(good_docs, extract_candidates_fused, **kw)
    assert _rows(good, want.columns) == _rows(want, want.columns)


@pytest.mark.parametrize("cap", [10_000, 40])  # 40: doc 0 overflows too
def test_candidates_auto_warns_and_drops_markers(docs, good_docs, cap):
    kw = dict(py_throttler=same_row_py, column_throttler=same_row,
              max_mentions_per_doc=cap)
    with pytest.warns(UserWarning, match="^1 document"):
        got = _candidates(docs, extract_candidates_auto, render=_bad_render,
                          **kw)
    want = _candidates(good_docs, extract_candidates_auto, **kw)
    assert _rows(got, got.columns) == _rows(want, want.columns)
    # neither marker type (_overflow, _parse_error) reaches the caller
    kinds = {r[0] for r in got.select("candidate_type").distinct().collect()}
    assert kinds == {"part_temp"}


def test_candidates_auto_has_one_probe_mode(docs):
    with pytest.raises(ValueError, match="only 'eager'"):
        _candidates(docs, extract_candidates_auto, probe="lazy")


def _make_negative_hot_render():
    # nested, so cloudpickle ships it by value to the Python workers
    def render(i, text):
        """Negative ids are hot: their tables block is repeated 25x."""
        html = render_page(int(i), text)
        if int(i) < 0:
            a = html.index("<table")
            b = html.rindex("</table>") + len("</table>")
            html = html[:a] + html[a:b] * 25 + html[b:]
        return html
    return render


def test_hot_doc_routed_whatever_its_url(docs):
    """A hot document is routed from the mentions its overflow marker
    carries, not by parsing a doc id back out of its url: doc -1's url
    ends in "d-00001", and auto at a 400-mention cap still equals the
    uncapped fused stage row for row."""
    docs = docs.unionByName(docs.where(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(-1).cast(docs.schema["doc_id"].dataType)))
    render = _make_negative_hot_render()

    capped = _candidates(docs, extract_candidates_fused, render=render,
                         throttler=same_row_py, max_mentions_per_doc=400)
    markers = capped.where(F.col("candidate_type") == OVERFLOW_TYPE)
    assert [r.url for r in markers.select("url").collect()] == [url_of(-1)]

    routed = _candidates(docs, extract_candidates_auto, render=render,
                         py_throttler=same_row_py, column_throttler=same_row,
                         max_mentions_per_doc=400)
    whole = _candidates(docs, extract_candidates_fused, render=render,
                        throttler=same_row_py)
    got = _rows(routed, CANDIDATE_COLUMNS)
    assert got == _rows(whole, CANDIDATE_COLUMNS)
    assert any(r[-1] == url_of(-1) for r in got)  # routed, not dropped


def test_serve_raises_on_failed_page():
    with pytest.raises(ValueError):
        build_default_model().classify(url_of(BAD), MALFORMED)


# -- serve is the batch kernel -----------------------------------------------
def test_serve_honours_lingual_config(spark):
    """Under the regex tagger, NER-style matchers find mentions; serving
    parses with the configured lingual parser, so it finds the same
    mentions as the batch stage (it used to hard-code SimpleParser)."""
    from fonduer_spark.lingual import RegexTaggerParser
    from fonduer_spark.matchers import MiscMatcher, NumberMatcher
    from fonduer_spark.mention_spaces import MentionNgrams
    from fonduer_spark.mentions_op import MentionSpec
    from fonduer_spark.parse import ParseConfig
    from fonduer_spark.serve import FonduerPipelineModel

    page = ("<html><body><table><tr><td>PN002B</td><td>55</td></tr>"
            "</table></body></html>")
    cfg = ParseConfig(lingual="regex_tagger")
    ngram = MentionNgrams(n_min=1, n_max=1)
    specs = [MentionSpec("part", ngram, MiscMatcher()),
             MentionSpec("temp", ngram, NumberMatcher())]
    model = FonduerPipelineModel(specs, "part_temp", "part", "temp",
                                 {"lf": lambda c: 1}, pred="p",
                                 parse_cfg=cfg)
    assert isinstance(model._lp, RegexTaggerParser)
    assert model.classify(url_of(0), page) == [("PN002B", "p", "55", 1.0)]

    served = model._kernel(url_of(0), page, model._lp)
    got = sorted(tuple(m[k] for k in MENTION_KEY)
                 for ms in served.values() for m in ms)
    batch = extract_mentions_fused(
        spark.createDataFrame([(0, "")], "doc_id long, text string"), specs,
        render=lambda i, text: page, parse_cfg=cfg)
    assert len(got) == 2 and got == _rows(batch, MENTION_KEY)


EDGE_INTS = ["120", "١٢٠", " 12", "+5", "-7", "abc", "", "1_0", None,
             "12.5", "\t9\n", "\xa09", "2147483647", "2147483648", "-", "٥٥"]
EDGE_PARTS = ["PN123A", "PN١٢٣A", "PN12A", "pn123a", None]


def test_serve_lfs_match_batch_lfs(spark):
    """The serving LFs are the Python twins of pipeline.default_lfs: the
    same vote on every edge string, including the ones Python's int()
    accepts and Spark's try_cast("int") does not."""
    rows = [(a, b) for a in EDGE_PARTS for b in EDGE_INTS]
    df = spark.createDataFrame(rows, "a_span_text string, b_span_text string")
    lfs = default_lfs()
    names = sorted(lfs)
    batch = {(r[0], r[1]): tuple(r[2:]) for r in df.select(
        "a_span_text", "b_span_text",
        *[lfs[n].alias(n) for n in names]).collect()}
    serve_lfs = build_default_model().lfs
    assert sorted(serve_lfs) == names
    serve = {(a, b): tuple(serve_lfs[n]({"a_span_text": a, "b_span_text": b})
                           for n in names) for a, b in rows}
    assert serve == batch


def test_same_row_py_matches_same_row(spark):
    """The fused throttler and the join throttler agree on a grid of table
    ids (equal, different, null) and row ranges (overlap, touch,
    disjoint either way)."""
    sids = [("t", "t"), ("t", "u"), (None, "t"), ("t", None), (None, None)]
    ranges = [((0, 2), (1, 3)), ((0, 1), (1, 2)), ((0, 1), (2, 3)),
              ((2, 3), (0, 1)), ((1, 1), (1, 1))]
    rows = [(k, sa, sb, a0, a1, b0, b1)
            for k, ((sa, sb), ((a0, a1), (b0, b1))) in enumerate(
                (s, r) for s in sids for r in ranges)]
    df = spark.createDataFrame(
        rows, "k int, a_table_sid string, b_table_sid string, "
              "a_row_start int, a_row_end int, b_row_start int, b_row_end int")
    batch = {r.k for r in df.where(same_row()).select("k").collect()}
    py = {k for k, sa, sb, a0, a1, b0, b1 in rows if same_row_py(
        {"table_sid": sa, "row_start": a0, "row_end": a1},
        {"table_sid": sb, "row_start": b0, "row_end": b1})}
    assert py == batch
    assert 0 < len(batch) < len(rows)


# -- LazyStages is a consistent Mapping --------------------------------------
def test_lazy_stages_is_consistent_mapping():
    built = []

    def builder(name):
        return lambda: built.append(name) or object()

    st = LazyStages({n: builder(n) for n in ("mentions", "scored", "triples")})
    assert "triples" in st and "nope" not in st and built == []
    assert len(st) == len(list(st)) == 3
    assert st.get("triples") is st["triples"]
    assert set(dict(st.items())) == set(st.keys())
    assert st.get("nope") is None
    assert sorted(built) == ["mentions", "scored", "triples"]  # once each
