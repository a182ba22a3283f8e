"""Driver-side replay of the per-document kernel.

Render, DOM build, parse, mention match and candidate product all run in
one fused Python stage, where Spark sees a single task per partition. The
traced run therefore replays the same public functions in the driver, one
document at a time, under spans, and reports ms per document for each.
The DOM build happens inside ``parse_document``, out of reach of a span in
the benchmark, so ``parse_html`` is replayed on the same page and its time
subtracted: ``parse_ms_per_doc`` is parse self time, excluding htmldom.
"""

from __future__ import annotations

from fonduer_spark.candidates_fused import _doc_candidates, same_row_py
from fonduer_spark.corpus import render_page, url_of
from fonduer_spark.htmldom import parse_html
from fonduer_spark.mentions_op import _fast_unigram_regex, iter_sentence_mentions
from fonduer_spark.parse import ParseConfig, parse_document
from fonduer_spark.pipeline import default_mention_specs


def _default_render(i, text):
    return render_page(int(i), text)


def replay(tracer, docs, parse_cfg: ParseConfig, slim: bool,
           render=None, cap: int = 10_000) -> dict:
    """Replay ``docs`` (pairs of doc_id, text); returns per-doc layer numbers
    and counters. Spans: replay > doc > render / dom / parse / match /
    product."""
    render = render or _default_render
    specs = default_mention_specs()
    fast = [_fast_unigram_regex(s) for s in specs]
    lp = parse_cfg.make_lingual_parser()
    n = failed = sentences = mentions = pairs = cands = 0
    names = ("corpus.render", "htmldom.dom", "parse.parse_document",
             "mentions_op.match", "candidates_fused.product")
    with tracer.span("replay"):
        for i, text in docs:
            n += 1
            with tracer.span("doc"):
                with tracer.span(names[0]):
                    html = render(i, text)
                with tracer.span(names[1]):
                    parse_html(html)
                try:
                    with tracer.span(names[2]):
                        rows = parse_document(url_of(int(i)), html, parse_cfg,
                                              lp, emit_types={"sentence"})
                except Exception:  # noqa: BLE001 - counted, as the stage drops it
                    failed += 1
                    continue
                sentences += len(rows)
                with tracer.span(names[3]):
                    by_type = _mentions_by_type(rows, specs, fast)
                n_m = sum(len(v) for v in by_type.values())
                mentions += n_m
                if n_m > cap:  # the fused stage routes it away, unmultiplied
                    continue
                pairs += len(by_type.get("part", ())) * len(by_type.get("temp", ()))
                out: list = []
                with tracer.span(names[4]):
                    _doc_candidates(by_type, "part_temp", "part", "temp",
                                    same_row_py, False, False, True, 0, out,
                                    slim=slim)
                cands += len(out)
    ms = {name: 1000.0 * tracer.total_s(name) / max(n, 1) for name in names}
    per_doc = max(n, 1)
    return {
        "corpus.render_ms_per_doc": ms[names[0]],
        "htmldom.dom_ms_per_doc": ms[names[1]],
        "parse.parse_ms_per_doc": ms[names[2]] - ms[names[1]],
        "parse.sentences_per_doc": sentences / per_doc,
        "parse.docs_failed": failed,
        "mentions_op.match_ms_per_doc": ms[names[3]],
        "mentions_op.mentions_per_doc": mentions / per_doc,
        "candidates_fused.product_ms_per_doc": ms[names[4]],
        "candidates_fused.pairs_tested": pairs,
        "candidates_fused.candidates_out": cands,
        "candidates_fused.pair_yield": cands / pairs if pairs else 0.0,
        # the fused stage's Python body per document: everything above
        # except the standalone DOM replay, which parse_document repeats
        "candidates_fused.python_body_ms_per_doc": (
            ms[names[0]] + ms[names[2]] + ms[names[3]] + ms[names[4]]),
    }


def _mentions_by_type(rows, specs, fast) -> dict:
    by_type: dict = {}
    for row in rows:
        for m in iter_sentence_mentions(row, specs, fast):
            by_type.setdefault(m["mention_type"], []).append(m)
    return by_type


def kernel_candidates(render, doc) -> tuple:
    """One document (doc_id, text) through the fused stage's kernel at the
    default parse, with no mention cap: (mention count, candidate ids)."""
    specs = default_mention_specs()
    fast = [_fast_unigram_regex(s) for s in specs]
    cfg = ParseConfig()
    i, text = doc
    rows = parse_document(url_of(int(i)), render(int(i), text), cfg,
                          cfg.make_lingual_parser(), emit_types={"sentence"})
    by_type = _mentions_by_type(rows, specs, fast)
    out: list = []
    _doc_candidates(by_type, "part_temp", "part", "temp", same_row_py,
                    False, False, True, 0, out)
    return sum(map(len, by_type.values())), [r["candidate_sid"] for r in out]
