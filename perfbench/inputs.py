"""Seeded input corpora for the benchmark workloads.

The library reads one table, ``<dir>/documents.parquet`` with columns
(doc_id, text, lang, source, n_chars). Every page the KB pipeline parses is
an arithmetic function of ``doc_id`` (``fonduer_spark.corpus.render_page``),
so the DuckDB oracles recompute the gold output from the ids alone; ``text``
only feeds the filler paragraphs and the near-dup operators.

The generator reproduces the shape of the sf0.1 base corpus: ids inside
``[0, BASE_DOCS)``, 10-100 words drawn from a 30-word vocabulary, and ~5%
of documents being a copy of another document plus the token ``dup`` (the
near-duplicate clusters ``dedup_keep`` finds). A seed picks a contiguous id
window, so the 2% hot documents (every id divisible by 50 carries 7 tables)
keep their share. Ids stay below 10**6: the ``kg_features`` oracle pads ids
to six digits and would disagree with the engine above that.
"""

from __future__ import annotations

import os
import random

import pandas as pd

from fonduer_spark.corpus import render_page

BASE_DOCS = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
DUP_FRAC = 0.05


def make_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents over a seed-chosen contiguous id window."""
    if not 0 < n_docs <= BASE_DOCS:
        raise ValueError(f"n_docs must be in 1..{BASE_DOCS}, got {n_docs}")
    rng = random.Random(seed)
    start = rng.randrange(0, BASE_DOCS - n_docs + 1)
    texts: list[str] = []
    for k in range(n_docs):
        if k and rng.random() < DUP_FRAC:
            texts.append(texts[rng.randrange(k)] + " dup")
        else:
            n_words = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n_words)))
    ids = range(start, start + n_docs)
    return pd.DataFrame({
        "doc_id": pd.Series(ids, dtype="int64"),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in ids],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
    })


def pick_hot_doc(seed: int, docs: pd.DataFrame) -> int:
    """A seed-chosen hot document (id divisible by 50: 7 tables) of ``docs``."""
    ids = [int(i) for i in docs["doc_id"] if i % 50 == 0]
    if not ids:
        raise ValueError("the id window holds no id divisible by 50")
    return random.Random(seed * 7919 + 1).choice(ids)


class HotRender:
    """``render(doc_id, text) -> html`` for the hot-document corpus: the
    synthetic page of every document, except that ``hot_id``'s tables block
    is repeated 25 times (7 tables -> 175), so that one document carries
    ~100x the median mention count. Picklable, because Spark ships it to
    the Python workers."""

    def __init__(self, hot_id: int) -> None:
        self.hot_id = hot_id

    def __call__(self, i, text) -> str:
        html = render_page(int(i), text)
        if int(i) == self.hot_id:
            a = html.index("<table")
            b = html.rindex("</table>") + len("</table>")
            html = html[:a] + html[a:b] * 25 + html[b:]
        return html


def write_documents(docs: pd.DataFrame, sf_dir: str) -> str:
    """Write ``docs`` as ``<sf_dir>/documents.parquet`` (one row group, the
    shape the library's scans are tuned for); returns ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False,
                    row_group_size=max(len(docs), 1))
    return sf_dir
