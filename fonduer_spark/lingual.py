"""Lingual parsers: sentence splitting + tokenization.

Mirrors the reference's pluggable ``LingualParser`` surface
(/root/reference/src/fonduer/parser/lingual_parser/): a ``SimpleParser`` that
splits on a delimiter and tokenizes on whitespace (simple_parser.py:19-45),
and a deterministic ``RegexTaggerParser``. ``ParseConfig.make_lingual_parser``
is the one factory; the spaCy-backed parser lives in ``spacy_lingual`` and is
constructed explicitly where spaCy is installed, never substituted silently.
"""

from __future__ import annotations

import re
from typing import Any, Dict, Iterator, List


class LingualParser:
    """Interface: split text into tokenized sentence dicts."""

    def split_sentences(self, text: str) -> Iterator[Dict[str, Any]]:
        raise NotImplementedError

    def has_NLP_support(self) -> bool:
        return False

    def has_tokenizer_support(self) -> bool:
        return False


class SimpleParser(LingualParser):
    """Split sentences on a delimiter; tokenize on whitespace.

    Behavior-parity with reference simple_parser.py:19-45: sentence text is
    re-normalized to single-space-joined tokens, char_offsets assume one space
    between tokens, lingual arrays are filled with empty strings / zeros.
    """

    def __init__(self, delim: str = ".") -> None:
        self.delim = delim

    def split_sentences(self, text: str) -> Iterator[Dict[str, Any]]:
        for raw in text.split(self.delim):
            if not raw.strip():
                continue
            words: List[str] = raw.split()
            offsets = [0]
            for w in words[:-1]:
                offsets.append(offsets[-1] + len(w) + 1)
            n = len(words)
            yield {
                "text": " ".join(words),
                "words": words,
                "char_offsets": offsets,
                "abs_char_offsets": offsets,
                "lemmas": [""] * n,
                "pos_tags": [""] * n,
                "ner_tags": [""] * n,
                "dep_parents": [0] * n,
                "dep_labels": [""] * n,
            }

    def has_NLP_support(self) -> bool:
        return False

    def has_tokenizer_support(self) -> bool:
        return True


class RegexTaggerParser(SimpleParser):
    """SimpleParser + deterministic rule-based POS/NER/lemma/dep annotation.

    A spaCy-free stand-in for the reference's SpacyParser enrich step
    (spacy_parser.py:102-319) so the NER matchers (matchers.py NumberMatcher/
    DateMatcher/...) and the lingual/window feature libraries run for real in
    this container. Rules are pure regex — fully reproducible in SQL, so
    NER-driven queries stay oracle-checkable:

    - pos: CD for numeric tokens, NNP for Capitalized, '.' for punctuation-
      only, NN otherwise;
    - ner: CARDINAL for numeric, DATE for ISO dates (YYYY-MM-DD), MISC for
      product-code-shaped tokens (letters+digits mixed), else '';
    - lemma: the lowercased token;
    - deps: token 0 is the root; every other token attaches to it with label
      'flat' (first-order head features light up; no real tree is claimed).
    """

    _NUM = re.compile(r"-?\d+(\.\d+)?$")
    _DATE = re.compile(r"\d{4}-\d{2}-\d{2}$")
    _CODE = re.compile(r"(?=.*[A-Za-z])(?=.*\d)[A-Za-z0-9-]+$")
    _PUNCT = re.compile(r"[^\w\s]+$")

    def split_sentences(self, text: str) -> Iterator[Dict[str, Any]]:
        for parts in super().split_sentences(text):
            words = parts["words"]
            n = len(words)
            lemmas, pos, ner = [], [], []
            for w in words:
                lemmas.append(w.lower())
                if self._NUM.match(w):
                    pos.append("CD")
                    ner.append("CARDINAL")
                elif self._DATE.match(w):
                    pos.append("CD")
                    ner.append("DATE")
                elif self._PUNCT.match(w):
                    pos.append(".")
                    ner.append("")
                else:
                    pos.append("NNP" if w[:1].isupper() else "NN")
                    ner.append("MISC" if self._CODE.match(w) else "")
            parts["lemmas"] = lemmas
            parts["pos_tags"] = pos
            parts["ner_tags"] = ner
            parts["dep_parents"] = [0] * n
            parts["dep_labels"] = (["root"] + ["flat"] * (n - 1)) if n else []
            yield parts

    def has_NLP_support(self) -> bool:
        return True

