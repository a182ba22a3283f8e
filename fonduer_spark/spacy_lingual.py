"""spaCy-backed lingual parser (import-gated; spaCy absent in this container).

Mirrors the reference SpacyParser
(/root/reference/src/fonduer/parser/lingual_parser/spacy_parser.py):
- the model loads once per executor process (module-level singleton — the
  Spark analogue of the per-worker load in the reference's forked UDFs);
- ``split_sentences`` emits the same dict contract as SimpleParser but with
  real lemmas / pos_tags / ner_tags / dep_parents / dep_labels;
- batching is bounded by the model's ``max_length`` chars
  (spacy_parser.py:133-189).

This module only imports when spaCy is installed. Nothing selects it
implicitly: ``ParseConfig.make_lingual_parser`` builds the SimpleParser /
RegexTaggerParser, and a caller that wants spaCy constructs
``SpacyLingualParser`` itself, so a missing spaCy is an ImportError rather
than a silent fallback.
"""

from __future__ import annotations

from typing import Any, Dict, Iterator

import spacy  # noqa: F401  (ImportError when spaCy is absent)

from .lingual import LingualParser

_NLP_CACHE: Dict[str, Any] = {}


def _load(language: str):
    nlp = _NLP_CACHE.get(language)
    if nlp is None:
        nlp = spacy.load(language)
        _NLP_CACHE[language] = nlp
    return nlp


class SpacyLingualParser(LingualParser):
    def __init__(self, language: str = "en") -> None:
        self.language = language

    def split_sentences(self, text: str) -> Iterator[Dict[str, Any]]:
        nlp = _load(self.language)
        doc = nlp(text[: nlp.max_length])
        for sent in doc.sents:
            toks = [t for t in sent if not t.is_space]
            if not toks:
                continue
            offset0 = sent.start_char
            # Reference head convention (spacy_parser.py:162-165): 1-based
            # index of the head within the sentence, 0 for the root — keyed
            # on the space-filtered positions so dropped whitespace tokens
            # never shift a head index.
            pos1 = {t.i: k + 1 for k, t in enumerate(toks)}
            yield {
                "text": sent.text,
                "words": [t.text for t in toks],
                "char_offsets": [t.idx - offset0 for t in toks],
                "abs_char_offsets": [t.idx for t in toks],
                "lemmas": [t.lemma_ for t in toks],
                "pos_tags": [t.pos_ for t in toks],
                "ner_tags": [t.ent_type_ for t in toks],
                "dep_parents": [
                    0 if t.head is t else pos1.get(t.head.i, 0)
                    for t in toks
                ],
                "dep_labels": [t.dep_ for t in toks],
            }

    def has_NLP_support(self) -> bool:
        return True

    def has_tokenizer_support(self) -> bool:
        return True
