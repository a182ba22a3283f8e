"""Span value objects over sentence rows (driver- and executor-side).

``SentenceView`` wraps one sentence row of the parsed contexts frame;
``Span`` is the engine's equivalent of the reference's
``TemporarySpanMention`` (/root/reference/src/fonduer/candidates/models/
span_mention.py:15-227): a (sentence, char_start, char_end)-identified value
object with char<->word index math, attribute projection and containment.
These objects live only inside pandas-UDF batches — the persisted form is a
row in the ``mentions`` DataFrame keyed by stable_id.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional


class SentenceView:
    """Attribute view over one sentence row (dict from the contexts frame)."""

    __slots__ = ("row", "_hash")

    def __init__(self, row: Dict[str, Any]) -> None:
        self.row = row
        self._hash = None

    def __getattr__(self, name: str) -> Any:
        try:
            return self.row[name]
        except KeyError:
            raise AttributeError(name)

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, SentenceView)
            and self.row["stable_id"] == other.row["stable_id"]
        )

    def __hash__(self) -> int:
        h = self._hash
        if h is None:
            h = self._hash = hash(self.row["stable_id"])
        return h

    def is_tabular(self) -> bool:
        return self.row.get("cell_sid") is not None

    def is_lingual(self) -> bool:
        lem = self.row.get("lemmas")
        return lem is not None and any(lem)

    def is_visual(self) -> bool:
        return False  # webtext payload carries no visual arrays


class Span:
    """A contiguous character range of one sentence (char_end inclusive)."""

    __slots__ = ("sentence", "char_start", "char_end", "_hash")

    def __init__(self, sentence: SentenceView, char_start: int, char_end: int):
        self.sentence = sentence
        self.char_start = char_start
        self.char_end = char_end
        self._hash = None

    # identity = (sentence, char range) — reference span_mention.py:36-58
    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Span)
            and self.sentence == other.sentence
            and self.char_start == other.char_start
            and self.char_end == other.char_end
        )

    def __hash__(self) -> int:
        h = self._hash
        if h is None:
            h = self._hash = (
                hash(self.sentence) + hash(self.char_start)
                + hash(self.char_end)
            )
        return h

    def __len__(self) -> int:
        return self.char_end - self.char_start + 1

    def __contains__(self, other: "Span") -> bool:
        return (
            self.sentence == other.sentence
            and other.char_start >= self.char_start
            and other.char_end <= self.char_end
        )

    # -- char/word index math (reference span_mention.py:104-124) ----------
    def _char_to_word_index(self, ci: int) -> int:
        i = 0
        for i, co in enumerate(self.sentence.char_offsets):
            if ci == co:
                return i
            if ci < co:
                return i - 1
        return i

    def _word_to_char_index(self, wi: int) -> int:
        return self.sentence.char_offsets[wi]

    def get_word_start_index(self) -> int:
        return self._char_to_word_index(self.char_start)

    def get_word_end_index(self) -> int:
        return self._char_to_word_index(self.char_end)

    def get_num_words(self) -> int:
        return self.get_word_end_index() - self.get_word_start_index() + 1

    # -- attribute projection (reference span_mention.py:126-160) ----------
    def get_attrib_tokens(self, a: str = "words") -> List[Any]:
        return list(self.sentence.row[a][
            self.get_word_start_index() : self.get_word_end_index() + 1
        ])

    def get_attrib_span(self, a: str = "words", sep: str = "") -> str:
        if a == "words":
            return self.sentence.text[
                self.char_start : self.char_end + 1
            ].replace(sep, "")
        return sep.join(str(t) for t in self.get_attrib_tokens(a))

    def get_span(self) -> str:
        return self.get_attrib_span("words")

    def __getitem__(self, key: slice) -> "Span":
        # char-index slicing relative to the span (span_mention.py:192-212)
        if not isinstance(key, slice):
            raise NotImplementedError
        char_start = (
            self.char_start if key.start is None else self.char_start + key.start
        )
        if key.stop is None:
            char_end = self.char_end
        elif key.stop >= 0:
            char_end = self.char_start + key.stop - 1
        else:
            char_end = self.char_end + key.stop
        return Span(self.sentence, char_start, char_end)

    def get_stable_id(self) -> str:
        # doc-absolute char range, like construct_stable_id for span_mention
        abs0 = self.sentence.abs_char_offsets[0] - self.sentence.char_offsets[0]
        return (
            f"{self.sentence.url}::span_mention:"
            f"{abs0 + self.char_start}:{abs0 + self.char_end}"
        )

    def __repr__(self) -> str:  # pragma: no cover
        return f'Span("{self.get_span()}", chars=[{self.char_start},{self.char_end}])'


class ImplicitSpan(Span):
    """A span whose surface text is not literally in the document (e.g. an
    expanded part-range), reference implicit_span_mention.py:16-139.
    Carries its own expanded text plus the expander identity."""

    __slots__ = ("expanded_text", "expander_key", "position")

    def __init__(
        self,
        sentence: SentenceView,
        char_start: int,
        char_end: int,
        expanded_text: str,
        expander_key: str,
        position: int,
    ) -> None:
        super().__init__(sentence, char_start, char_end)
        self.expanded_text = expanded_text
        self.expander_key = expander_key
        self.position = position

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, ImplicitSpan)
            and super().__eq__(other)
            and self.expander_key == other.expander_key
            and self.position == other.position
        )

    def __hash__(self) -> int:
        return super().__hash__() + hash(self.expander_key) + hash(self.position)

    def get_span(self) -> str:
        return self.expanded_text

    def get_attrib_span(self, a: str = "words", sep: str = "") -> str:
        if a == "words":
            return self.expanded_text.replace(sep, "")
        return super().get_attrib_span(a, sep)

    def get_stable_id(self) -> str:
        abs0 = self.sentence.abs_char_offsets[0] - self.sentence.char_offsets[0]
        return (
            f"{self.sentence.url}::implicit_span_mention:"
            f"{abs0 + self.char_start}:{abs0 + self.char_end}"
            f":{self.expander_key}:{self.position}"
        )
