"""Minimal HTML DOM with lxml-compatible text/tail semantics (stdlib only).

The reference engine parses HTML with ``lxml.html.fromstring``, flattens tags
with ``lxml.etree.strip_tags`` and re-serializes with ``lxml.etree.tostring``
(reference /root/reference/src/fonduer/parser/parser.py:785-795).  lxml is not
available in this container, so this module implements the subset of the lxml
element API the parse operator needs, on top of ``html.parser.HTMLParser``:

- ``Element`` with ``tag``, ``attrib``, ``text``, ``tail``, children,
  ``getparent()``, ``get()/set()``;
- ``parse_html()``: tolerant tag-soup parsing (void elements, implicit close);
- ``strip_tags()``: lxml semantics — the stripped element's text merges into
  the previous sibling's tail (or parent's text), children are spliced in
  place, the tail merges onto the last spliced child (or the same target);
- ``tostring()``: deterministic re-serialization (the engine's
  byte-identical-text-per-url invariant is defined against this serializer);
- ``getpath()``: lxml-style absolute xpath with 1-based positional predicates
  emitted only when an element has same-tag siblings.

Comments and doctypes are dropped at build time, which is equivalent to the
reference's ``strip_tags(root, lxml.etree.Comment)``: text on either side of a
comment concatenates, exactly as a comment's tail would merge when stripped.
"""

from __future__ import annotations

from html import escape
from html.parser import HTMLParser
from typing import Dict, Iterator, List, Optional, Tuple

# Elements that never have content per the HTML spec.
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements auto-closed by the HTML parser when a sibling opens (minimal set
# sufficient for tag-soup web pages: <li><li>, <td><td>, <tr><tr>, <p><p>).
_AUTOCLOSE_SIBLINGS = {
    "li": {"li"},
    "td": {"td", "th", "tr"},
    "th": {"td", "th", "tr"},
    "tr": {"tr"},
    "option": {"option"},
    "p": {"p"},
}


class Element:
    """One DOM node. Mirrors the lxml element accessors the parser uses."""

    __slots__ = ("tag", "attrib", "text", "tail", "_children", "_parent")

    def __init__(self, tag: str, attrib: Optional[dict] = None) -> None:
        self.tag = tag
        self.attrib = dict(attrib or {})
        self.text: Optional[str] = None
        self.tail: Optional[str] = None
        self._children: List["Element"] = []
        self._parent: Optional["Element"] = None

    # -- lxml-compatible surface -------------------------------------------
    def __iter__(self) -> Iterator["Element"]:
        return iter(self._children)

    def __len__(self) -> int:
        return len(self._children)

    def __getitem__(self, i: int) -> "Element":
        return self._children[i]

    def __reversed__(self) -> Iterator["Element"]:
        return reversed(self._children)

    def getchildren(self) -> List["Element"]:
        return list(self._children)

    def getparent(self) -> Optional["Element"]:
        return self._parent

    def get(self, key: str, default: Optional[str] = None) -> Optional[str]:
        return self.attrib.get(key, default)

    def set(self, key: str, value: str) -> None:
        self.attrib[key] = value

    def append(self, child: "Element") -> None:
        child._parent = self
        self._children.append(child)

    def insert(self, idx: int, child: "Element") -> None:
        child._parent = self
        self._children.insert(idx, child)

    def remove(self, child: "Element") -> None:
        self._children.remove(child)
        child._parent = None

    def find(self, tag: str) -> Optional["Element"]:
        """Find the first direct child with the given tag (lxml .find subset)."""
        for c in self._children:
            if c.tag == tag:
                return c
        return None

    def iterdescendants(self) -> Iterator["Element"]:
        for c in self._children:
            yield c
            yield from c.iterdescendants()

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"<Element {self.tag} at 0x{id(self):x}>"


class _TreeBuilder(HTMLParser):
    """Build an Element tree; tolerant of tag soup like lxml's HTML parser."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("__fragment__")
        self.stack: List[Element] = [self.root]

    # -- helpers -----------------------------------------------------------
    def _append_text(self, data: str) -> None:
        top = self.stack[-1]
        if top._children:
            last = top._children[-1]
            last.tail = (last.tail or "") + data
        else:
            top.text = (top.text or "") + data

    def handle_starttag(self, tag: str, attrs) -> None:
        auto = _AUTOCLOSE_SIBLINGS.get(self.stack[-1].tag)
        if auto and tag in auto:
            self.stack.pop()
        el = Element(tag, {k: (v if v is not None else "") for k, v in attrs})
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        el = Element(tag, {k: (v if v is not None else "") for k, v in attrs})
        self.stack[-1].append(el)

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        # Pop to the nearest matching open tag; ignore unmatched close tags.
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        self._append_text(data)

    # Comments / doctype / processing instructions are dropped; surrounding
    # text naturally concatenates (== lxml strip_tags(Comment) semantics).
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


# -- fast tokenizer --------------------------------------------------------
# A regex scanner over well-formed-enough markup, driving the SAME
# _TreeBuilder handlers as the stdlib path (tag-soup recovery, autoclose,
# void elements, text/tail merge are shared, not duplicated). html.parser's
# generic tokenizer costs ~45% of the whole parse stage (profiled); this
# scanner is ~4x faster on the same input. Any construct outside its
# conservative grammar (stray '<', unterminated comment/tag, CDATA
# sections, rawtext without a close tag) returns None and parse_html falls
# back to html.parser for that document, so behavior on exotic markup is
# exactly the stdlib behavior.
import re as _re
from html import unescape as _unescape

_OPEN_RE = _re.compile(
    r"<([a-zA-Z][a-zA-Z0-9:._-]*)((?:\"[^\"]*\"|'[^']*'|[^\"'>])*)>")
_CLOSE_RE = _re.compile(r"</\s*([a-zA-Z][a-zA-Z0-9:._-]*)\s*>")
_ATTR_RE = _re.compile(
    r"([a-zA-Z_:][a-zA-Z0-9:._-]*)"
    r"(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]*)))?")
# html.parser treats script/style content as raw text (no tags, no charrefs)
_RAWTEXT_CLOSE = {
    t: _re.compile(rf"</{t}\s*>", _re.I) for t in ("script", "style")
}


def _parse_attrs(s: str):
    out = []
    for m in _ATTR_RE.finditer(s):
        name = m.group(1).lower()
        v = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4))
        if v is not None and "&" in v:
            v = _unescape(v)
        out.append((name, v))
    return out


def _fast_scan(text: str, b: "_TreeBuilder") -> bool:
    """Tokenize ``text`` into ``b``'s handler calls. Returns False when the
    input falls outside the scanner's grammar (caller falls back)."""
    pos, n = 0, len(text)
    find = text.find
    data = b.handle_data
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            chunk = text[pos:]
            data(_unescape(chunk) if "&" in chunk else chunk)
            break
        if lt > pos:
            chunk = text[pos:lt]
            data(_unescape(chunk) if "&" in chunk else chunk)
        c = text[lt + 1: lt + 2]
        if c == "!":
            if text.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:
                    return False
                pos = end + 3  # comment dropped
            else:
                end = find(">", lt)
                if end < 0:
                    return False
                pos = end + 1  # doctype/decl dropped
        elif c == "?":
            end = find(">", lt)
            if end < 0:
                return False
            pos = end + 1  # processing instruction dropped
        elif c == "/":
            m = _CLOSE_RE.match(text, lt)
            if m is None:
                return False
            b.handle_endtag(m.group(1).lower())
            pos = m.end()
        else:
            m = _OPEN_RE.match(text, lt)
            if m is None:
                return False  # stray '<' etc. -> stdlib semantics
            name = m.group(1).lower()
            attrs_str = m.group(2)
            stripped = attrs_str.rstrip()
            # '/' ends an unquoted attr VALUE unless preceded by whitespace,
            # a quote, or nothing (html.parser/HTML5: <a href=foo/> is not
            # self-closing)
            selfclose = stripped.endswith("/") and (
                len(stripped) == 1 or stripped[-2] in " \t\n\r\"'"
            )
            if selfclose:
                attrs_str = stripped[:-1]
            attrs = _parse_attrs(attrs_str) if attrs_str.strip() else []
            pos = m.end()
            if selfclose:
                b.handle_startendtag(name, attrs)
                continue
            b.handle_starttag(name, attrs)
            raw = _RAWTEXT_CLOSE.get(name)
            if raw is not None:
                mm = raw.search(text, pos)
                if mm is None:
                    return False
                if mm.start() > pos:
                    data(text[pos:mm.start()])  # raw: no charref conversion
                b.handle_endtag(name)
                pos = mm.end()
    return True


def _finish(builder: "_TreeBuilder") -> Element:
    top = builder.root._children
    if len(top) == 1 and not (builder.root.text or "").strip():
        root = top[0]
        root._parent = None
        root.tail = None
        return root
    root = Element("div")
    root.text = builder.root.text
    for c in top:
        root.append(c)
    return root


def parse_html(text: str) -> Element:
    """Parse an HTML string into an Element tree; returns the root element.

    Like ``lxml.html.fromstring``: a document with a single top-level element
    returns that element; multiple top-level elements are wrapped in a
    synthetic ``<div>`` root (lxml wraps fragments similarly).

    Fast path: the regex tokenizer above (same _TreeBuilder semantics);
    falls back to html.parser for any document outside its grammar —
    equivalence on conforming documents is asserted corpus-wide in tests.
    """
    builder = _TreeBuilder()
    try:
        ok = _fast_scan(text, builder)
    except Exception:
        ok = False
    if not ok:
        return parse_html_stdlib(text)
    return _finish(builder)


def parse_html_stdlib(text: str) -> Element:
    """The html.parser-driven build (tolerant of anything); the fast path's
    fallback and its equivalence reference."""
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return _finish(builder)


def strip_tags(root: Element, tags) -> None:
    """Remove all elements with the given tags, merging text/children upward.

    Implements ``lxml.etree.strip_tags`` semantics (the reference flattens
    ``["span", "br"]`` this way, parser.py:789-791): for a stripped element e
    at index i of parent p —
      * e.text joins the previous sibling's tail, or p.text when i == 0;
      * e's children are spliced into p at position i;
      * e.tail joins the last spliced child's tail, or the same target.
    """
    tagset = set(tags)
    unwrap_where(root, lambda el: el.tag in tagset)


def unwrap_where(root: Element, predicate) -> None:
    """strip_tags generalized to an arbitrary element predicate (e.g. by
    class attribute — the hOCR preprocessor unwraps ocr_line/ocrx_word
    elements this way, mirroring BeautifulSoup's ``unwrap``)."""

    def _strip(parent: Element) -> None:
        # Post-order: flatten inside children first so nested flatten-tags
        # (e.g. <span><span>..</span></span>) resolve completely.
        for child in list(parent._children):
            _strip(child)
        i = 0
        while i < len(parent._children):
            child = parent._children[i]
            if not predicate(child):
                i += 1
                continue

            def _merge(text: Optional[str]) -> None:
                if not text:
                    return
                if i > 0:
                    prev = parent._children[i - 1]
                    prev.tail = (prev.tail or "") + text
                else:
                    parent.text = (parent.text or "") + text

            _merge(child.text)
            grandchildren = child._children
            parent._children[i : i + 1] = grandchildren
            for gc in grandchildren:
                gc._parent = parent
            if grandchildren:
                last = grandchildren[-1]
                if child.tail:
                    last.tail = (last.tail or "") + child.tail
            else:
                _merge(child.tail)
            # do not advance i: spliced children were already flattened, but
            # the merge position stays correct for consecutive strip-tags.

    _strip(root)


def _escape_attr(value: str) -> str:
    return escape(value, quote=True)


def _serialize(el: Element, out: List[str]) -> None:
    out.append("<")
    out.append(el.tag)
    for k, v in el.attrib.items():
        out.append(f' {k}="{_escape_attr(v)}"')
    out.append(">")
    if el.text:
        out.append(escape(el.text, quote=False))
    for c in el._children:
        _serialize(c, out)
    out.append(f"</{el.tag}>")
    if el.tail:
        out.append(escape(el.tail, quote=False))


def tostring(root: Element) -> str:
    """Deterministic re-serialization (the document.text invariant surface).

    The reference assigns ``lxml.etree.tostring(root, encoding="unicode")`` to
    ``document.text`` (parser.py:793-795). This serializer is the engine's
    equivalent: explicit close tags for every element, attributes in document
    order, ``&<>`` escaped in text and ``&<>"`` in attribute values.
    """
    out: List[str] = []
    _serialize(root, out)
    # Root tail is not serialized by lxml either.
    if root.tail:
        del out[-1]
    return "".join(out)


ChildIndex = Dict[int, Tuple[Dict[int, Tuple[int, int]], Dict[str, int]]]


def child_slot(node: Element, index: ChildIndex) -> Tuple[int, int, int]:
    """(position, same-tag position, same-tag count) of ``node`` among its
    parent's children, positions 1-based. ``index`` holds one child table
    per parent (keyed by ``id(parent)``), built the first time a caller
    asks about one of its children, so asking about every child of a
    parent scans its children once, not once per child."""
    parent = node._parent
    got = index.get(id(parent))
    if got is None:
        slots: Dict[int, Tuple[int, int]] = {}
        counts: Dict[str, int] = {}
        for pos, c in enumerate(parent._children, 1):
            counts[c.tag] = n = counts.get(c.tag, 0) + 1
            slots[id(c)] = (pos, n)
        got = index[id(parent)] = (slots, counts)
    pos, n = got[0][id(node)]
    return pos, n, got[1][node.tag]


def getpath(node: Element, index: Optional[ChildIndex] = None) -> str:
    """lxml-style absolute xpath, e.g. ``/html/body/p[2]``.

    A positional predicate ``[n]`` (1-based) is emitted only when the element
    has at least one sibling with the same tag, matching
    ``lxml.etree.ElementTree.getpath`` (used at reference parser.py:510-513).
    A parse that asks for many paths of one tree passes one ``index`` (see
    ``child_slot``) to every call.
    """
    if index is None:
        index = {}
    parts: List[str] = []
    cur = node
    while cur._parent is not None:
        _, n, same = child_slot(cur, index)
        parts.append(f"/{cur.tag}[{n}]" if same > 1 else f"/{cur.tag}")
        cur = cur._parent
    parts.append(f"/{cur.tag}")
    return "".join(reversed(parts))
