"""Lightweight lxml-free KML/XML parser into a flat preorder table.

A document parses once into a :class:`Document`: parallel lists indexed
by preorder number, one entry per element —

- ``tags[i]``: the literal tag name (``gx:Track`` stays ``gx:Track``);
- ``ends[i]``: one past the last preorder number of ``i``'s subtree, so
  the descendants of ``i`` are exactly ``i+1 .. ends[i]-1``;
- ``texts[i]``: the element's leading character data, unstripped;
- ``attrs``: a sparse ``{i: {name: value}}`` for elements that have
  attributes.

Entry 0 is a virtual document root spanning the whole table, so a
search from the root includes the document element, like the
reference's ``get(root, ...)`` on a minidom ``Document`` (reference
main.py:586). No ``xml.dom.minidom``, no
lxml, no per-node objects: the table reproduces the minidom behaviours
the reference relies on —

- ``getElementsByTagName`` == :meth:`Document.find_all`: preorder
  descendant search by *literal* tag name (minidom is prefix-literal;
  reference main.py:27-31) — one scan of the node's preorder range.
- ``node.firstChild.wholeText.strip()`` == :meth:`Document.text`: the
  run of character data (text and CDATA) before the element's first
  child element or comment, stripped; processing instructions do not
  break it (reference main.py:54-62 ``val``).
- ``getAttribute`` == :meth:`Element.attr`: "" when missing
  (reference main.py:46-51).

:class:`Element` is the public node type, a two-field view
``(doc, i)`` over the table.

Two lanes fill the same table (asserted on the regression-lock corpus):
stdlib expat for well-formed input, and a compiled-regex tokenizer that
is lenient on malformed input (see :func:`parse_kml`). The tokenizer
handles CDATA sections, comments, processing instructions, DOCTYPE
declarations, self-closing tags, and the five standard XML entities
plus numeric character references.

This module runs per document inside Arrow-batched ``mapInArrow``
workers, where the per-row Python is this parser and the builders in
:mod:`convert_core`; the engine never uses row-at-a-time Python UDFs.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional
from xml.parsers import expat as _expat

# Token alternation order matters: CDATA and comments must win over the
# generic declaration branch, and close tags over open tags.
_TOKEN = re.compile(
    r"<!\[CDATA\[(?P<cdata>.*?)\]\]>"
    r"|<!--(?P<comment>.*?)-->"
    r"|<!(?P<decl>[^>]*)>"
    r"|<\?(?P<pi>.*?)\?>"
    r"|</\s*(?P<close>[^>\s]+)\s*>"
    r"|<(?P<open>[^\s/>!?][^\s/>]*)(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^>])*?)(?P<selfclose>/?)>"
    r"|(?P<text>[^<]+)",
    re.S,
)

_ATTR = re.compile(r"([^\s=/]+)\s*=\s*(?:\"([^\"]*)\"|'([^']*)')")

_GI = _TOKEN.groupindex
_GI_CDATA = _GI["cdata"]
_GI_COMMENT = _GI["comment"]
_GI_CLOSE = _GI["close"]
_GI_OPEN = _GI["open"]
_GI_ATTRS = _GI["attrs"]
_GI_SELFCLOSE = _GI["selfclose"]
_GI_TEXT = _GI["text"]

_ENTITY = re.compile(r"&(#x?[0-9A-Fa-f]+|[A-Za-z][A-Za-z0-9]*);")

_NAMED_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}

ROOT_TAG = "#document"


def _decode_entities(s: str) -> str:
    if "&" not in s:
        return s

    def sub(m: re.Match) -> str:
        body = m.group(1)
        if body.startswith("#x") or body.startswith("#X"):
            try:
                return chr(int(body[2:], 16))
            except ValueError:
                return m.group(0)
        if body.startswith("#"):
            try:
                return chr(int(body[1:]))
            except ValueError:
                return m.group(0)
        return _NAMED_ENTITIES.get(body, m.group(0))

    return _ENTITY.sub(sub, s)


def _run_appender(texts: list, more: dict):
    """``add(i, piece)`` appends ``piece`` to node ``i``'s leading run.
    The first piece goes to ``texts[i]``; later ones collect in
    ``more[i]`` for :func:`_join_runs`, instead of re-copying the
    growing string with ``+=`` per piece, which is quadratic in the
    run's length."""

    def add(i, piece):
        if not texts[i]:
            texts[i] = piece
        elif i in more:
            more[i].append(piece)
        else:
            more[i] = [texts[i], piece]

    return add


def _join_runs(texts: list, more: dict) -> None:
    for i, parts in more.items():
        texts[i] = "".join(parts)


class Document:
    """One parsed document as a flat preorder table (see the module
    docstring). Node 0 is the virtual root; every search takes the
    preorder number of the node it searches under and returns preorder
    numbers, ``-1`` for "none"."""

    __slots__ = ("tags", "ends", "texts", "attrs")

    def __init__(self, tags: list, ends: list, texts: list, attrs: dict):
        self.tags = tags
        self.ends = ends
        self.texts = texts
        self.attrs = attrs

    def find(self, i: int, tag: str) -> int:
        """First descendant of ``i`` tagged ``tag`` in preorder, or -1."""
        try:
            return self.tags.index(tag, i + 1, self.ends[i])
        except ValueError:
            return -1

    def find_all(self, i: int, tag: str) -> list:
        """Every descendant of ``i`` tagged ``tag``, in preorder."""
        tags = self.tags
        return [j for j in range(i + 1, self.ends[i]) if tags[j] == tag]

    def text(self, i: int) -> str:
        """Leading character data of ``i``, stripped; "" for -1."""
        return self.texts[i].strip() if i >= 0 else ""

    def attr(self, i: int, name: str) -> str:
        """Attribute value, "" when absent (minidom getAttribute)."""
        a = self.attrs.get(i)
        return a.get(name, "") if a else ""


class Element:
    """A node of a parsed document: the view ``(doc, i)`` of preorder
    number ``i`` in ``doc``'s table."""

    __slots__ = ("doc", "i")

    def __init__(self, doc: Document, i: int):
        self.doc = doc
        self.i = i

    @property
    def tag(self) -> str:
        return self.doc.tags[self.i]

    @property
    def attributes(self) -> dict:
        return self.doc.attrs.get(self.i, {})

    def __eq__(self, other) -> bool:
        return (type(other) is Element and other.doc is self.doc
                and other.i == self.i)

    def __hash__(self) -> int:
        return hash((id(self.doc), self.i))

    # -- navigation ------------------------------------------------------

    def iter_elements(self) -> Iterator["Element"]:
        """Preorder traversal of descendant elements (not self)."""
        doc = self.doc
        return (Element(doc, j) for j in range(self.i + 1, doc.ends[self.i]))

    def find_all(self, tag: str) -> list["Element"]:
        """All descendant elements with the given literal tag, document order."""
        doc = self.doc
        return [Element(doc, j) for j in doc.find_all(self.i, tag)]

    def find(self, tag: str) -> Optional["Element"]:
        """First descendant element with the given literal tag, else None."""
        j = self.doc.find(self.i, tag)
        return Element(self.doc, j) if j >= 0 else None

    # -- value access ----------------------------------------------------

    def attr(self, name: str) -> str:
        """Attribute value, "" when absent (minidom getAttribute)."""
        return self.doc.attr(self.i, name)

    def text(self) -> str:
        """Leading character-data run, stripped — the reference's
        ``val`` (main.py:54-62 via minidom ``firstChild.wholeText``);
        "" when the first child is an element or a comment."""
        return self.doc.texts[self.i].strip()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Element {self.tag} #{self.i} attrs={self.attributes}>"


def parse_kml(source: str) -> Element:
    """Parse a KML/XML string; returns the virtual document root
    (preorder number 0, tag ``"#document"``), the equivalent of
    minidom's ``Document`` node.

    Two lanes, identical tables: well-formed documents are read by
    :func:`_parse_kml_expat` (stdlib expat tokenizes and normalizes in
    C — attribute-value normalization, entity expansion, §2.11 EOL
    handling — so Python runs only the table-filling callbacks);
    everything expat rejects falls back to :func:`_parse_kml_regex`,
    which is lenient on mismatched close tags (pops to the nearest
    matching open element; ignores unmatched closes) — real-world KML
    is messy and the engine processes untrusted corpora; strictness is
    not worth a failed partition.
    """
    root = _parse_kml_expat(source)
    return root if root is not None else _parse_kml_regex(source)


def _parse_kml_expat(source: str) -> Optional[Element]:
    """The root of the expat-filled table, or ``None`` when the document
    is outside the envelope where expat's output provably matches the
    regex tokenizer's: any DOCTYPE bails (an internal DTD subset could declare
    entities that expat would expand but the regex lane leaves
    verbatim), and any well-formedness error bails to the lenient lane
    (mismatched/unclosed tags, undefined entities, ``<`` in attribute
    values, text outside the root, invalid character references, ...).

    Character data appends to the open element's leading run until its
    first child element starts or a comment arrives. Expat delivers a
    long run in pieces of at most ``buffer_size`` characters; a run's
    second and later pieces are kept in a list and joined once at the
    end, so a multi-megabyte ``<coordinates>`` costs linear time."""
    if "<!DOCTYPE" in source:
        return None
    tags = [ROOT_TAG]
    ends = [0]
    texts = [""]
    attrs: dict = {}
    stack = [0]
    run = -1  # element whose leading run is still open, or -1
    more: dict = {}  # run -> its pieces, for runs that came in several
    add = _run_appender(texts, more)

    def start(name, a, _tag=tags.append, _end=ends.append,
              _text=texts.append, _push=stack.append):
        nonlocal run
        run = len(tags)
        _push(run)
        _tag(name)
        _end(0)
        _text("")
        if a:
            attrs[run] = a

    def end(_name, _pop=stack.pop):
        nonlocal run
        run = -1
        ends[_pop()] = len(tags)

    def chardata(d):
        if run >= 0:
            add(run, d)

    def comment(_d):
        nonlocal run
        run = -1

    p = _expat.ParserCreate()
    p.buffer_text = True
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chardata
    p.CommentHandler = comment
    try:
        p.Parse(source, True)
    except _expat.ExpatError:
        return None
    ends[0] = len(tags)
    _join_runs(texts, more)
    return Element(Document(tags, ends, texts, attrs), 0)


def _parse_kml_regex(source: str) -> Element:
    """The root of the regex-tokenizer table — the lenient lane (see
    :func:`parse_kml`)."""
    # XML 1.0 §2.11 end-of-line normalization (\r\n and lone \r → \n),
    # which minidom — and therefore the reference — applies to the whole
    # input including CDATA; Windows-authored KML differs without this.
    if "\r" in source:
        source = source.replace("\r\n", "\n").replace("\r", "\n")
    tags = [ROOT_TAG]
    ends = [0]
    texts = [""]
    attrs: dict = {}
    stack = [0]
    run = -1  # element whose leading run is still open, or -1
    more: dict = {}  # as in _parse_kml_expat: CDATA and PIs split a run
    add = _run_appender(texts, more)
    # Dispatch on m.lastindex (one attribute read) instead of probing
    # named groups: each alternation branch ends in a distinct group —
    # the open branch always participates through `selfclose` (an
    # always-matching `/?`), so its lastindex is _GI_SELFCLOSE.
    for m in _TOKEN.finditer(source):
        li = m.lastindex
        if li == _GI_TEXT:
            if run >= 0:
                s = m.group(_GI_TEXT)
                add(run, _decode_entities(s) if "&" in s else s)
        elif li == _GI_SELFCLOSE:
            open_tag, attrs_src, selfclose = m.group(
                _GI_OPEN, _GI_ATTRS, _GI_SELFCLOSE)
            i = len(tags)
            tags.append(open_tag)
            texts.append("")
            if attrs_src:
                a = {}
                for am in _ATTR.finditer(attrs_src):
                    v = am.group(2) if am.group(2) is not None else am.group(3)
                    # XML 1.0 §3.3.3 attribute-value normalization:
                    # literal tab/newline become spaces (minidom parity)
                    if "\t" in v or "\n" in v:
                        v = v.replace("\t", " ").replace("\n", " ")
                    a[am.group(1)] = _decode_entities(v)
                if a:
                    attrs[i] = a
            if selfclose:
                ends.append(i + 1)
                run = -1
            else:
                ends.append(0)
                stack.append(i)
                run = i
        elif li == _GI_CLOSE:
            tag = m.group(_GI_CLOSE)
            if len(stack) > 1 and tags[stack[-1]] == tag:
                ends[stack.pop()] = len(tags)  # well-formed fast path
                run = -1
            else:
                # pop to the nearest matching open; a stray close is
                # ignored and leaves the leading run open
                for k in range(len(stack) - 1, 0, -1):
                    if tags[stack[k]] == tag:
                        n = len(tags)
                        for j in stack[k:]:
                            ends[j] = n
                        del stack[k:]
                        run = -1
                        break
        elif li == _GI_CDATA:
            if run >= 0:
                add(run, m.group(_GI_CDATA))
        elif li == _GI_COMMENT:
            run = -1
        # decl / pi: skipped entirely
    n = len(tags)
    for j in stack:  # the root, and elements still open at end of input
        ends[j] = n
    _join_runs(texts, more)
    return Element(Document(tags, ends, texts, attrs), 0)
