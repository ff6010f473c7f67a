"""Minimal HTML DOM built on stdlib ``html.parser``.

Re-creates the subset of BeautifulSoup (``html.parser`` tree builder)
behavior that the extraction kernel depends on, pinned against the
reference backend's observable semantics
(/root/reference/docling/backend/html_backend.py:203-214 parses with
``BeautifulSoup(raw, "html.parser")``):

* stack-based tree building: an end tag pops to the nearest matching
  open tag, unmatched end tags are ignored;
* HTML void elements never take children;
* whitespace-only text runs collapse to ``"\n"`` (if they contain a
  newline) or ``" "`` unless inside ``pre``/``textarea``;
* character references decoded (``convert_charrefs=True``), except in
  ``script``/``style`` CDATA content;
* comments / doctypes / processing instructions are kept as skip-nodes
  (BeautifulSoup's ``PreformattedString``) that text extraction ignores.

Two parse paths make the same tree. ``parse_html`` runs ``_fast_feed``, a
whole-document tokenizer that builds the tree itself: a plain start or
end tag (``<p>``, ``</p>``) and a text run become nodes in the loop,
and only the rarer constructs (attributes, comments, CDATA, broken
markup) go through ``_TreeParser``'s handlers. ``parse_html_stdlib``
drives the same handlers from the stdlib incremental parser; it is the
equivalence oracle and ``parse_html``'s fallback. Both paths also
record, in document order, the boilerplate candidates the kernel
strips (``Soup.strip_tags``) and the ``<br>`` tags it rewrites
(``Soup.br_tags``), and each tag's ``watch`` bits (below).

No code is copied from BeautifulSoup; only the behavior needed for the
fixture corpus is implemented.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Iterable, Iterator, Optional, Union

VOID_ELEMENTS = frozenset(
    {
        "area", "base", "basefont", "bgsound", "br", "col", "command",
        "embed", "frame", "hr", "image", "img", "input", "isindex",
        "keygen", "link", "menuitem", "meta", "nextid", "param", "source",
        "spacer", "track", "wbr",
    }
)

PRESERVE_WHITESPACE_TAGS = frozenset({"pre", "textarea"})


class TextNode(str):
    """A text node; subclass of str like bs4's NavigableString."""

    __slots__ = ("parent",)
    is_tag = False  # cheap type test for the descendants() hot loop

    def __new__(cls, value: str):
        self = super().__new__(cls, value)
        self.parent = None
        return self


class SkipNode(TextNode):
    """Comment / doctype / PI — ignored by text extraction.

    Equivalent to bs4's ``PreformattedString`` family
    (html_backend.py:353-354, :412-413 skip these).
    """

    __slots__ = ()


Node = Union["Tag", TextNode]


def _names(name_filter) -> Optional[Iterable[str]]:
    """A tag-name filter (None, a name, or a collection of names) as a
    container for one ``in`` test per node; None matches every tag."""
    if name_filter is None or not isinstance(name_filter, str):
        return name_filter
    return (name_filter,)


# Parse-time descendant flags: a bit per "rare but scanned-for" tag.
# ``Tag.watch`` is the OR of the bits of the tag's descendants: a new
# tag sets its bit on its parent, and a tag ORs its own ``watch`` into
# its parent when it is closed (or at end of input). It lets the
# kernel skip whole-subtree find_all("img") / find("table") scans on
# the overwhelmingly common subtrees that lack them.
WATCH_IMG = 1
WATCH_FORMULA = 2
WATCH_TABLE = 4
# any block-level tag (html_kernel.BLOCK_TAGS imports this set): the
# walk asks "does this inline-looking subtree hide a block?" for
# almost every node — a parse-time bit turns that from an O(subtree)
# scan into one mask test
WATCH_BLOCK = 8
# crawl pages rarely carry a <title>: without the bit, Soup.title is a
# full-tree miss on every such page
WATCH_TITLE = 16
BLOCK_TAG_NAMES = frozenset(
    {
        "address", "details", "figure", "footer",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "ol", "p", "pre", "summary", "table", "ul",
    }
)
_WATCH_BITS = {
    "img": WATCH_IMG,
    "inline-formula": WATCH_FORMULA,
    "table": WATCH_TABLE,
    "title": WATCH_TITLE,
}
for _t in BLOCK_TAG_NAMES:
    _WATCH_BITS[_t] = _WATCH_BITS.get(_t, 0) | WATCH_BLOCK
_WATCH_MASK = WATCH_IMG | WATCH_FORMULA | WATCH_TABLE | WATCH_BLOCK | WATCH_TITLE

# How tree building treats a start tag, one dict lookup per tag: its
# watch bit (the low bits) plus these flags. A name that is not a key
# needs nothing but a push.
_VOID = 32
_PRE = 64
_CDATA = 128  # script/style: raw-text content, and stripped as boilerplate
_BR = 256
_START_FLAGS: dict[str, int] = dict(_WATCH_BITS)
for _t in VOID_ELEMENTS:
    _START_FLAGS[_t] = _START_FLAGS.get(_t, 0) | _VOID
for _t in PRESERVE_WHITESPACE_TAGS:
    _START_FLAGS[_t] = _START_FLAGS.get(_t, 0) | _PRE
for _t in ("script", "style"):
    _START_FLAGS[_t] = _START_FLAGS.get(_t, 0) | _CDATA
_START_FLAGS["br"] |= _BR


class Tag:
    __slots__ = ("name", "attrs", "contents", "parent", "watch")
    is_tag = True

    def __init__(
        self, name: str, attrs: Optional[dict] = None, parent: Optional["Tag"] = None
    ):
        self.name = name
        self.attrs = attrs or {}
        self.contents: list[Node] = []
        self.parent = parent
        self.watch = 0  # OR of _WATCH_BITS present in DESCENDANTS

    # -- construction -------------------------------------------------
    def append(self, node: Node) -> None:
        node.parent = self
        self.contents.append(node)

    # -- bs4-like API used by the kernel -------------------------------
    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def __iter__(self) -> Iterator[Node]:
        return iter(self.contents)

    def __bool__(self) -> bool:  # empty tags are still truthy, like bs4
        return True

    def descendants(self) -> Iterator[Node]:
        # iterative pre-order DFS: nested `yield from` generators cost
        # one Python frame per tree level per item; for/else replaces
        # the `advanced` flag and the class-attr is_tag test replaces
        # isinstance in the per-node loop
        stack: list[Iterator[Node]] = [iter(self.contents)]
        push = stack.append
        pop = stack.pop
        while stack:
            for node in stack[-1]:
                yield node
                if node.is_tag and node.contents:
                    push(iter(node.contents))
                    break
            else:
                pop()

    def find_all(
        self,
        name=None,
        recursive: bool = True,
        has_attr: Optional[str] = None,
    ) -> list["Tag"]:
        # direct iterative DFS instead of iterating descendants(): the
        # generator costs one resume per *node*, and these scans are
        # the kernel's most frequent subtree operations
        names = _names(name)
        out: list[Tag] = []
        if not recursive:
            for node in self.contents:
                if (
                    node.is_tag
                    and (names is None or node.name in names)
                    and (has_attr is None or has_attr in node.attrs)
                ):
                    out.append(node)
            return out
        stack: list[Iterator[Node]] = [iter(self.contents)]
        while stack:
            for node in stack[-1]:
                if node.is_tag:
                    if (names is None or node.name in names) and (
                        has_attr is None or has_attr in node.attrs
                    ):
                        out.append(node)
                    if node.contents:
                        stack.append(iter(node.contents))
                        break
            else:
                stack.pop()
        return out

    def __call__(self, name=None, recursive: bool = True, has_attr=None):
        return self.find_all(name, recursive=recursive, has_attr=has_attr)

    def find(self, name=None, recursive: bool = True) -> Optional["Tag"]:
        names = _names(name)
        if not recursive:
            for node in self.contents:
                if node.is_tag and (names is None or node.name in names):
                    return node
            return None
        stack: list[Iterator[Node]] = [iter(self.contents)]
        while stack:
            for node in stack[-1]:
                if node.is_tag:
                    if names is None or node.name in names:
                        return node
                    if node.contents:
                        stack.append(iter(node.contents))
                        break
            else:
                stack.pop()
        return None

    def find_parent(self, name) -> Optional["Tag"]:
        names = _names(name)
        p = self.parent
        while p is not None:
            if names is None or p.name in names:
                return p
            p = p.parent
        return None

    def get_text(self, separator: str = "", strip: bool = False) -> str:
        parts: list[str] = []
        for node in self.descendants():
            if isinstance(node, SkipNode) or isinstance(node, Tag):
                continue
            s = str(node)
            if strip:
                s = s.strip()
                if not s:
                    continue
            parts.append(s)
        return separator.join(parts)

    def decompose(self) -> None:
        if self.parent is not None:
            try:
                self.parent.contents.remove(self)
            except ValueError:
                pass
            self.parent = None

    def replace_with(self, node: Node) -> None:
        if self.parent is None:
            return
        idx = self.parent.contents.index(self)
        node.parent = self.parent
        self.parent.contents[idx] = node
        self.parent = None

    def __repr__(self) -> str:  # debug aid only
        return f"<Tag {self.name} children={len(self.contents)}>"


class Soup(Tag):
    """Document root ('[document]' in bs4 terms)."""

    __slots__ = ("strip_tags", "br_tags")

    def __init__(self) -> None:
        super().__init__("[document]")
        # collected while parsing, in document order: the boilerplate
        # the kernel strips (script, style, any tag with a ``hidden``
        # attribute) and the <br> tags it turns into newlines
        self.strip_tags: list[Tag] = []
        self.br_tags: list[Tag] = []

    @property
    def title(self) -> Optional[Tag]:
        return self.find("title") if self.watch & WATCH_TITLE else None

    @property
    def body(self) -> Optional[Tag]:
        return self.find("body")


class _TreeParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Soup()
        self.stack: list[Tag] = [self.root]
        self._pre_depth = 0

    # -- text handling -------------------------------------------------
    def _append_text(self, data: str) -> None:
        if data == "":
            return
        if self._pre_depth == 0 and data.isspace():
            # bs4 collapses whitespace-only strings outside pre/textarea
            # (isspace on nonempty data == `not data.strip()`, without
            # the throwaway string allocation)
            data = "\n" if "\n" in data else " "
        self.stack[-1].append(TextNode(data))

    def handle_data(self, data: str) -> None:
        self._append_text(data)

    def handle_comment(self, data: str) -> None:
        self.stack[-1].append(SkipNode(data))

    def handle_decl(self, decl: str) -> None:
        self.stack[-1].append(SkipNode(decl))

    def handle_pi(self, data: str) -> None:
        self.stack[-1].append(SkipNode(data))

    def unknown_decl(self, data: str) -> None:
        self.stack[-1].append(SkipNode(data))

    def updatepos(self, i: int, j: int) -> int:
        # stdlib HTMLParser tracks (lineno, offset) for error messages
        # on every chunk boundary; nothing downstream reads positions
        return j

    # -- tags ------------------------------------------------------------
    @staticmethod
    def _make_attrs(attrs) -> dict:
        out: dict = {}
        for k, v in attrs:
            if k not in out:  # first occurrence wins
                out[k] = "" if v is None else v
        return out

    def _open(self, tag: str, attrs: dict, push: bool) -> None:
        """Append a new tag to the open one, set its watch bit there,
        record it if it is a strip or <br> candidate, and make it the
        open tag unless it is void or self-closed (``push`` false)."""
        parent = self.stack[-1]
        node = Tag(tag, attrs, parent)
        parent.contents.append(node)
        flags = _START_FLAGS.get(tag, 0)
        parent.watch |= flags & _WATCH_MASK
        if flags & _CDATA or "hidden" in attrs:
            self.root.strip_tags.append(node)
        elif flags & _BR:
            self.root.br_tags.append(node)
        if push and not flags & _VOID:
            self.stack.append(node)
            if flags & _PRE:
                self._pre_depth += 1

    def _close_to(self, i: int) -> None:
        """Close the open tags from ``stack[i]`` up, innermost first,
        each ORing its watch bits into its parent (the tag below it)."""
        stack = self.stack
        for k in range(len(stack) - 1, i - 1, -1):
            node = stack[k]
            stack[k - 1].watch |= node.watch
            if node.name in PRESERVE_WHITESPACE_TAGS:
                self._pre_depth -= 1
        del stack[i:]

    def handle_starttag(self, tag: str, attrs) -> None:
        self._open(tag, self._make_attrs(attrs), True)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._open(tag, self._make_attrs(attrs), False)

    def handle_endtag(self, tag: str) -> None:
        # pop to the nearest matching open tag; ignore if unmatched
        stack = self.stack
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == tag:
                self._close_to(i)
                return

    def close(self) -> None:
        super().close()
        self._close_to(1)  # what is still open at end of input


# ---------------------------------------------------------------------
# Whole-document fast tokenizer that builds the tree.
#
# html.parser's goahead() is built for INCREMENTAL feeding: every
# construct can span a chunk boundary, so each iteration pays for
# resumability (rawdata buffering, -1 "incomplete" returns, position
# bookkeeping). We always parse a complete document in one shot, so
# _fast_feed replays goahead(end=1) + close() semantics in a single
# tight loop: the SAME stdlib regexes (tagfind_tolerant,
# attrfind_tolerant, locatestarttagend_tolerant, endtagfind, …) make
# the same parsing decisions, only the orchestration differs.
#
# It also builds the tree in the loop: a text run, and a start or end
# tag that is a bare name (``<p>``, ``</p>``: about 95% of the tags of
# a crawl page), are matched by one regex (_PLAIN_TOKEN) and become
# nodes without a handler call, with the open tag and its contents
# list held in locals. For such a tag every stdlib regex above makes
# the trivial decision (no attributes, tail ">", end tag found at its
# own ">"), so the shortcut decides as they would. Everything else goes through the regexes and the
# _TreeParser handlers, after which the locals are re-read.
#
# Equivalence is pinned three ways: byte-identical goldens, a
# tree-equality sweep against the stdlib path over the synthetic crawl
# corpus, and hypothesis properties (tests/test_dom_fast_parse.py).
# parse_html additionally falls back to the stdlib path on ANY
# exception from the fast one.

from html import unescape as _unescape
from html import parser as _hp

_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}
_PLAIN_TOKEN = re.compile(
    r"([^<]*)<(?:([a-zA-Z][-.a-zA-Z0-9:_]*)|/([a-zA-Z][-.a-zA-Z0-9:_]*))>"
)


def _fast_feed(self: "_TreeParser", rawdata: str) -> None:  # noqa: C901
    handle_data = self.handle_data
    locatestart = _hp.locatestarttagend_tolerant.match
    tagfind = _hp.tagfind_tolerant.match
    attrfind = _hp.attrfind_tolerant.match
    endtagfind = _hp.endtagfind.match
    endendtag = _hp.endendtag.search
    commentclose = _hp.commentclose.search
    piclose = _hp.piclose.search
    plain_token = _PLAIN_TOKEN.match
    start_flags = _START_FLAGS.get
    new_text = str.__new__  # TextNode without its Python-level __new__
    find = rawdata.find
    startswith = rawdata.startswith
    stack = self.stack
    strip_tags = self.root.strip_tags
    br_tags = self.root.br_tags
    cur = stack[-1]  # the open tag, and its contents
    contents = cur.contents
    n = len(rawdata)
    i = 0
    cdata_elem = None

    def recover(pos: int) -> int:
        # goahead's end=1 path for an unterminated construct
        k = find(">", pos + 1)
        if k < 0:
            k = find("<", pos + 1)
            if k < 0:
                k = pos + 1
        else:
            k += 1
        handle_data(_unescape(rawdata[pos:k]))
        return k

    while i < n:
        if cdata_elem is None:
            # the text up to the next "<", and that tag if it is plain
            m = plain_token(rawdata, i)
            if m is None:
                j = find("<", i)
                if j < 0:
                    j = n
                seg = rawdata[i:j]
            else:
                seg, name, end_name = m.group(1, 2, 3)
            if seg:
                # html.unescape is a no-op without "&"; the C substring
                # scan here skips the call for the common case
                if "&" in seg:
                    seg = _unescape(seg)
                if seg:  # _append_text, inline
                    if self._pre_depth == 0 and seg.isspace():
                        seg = "\n" if "\n" in seg else " "
                    node = new_text(TextNode, seg)
                    node.parent = cur
                    contents.append(node)
            if m is None:
                i = j
                if i == n:
                    break
            elif name is not None:  # _open(name, {}, True), inline
                i = m.end()
                name = name.lower()
                node = Tag(name, {}, cur)
                contents.append(node)
                flags = start_flags(name)
                if flags is None:
                    stack.append(node)
                    cur = node
                    contents = node.contents
                    continue
                cur.watch |= flags & _WATCH_MASK
                if flags & _CDATA:
                    strip_tags.append(node)
                    cdata_elem = name
                elif flags & _BR:
                    br_tags.append(node)
                if not flags & _VOID:
                    stack.append(node)
                    cur = node
                    contents = node.contents
                    if flags & _PRE:
                        self._pre_depth += 1
                continue
            else:
                i = m.end()
                end_name = end_name.lower()
                if cur.name == end_name:  # closes the open tag (never the root)
                    del stack[-1]
                    parent = stack[-1]
                    parent.watch |= cur.watch
                    if end_name in PRESERVE_WHITESPACE_TAGS:
                        self._pre_depth -= 1
                    cur = parent
                else:
                    self.handle_endtag(end_name)
                    cur = stack[-1]
                contents = cur.contents
                continue
        else:
            m = _CDATA_CLOSE[cdata_elem].search(rawdata, i)
            if m is None:
                break  # unterminated CDATA content is dropped (stdlib)
            j = m.start()
            if i < j:
                handle_data(rawdata[i:j])  # no charref conversion in CDATA
            i = j
        c = rawdata[i + 1 : i + 2]
        if c.isalpha() and c.isascii():  # start tag
            m = locatestart(rawdata, i)
            j = m.end()
            nxt = rawdata[j : j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/" and startswith("/>", j):
                endpos = j + 2
            elif nxt == "" or nxt == "/" or (
                nxt.isascii() and (nxt.isalpha() or nxt == "=")
            ):
                # unterminated at EOF (goahead end=1 recovery)
                i = recover(i)
                continue
            else:
                endpos = j if j > i else i + 1
            tm = tagfind(rawdata, i + 1)
            k = tm.end()
            tag = tm.group(1).lower()
            attrs: dict = {}
            while k < endpos:
                am = attrfind(rawdata, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif (
                    attrvalue[:1] == "'" == attrvalue[-1:]
                    or attrvalue[:1] == '"' == attrvalue[-1:]
                ):
                    attrvalue = attrvalue[1:-1]
                if attrvalue:
                    attrvalue = _unescape(attrvalue)
                attrname = attrname.lower()
                if attrname not in attrs:  # first occurrence wins
                    attrs[attrname] = attrvalue or ""
                k = am.end()
            tail = rawdata[k:endpos].strip()
            if tail not in (">", "/>"):
                handle_data(rawdata[i:endpos])
                i = endpos
                continue
            if tail == "/>":
                self._open(tag, attrs, False)
            else:
                self._open(tag, attrs, True)
                if tag in ("script", "style"):
                    cdata_elem = tag
            cur = stack[-1]
            contents = cur.contents
            i = endpos
        elif c == "/":  # end tag
            gm = endendtag(rawdata, i + 1)
            if not gm:
                # unterminated CDATA content is dropped, as above
                if cdata_elem is not None:
                    break
                i = recover(i)
                continue
            gtpos = gm.end()
            em = endtagfind(rawdata, i)
            if not em:
                if cdata_elem is not None:
                    handle_data(rawdata[i:gtpos])
                    i = gtpos
                    continue
                nm = tagfind(rawdata, i + 2)
                if not nm:
                    if startswith("</>", i):
                        i = i + 3
                        continue
                    pos = find(">", i + 2)  # bogus comment
                    if pos == -1:
                        i = recover(i)
                        continue
                    self.handle_comment(rawdata[i + 2 : pos])
                    i = pos + 1
                    continue
                self.handle_endtag(nm.group(1).lower())
                cur = stack[-1]
                contents = cur.contents
                i = find(">", nm.end()) + 1
                continue
            elem = em.group(1).lower()
            if cdata_elem is not None and elem != cdata_elem:
                handle_data(rawdata[i:gtpos])
                i = gtpos
                continue
            self.handle_endtag(elem)
            cur = stack[-1]
            contents = cur.contents
            cdata_elem = None
            i = gtpos
        elif startswith("<!--", i):  # comment
            cm = commentclose(rawdata, i + 4)
            if not cm:
                i = recover(i)
                continue
            self.handle_comment(rawdata[i + 4 : cm.start()])
            i = cm.end()
        elif c == "?":  # processing instruction
            pm = piclose(rawdata, i + 2)
            if not pm:
                i = recover(i)
                continue
            self.handle_pi(rawdata[i + 2 : pm.start()])
            i = pm.end()
        elif c == "!":  # declaration
            if startswith("<![", i):
                # marked section: rare — delegate to the stdlib method
                self.rawdata = rawdata
                k = self.parse_marked_section(i)
                self.rawdata = ""
                if k < 0:
                    i = recover(i)
                    continue
                i = k
            elif rawdata[i : i + 9].lower() == "<!doctype":
                gtpos = find(">", i + 9)
                if gtpos == -1:
                    i = recover(i)
                    continue
                self.handle_decl(rawdata[i + 2 : gtpos])
                i = gtpos + 1
            else:
                pos = find(">", i + 2)  # bogus comment
                if pos == -1:
                    i = recover(i)
                    continue
                self.handle_comment(rawdata[i + 2 : pos])
                i = pos + 1
        elif i + 1 < n:
            handle_data("<")
            i += 1
        else:
            break
    if i < n and cdata_elem is None:
        handle_data(_unescape(rawdata[i:n]))
    self._close_to(1)  # what is still open at end of input


def parse_html_stdlib(raw: Union[bytes, str]) -> Soup:
    """Reference path: the stdlib incremental parser (used by the
    equivalence tests and as parse_html's safety fallback)."""
    text = _decode_html(raw)
    parser = _TreeParser()
    parser.feed(text)
    parser.close()
    return parser.root


def _decode_html(raw: Union[bytes, str]) -> str:
    if isinstance(raw, bytes):
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError:
            return raw.decode("latin-1", errors="replace")
    return raw


def parse_html(raw: Union[bytes, str]) -> Soup:
    """Parse HTML bytes/str into a Soup tree.

    Encoding: try UTF-8, fall back to latin-1 (never fails), matching the
    lenient behavior the pipeline needs at crawl scale.
    """
    text = _decode_html(raw)
    parser = _TreeParser()
    try:
        _fast_feed(parser, text)
    except Exception:
        # any divergence surprise: re-parse with the stdlib machinery
        parser = _TreeParser()
        parser.feed(text)
        parser.close()
    return parser.root
