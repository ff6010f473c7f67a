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

No code is copied from BeautifulSoup; only the behavior needed for the
fixture corpus is implemented.
"""

from __future__ import annotations

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


def _name_matches(tag_name: str, name_filter) -> bool:
    if name_filter is None:
        return True
    if isinstance(name_filter, str):
        return tag_name == name_filter
    return tag_name in name_filter


# Parse-time descendant flags: a bit per "rare but scanned-for" tag.
# Marking open ancestors when such a tag starts costs O(depth) per
# occurrence; it lets the kernel skip whole-subtree find_all("img") /
# find("table") scans on the overwhelmingly common subtrees that lack
# them (profiled: ~15% of kernel time was these no-hit scans).
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


class Tag:
    __slots__ = ("name", "attrs", "contents", "parent", "watch")
    is_tag = True

    def __init__(self, name: str, attrs: Optional[dict] = None):
        self.name = name
        self.attrs = attrs or {}
        self.contents: list[Node] = []
        self.parent: Optional[Tag] = None
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
        # one Python frame per tree level per item (profiled at ~13% of
        # kernel time on deep crawl pages); for/else replaces the
        # `advanced` flag and the class-attr is_tag test replaces
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
        # generator costs one resume per *node*, these scans are the
        # kernel's most frequent subtree operations (profiled)
        out: list[Tag] = []
        if not recursive:
            for node in self.contents:
                if (
                    node.is_tag
                    and _name_matches(node.name, name)
                    and (has_attr is None or has_attr in node.attrs)
                ):
                    out.append(node)
            return out
        stack: list[Iterator[Node]] = [iter(self.contents)]
        while stack:
            for node in stack[-1]:
                if node.is_tag:
                    if _name_matches(node.name, name) and (
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
        if not recursive:
            for node in self.contents:
                if node.is_tag and _name_matches(node.name, name):
                    return node
            return None
        stack: list[Iterator[Node]] = [iter(self.contents)]
        while stack:
            for node in stack[-1]:
                if node.is_tag:
                    if _name_matches(node.name, name):
                        return node
                    if node.contents:
                        stack.append(iter(node.contents))
                        break
            else:
                stack.pop()
        return None

    def find_parent(self, name) -> Optional["Tag"]:
        p = self.parent
        while p is not None:
            if _name_matches(p.name, name):
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

    __slots__ = ()

    def __init__(self) -> None:
        super().__init__("[document]")

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
    def _append_text(self, data: str, cls=TextNode) -> None:
        if data == "":
            return
        if cls is TextNode and self._pre_depth == 0 and data.isspace():
            # bs4 collapses whitespace-only strings outside pre/textarea
            # (isspace on nonempty data == `not data.strip()`, without
            # the throwaway string allocation)
            data = "\n" if "\n" in data else " "
        self.stack[-1].append(cls(data))

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
        # on every chunk boundary — ~3% of kernel time at crawl scale
        # (profiled); nothing downstream reads positions, so skip it
        return j

    # -- tags ------------------------------------------------------------
    @staticmethod
    def _make_attrs(attrs) -> dict:
        out: dict = {}
        for k, v in attrs:
            if k not in out:  # first occurrence wins
                out[k] = "" if v is None else v
        return out

    def handle_starttag(self, tag: str, attrs) -> None:
        node = Tag(tag, self._make_attrs(attrs))
        self.stack[-1].append(node)
        bit = _WATCH_BITS.get(tag)
        if bit is not None:
            for open_tag in self.stack:
                open_tag.watch |= bit
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)
            if tag in PRESERVE_WHITESPACE_TAGS:
                self._pre_depth += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        self.stack[-1].append(Tag(tag, self._make_attrs(attrs)))
        bit = _WATCH_BITS.get(tag)
        if bit is not None:
            for open_tag in self.stack:
                open_tag.watch |= bit

    def handle_endtag(self, tag: str) -> None:
        # fast path: well-formed HTML closes the innermost tag
        stack = self.stack
        if len(stack) > 1 and stack[-1].name == tag:
            if tag in PRESERVE_WHITESPACE_TAGS:
                self._pre_depth -= 1
            del stack[-1]
            return
        # pop to the nearest matching open tag; ignore if unmatched
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == tag:
                for popped in stack[i:]:
                    if popped.name in PRESERVE_WHITESPACE_TAGS:
                        self._pre_depth -= 1
                del stack[i:]
                return


# ---------------------------------------------------------------------
# Whole-document fast tokenizer.
#
# html.parser's goahead() is built for INCREMENTAL feeding: every
# construct can span a chunk boundary, so each iteration pays for
# resumability (rawdata buffering, -1 "incomplete" returns, position
# bookkeeping). We always parse a complete document in one shot, so
# _fast_feed replays goahead(end=1) + close() semantics in a single
# tight loop: the SAME stdlib regexes (tagfind_tolerant,
# attrfind_tolerant, locatestarttagend_tolerant, endtagfind, …) make
# the same parsing decisions, only the orchestration differs.
# Equivalence is pinned three ways: byte-identical goldens, a
# tree-equality sweep against the stdlib path over the synthetic crawl
# corpus, and a hypothesis property (tests/test_properties.py).
# parse_html additionally falls back to the stdlib path on ANY
# exception from the fast one.

from html import unescape as _unescape
from html import parser as _hp

_CDATA_CLOSE = {
    "script": _hp.re.compile(r"</\s*script\s*>", _hp.re.I),
    "style": _hp.re.compile(r"</\s*style\s*>", _hp.re.I),
}


def _fast_feed(self: "_TreeParser", rawdata: str) -> None:  # noqa: C901
    handle_data = self.handle_data
    locatestart = _hp.locatestarttagend_tolerant.match
    tagfind = _hp.tagfind_tolerant.match
    attrfind = _hp.attrfind_tolerant.match
    endtagfind = _hp.endtagfind.match
    endendtag = _hp.endendtag.search
    commentclose = _hp.commentclose.search
    piclose = _hp.piclose.search
    find = rawdata.find
    startswith = rawdata.startswith
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
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                seg = rawdata[i:j]
                # html.unescape is a no-op without "&"; the C substring
                # scan here skips the call for the common case
                handle_data(_unescape(seg) if "&" in seg else seg)
        else:
            m = _CDATA_CLOSE[cdata_elem].search(rawdata, i)
            if m is None:
                return  # unterminated CDATA content is dropped (stdlib)
            j = m.start()
            if i < j:
                handle_data(rawdata[i:j])  # no charref conversion in CDATA
        i = j
        if i == n:
            break
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
            attrs = []
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
                attrs.append((attrname.lower(), attrvalue))
                k = am.end()
            tail = rawdata[k:endpos].strip()
            if tail not in (">", "/>"):
                handle_data(rawdata[i:endpos])
                i = endpos
                continue
            if tail == "/>":
                self.handle_startendtag(tag, attrs)
            else:
                self.handle_starttag(tag, attrs)
                if tag in ("script", "style"):
                    cdata_elem = tag
            i = endpos
        elif c == "/":  # end tag
            gm = endendtag(rawdata, i + 1)
            if not gm:
                if cdata_elem is not None:
                    return  # same as unterminated CDATA above
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
                i = find(">", nm.end()) + 1
                continue
            elem = em.group(1).lower()
            if cdata_elem is not None and elem != cdata_elem:
                handle_data(rawdata[i:gtpos])
                i = gtpos
                continue
            self.handle_endtag(elem)
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
