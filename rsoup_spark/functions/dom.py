"""Minimal deterministic HTML DOM built on the stdlib ``html.parser``.

The reference engine (binh-vu/rsoup) parses HTML with html5ever
(``/root/reference/src/extractors/mod.rs:20-25``).  No third-party HTML
parser is available in this environment, so we build a small tree parser
on top of :class:`html.parser.HTMLParser`.  It is intentionally simple:

* entity references are decoded (``convert_charrefs=True``), matching
  html5ever's behaviour for ``&nbsp;`` etc.;
* void elements never take children;
* adjacent text chunks are merged into a single text node (html5ever
  also produces one text node per run);
* html5 error recovery covers the cases crawled pages actually hit:
  implied end tags (p/li/dt/dd/td/tr/option/...), foster parenting of
  text/elements illegal inside table contexts, implicit
  <tbody>/<tr>/<colgroup> synthesis (`<table><tr>` selects as
  `table > tbody > tr`), and the adoption agency for misnested
  formatting elements -- both the simple same-scope case and the
  cross-block case (the spec's `<b>1<p>2</b>3</p>` worked example),
  with formatting end tags scoped at cell/table/caption boundaries;
  mismatched non-formatting end tags pop up to the nearest matching
  open tag.

Parse semantics only matter relative to our own synthesized fixtures,
per SURVEY.md §7 risk 2.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator, Optional

TEXT = "text"
ELEMENT = "element"
DOCUMENT = "document"

VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Elements whose raw content is character data, never markup.
RAWTEXT_ELEMENTS = frozenset({"script", "style"})

# HTML5 implied-end-tag rules (the malformed-input subset that matters
# for crawled pages): starting tag T implicitly closes an *immediately
# open* element whose tag is in _CLOSED_BY[T].  Walking only the top of
# the stack (repeatedly) keeps scope rules simple: a nested container
# (ul/table/...) sits between the new tag and any outer same-kind
# element, so outer elements are never closed through a boundary.
_P_CLOSERS = (
    "address article aside blockquote details div dl fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hr main nav ol p pre "
    "section table ul"
).split()
_CLOSED_BY: dict[str, frozenset[str]] = {t: frozenset({"p"}) for t in _P_CLOSERS}
_CLOSED_BY.update(
    {
        "li": frozenset({"li", "p"}),
        "dt": frozenset({"dt", "dd", "p"}),
        "dd": frozenset({"dt", "dd", "p"}),
        "td": frozenset({"td", "th", "p"}),
        "th": frozenset({"td", "th", "p"}),
        "tr": frozenset({"tr", "td", "th", "p"}),
        "thead": frozenset({"tr", "td", "th", "tbody", "p"}),
        "tbody": frozenset({"tr", "td", "th", "thead", "p"}),
        "tfoot": frozenset({"tr", "td", "th", "tbody", "thead", "p"}),
        "option": frozenset({"option"}),
        "optgroup": frozenset({"option", "optgroup"}),
    }
)


def _implied_close(stack: list["Node"], tag: str) -> None:
    closes = _CLOSED_BY.get(tag)
    if closes is None:
        return
    while len(stack) > 1 and stack[-1].tag in closes:
        stack.pop()


# -- html5 foster parenting + (simplified) adoption agency -------------------
#
# html5ever (the reference's parser, /root/reference/src/extractors/
# mod.rs:20-25) relocates content that is illegal directly inside
# <table>/<thead>/<tbody>/<tfoot>/<tr> to just BEFORE the table ("foster
# parenting"), and repairs misnested formatting elements like
# <b><i></b>text</i> by reopening a clone of the implicitly closed
# formatting element ("adoption agency").  Both are implemented here as
# shared helpers so the fast tokenizer and the stdlib builder stay
# tree-equivalent (the repo's parser contract).

# insertion parents that trigger foster parenting
_TABLE_CONTEXT = frozenset({"table", "thead", "tbody", "tfoot", "tr"})
# table-furniture start tags: these clear the stack back to the nearest
# table context first (html5 "clear the stack back to a table/row
# context"), closing any fostered element still open
_TABLE_FURNITURE = frozenset(
    {"caption", "colgroup", "col", "thead", "tbody", "tfoot", "tr", "td",
     "th"}
)
# tags legal directly inside a table context (not fostered)
_ALLOWED_IN_TABLE = _TABLE_FURNITURE | frozenset(
    {"table", "script", "style", "template", "form"}
)
# the html5 formatting-element set (adoption agency scope)
_FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)


def _find_table(stack: list["Node"]) -> Optional["Node"]:
    for i in range(len(stack) - 1, 0, -1):
        if stack[i].tag == "table":
            return stack[i]
    return None


def _foster_insert(stack: list["Node"], node: "Node") -> bool:
    """Insert ``node`` immediately before the innermost open <table>.
    Returns False when no table (with a parent) is open -- caller then
    inserts normally."""
    tbl = _find_table(stack)
    if tbl is None or tbl.parent is None:
        return False
    parent = tbl.parent
    idx = parent.children.index(tbl)
    if node.kind == TEXT and idx > 0 and parent.children[idx - 1].is_text:
        parent.children[idx - 1].text += node.text
    else:
        node.parent = parent
        parent.children.insert(idx, node)
    return True


def _reopen_pending(stack: list["Node"], pending: list) -> None:
    """Materialize adoption-agency clones (html5 'reconstruct the active
    formatting elements', simplified): push a clone of each implicitly
    closed formatting element at the current insertion point (fostered
    if that point is a table context)."""
    specs = pending[:]
    pending.clear()
    for tag, attrs in specs:
        node = Node(ELEMENT, tag=tag, attrs=dict(attrs))
        cur = stack[-1]
        if not (cur.tag in _TABLE_CONTEXT and _foster_insert(stack, node)):
            cur.append(node)
        stack.append(node)


def _insert_text(
    stack: list["Node"], pending: list, text: str
) -> Optional["Node"]:
    """Insert character data; returns the text node extended/created
    (callers tracking character-batch continuity need it)."""
    if not text:
        return None
    parent = stack[-1]
    if parent.tag in RAWTEXT_ELEMENTS:
        # raw character data: no entity/foster/formatting processing
        if parent.children and parent.children[-1].is_text:
            parent.children[-1].text += text
            return parent.children[-1]
        node = Node(TEXT, text=text)
        parent.append(node)
        return node
    if pending:
        _reopen_pending(stack, pending)
    parent = stack[-1]
    if parent.tag in _TABLE_CONTEXT and not text.isspace():
        node = Node(TEXT, text=text)
        if _foster_insert(stack, node):
            tbl = _find_table(stack)
            idx = tbl.parent.children.index(tbl)
            return tbl.parent.children[idx - 1]
    last = parent.children[-1] if parent.children else None
    if last is not None and last.kind == TEXT:
        last.text += text
        return last
    node = Node(TEXT, text=text)
    parent.append(node)
    return node


def _insert_element(
    stack: list["Node"], pending: list, tag: str,
    attrs: dict[str, str], push: bool,
) -> "Node":
    """Shared start-tag insertion: table-furniture stack clearing,
    implied end tags, foster parenting.  ``push=False`` for void /
    self-closing elements."""
    if tag in _TABLE_FURNITURE or tag == "table":
        # cell/row/section boundaries are formatting-scope markers
        pending.clear()
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag in _TABLE_CONTEXT:
                del stack[i + 1:]
                break
    _implied_close(stack, tag)
    # html5 implicit table-section synthesis ("in table" mode): a row
    # or cell directly under <table> gets its <tbody> (and a cell its
    # <tr>); a <col> gets its <colgroup> -- so `<table><tr>` selects
    # as `table > tbody > tr` exactly like html5ever
    cur = stack[-1]
    if cur.tag == "table":
        wrapper = (
            "tbody" if tag in ("tr", "td", "th")
            else "colgroup" if tag == "col"
            else None
        )
        if wrapper is not None:
            wnode = Node(ELEMENT, tag=wrapper)
            cur.append(wnode)
            stack.append(wnode)
            cur = wnode
    if cur.tag in ("tbody", "thead", "tfoot") and tag in ("td", "th"):
        trnode = Node(ELEMENT, tag="tr")
        cur.append(trnode)
        stack.append(trnode)
        cur = trnode
    node = Node(ELEMENT, tag=tag, attrs=attrs)
    fostered = False
    if cur.tag in _TABLE_CONTEXT and tag not in _ALLOWED_IN_TABLE:
        # html5 keeps hidden inputs in place; everything else is fostered
        if not (tag == "input" and attrs.get("type", "").lower() == "hidden"):
            fostered = _foster_insert(stack, node)
    if not fostered:
        cur.append(node)
    if push:
        stack.append(node)
    return node


# html5 "has an element in scope" boundaries: a formatting end tag
# whose element sits beyond one of these is ignored rather than popped
# through (e.g. </b> inside a table cell never closes a <b> outside it)
_SCOPE_BOUNDARY = frozenset(
    {"applet", "caption", "html", "table", "td", "th", "marquee",
     "object", "template"}
)


def _detach(node: "Node") -> None:
    if node.parent is not None:
        node.parent.children.remove(node)
        node.parent = None


def _adoption_step(stack: list["Node"], fmt_idx: int) -> None:
    """One outer iteration of the html5 adoption agency for the
    cross-block case: ``stack[fmt_idx]`` is the formatting element and
    at least one special (non-formatting) element is open above it.
    Mirrors the spec steps: the furthest block moves to the common
    ancestor (through clones of any intermediate formatting elements),
    its children are wrapped in a clone of the formatting element, and
    the clone takes the formatting element's place in the stack just
    below the furthest block -- the caller's next iteration then pops
    it if it ended up current (spec's second outer pass)."""
    fmt = stack[fmt_idx]
    fb_idx = fmt_idx + 1
    while stack[fb_idx].tag in _FORMATTING:
        fb_idx += 1
    fb = stack[fb_idx]
    common = stack[fmt_idx - 1]
    # inner loop: clone each intermediate formatting element, chaining
    # the furthest block up through the clones
    last = fb
    for j in range(fb_idx - 1, fmt_idx, -1):
        mid = stack[j]
        clone = Node(ELEMENT, tag=mid.tag, attrs=dict(mid.attrs))
        stack[j] = clone
        _detach(last)
        clone.append(last)
        last = clone
    _detach(last)
    if not (common.tag in _TABLE_CONTEXT and _foster_insert(stack, last)):
        common.append(last)
    # wrap the furthest block's children in a clone of fmt
    fclone = Node(ELEMENT, tag=fmt.tag, attrs=dict(fmt.attrs))
    for ch in fb.children:
        ch.parent = fclone
    fclone.children = fb.children
    fb.children = []
    fb.append(fclone)
    del stack[fmt_idx]
    stack.insert(fb_idx, fclone)  # fb shifted to fb_idx - 1


def _run_adoption(stack: list["Node"], pending: list, tag: str) -> None:
    """Formatting end tag: html5 adoption agency (outer loop)."""
    for _ in range(8):
        fmt_idx = None
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                fmt_idx = i
                break
            if stack[i].tag in _SCOPE_BOUNDARY:
                break
        if fmt_idx is None:
            # not open in scope: may cancel a pending clone (html5:
            # element in the active list but not the open stack is
            # simply removed); otherwise ignored
            for j in range(len(pending) - 1, -1, -1):
                if pending[j][0] == tag:
                    del pending[j]
                    return
            return
        above = stack[fmt_idx + 1:]
        if not above:
            del stack[fmt_idx:]
            return
        if all(a.tag in _FORMATTING for a in above):
            # adoption agency (simple case): </b> with <i> still
            # open implicitly closes the <i>; schedule clones to
            # reopen at the next text insertion so <b><i></b>text
            # yields <b><i></i></b><i>text</i> like html5ever,
            # while <b><i></b></i> leaves no empty clone behind
            del stack[fmt_idx:]
            pending.extend((a.tag, dict(a.attrs)) for a in above)
            return
        _adoption_step(stack, fmt_idx)


def _handle_end(stack: list["Node"], pending: list, tag: str) -> None:
    if tag in _FORMATTING:
        _run_adoption(stack, pending, tag)
        return
    for i in range(len(stack) - 1, 0, -1):
        if stack[i].tag == tag:
            del stack[i:]
            # closing a block is a formatting-scope boundary -- but
            # rawtext elements (script/style) are not: html5 keeps the
            # active formatting list across them, and the fast parser
            # consumes their end tags inline without reaching here
            if tag not in RAWTEXT_ELEMENTS:
                pending.clear()
            return
    # unmatched non-formatting end tag: ignored (error recovery)


class Node:
    """One DOM node: document root, element, or text."""

    __slots__ = ("kind", "tag", "attrs", "text", "children", "parent")

    def __init__(
        self,
        kind: str,
        tag: str = "",
        attrs: Optional[dict[str, str]] = None,
        text: str = "",
    ) -> None:
        self.kind = kind
        self.tag = tag
        self.attrs: dict[str, str] = attrs or {}
        self.text = text
        self.children: list[Node] = []
        self.parent: Optional[Node] = None

    def append(self, child: "Node") -> None:
        child.parent = self
        self.children.append(child)

    @property
    def is_element(self) -> bool:
        return self.kind == ELEMENT

    @property
    def is_text(self) -> bool:
        return self.kind == TEXT

    # -- traversal helpers ------------------------------------------------
    def iter_subtree(self) -> Iterator["Node"]:
        """Preorder traversal including self."""
        stack = [self]
        while stack:
            node = stack.pop()
            yield node
            stack.extend(reversed(node.children))

    def next_siblings(self) -> Iterator["Node"]:
        if self.parent is None:
            return
        seen = False
        for sib in self.parent.children:
            if seen:
                yield sib
            elif sib is self:
                seen = True

    # -- queries (the subset of CSS the reference tests use) --------------
    def find_all(self, tag: str) -> list["Node"]:
        """All descendant elements with the given tag, document order."""
        out = []
        for node in self.iter_subtree():
            if node is not self and node.is_element and node.tag == tag:
                out.append(node)
        return out

    def find_by_id(self, el_id: str) -> Optional["Node"]:
        for node in self.iter_subtree():
            if node.is_element and node.attrs.get("id") == el_id:
                return node
        return None

    def find_by_class(self, cls: str) -> list["Node"]:
        out = []
        for node in self.iter_subtree():
            if node.is_element and cls in node.attrs.get("class", "").split():
                out.append(node)
        return out

    def outer_text(self) -> str:
        parts = []
        for node in self.iter_subtree():
            if node.is_text:
                parts.append(node.text)
        return "".join(parts)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        if self.is_text:
            return f"Text({self.text!r})"
        return f"<{self.tag} children={len(self.children)}>"


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node(DOCUMENT)
        self.stack: list[Node] = [self.root]
        self.pending: list = []  # adoption-agency clones to reopen
        # text runs are buffered (convert_charrefs splits runs around
        # entities) so the foster-parenting decision sees the whole run
        # exactly like the one-pass tokenizer and html5's pending table
        # character tokens
        self._text: list[str] = []

    def _flush_text(self) -> None:
        if self._text:
            data = "".join(self._text)
            self._text.clear()
            _insert_text(self.stack, self.pending, data)

    # -- HTMLParser callbacks ---------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        self._flush_text()
        attr_map: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_map:  # first occurrence wins (html5 rule)
                attr_map[k] = v if v is not None else ""
        _insert_element(
            self.stack, self.pending, tag, attr_map,
            push=tag not in VOID_ELEMENTS,
        )

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._flush_text()
        attr_map: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_map:
                attr_map[k] = v if v is not None else ""
        _insert_element(self.stack, self.pending, tag, attr_map, push=False)

    def handle_endtag(self, tag: str) -> None:
        self._flush_text()
        _handle_end(self.stack, self.pending, tag)

    def handle_data(self, data: str) -> None:
        if data:
            self._text.append(data)

    def close(self) -> None:
        super().close()
        self._flush_text()

    # comments / doctype / PIs are dropped, as the reference ignores
    # them -- but they still FLUSH the text buffer: text runs on either
    # side of a dropped token are separate character batches (html5
    # "in table text" fosters a non-space batch while keeping a
    # whitespace batch in the table, so merging them changes the tree)
    def handle_comment(self, data: str) -> None:
        self._flush_text()

    def handle_decl(self, decl: str) -> None:
        self._flush_text()

    def handle_pi(self, data: str) -> None:
        self._flush_text()


import html as _htmlmod
import re as _re

# one-pass tokenizer: ~3x faster than html.parser (which pays for
# line/column tracking we never use).  Quoted '>' inside attributes is
# handled by the alternation in the attrs group.
_TOKEN = _re.compile(
    r"<!--.*?-->"
    r"|<!\[CDATA\[.*?\]\]>"
    r"|<![^>]*>"
    r"|<\?[^>]*>"
    r"|</\s*([a-zA-Z][a-zA-Z0-9:_.-]*)\s*>"
    # html.parser's parse_endtag fallback: '</name junk>' is one end
    # tag consumed through the '>' (tolerant name charset, no leading
    # whitespace -- tagfind_tolerant at i+2)
    r"|</([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>"
    # '</' + non-letter is the html5 bogus-comment state: consumed
    # up to '>' and dropped (html.parser does the same)
    r"|</[^a-zA-Z>][^>]*>"
    r"|</>"
    # start-tag name charset matches html.parser's tagfind_tolerant /
    # the html5 tag-name state: anything but whitespace, '/', '>' --
    # including a stray '<' ('<x<i>' is one tag named 'x<i', not a
    # 0-attr tag 'x' swallowing '<i').  A quoted run may hide a '>'
    # only when VALUE-positioned (after '='): a bare quote in attr
    # junk is an ordinary char and the tag ends at the next '>',
    # exactly like html.parser's locatestarttagend_tolerant
    r"|<([a-zA-Z][^\t\n\r\f />\x00]*)"
    r"((?:=\s*\"[^\"]*\"|=\s*'[^']*'|[^>])*)>",
    _re.S,
)

# aligned with html.parser's attrfind_tolerant (the stdlib builder's
# attribute scanner), so garbage attrs split identically in both
# parsers: names need a preceding delimiter and exclude '=', '=+' is
# tolerated, and an unquoted value may not START with a quote char
_ATTR = _re.compile(
    r"(?<=[\s/\"'])([^\s/>][^\s/=>]*)"
    r"(?:\s*=+\s*(?:\"([^\"]*)\"|'([^']*)'|(?!['\"])([^\s>]*)))?"
)
_AMP = _re.compile(r"&")
_RAW_END = {
    "script": _re.compile(r"</script", _re.I),
    "style": _re.compile(r"</style", _re.I),
}


def _unescape(s: str) -> str:
    # html.unescape is comparatively slow; skip it when no entity present
    return _htmlmod.unescape(s) if "&" in s else s


# start tags that cannot take the inlined fast path below: table
# furniture (stack clearing), implied-end-tag triggers, and rawtext /
# void / foster-sensitive handling all route through the shared helpers
_SLOW_START = (
    _TABLE_FURNITURE
    | frozenset({"table"})
    | frozenset(_CLOSED_BY)
    | RAWTEXT_ELEMENTS
    | VOID_ELEMENTS
)


def _fast_parse(html: str) -> Node:
    root = Node(DOCUMENT)
    stack = [root]
    pending: list = []
    pos = 0
    n = len(html)

    # NB the hot loop inlines the no-table-context/no-pending common
    # case of _insert_text/_insert_element/_handle_end; every inline
    # branch is semantics-identical to the helper it bypasses (the
    # fast-vs-stdlib tree-equivalence suite pins this).  Rawtext
    # elements are consumed inline further down and never pushed, so
    # stack[-1] is never a rawtext tag here.
    # character-batch semantics: '</>' emits NO token (html5 end-tag-
    # open parse error), so text on either side of it is ONE character
    # run.  Outside tables that only means merge-into-the-same-node
    # (prev_text).  In table context the whole run's foster-vs-stay
    # disposition depends on the COMPLETE batch (html5 "in table
    # text"), so segments buffer in tbuf and flush before the next
    # real token -- exactly when the stdlib builder's _text buffer
    # flushes.
    prev_text: Optional[Node] = None
    tbuf: list[str] = []
    while pos < n:
        m = _TOKEN.search(html, pos)
        if m is None:
            tail = _unescape(html[pos:])
            if tbuf or stack[-1].tag in _TABLE_CONTEXT:
                tbuf.append(tail)
            elif prev_text is not None:
                prev_text.text += tail
            else:
                _insert_text(stack, pending, tail)
            break
        if m.start() > pos:
            text = _unescape(html[pos : m.start()])
            if tbuf or stack[-1].tag in _TABLE_CONTEXT:
                tbuf.append(text)
            elif prev_text is not None:
                prev_text.text += text
            else:
                cur = stack[-1]
                if not pending:
                    ch = cur.children
                    if ch and ch[-1].kind == TEXT:
                        ch[-1].text += text
                        prev_text = ch[-1]
                    else:
                        node = Node(TEXT, text=text)
                        node.parent = cur
                        ch.append(node)
                        prev_text = node
                else:
                    prev_text = _insert_text(stack, pending, text)
        pos = m.end()
        g = m.groups()
        end_tag = g[0] if g[0] is not None else g[1]
        start_tag, attrs_raw = g[2], g[3]
        if start_tag is None and end_tag is None and m.group(0) == "</>":
            continue  # no token emitted: the character run continues
        prev_text = None
        if tbuf:
            _insert_text(stack, pending, "".join(tbuf))
            tbuf.clear()

        if start_tag is not None:
            tag = start_tag if start_tag.islower() else start_tag.lower()
            if not attrs_raw:
                # attribute-less start tag (the common token): inline
                # insert unless table context / implied-close / void /
                # rawtext handling applies
                cur = stack[-1]
                if (
                    tag not in _SLOW_START
                    and cur.tag not in _TABLE_CONTEXT
                ):
                    node = Node(ELEMENT, tag=tag)
                    node.parent = cur
                    cur.children.append(node)
                    stack.append(node)
                elif tag in RAWTEXT_ELEMENTS:
                    node = _insert_element(
                        stack, pending, tag, {}, push=False
                    )
                    pos = _consume_rawtext(node, html, pos, n)
                else:
                    _insert_element(
                        stack, pending, tag, {},
                        push=tag not in VOID_ELEMENTS,
                    )
                continue
            attr_map: dict[str, str] = {}
            last_unquoted_end = -1
            if "=" in attrs_raw or attrs_raw.strip("/ \t\r\n"):
                for am in _ATTR.finditer(attrs_raw):
                    name = am.group(1)
                    if not name.islower():
                        name = name.lower()
                    if name in attr_map:
                        continue
                    val = am.group(2)
                    if val is None:
                        val = am.group(3)
                    if val is None:
                        val = am.group(4)
                        if val is not None:
                            last_unquoted_end = am.end(4)
                    attr_map[name] = _unescape(val) if val else (val or "")
            # a trailing '/' marks self-closing ONLY when it is not the
            # last character of an unquoted attribute value
            # (`<a href=http://x.com/>` is a normal start tag whose href
            # keeps its trailing slash, per the HTML5 tokenizer)
            stripped = attrs_raw.rstrip()
            self_closing = (
                stripped.endswith("/") and last_unquoted_end != len(stripped)
            )
            cur = stack[-1]
            if (
                tag not in _SLOW_START
                and not self_closing
                and cur.tag not in _TABLE_CONTEXT
            ):
                # same inline as the attr-less path (covers <a href=..>,
                # <span class=..> etc., the bulk of attr-ful tags)
                node = Node(ELEMENT, tag=tag, attrs=attr_map)
                node.parent = cur
                cur.children.append(node)
                stack.append(node)
            elif tag in RAWTEXT_ELEMENTS and not self_closing:
                node = _insert_element(
                    stack, pending, tag, attr_map, push=False
                )
                pos = _consume_rawtext(node, html, pos, n)
            else:
                _insert_element(
                    stack, pending, tag, attr_map,
                    push=tag not in VOID_ELEMENTS and not self_closing,
                )
        elif end_tag is not None:
            tag = end_tag if end_tag.islower() else end_tag.lower()
            top = stack[-1]
            if top.tag == tag and len(stack) > 1:
                # matched at the top of the stack: nothing above it to
                # adopt, closing a non-formatting tag still bounds the
                # formatting scope (same as _handle_end's matched arm)
                stack.pop()
                if (
                    pending
                    and tag not in _FORMATTING
                    and tag not in RAWTEXT_ELEMENTS
                ):
                    pending.clear()
            else:
                _handle_end(stack, pending, tag)
        # comments / decls / PIs / CDATA dropped

    if tbuf:  # EOF flush of a buffered table-context character run
        _insert_text(stack, pending, "".join(tbuf))
    return root


def _consume_rawtext(node: Node, html: str, pos: int, n: int) -> int:
    """Swallow raw character data up to the matching end tag into the
    already-inserted element; returns the new parse position."""
    em = _RAW_END[node.tag].search(html, pos)
    raw_end = em.start() if em else n
    if raw_end > pos:
        node.append(Node(TEXT, text=html[pos:raw_end]))
    close = html.find(">", raw_end)
    return (close + 1) if close != -1 else n


def parse_document(html: str) -> Node:
    """Parse a full HTML document; returns the document root node.

    Uses the fast one-pass tokenizer; ``tests/test_dom_parsers.py``
    asserts tree equivalence with the stdlib ``html.parser`` build over
    every reference fixture.
    """
    return _fast_parse(html)


def parse_document_stdlib(html: str) -> Node:
    """stdlib html.parser build (reference behaviour for equivalence
    tests; also the fallback if the tokenizer misbehaves on new input)."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def parse_fragment(html: str) -> Node:
    """Parse an HTML fragment; returns a pseudo-root element wrapping it.

    Mirrors html5ever's ``parse_fragment`` which wraps content in an
    ``<html>`` element (see the reference test
    ``tests/extractors/test_text_extractor.rs:37,88-89``).
    """
    doc = parse_document(html)
    wrapper = Node(ELEMENT, tag="html")
    for child in doc.children:
        wrapper.append(child)
    return wrapper
