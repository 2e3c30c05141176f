"""Lenient HTML DOM builder on stdlib ``html.parser``.

Replaces the reference's dependency on ``lxml.html.fromstring``
(reference: html_parser.py:431,448) with a pure-stdlib parser that
replicates the recovery behaviors the reference's tests pin
(test_html_parser.py:576-627): ``</>`` becomes literal ``>`` text,
a doubled quote after an attribute value is dropped, unclosed
elements are closed at EOF, stray end tags are ignored, and an
implicit ``html``/``head``/``body`` document structure is always
built (libxml2-style).

The node model mirrors the small subset of the lxml Element API the
extraction kernel needs: ``tag``/``attrib``/``text``/``tail``/
children/``parent``.
"""

from __future__ import annotations

from html.parser import HTMLParser

from .constants import AUTO_CLOSE, HEAD_TAGS, VOID_ELEMENTS

COMMENT_TAG = "!comment"

_new_node = object.__new__


class Node:
    __slots__ = ("tag", "attrib", "text", "tail", "children", "parent")

    def __init__(self, tag: str, attrib: dict | None = None, parent=None):
        self.tag = tag
        self.attrib = attrib if attrib is not None else {}
        self.text: str | None = None
        self.tail: str | None = None
        self.children: list[Node] = []
        self.parent: Node | None = parent

    # -- lxml-like helpers used by the kernel ------------------------------
    def __len__(self):
        return len(self.children)

    def __getitem__(self, i):
        return self.children[i]

    def __iter__(self):
        return iter(self.children)

    def append(self, node: "Node"):
        node.parent = self
        self.children.append(node)

    def remove(self, node: "Node"):
        self.children.remove(node)
        node.parent = None

    def getparent(self):
        return self.parent

    def iter(self):
        yield self
        for c in self.children:
            yield from c.iter()

    def find_first(self, tag: str):
        """Document-order first descendant-or-self with ``tag``."""
        for n in self.iter():
            if n.tag == tag:
                return n
        return None

    def itertext(self):
        """All text content of the subtree, excluding self.tail.

        Mirrors ``etree.tostring(method="text")`` minus the root tail
        (reference: html_parser.py:590-593).
        """
        if self.tag == COMMENT_TAG:
            return
        if self.text:
            yield self.text
        for c in self.children:
            yield from c.itertext()
            if c.tail:
                yield c.tail

    def subtree_text(self) -> str:
        return "".join(self.itertext())

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<Node {self.tag} attrs={self.attrib} text={self.text!r} tail={self.tail!r}>"


def _valid_attr_name(name: str) -> bool:
    # libxml2 drops garbage tokens like a stray '"' left over from a
    # doubled quote (pinned by test_html_parser.py:603-627).
    c = name[0] if name else ""
    return c.isalpha() or c in "_:"


class _DomParser(HTMLParser):
    """Builds a full document tree with implicit html/head/body."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("html")
        self.head: Node | None = None
        self.body: Node | None = None
        # stack of open elements; root is always open
        self.stack: list[Node] = [self.root]
        self.malformed = False

    # -- structure helpers --------------------------------------------------
    def _ensure_head(self) -> Node:
        if self.head is None:
            self.head = Node("head")
            self.root.append(self.head)
        return self.head

    def _ensure_body(self) -> Node:
        if self.body is None:
            # implicitly close head scope
            if self.head is not None and self.head in self.stack:
                del self.stack[self.stack.index(self.head):]
            self._ensure_head()
            self.body = Node("body")
            self.root.append(self.body)
        return self.body

    def _cur(self) -> Node:
        return self.stack[-1]

    def _target_for_content(self, tag: str | None) -> Node:
        """Where should new content go when the stack is at <html> level."""
        if tag is not None and tag in HEAD_TAGS and self.body is None:
            return self._ensure_head()
        return self._ensure_body()

    # -- HTMLParser hooks ----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag == "html":
            # merge attributes into the synthetic root (keep-first)
            for k, v in attrs:
                if _valid_attr_name(k) and k not in self.root.attrib:
                    self.root.attrib[k] = v if v is not None else ""
            return
        if tag == "head":
            head = self._ensure_head()
            if self.body is None and head not in self.stack:
                self.stack.append(head)
            for k, v in attrs:
                if _valid_attr_name(k) and k not in head.attrib:
                    head.attrib[k] = v if v is not None else ""
            return
        if tag == "body":
            body = self._ensure_body()
            if body not in self.stack:
                self.stack.append(body)
            for k, v in attrs:
                if _valid_attr_name(k) and k not in body.attrib:
                    body.attrib[k] = v if v is not None else ""
            return

        # implicit auto-closing (libxml2-style recovery)
        stack = self.stack
        while len(stack) > 1:
            closers = AUTO_CLOSE.get(stack[-1].tag)
            if closers is not None and tag in closers:
                stack.pop()
            else:
                break

        cur = stack[-1]
        if cur is self.root:
            cur = self._target_for_content(tag)
            if cur is self.body and self.body not in stack:
                stack.append(self.body)
            elif cur is self.head and self.head not in stack and self.body is None:
                stack.append(self.head)
            cur = stack[-1]

        if attrs:
            attrib: dict[str, str] = {}
            for k, v in attrs:
                if k not in attrib and k and (k[0].isalpha() or k[0] in "_:"):
                    attrib[k] = v if v is not None else ""
        else:
            attrib = {}
        # hottest allocation site: bare __new__ + direct slot stores
        # (skips the __init__ frame), inlined cur.append(node)
        node = _new_node(Node)
        node.tag = tag
        node.attrib = attrib
        node.text = None
        node.tail = None
        node.children = []
        node.parent = cur
        cur.children.append(node)
        if tag not in VOID_ELEMENTS:
            stack.append(node)

    def handle_startendtag(self, tag, attrs):
        # HTML (non-XHTML) parsing ignores the trailing slash: a
        # self-closed non-void element stays open (libxml2 behavior).
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return  # </br> etc. ignored (test_html_parser.py:1003)
        stack = self.stack
        # fast path: the end tag matches the innermost open element
        # (the overwhelmingly common well-formed case); the general
        # loop below would take i = len-1 and `del stack[i:]` == pop.
        # ("html"/"body"/"head" end tags can also only match an open
        # element of the same name, so the same pop is correct.)
        if len(stack) > 1 and stack[-1].tag == tag:
            stack.pop()
            return
        if tag in ("html", "body", "head"):
            # close down to that scope but never drop the body itself
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    return
            return
        for i in range(len(stack) - 1, 0, -1):
            n = stack[i]
            if n.tag == tag:
                del stack[i:]
                return
            if n.tag in ("body", "head"):
                return  # never close past body/head on a stray end tag
        # no matching open tag: ignore (recovery)
        self.malformed = True

    def handle_data(self, data):
        if not data:
            return
        cur = self.stack[-1]
        if cur is self.root:
            # text at html level: whitespace before body is dropped,
            # other text force-opens body (libxml2 behavior)
            if self.body is None and not data.strip():
                return
            cur = self._ensure_body()
            if self.body not in self.stack:
                self.stack.append(self.body)
        children = cur.children
        if children:
            last = children[-1]
            last.tail = (last.tail or "") + data
        else:
            cur.text = (cur.text or "") + data

    def handle_comment(self, data):
        cur = self._cur()
        if cur is self.root:
            return  # comments outside head/body are irrelevant to //body
        node = Node(COMMENT_TAG)
        node.text = data
        cur.append(node)

    def handle_decl(self, decl):
        pass

    def unknown_decl(self, data):
        pass

    # stdlib swallows an empty end tag '</>' silently; libxml2 emits a
    # literal '>' text node instead (pinned by test_html_parser.py:578-583)
    def parse_endtag(self, i):
        rawdata = self.rawdata
        if rawdata.startswith("</>", i):
            self.handle_data(">")
            self.malformed = True
            return i + 3
        return super().parse_endtag(i)


def parse_document(html_str: str, fast: bool = True) -> tuple[Node, bool]:
    """Parse ``html_str`` leniently into a full document tree.

    Returns ``(root, malformed)`` where ``root`` is the ``<html>``
    element (always present) and ``malformed`` flags recovery events
    (used for the north_rule "malformed-HTML fallbacks" metric).

    ``fast=True`` drives the same DOM sink with the regex scanner of
    :mod:`.fast_scan` (~2-3× faster than stdlib html.parser event
    dispatch); any scanner error falls back to the stdlib path, which
    is equivalent by construction (see :mod:`.fast_scan`), so the
    fallback alone does not set ``malformed``.
    """
    if fast:
        from . import fast_scan

        p = _DomParser()
        try:
            fast_scan.scan(html_str, p)
            p._ensure_body()
            return p.root, p.malformed
        except Exception:
            pass  # fall through to the stdlib reference path

    p = _DomParser()
    try:
        p.feed(html_str)
        p.close()
    except Exception:
        p.malformed = True
    p._ensure_body()
    return p.root, p.malformed
