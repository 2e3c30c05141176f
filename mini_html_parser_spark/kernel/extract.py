"""The per-document extraction kernel: HTML → (plain text, spans).

This is a from-scratch re-derivation of the reference's scalar
pipeline (reference: html_parser.py:366-639) on the pure-stdlib DOM
of :mod:`.dom`.  The reference's stages (SURVEY.md §3.1) run as two
tree walks for every config:

1. root selection at ``start_parsing_at_tag`` (default ``body``) and
   re-wrap under a synthetic ``html`` marked for span removal
   (reference: html_parser.py:429-443),
2. one rewrite walk (``_Extractor._rewrite``) doing minification —
   comment removal + whitespace collapse, ``<pre>`` exempt
   (html_parser.py:446) — and tree rewriting: consecutive-tag folding
   (html_parser.py:267-313), top-down then bottom-up subtree removal
   with tail-preserving deletion (html_parser.py:222-264,316-363,
   583-607); a config with nothing to rewrite only minifies,
3. one DFS linearization (``_Extractor._linearize``) with the
   block/inline whitespace state machine (html_parser.py:496-581)
   that numbers relative positions and offsets as it goes
   (html_parser.py:474-494); spans a length-dependent alone-rule
   drops are removed after the walk (``_drop_by_length``).

Divergences from the reference (deliberate, documented):

* folding a tag that is neither block nor inline-spacing uses
  ``fake_tag_basic`` instead of crashing on the reference's undefined
  ``self.fake_tag`` (html_parser.py:302 latent AttributeError),
* unparseable input degrades to an empty result with
  ``malformed=True`` instead of raising (north_rule requires a
  malformed-HTML fallback metric).
"""

from __future__ import annotations

import sys
from bisect import bisect_left
from collections import defaultdict
from dataclasses import dataclass

from .config import INF, ExtractionConfig, TagToRemove
from .constants import (
    BLOCK_CONTENT_SEPARATOR,
    BLOCK_ELEMENTS,
    FAKE_TAG_BASIC,
    FAKE_TAG_BLOCK,
    FAKE_TAG_INLINE,
    INLINE_ELEMENTS_SPACING,
    MEDIA_TAGS,
    PLAIN_TEXT_SEPARATOR,
    PRE_TAG,
    PRESERVE_WHITESPACE_TAGS,
)
from .dom import COMMENT_TAG, Node, parse_document
from .minify import _collapse, _minify

_FAKE_TAGS = (FAKE_TAG_BLOCK, FAKE_TAG_INLINE, FAKE_TAG_BASIC)
# shared empty attrs/attr_values for attribute-less nodes (never
# mutated downstream — consumers copy via list()/extend())
_EMPTY_ATTRS: tuple = ()
_INLINE_SET = frozenset(INLINE_ELEMENTS_SPACING)
# \s in unicode mode matches exactly the str.isspace() character class
_WS_RUN_COLLAPSE = __import__("re").compile(r"(\s)\s+")

# deep pathological nesting shouldn't kill the executor
_MIN_RECURSION = 50_000


@dataclass(slots=True)
class Span:
    """One emitted span (reference Metadata dataclass, html_parser.py:109-123)."""

    char_start_idx: int
    relative_start_pos: int
    value: str  # tag name
    attrs: list
    attr_values: list
    char_end_idx: int | None = None
    relative_end_pos: int | None = None
    key: str = "html"
    type: str = "local"
    kind: str = "text"  # "text" | "media" (interleaved contract)
    media_ref: str = ""
    offset: int = -1  # rank of the span's start in document order


@dataclass
class ExtractResult:
    text: str
    spans: list  # list[Span] in reference emission (post-)order
    malformed: bool = False


class AttributeCleaner:
    """Attribute projection (reference: html_parser.py:126-149)."""

    def __init__(self, attrs_to_keep):
        # membership-tested per attribute per node: frozenset, not list
        self.attrs_to_keep = (
            frozenset(attrs_to_keep) if attrs_to_keep is not None else None
        )

    def __call__(self, attrib: dict) -> tuple[list, list]:
        keep = self.attrs_to_keep
        if keep is None:
            return list(attrib.keys()), list(attrib.values())
        names = [k for k in attrib if k in keep]
        return names, [attrib[k] for k in names]


# per-tag subtree decisions of TagFilter.decide_*: KEEP and DROP are
# final, TEXT means the verdict depends on the subtree text length
_KEEP, _DROP, _TEXT = 0, 1, 2


def _trivial_bounds(rule) -> bool:
    """A rule whose bounds [<=0, inf] admit every length n >= 0."""
    return rule.content_min_char_length <= 0 and rule.content_max_char_length == INF


class TagFilter:
    """Span-drop and subtree-drop predicates (reference: html_parser.py:152-264)."""

    def __init__(self, cfg: ExtractionConfig, tags_to_remove_alone: list):
        self.txt_max_chr_len_alone = cfg.txt_max_chr_len_alone
        self.txt_min_chr_len_alone = cfg.txt_min_chr_len_alone
        self.tags_exceptions_alone = cfg.tags_exceptions_alone or []
        self.txt_max_chr_len_with_content = cfg.txt_max_chr_len_with_content
        self.txt_min_chr_len_with_content = cfg.txt_min_chr_len_with_content
        self.tags_exceptions_with_content = cfg.tags_exceptions_with_content or []
        self.tags_to_remove_alone = {t.tag: t for t in tags_to_remove_alone}
        self.tags_to_remove_with_content = {
            t.tag: t for t in (cfg.tags_to_remove_with_content or [])
        }
        for t in self.tags_to_remove_with_content.values():
            if t.method not in ("top-down", "bottom-up"):
                raise ValueError(
                    f"invalid removal method {t.method!r} for tag {t.tag!r}; "
                    "valid methods are 'top-down' and 'bottom-up'"
                )

    def finalize(self) -> None:
        """Split the alone-rules once the last one is registered (the
        synthetic ``html`` wrapper rule — see _Extractor.__init__).

        ``always_drop``: tags whose rule has trivial bounds — their
        spans drop whatever their length, so the linearizer never
        emits them.  ``length_rules``: whether any other span can drop,
        i.e. some rule has non-trivial bounds or the global alone
        threshold is enabled (max = -inf never admits any n).  False
        for all NAMED_CONFIGS."""
        rules = self.tags_to_remove_alone
        self.always_drop = frozenset(t for t, r in rules.items() if _trivial_bounds(r))
        self.length_rules = (
            len(self.always_drop) < len(rules) or self.txt_max_chr_len_alone > -INF
        )

    def drop_span(self, span: Span) -> bool:
        # reference: html_parser.py:195-220
        tag = span.value
        n = span.char_end_idx - span.char_start_idx
        rule = self.tags_to_remove_alone.get(tag)
        if rule is not None and rule.content_min_char_length <= n <= rule.content_max_char_length:
            return True
        if tag not in self.tags_exceptions_alone:
            if self.txt_min_chr_len_alone <= n <= self.txt_max_chr_len_alone:
                return True
        return False

    def drop_subtree_top_down(self, tag: str, text: str) -> bool:
        # reference: html_parser.py:222-246
        rule = self.tags_to_remove_with_content.get(tag)
        if rule is not None and rule.method != "top-down":
            return False
        n = len(text)
        if rule is not None and rule.content_min_char_length <= n <= rule.content_max_char_length:
            return True
        if tag not in self.tags_exceptions_with_content:
            if self.txt_min_chr_len_with_content <= n <= self.txt_max_chr_len_with_content:
                return True
        return False

    def drop_subtree_bottom_up(self, tag: str, text: str) -> bool:
        # reference: html_parser.py:248-264
        rule = self.tags_to_remove_with_content.get(tag)
        if rule is None or rule.method != "bottom-up":
            return False
        return rule.content_min_char_length <= len(text) <= rule.content_max_char_length

    # The reference serializes the whole subtree to text at EVERY node
    # just to measure its length (html_parser.py:590-593,602-605) — an
    # O(size × depth) cost per document.  Most decisions do not depend
    # on the length (rule bounds are [0, inf], or no rule and the
    # global threshold disabled — the production configs); decide_*
    # says so per tag, and only _TEXT makes the caller build the text
    # and ask drop_subtree_* for the verdict.

    def decide_top_down(self, tag: str) -> int:
        rule = self.tags_to_remove_with_content.get(tag)
        if rule is not None:
            if rule.method != "top-down":
                return _KEEP
            return _DROP if _trivial_bounds(rule) else _TEXT
        if (
            tag not in self.tags_exceptions_with_content
            and self.txt_max_chr_len_with_content > -INF
        ):
            return _TEXT
        return _KEEP

    def decide_bottom_up(self, tag: str) -> int:
        rule = self.tags_to_remove_with_content.get(tag)
        if rule is None or rule.method != "bottom-up":
            return _KEEP
        return _DROP if _trivial_bounds(rule) else _TEXT


class ConsecutiveTagFolder:
    """Collapse single-child same-tag chains (reference: html_parser.py:267-313).

    Chain continuation uses the ``previous_tag`` marker attribute the
    way the reference does, including the quirk that a continuation
    stamps the *fake* tag as ``previous_tag`` so chains deeper than
    three stop folding — observable behavior preserved.
    """

    ATTRIB_SEPARATOR = " "

    def __init__(self, block_elements: list, consecutive_tags_to_fold):
        self.fold_tags = consecutive_tags_to_fold or []
        self.block_elements = block_elements

    def __call__(self, root: Node) -> None:
        tag = root.tag
        if not (
            (tag in self.fold_tags and len(root) == 1 and root[0].tag == tag)
            or (
                tag in _FAKE_TAGS
                and len(root) == 1
                and "previous_tag" in root.attrib
                and root[0].tag == root.attrib["previous_tag"]
            )
        ):
            return

        child = root[0]
        if tag in self.block_elements:
            child.tag = FAKE_TAG_BLOCK
        elif tag in INLINE_ELEMENTS_SPACING:
            child.tag = FAKE_TAG_INLINE
        else:
            child.tag = FAKE_TAG_BASIC

        fold_root = root
        while fold_root.tag in _FAKE_TAGS:
            fold_root = fold_root.getparent()

        for key, value in child.attrib.items():
            if key in fold_root.attrib:
                fold_root.attrib[key] += self.ATTRIB_SEPARATOR + value
            else:
                fold_root.attrib[key] = value
        child.attrib["previous_tag"] = tag


def _splice_tail_on_removal(node: Node, kept_siblings: list, parent: Node) -> None:
    """Tail-preserving deletion splice (reference: html_parser.py:316-363)
    with the previous-sibling lookup supplied by the caller (earlier
    removed siblings are already gone at splice time, exactly as in
    the reference's in-tree deletion order)."""
    if not node.tail:
        return
    sep = PLAIN_TEXT_SEPARATOR
    previous = kept_siblings[-1] if kept_siblings else None
    if previous is not None:
        if previous.tail is None:
            previous.tail = node.tail
        elif (
            previous.text
            and not previous.text.endswith(sep)
            and not node.tail.startswith(sep)
        ):
            previous.text = previous.text + sep + node.tail
        elif (
            previous.text
            and previous.text.endswith(sep)
            and node.tail.startswith(sep)
        ):
            previous.text = previous.text[: -len(sep)] + node.tail
        elif (
            previous.tail
            and not previous.tail.endswith(sep)
            and not node.tail.startswith(sep)
        ):
            previous.tail = previous.tail + sep + node.tail
        else:
            previous.tail = previous.tail + node.tail
    else:
        if parent.text is None:
            parent.text = node.tail
        elif not parent.text.endswith(sep) and not node.tail.startswith(sep):
            parent.text = parent.text + sep + node.tail
        elif parent.text.endswith(sep) and node.tail.startswith(sep):
            parent.text = parent.text[: -len(sep)] + node.tail
        else:
            parent.text = parent.text + node.tail


def _text_and_link_chars(node: Node) -> tuple[int, int]:
    """(all text chars, text chars under ``<a>`` descendants) of the
    subtree rooted at ``node`` — the two numbers link-density scoring
    needs.  Anchor tails are ordinary text (they sit outside the
    link), anchor-nested markup counts fully as link text."""
    n = len(node.text or "")
    n_link = 0
    for child in node.children:
        cn, cl = _text_and_link_chars(child)
        if child.tag == "a":
            cl = cn
        n += cn + len(child.tail or "")
        n_link += cl
    return n, n_link


class _Extractor:
    """One-shot extraction state machine (reference TextAndMetadataCleaner)."""

    def __init__(self, cfg: ExtractionConfig):
        self.cfg = cfg
        # fake tags are always span-dropped (reference: html_parser.py:390-403)
        alone = list(cfg.tags_to_remove_alone or []) + [
            TagToRemove(FAKE_TAG_BLOCK),
            TagToRemove(FAKE_TAG_INLINE),
            TagToRemove(FAKE_TAG_BASIC),
        ]
        self.block_elements = list(BLOCK_ELEMENTS)
        if cfg.convert_br_tag_to_breaking_line:
            # reference: html_parser.py:405-408
            self.block_elements.remove("br")
            alone.append(TagToRemove("br"))
        self.block_elements_set = frozenset(self.block_elements)
        self.folder = ConsecutiveTagFolder(self.block_elements, cfg.consecutive_tags_to_fold)
        self.attr_cleaner = AttributeCleaner(cfg.attrs_to_keep)
        self.tag_filter = TagFilter(cfg, alone)
        # the synthetic <html> wrapper's span-drop rule (reference:
        # html_parser.py:437-443) is registered up-front so the rule
        # split is finalized once; run() never mutates the rule table
        # (the extractor is reusable across documents — see
        # make_extract_fn)
        if cfg.start_parsing_at_tag is not None:
            self.tag_filter.tags_to_remove_alone["html"] = TagToRemove("html")
        self.tag_filter.finalize()
        self._drop_set = self.tag_filter.always_drop
        # the whole rewrite pass is a no-op when the config has no
        # fold tags, no with-content rules and no global thresholds
        # (keep_everything): run() then only minifies
        self._rewrites = bool(
            self.folder.fold_tags
            or self.tag_filter.tags_to_remove_with_content
            or self.tag_filter.txt_max_chr_len_with_content > -INF
        )
        # per-tag memos: separator action for the linearizer, rewrite
        # decision for the rewrite walk (see _decide)
        self._sep_act: dict = {}
        self._tag_decide: dict = {}
        self._br_newline = cfg.convert_br_tag_to_breaking_line
        self.density_cfg = cfg.density_prune
        self.density_tags = (
            frozenset(cfg.density_prune.candidate_tags)
            if cfg.density_prune is not None
            else frozenset()
        )

    # ---- tree rewriting (reference: html_parser.py:446,583-607) -----------
    def _decide(self, tag: str):
        """Memoized rewrite decision for ``tag``: 0 when the walk has
        nothing to decide there (most tags — one truthiness test per
        node), else ``(top-down, bottom-up, density candidate)``."""
        tf = self.tag_filter
        d = (tf.decide_top_down(tag), tf.decide_bottom_up(tag), tag in self.density_tags)
        d = self._tag_decide[tag] = d if any(d) else 0
        return d

    # Parent-managed deletion: a node signals "remove me" via return
    # value and the parent splices its tail and rebuilds the child
    # list once — identical observable semantics to the reference's
    # self-removal (lxml child iterators pre-fetch the next sibling,
    # so a child removing itself never skips its successor), but O(1)
    # per removal instead of list.remove's O(children) identity scan.
    def _rewrite(self, root: Node, in_pre: bool) -> bool:
        """Minify and rewrite in ONE walk: each node is minified
        locally, then folded, then judged top-down, then its children
        are walked, then it is judged bottom-up and by density.  Returns
        True when ``root`` must be removed.  Subtrees dropped top-down
        on their tag alone are never minified (script/style/header/
        footer/form bodies under boilerplate_strip).

        The output equals the reference's order — minify the whole
        tree, then rewrite it:

        * comment-strip/collapse are node-local, and a comment tail
          always merges into its neighbour raw, before that
          neighbour's own visit collapses it;
        * the fold rewriter reads only tags/attribs (minify-independent);
        * a top-down verdict that reads the subtree text first minifies
          the subtree below (``_minify`` is idempotent, so the child
          visits that follow change nothing more); a bottom-up verdict
          reads it after the children pass, when it is already minified;
        * a removed child's tail was collapsed at the child's own
          entry (the minify-local step runs before the drop verdict),
          and splice targets (previous kept sibling's tail / this
          node's text) were collapsed at their visits — so every
          splice concatenates exactly the strings the two-pass order
          concatenates;
        * inside preserved (``<pre>``) subtrees nothing collapses but
          comments still strip and rewrite rules still apply;
        * the density score runs post-children over the cleaned,
          minified subtree.
        """
        kids = root.children
        if kids:
            kept0: list[Node] = []
            text_extra = None
            for child in kids:
                if child.tag == COMMENT_TAG:
                    tail = child.tail
                    if tail:
                        if kept0:
                            kept0[-1].tail = (kept0[-1].tail or "") + tail
                        elif text_extra is None:
                            text_extra = tail
                        else:
                            text_extra += tail
                else:
                    kept0.append(child)
            if text_extra is not None:
                root.text = (root.text or "") + text_extra
            if len(kept0) != len(kids):
                root.children = kids = kept0
        if not in_pre:
            root.tail = _collapse(root.tail)
            if root.tag in PRESERVE_WHITESPACE_TAGS:
                in_pre = True
            else:
                root.text = _collapse(root.text)

        if len(kids) == 1:
            self.folder(root)

        tag = root.tag
        d = self._tag_decide.get(tag)
        if d is None:
            d = self._decide(tag)
        if d:
            drop = d[0]
            if drop == _TEXT:
                for child in kids:
                    _minify(child, in_pre)
                drop = self.tag_filter.drop_subtree_top_down(tag, root.subtree_text())
            if drop:
                return True

        if kids:
            kept: list[Node] = []
            changed = False
            for child in kids:
                if self._rewrite(child, in_pre):
                    _splice_tail_on_removal(child, kept, root)
                    changed = True
                else:
                    kept.append(child)
            if changed:
                root.children = kept

        if d:
            drop = d[1]
            if drop == _TEXT:
                drop = self.tag_filter.drop_subtree_bottom_up(tag, root.subtree_text())
            if drop:
                return True
            # text/link-density scoring (north-star heuristic; config.py
            # DensityPruneConfig).  Scored AFTER the children pass on
            # purpose: tag-rule removals (script/style/…) and inner
            # density prunes have already been applied, so a nav bar
            # padded with a 300-char <script> is judged on its links
            # alone, not diluted by code that is about to be deleted
            # anyway.  Cost is one walk of the cleaned subtree per
            # candidate — O(depth × size) worst case on nested-div
            # chains, O(size) on typical trees.
            if d[2]:
                n_text, n_link = _text_and_link_chars(root)
                dp = self.density_cfg
                if (n_text > 0 and n_link / n_text >= dp.max_link_density) or (
                    n_text < dp.min_text_length and n_link > 0
                ):
                    return True
        return False

    # ---- linearization (reference: html_parser.py:496-581) ----------------
    # The text accumulator is a chunk list with (length, last-char)
    # tracked incrementally: the reference's `sb[:-1] + sep` /
    # `self.text += ...` string ops copy the whole buffer and turn a
    # 1 MB document into O(n²) character traffic.  Semantics are
    # bit-identical: the whitespace machine's per-char loop reduces to
    # "collapse each \\s run to its first char; drop a leading run when
    # the buffer already ends in whitespace (or is empty)", and
    # Python's unicode \\s is the same character class as str.isspace().

    def _buf_append(self, s: str) -> None:
        self._parts.append(s)
        self._len += len(s)
        self._last = s[-1]

    def _append_text_content(self, txt: str) -> None:
        if self.current_tag == PRE_TAG:
            if txt:
                self._buf_append(txt)
            return
        if "\u00a0" in txt:
            txt = txt.replace("\u00a0", " ")  # NBSP -> space (html_parser.py:511)
        if "\r" in txt:
            txt = txt.replace("\r", " ")
        if "\n" in txt:
            txt = txt.replace("\n", " ")
        # minification already collapsed ASCII runs, so a run here is
        # rare (NBSP adjacency, splices) \u2014 test before paying sub()
        if _WS_RUN_COLLAPSE.search(txt):
            txt = _WS_RUN_COLLAPSE.sub(r"\1", txt)
        if not txt:
            return
        if (self._len == 0 or self._last.isspace()) and txt[0].isspace():
            txt = txt[1:]
        if txt:
            self._buf_append(txt)

    def _append_block_separator(self) -> None:
        if self._len > 0:
            if self._last == PLAIN_TEXT_SEPARATOR:
                # promote the trailing single space to a newline
                p = self._parts[-1]
                self._parts[-1] = p[:-1] + BLOCK_CONTENT_SEPARATOR
                self._last = BLOCK_CONTENT_SEPARATOR
            elif self._last != BLOCK_CONTENT_SEPARATOR:
                self._buf_append(BLOCK_CONTENT_SEPARATOR)

    def _append_inline_separator(self) -> None:
        if (
            self._len > 0
            and self._last != PLAIN_TEXT_SEPARATOR
            and self._last != BLOCK_CONTENT_SEPARATOR
        ):
            self._buf_append(PLAIN_TEXT_SEPARATOR)

    def _linearize(self, root: Node) -> None:
        """DFS linearization with relative positions and offsets
        numbered inline.

        ``_char_idx`` is nondecreasing over the DFS, so span events
        occur ordered by (char_idx, emission order): the relative
        position of an event is its rank among the events at the same
        char index, and a span's offset is the rank of its start event
        in walk order (the reference sorts and renumbers afterwards —
        html_parser.py:474-494).  Spans of ``always_drop`` tags are
        never materialized and never take a position slot; spans a
        length rule drops are removed afterwards by ``_drop_by_length``.
        """
        tag = root.tag
        self.current_tag = tag

        dropped = tag in self._drop_set
        if not dropped:
            attrib = root.attrib
            if attrib:
                attrs, values = self.attr_cleaner(attrib)
            else:
                attrs = values = _EMPTY_ATTRS
            idx = self._char_idx
            if idx != self._last_idx:
                self._last_idx = idx
                self._ctr = 0
            if tag in MEDIA_TAGS:
                span = Span(idx, self._ctr, tag, attrs, values,
                            kind="media",
                            media_ref=attrib.get("src", "") if attrib else "")
            else:
                span = Span(idx, self._ctr, tag, attrs, values)
            self._ctr += 1
            span.offset = self._rank
            self._rank += 1

        if self._br_newline and tag == "br":
            self._buf_append("\n")  # reference: html_parser.py:470-472

        act = self._sep_act.get(tag)
        if act is None:
            act = self._sep_act[tag] = (
                1 if tag in self.block_elements_set
                else 2 if tag in _INLINE_SET
                else 0
            )
        if act == 1:
            self._append_block_separator()
        elif act == 2:
            self._append_inline_separator()
        text = root.text
        if text:
            self._append_text_content(text)
        self._char_idx = self._len

        for child in root.children:
            self._linearize(child)
        self.current_tag = tag

        if not dropped:
            idx = self._char_idx
            if idx != self._last_idx:
                self._last_idx = idx
                self._ctr = 0
            span.char_end_idx = idx
            span.relative_end_pos = self._ctr
            self._ctr += 1
            self.spans.append(span)

        if act == 1:
            self._append_block_separator()
        elif act == 2:
            self._append_inline_separator()
        tail = root.tail
        if tail:
            self._append_text_content(tail)
        self._char_idx = self._len

    def _drop_by_length(self) -> None:
        """Remove the spans a length-dependent alone-rule rejects
        (reference: html_parser.py:578-579) and close the gaps they
        leave: a kept event's relative position drops by the number of
        removed events before it at the same char index, and a kept
        span's offset by the number of removed spans that started
        before it."""
        drop_span = self.tag_filter.drop_span
        kept: list[Span] = []
        lost_pos: dict = defaultdict(list)
        lost_offsets: list = []
        for s in self.spans:
            if drop_span(s):
                lost_pos[s.char_start_idx].append(s.relative_start_pos)
                lost_pos[s.char_end_idx].append(s.relative_end_pos)
                lost_offsets.append(s.offset)
            else:
                kept.append(s)
        if not lost_offsets:
            return
        for positions in lost_pos.values():
            positions.sort()
        lost_offsets.sort()
        for s in kept:
            positions = lost_pos.get(s.char_start_idx)
            if positions:
                s.relative_start_pos -= bisect_left(positions, s.relative_start_pos)
            positions = lost_pos.get(s.char_end_idx)
            if positions:
                s.relative_end_pos -= bisect_left(positions, s.relative_end_pos)
            s.offset -= bisect_left(lost_offsets, s.offset)
        self.spans = kept

    # ---- driver ------------------------------------------------------------
    def run(self, html_str: str) -> ExtractResult:
        root, malformed = parse_document(html_str)

        if self.cfg.start_parsing_at_tag is not None:
            start = root.find_first(self.cfg.start_parsing_at_tag)
            if start is None:
                return ExtractResult("", [], malformed=True)
            # reference wraps the serialized subtree in a synthetic
            # <html> and marks it span-removed (html_parser.py:437-443;
            # the span-drop rule itself is registered in __init__)
            wrapper = Node("html")
            wrapper.append(start)
            root = wrapper

        # the root itself is never removed: when the walk drops it, it
        # stays, minified like every other kept node (a top-down drop
        # returns before its children are minified)
        if not self._rewrites or self._rewrite(root, False):
            _minify(root, False)

        self.spans: list[Span] = []
        self._char_idx = 0
        self._parts: list[str] = []
        self._len = 0
        self._last = ""
        self._last_idx = -1
        self._ctr = 0
        self._rank = 0
        self._linearize(root)
        if self.tag_filter.length_rules:
            self._drop_by_length()
        return ExtractResult("".join(self._parts), self.spans, malformed)


def extract(html_str: str, cfg: ExtractionConfig | None = None) -> ExtractResult:
    """Extract (plain_text, spans) from an HTML string.

    Public scalar entry point — the analogue of the reference's
    ``get_clean_text_and_metadata`` (html_parser.py:610-639).
    """
    if cfg is None:
        cfg = ExtractionConfig()
    if sys.getrecursionlimit() < _MIN_RECURSION:
        sys.setrecursionlimit(_MIN_RECURSION)
    try:
        return _Extractor(cfg).run(html_str)
    except RecursionError:
        return ExtractResult("", [], malformed=True)


def make_extract_fn(cfg: ExtractionConfig | None = None):
    """Batch entry point: build the extractor ONCE and return a
    per-document callable with the same contract as :func:`extract`.

    The per-document constructor work (frozensets, rule tables, memo
    dicts) is paid once per Spark task instead of once per row, and
    the per-tag decision memos stay warm across documents (guide §4.5
    heavyweight-init-once-per-task).  ``_Extractor.run`` resets all
    per-document state, so reuse is safe.
    """
    if cfg is None:
        cfg = ExtractionConfig()
    if sys.getrecursionlimit() < _MIN_RECURSION:
        sys.setrecursionlimit(_MIN_RECURSION)
    ex = _Extractor(cfg)
    run = ex.run

    def extract_one(html_str: str) -> ExtractResult:
        try:
            return run(html_str)
        except RecursionError:
            return ExtractResult("", [], malformed=True)

    return extract_one
