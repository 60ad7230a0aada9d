"""The per-document extraction kernel: HTML → (plain text, spans).

This is a from-scratch re-derivation of the reference's scalar
pipeline (reference: html_parser.py:366-639) on the pure-stdlib DOM
of :mod:`.dom`.  Stage structure (SURVEY.md §3.1):

1. root selection at ``start_parsing_at_tag`` (default ``body``) and
   re-wrap under a synthetic ``html`` marked for span removal
   (reference: html_parser.py:429-443),
2. minification — comment removal + whitespace collapse, ``<pre>``
   exempt (reference: html_parser.py:446),
3. tree rewriting: consecutive-tag folding (html_parser.py:267-313),
   top-down then bottom-up subtree removal with tail-preserving
   deletion (html_parser.py:222-264,316-363,583-607),
4. DFS linearization with the block/inline whitespace state machine
   (html_parser.py:496-581),
5. relative-position renumbering (html_parser.py:474-494).

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
from collections import defaultdict
from dataclasses import dataclass

from .config import ExtractionConfig, TagToRemove
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
from .minify import _collapse, _minify, minify_tree

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
    offset: int = -1  # document-order rank, filled after renumbering


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
        self.alone_drop_set: frozenset = frozenset()
        self.alone_needs_length = False

    def finalize(self) -> None:
        """Split span dropping into its tag-only part and the rest.

        ``alone_drop_set`` holds the tags whose alone-rule has trivial
        bounds [<=0, inf]: their spans are dropped at any length
        (n >= 0), so linearization never materializes them.
        ``alone_needs_length`` is True when some other drop depends on
        the span length (a rule with real bounds, or the global alone
        threshold enabled — max > -inf), which only the finished span
        knows; linearization then filters with :meth:`drop_span`
        afterwards.  No NAMED_CONFIGS entry needs length.  Must be
        called after the last alone-rule registration (the synthetic
        ``html`` wrapper rule — see _Extractor.__init__)."""
        inf = float("inf")
        trivial = {
            tag for tag, r in self.tags_to_remove_alone.items()
            if r.content_min_char_length <= 0 and r.content_max_char_length == inf
        }
        self.alone_drop_set = frozenset(trivial)
        self.alone_needs_length = (
            self.txt_max_chr_len_alone > -inf
            or len(trivial) != len(self.tags_to_remove_alone)
        )

    def drop_span(self, span: Span) -> bool:
        # reference: html_parser.py:195-220
        tag = span.value
        n = (
            span.char_end_idx - span.char_start_idx
            if span.char_end_idx is not None
            else 0
        )
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

    # -- lazy-text fast paths ------------------------------------------------
    # The reference serializes the whole subtree to text at EVERY node
    # just to measure its length (html_parser.py:590-593,602-605) — an
    # O(size × depth) cost per document.  When the decision doesn't
    # actually depend on the length (rule bounds are [0, inf], or no
    # rule and global thresholds disabled — the production configs),
    # the text is never needed.  decide_* returns (verdict, needs_text);
    # when needs_text is True the caller re-asks with the real text.
    # Both are pure functions of the tag (the caller memoizes them).

    def decide_top_down(self, tag: str) -> tuple[bool, bool]:
        rule = self.tags_to_remove_with_content.get(tag)
        if rule is not None and rule.method != "top-down":
            return False, False
        if rule is not None:
            if rule.content_min_char_length <= 0 and rule.content_max_char_length == float("inf"):
                return True, False
            return False, True  # non-trivial bounds → need the text
        if (
            tag not in self.tags_exceptions_with_content
            and self.txt_max_chr_len_with_content > -float("inf")
        ):
            return False, True  # global threshold enabled → need text
        return False, False

    def decide_bottom_up(self, tag: str) -> tuple[bool, bool]:
        rule = self.tags_to_remove_with_content.get(tag)
        if rule is None or rule.method != "bottom-up":
            return False, False
        if rule.content_min_char_length <= 0 and rule.content_max_char_length == float("inf"):
            return True, False
        return False, True


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
        # html_parser.py:437-443) is registered up-front so the
        # span-drop split can be finalized once; run() never mutates
        # the rule table (the extractor is reusable across documents —
        # see make_extract_fn)
        if cfg.start_parsing_at_tag is not None:
            self.tag_filter.tags_to_remove_alone["html"] = TagToRemove("html")
        self.tag_filter.finalize()
        # per-tag separator action memo for _linearize_fast (1 dict
        # lookup instead of up to 2 frozenset probes per node event)
        self._sep_act: dict = {}
        self._tag_decide: dict = {}
        self._br_newline = cfg.convert_br_tag_to_breaking_line
        self.density_cfg = cfg.density_prune
        self.density_tags = (
            frozenset(cfg.density_prune.candidate_tags)
            if cfg.density_prune is not None
            else frozenset()
        )

    # ---- minify + tree rewriting (reference: html_parser.py:446,583-607)
    # Parent-managed deletion: a node signals "remove me" via return
    # value and the parent splices its tail and rebuilds the child
    # list once — identical observable semantics to the reference's
    # self-removal (lxml child iterators pre-fetch the next sibling,
    # so a child removing itself never skips its successor), but O(1)
    # per removal instead of list.remove's O(children) identity scan.
    def _minify_clean_tree(self, root: Node, in_pre: bool) -> bool:
        """Fused minify + rewrite pass: ONE traversal that yields the
        reference's minify-then-rewrite result, and subtrees dropped
        top-down by a tag rule are never minified at all (their
        contents are about to be deleted — script/style/header/
        footer/form bodies under boilerplate_strip).

        Ordering equivalence with minifying the whole tree first:

        * comment-strip/collapse are node-local, and a comment tail
          always merges into its neighbour raw, before that
          neighbour's own visit collapses it;
        * a length-dependent decision (``needs_text``) measures a
          subtree whose descendants have not been visited yet, so it
          first minifies this node's children eagerly (``_minify`` is
          idempotent, so their own visits later change nothing);
        * the fold rewriter reads only tags/attribs (minify-independent);
        * a removed child's tail was collapsed at the child's own
          entry (the minify-local step runs before the drop verdict),
          and splice targets (previous kept sibling's tail / this
          node's text) were collapsed at their visits — so every
          splice concatenates exactly the strings the unfused order
          concatenates;
        * inside preserved (``<pre>``) subtrees nothing collapses but
          comments still strip and rewrite rules still apply, exactly
          as in the unfused order;
        * bottom-up decisions and the density score run post-children
          over the cleaned, minified subtree.
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

        # both fold branches require exactly one child — skip the call
        # (and its own re-checks) for every other node
        if len(kids) == 1:
            self.folder(root)

        tag = root.tag
        # one memoized 4-tuple per tag instead of two dict probes per
        # node (decisions are pure functions of the tag — TagFilter
        # decide_* docstrings)
        d = self._tag_decide.get(tag)
        if d is None:
            d = self._tag_decide[tag] = (
                *self.tag_filter.decide_top_down(tag),
                *self.tag_filter.decide_bottom_up(tag),
            )
        if d[0]:
            return True
        if d[1]:
            for child in kids:
                _minify(child, in_pre)
            if self.tag_filter.drop_subtree_top_down(tag, root.subtree_text()):
                return True

        if kids:
            kept: list[Node] = []
            changed = False
            for child in kids:
                if self._minify_clean_tree(child, in_pre):
                    _splice_tail_on_removal(child, kept, root)
                    changed = True
                else:
                    kept.append(child)
            if changed:
                root.children = kept

        if d[2] or (
            d[3] and self.tag_filter.drop_subtree_bottom_up(tag, root.subtree_text())
        ):
            return True

        # text/link-density scoring (north-star heuristic; config.py
        # DensityPruneConfig).  Scored AFTER the children pass on
        # purpose: tag-rule removals (script/style/…) and inner
        # density prunes have already been applied, so a nav bar
        # padded with a 300-char <script> is judged on its links
        # alone, not diluted by code that is about to be deleted
        # anyway.  Pruning still removes the whole (cleaned) subtree
        # with the same tail-preserving splice.  Cost is one walk of
        # the cleaned subtree per candidate — O(depth × size) worst
        # case on nested-div chains, O(size) on typical trees.
        if self.density_cfg is not None and tag in self.density_tags:
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
    # 1 MB document into O(n\u00b2) character traffic.  Semantics are
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

    def _linearize_fast(self, root: Node) -> None:
        """Single-pass DFS linearization with inline renumbering.

        ``_char_idx`` is nondecreasing over the DFS, so span events
        already occur ordered by (char_idx, emission order): relative
        positions count the spans emitted so far at the current
        char_idx, and ``offset`` is the span's preorder rank, which is
        its (char_start_idx, relative_start_pos) document order.
        Spans of ``TagFilter.alone_drop_set`` tags never consume a
        position slot and are never materialized at all; the other
        span drops need the span's length and are applied by
        :meth:`_drop_by_length` after the walk.
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
            self._linearize_fast(child)
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

    # ---- relative-position renumbering (reference: html_parser.py:474-494)
    def _drop_by_length(self) -> None:
        """Post-pass for length-dependent span drops: filter with
        ``drop_span``, close the position gaps the dropped spans leave
        (``_renumber``), and re-rank ``offset`` over the kept spans in
        the walk's preorder."""
        drop_span = self.tag_filter.drop_span
        spans = [s for s in self.spans if not drop_span(s)]
        self._renumber(spans)
        for rank, s in enumerate(sorted(spans, key=lambda s: s.offset)):
            s.offset = rank
        self.spans = spans

    @staticmethod
    def _renumber(spans: list) -> None:
        by_idx: dict = defaultdict(dict)
        for s in spans:
            by_idx[s.char_start_idx][s.relative_start_pos] = ("start", s)
            by_idx[s.char_end_idx][s.relative_end_pos] = ("end", s)
        for events in by_idx.values():
            idx = 0
            for pos in sorted(events.keys()):
                which, s = events[pos]
                if which == "start":
                    s.relative_start_pos = idx
                else:
                    s.relative_end_pos = idx
                idx += 1

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

        # the whole rewrite pass is a no-op when the config has no
        # fold tags, no with-content rules and no global thresholds
        # (keep_everything): skip the traversal
        if (
            self.folder.fold_tags
            or self.tag_filter.tags_to_remove_with_content
            or self.tag_filter.txt_max_chr_len_with_content > -float("inf")
        ):
            # root itself is never removable here
            self._minify_clean_tree(root, False)
        else:
            minify_tree(root)

        self.spans: list[Span] = []
        self._char_idx = 0
        self._parts: list[str] = []
        self._len = 0
        self._last = ""
        self._last_idx = -1
        self._ctr = 0
        self._rank = 0
        self._drop_set = self.tag_filter.alone_drop_set
        self._linearize_fast(root)
        self.text = "".join(self._parts)
        if self.tag_filter.alone_needs_length:
            self._drop_by_length()
        return ExtractResult(self.text, self.spans, malformed)


def extract(html_str: str, cfg: ExtractionConfig | None = None) -> ExtractResult:
    """Extract (plain_text, spans) from an HTML string.

    Public scalar entry point — the analogue of the reference's
    ``get_clean_text_and_metadata`` (html_parser.py:610-639).
    """
    return make_extract_fn(cfg)(html_str)


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
