"""Reference oracles for the extraction kernel (test-only).

The general implementations the production kernel replaced, kept so
tests can cross-check the single production path of each phase:

* :class:`StdlibDomParser` feeds the production DOM sink from the
  stdlib ``html.parser`` tokenizer; where the stdlib raises, the parse
  keeps what it built and sets ``malformed``;
* :class:`OracleExtractor` runs the two-phase rewrite (``minify_tree``
  over the whole tree, then ``_clean_tree``) and linearization
  (``_linearize`` numbering every span, ``drop_span``, ``_renumber``,
  then a document-order sort for ``offset``) on that DOM.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from html.parser import HTMLParser

from mini_html_parser_spark.kernel.config import ExtractionConfig
from mini_html_parser_spark.kernel.constants import MEDIA_TAGS
from mini_html_parser_spark.kernel.dom import Node, _DomParser
from mini_html_parser_spark.kernel.extract import (
    _INLINE_SET,
    _MIN_RECURSION,
    ExtractResult,
    Span,
    _Extractor,
    _splice_tail_on_removal,
    _text_and_link_chars,
)
from mini_html_parser_spark.kernel.minify import minify_tree


class StdlibDomParser(_DomParser, HTMLParser):
    """The production DOM sink fed by stdlib ``html.parser`` events."""

    def __init__(self):
        HTMLParser.__init__(self, convert_charrefs=True)
        _DomParser.__init__(self)

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


def parse_document_stdlib(html_str: str) -> tuple[Node, bool]:
    p = StdlibDomParser()
    try:
        p.feed(html_str)
        p.close()
    except Exception:
        p.malformed = True
    p._ensure_body()
    return p.root, p.malformed


class OracleExtractor(_Extractor):
    """``_Extractor`` with the general two-phase rewrite and
    linearization on the stdlib DOM."""

    def _clean_tree(self, root: Node) -> bool:
        if len(root.children) == 1:
            self.folder(root)

        tag = root.tag
        d = self._tag_decide.get(tag)
        if d is None:
            d = self._tag_decide[tag] = (
                *self.tag_filter.decide_top_down(tag),
                *self.tag_filter.decide_bottom_up(tag),
            )
        drop, needs_text = d[0], d[1]
        if needs_text:
            drop = self.tag_filter.drop_subtree_top_down(tag, root.subtree_text())
        if drop:
            return True

        if root.children:
            kept: list[Node] = []
            changed = False
            for child in root.children:
                if self._clean_tree(child):
                    _splice_tail_on_removal(child, kept, root)
                    changed = True
                else:
                    kept.append(child)
            if changed:
                root.children = kept

        drop, needs_text = d[2], d[3]
        if needs_text:
            drop = self.tag_filter.drop_subtree_bottom_up(tag, root.subtree_text())
        if drop:
            return True

        if self.density_cfg is not None and root.tag in self.density_tags:
            n_text, n_link = _text_and_link_chars(root)
            dp = self.density_cfg
            if (n_text > 0 and n_link / n_text >= dp.max_link_density) or (
                n_text < dp.min_text_length and n_link > 0
            ):
                return True
        return False

    def _add_text(self, tag: str, new_text) -> None:
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
        if new_text:
            self._append_text_content(new_text)
        self._char_idx = self._len

    def _linearize(self, root: Node) -> None:
        self.current_tag = root.tag

        attrs, values = self.attr_cleaner(root.attrib)
        span = Span(
            char_start_idx=self._char_idx,
            relative_start_pos=self._pos_counter[self._char_idx],
            value=root.tag,
            attrs=attrs,
            attr_values=values,
            kind="media" if root.tag in MEDIA_TAGS else "text",
            media_ref=root.attrib.get("src", "") if root.tag in MEDIA_TAGS else "",
        )
        self._pos_counter[self._char_idx] += 1

        if self.cfg.convert_br_tag_to_breaking_line and root.tag == "br":
            self._buf_append("\n")  # reference: html_parser.py:470-472

        self._add_text(root.tag, root.text)
        for child in root.children:
            self._linearize(child)
        self.current_tag = root.tag

        span.char_end_idx = self._char_idx
        span.relative_end_pos = self._pos_counter[self._char_idx]
        self._pos_counter[self._char_idx] += 1

        self._add_text(root.tag, root.tail)

        if not self.tag_filter.drop_span(span):
            self.spans.append(span)

    def run(self, html_str: str) -> ExtractResult:
        root, malformed = parse_document_stdlib(html_str)

        if self.cfg.start_parsing_at_tag is not None:
            start = root.find_first(self.cfg.start_parsing_at_tag)
            if start is None:
                return ExtractResult("", [], malformed=True)
            wrapper = Node("html")
            wrapper.append(start)
            root = wrapper

        minify_tree(root)
        if (
            self.folder.fold_tags
            or self.tag_filter.tags_to_remove_with_content
            or self.tag_filter.txt_max_chr_len_with_content > -float("inf")
        ):
            self._clean_tree(root)

        self.spans: list[Span] = []
        self._char_idx = 0
        self._parts: list[str] = []
        self._len = 0
        self._last = ""
        self._pos_counter: dict = defaultdict(int)
        self._linearize(root)
        self.text = "".join(self._parts)

        self._renumber(self.spans)
        doc_order = sorted(
            self.spans, key=lambda s: (s.char_start_idx, s.relative_start_pos))
        for rank, s in enumerate(doc_order):
            s.offset = rank

        return ExtractResult(self.text, self.spans, malformed)


def oracle_extract(html_str: str, cfg: ExtractionConfig | None = None) -> ExtractResult:
    """The general-path analogue of ``kernel.extract``."""
    if cfg is None:
        cfg = ExtractionConfig()
    if sys.getrecursionlimit() < _MIN_RECURSION:
        sys.setrecursionlimit(_MIN_RECURSION)
    try:
        return OracleExtractor(cfg).run(html_str)
    except RecursionError:
        return ExtractResult("", [], malformed=True)


def span_key(s) -> tuple:
    """Every field of a kernel ``Span``, comparable across paths."""
    return (
        s.char_start_idx, s.relative_start_pos, s.char_end_idx,
        s.relative_end_pos, s.value, s.key, s.type, s.kind, s.media_ref,
        s.offset, tuple(s.attrs),
        tuple(v if v is not None else "" for v in s.attr_values),
    )
