"""Tree-level HTML minifier.

The reference runs ``htmlmin.minify(html, remove_comments=True,
keep_pre=True)`` on the serialized body string before re-parsing
(reference: html_parser.py:446).  Offline we emulate the observable
subset directly on the DOM tree, which is equivalent because the
reference immediately re-parses the minified string:

* comments are removed; the text on either side of a comment joins
  into a single run before whitespace collapsing,
* every run of ASCII whitespace in text content collapses to a single
  space,
* content inside ``<pre>``/``<textarea>`` subtrees is preserved
  verbatim (``keep_pre=True``).

The reference's second ``minify`` (html_parser.py:455) feeds a string
that is never re-parsed — dead code — so no second pass exists here.
"""

from __future__ import annotations

import re

from .constants import PRESERVE_WHITESPACE_TAGS
from .dom import COMMENT_TAG, Node

# ASCII whitespace only: NBSP survives minification and is handled by
# the linearizer's whitespace machine (reference: html_parser.py:511).
_WS_RUN = re.compile(r"[ \t\n\r\f\v]+")


def _collapse(s: str | None) -> str | None:
    if not s:
        return s
    # The run pattern matches SINGLE spaces too, so the sub() path
    # rebuilds (allocates) every string containing any whitespace even
    # when nothing changes.  A string with no double-space and none of
    # the other five ASCII whitespace chars is already collapsed —
    # six C-speed membership scans beat one regex NFA pass + copy on
    # the (dominant) already-collapsed case.
    if (
        "  " not in s and "\t" not in s and "\n" not in s
        and "\r" not in s and "\f" not in s and "\v" not in s
    ):
        return s
    return _WS_RUN.sub(" ", s)


def _minify(node: Node, in_pre: bool) -> None:
    """Strip comments and collapse whitespace in one tree walk.

    Both operations are local to a node, and comment tails always
    merge into a neighbour *before* that neighbour's text/tail is
    collapsed (the parent strips its comment children before
    recursing).  ``in_pre`` marks descent inside a preserved subtree:
    comments are still stripped there, but nothing is collapsed — not
    even tails (the preserved element's own tail is outside the
    region and is collapsed).  Idempotent.
    """
    kids = node.children
    if kids:
        kept: list[Node] = []
        text_extra = None
        for child in kids:
            if child.tag == COMMENT_TAG:
                tail = child.tail
                if tail:
                    if kept:
                        kept[-1].tail = (kept[-1].tail or "") + tail
                    elif text_extra is None:
                        text_extra = tail
                    else:
                        text_extra += tail
            else:
                kept.append(child)
        if text_extra is not None:
            node.text = (node.text or "") + text_extra
        if len(kept) != len(kids):
            node.children = kids = kept

    if in_pre:
        for child in kids:
            _minify(child, True)
        return

    node.tail = _collapse(node.tail)
    if node.tag in PRESERVE_WHITESPACE_TAGS:
        for child in kids:
            _minify(child, True)
        return
    node.text = _collapse(node.text)
    for child in kids:
        _minify(child, False)


def minify_tree(root: Node) -> Node:
    """In-place minification; returns ``root`` for chaining."""
    _minify(root, False)
    return root
