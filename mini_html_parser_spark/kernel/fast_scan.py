"""Fast HTML scanner — a slim tokenizer frontend over the stdlib
``html.parser`` matchers.

Drives the DOM-builder sink (dom._DomParser) with the event stream
the stdlib ``html.parser`` would emit, at a measurable speedup:
stdlib HTMLParser pays ``updatepos`` line
bookkeeping (an O(chunk) newline count per event), ``interesting``
re-searches, rawdata re-slicing and method dispatch per construct,
which dominates kernel time on large documents.  This scanner walks
the document once with ``str.find`` and drives the sink directly.

Equivalence contract (pinned by the golden suite, the 2012-span wiki
fixture, and randomized cross-checks in tests/test_fast_scan.py
against the stdlib-driven sink in tests/kernel_oracle.py):
every construct is parsed with the stdlib's OWN tolerant matchers
(``tagfind_tolerant``/``attrfind_tolerant``/
``locatestarttagend_tolerant``/``endtagfind``) and the control flow
mirrors ``HTMLParser.goahead``/``parse_starttag``/``parse_endtag``
for a single ``feed(doc); close()`` cycle:

* ``</>`` emits a literal ``>`` text event and sets ``malformed``
  (lxml recovery pinned by test_html_parser.py:578-583),
* character references resolve in text and attribute values but NOT
  inside script/style raw text (stdlib ``convert_charrefs``),
* a ``<`` that doesn't open a construct is literal text; incomplete
  constructs at EOF replay stdlib ``goahead(end=1)`` recovery (text
  up to and including the next ``>``, else up to the next ``<``,
  else one char),
* end tags mirror stdlib ``parse_endtag``: ``</ div >`` closes div,
  ``</div x>`` closes div and skips to ``>``, ``</1>``/``</ >``
  become bogus comments (handle_comment),
* start tags mirror ``check_for_whole_start_tag`` + ``parse_starttag``
  including the partial-tag-as-text recovery (``<r P=">`` is text),
* script/style bodies are raw text until a COMPLETE matching close
  tag ``</\\s*tag\\s*>`` case-insensitive (stdlib set_cdata_mode);
  ``</SCRIPTY>`` or ``</script x>`` inside the body stay data, and an
  unterminated body is dropped (stdlib close() discards cdata),
* doctypes/processing instructions are consumed silently; other
  ``<!…>`` declarations become bogus comments (stdlib
  parse_html_declaration),
* ``<![…`` marked sections mirror ``_markupbase.parse_marked_section``
  and ``_scan_name``: ``<![cdata|temp|ignore|include|rcdata`` skips
  to the next ``]]>``, ``<![if|else|endif`` to the next ``]>``, both
  silently; an unterminated one is EOF-recovered like any incomplete
  construct.  Where the stdlib raises (no name after ``<![``, or an
  unknown keyword) the scan stops there: everything before it is
  kept and ``malformed`` is set.
"""

from __future__ import annotations

import re
from html import unescape

# ---- the stdlib's own tolerant matchers (html/parser.py) -------------------
# copied verbatim: these ARE the equivalence contract

_TAGFIND_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")

_ATTR_RE = re.compile(
    r'((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*'
    r'(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*'
)

_LOCATE_RE = re.compile(r"""
  <([a-zA-Z][^\t\n\r\f />\x00]*)     # tag name (captured — replaces a
                                     # separate tagfind_tolerant match)
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)

_ENDTAG_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")  # endtagfind

# tagfind_tolerant's trailing group, matched standalone after the tag
# name: the name char-class is identical between _LOCATE_RE group(1)
# and tagfind_tolerant group(1) (same start, both greedy), so matching
# only the trailing part from name-end is exactly stdlib's
# ``tagfind_tolerant.match(rawdata, i+1).end()``.  Must be Python
# Unicode ``\s`` (includes \x0b \x1c-\x1f \x85 \xa0   …), NOT an
# ASCII char loop — '<a\n\xa0href=x>' parses the attr on the stdlib
# path (ADVICE r2, high).
_TAGNAME_TRAILING_RE = re.compile(r"(?:\s|/(?!>))*")

_COMMENT_END_RE = re.compile(r"--\s*>")  # commentclose

# attribute-less start tag `<name>` — name char class identical to
# tagfind_tolerant/_LOCATE_RE group(1) (both greedy, so both consume
# exactly the chars before '>'), followed DIRECTLY by '>'.  When this
# matches, the general path provably yields (tag=name.lower(),
# attrs=[], endpos=match.end(), not self-closed): the locate match's
# attr and trailing groups are empty, j lands on '>', k == j.  ~80 %
# of tags in minified HTML take this path.
_SIMPLE_TAG_RE = re.compile(r"<([a-zA-Z][^\t\n\r\f />\x00]*)>")

# shared empty attr list for the simple-tag path: the DomParser sink
# only reads attrs (it builds its own dict), never mutates or stores
# the list
_NO_ATTRS: list = []

# stdlib CDATA_CONTENT_ELEMENTS is (script, style); those are the two
# that matter for extraction (their content must not parse as markup)
_RAW_TEXT_TAGS = {"script", "style"}

# stdlib set_cdata_mode pattern (`</\s*{tag}\s*>`, case-insensitive):
# ONLY a complete, exact close tag leaves raw-text mode — `</SCRIPTY>`
# or `</script x>` inside a script body stay data (ADVICE r1, high)
_RAW_CLOSE_RE = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in _RAW_TEXT_TAGS
}

_NEXT_IN_INCOMPLETE = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")

# _markupbase: _declname_match (name captured), _markedsectionclose,
# _msmarkedsectionclose and parse_marked_section's keyword sets
_DECLNAME_RE = re.compile(r"([a-zA-Z][-_.a-zA-Z0-9]*)\s*")
_MARKED_SECTION_CLOSE = {
    **dict.fromkeys(("temp", "cdata", "ignore", "include", "rcdata"),
                    re.compile(r"]\s*]\s*>")),
    **dict.fromkeys(("if", "else", "endif"), re.compile(r"]\s*>")),
}


def scan(html: str, sink) -> None:
    """Tokenize ``html`` and drive ``sink`` (a dom._DomParser-shaped
    object: handle_starttag/handle_startendtag/handle_endtag/
    handle_data/handle_comment)."""
    pos = 0
    n = len(html)
    find = html.find
    # hoist sink method lookups out of the per-construct loop (one
    # attribute resolution per event otherwise)
    handle_starttag = sink.handle_starttag
    handle_startendtag = sink.handle_startendtag
    handle_endtag = sink.handle_endtag
    handle_data = sink.handle_data
    handle_comment = sink.handle_comment

    def flush_text(chunk: str) -> None:
        if chunk:
            if "&" in chunk:
                chunk = unescape(chunk)
            handle_data(chunk)

    def eof_recover(lt: int) -> int:
        """stdlib goahead(end=1) recovery for an incomplete construct
        at ``lt``: consume through the next ``>`` (inclusive), else up
        to the next ``<``, else one char — all as unescaped text.
        Returns the resume position."""
        k = find(">", lt + 1)
        if k < 0:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        else:
            k += 1
        flush_text(html[lt:k])
        return k

    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            flush_text(html[pos:])
            break
        if lt > pos:
            flush_text(html[pos:lt])

        c = html[lt + 1:lt + 2]

        # ---- start tags (dominate real documents: dispatch first) ----
        # mirror of check_for_whole_start_tag + parse_starttag
        if c and (("a" <= c <= "z") or ("A" <= c <= "Z")):
            m = _SIMPLE_TAG_RE.match(html, lt)
            if m is not None:
                # attribute-less `<name>`: skip the locate/attr/end
                # machinery entirely (equivalence argued at the
                # pattern definition)
                tag = m.group(1).lower()
                handle_starttag(tag, _NO_ATTRS)
                pos = m.end()
                if tag in _RAW_TEXT_TAGS:
                    close = _RAW_CLOSE_RE[tag].search(html, pos)
                    if close is None:
                        pos = n
                        continue
                    if close.start() > pos:
                        handle_data(html[pos:close.start()])
                    handle_endtag(tag)
                    pos = close.end()
                continue
            m = _LOCATE_RE.match(html, lt)
            j = m.end()
            nxt = html[j:j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/":
                if html.startswith("/>", j):
                    endpos = j + 2
                else:
                    pos = eof_recover(lt)
                    continue
            elif nxt == "" or nxt in _NEXT_IN_INCOMPLETE:
                # end of input, or stopped inside an attribute value
                # (e.g. unterminated quote): incomplete start tag
                pos = eof_recover(lt)
                continue
            else:
                endpos = j

            name = m.group(1)
            tag = name.lower()
            # advance past the name's trailing (?:\s|/(?!>))* — what
            # tagfind_tolerant consumes before the attr loop starts
            # (stdlib's own regex: Unicode \s, unbounded like stdlib —
            # the k < endpos guards below replicate parse_starttag).
            # Fast path: nothing between the name and m.end() ⇒ the
            # trailing match is empty, skip the regex call.
            name_end = lt + 1 + len(name)
            if name_end == j:
                k = j
            else:
                k = _TAGNAME_TRAILING_RE.match(html, name_end).end()
            attrs = []
            while k < endpos:
                am = _ATTR_RE.match(html, k)
                if not am:
                    break
                attrname, rest, attrvalue = am.group(1, 2, 3)
                if not rest:
                    attrvalue = None
                elif (attrvalue[:1] == "'" == attrvalue[-1:]
                      or attrvalue[:1] == '"' == attrvalue[-1:]):
                    attrvalue = attrvalue[1:-1]
                if attrvalue:
                    attrvalue = unescape(attrvalue)
                attrs.append((attrname.lower(), attrvalue))
                k = am.end()
            # end-of-tag check.  Fast path: the attr walk consumed up
            # to j exactly, so html[k:endpos] is literally ">" (when
            # nxt was ">") or "/>" (when nxt was "/") — no slice+strip.
            if k == j:
                if nxt == ">":
                    handle_starttag(tag, attrs)
                    pos = endpos
                elif nxt == "/":
                    handle_startendtag(tag, attrs)
                    pos = endpos
                    continue
                else:
                    # endpos == j: empty span — junk/raw-text path
                    handle_data(html[lt:endpos])
                    pos = endpos
                    continue
            else:
                end = html[k:endpos].strip()
                if end not in (">", "/>"):
                    # junk between the attrs and the '>': the whole
                    # span is RAW text (stdlib parse_starttag, no
                    # unescape)
                    handle_data(html[lt:endpos])
                    pos = endpos
                    continue
                if end == "/>":
                    handle_startendtag(tag, attrs)
                    pos = endpos
                    continue
                handle_starttag(tag, attrs)
                pos = endpos

            if tag in _RAW_TEXT_TAGS:
                # raw-text mode: only a complete `</\s*tag\s*>` close
                # (case-insensitive — stdlib set_cdata_mode) exits; no
                # charref resolution (stdlib convert_charrefs parity)
                close = _RAW_CLOSE_RE[tag].search(html, pos)
                if close is None:
                    # unterminated raw-text element at EOF: stdlib
                    # drops the buffered CDATA on close()
                    pos = n
                    continue
                if close.start() > pos:
                    handle_data(html[pos:close.start()])
                handle_endtag(tag)
                pos = close.end()
            continue

        # ---- end tags: mirror of stdlib parse_endtag + the dom.py
        # '</>' override (ADVICE r1: whitespace/bogus forms diverged)
        if c == "/":
            # well-formed `</name>` first (the dominant case): the
            # endtagfind pattern cannot match `</>` (requires a name)
            # and its `>` is necessarily the first one after lt, so
            # matching before the '</>' probe and the find() is
            # order-equivalent
            m_end = _ENDTAG_RE.match(html, lt)
            if m_end is not None:
                # '</ div >' style included (stdlib endtagfind)
                handle_endtag(m_end.group(1).lower())
                pos = m_end.end()
                continue
            # '</>' → literal '>' (lxml recovery; dom.parse_endtag parity)
            if html.startswith("</>", lt):
                handle_data(">")
                sink.malformed = True
                pos = lt + 3
                continue
            gt = find(">", lt + 1)
            if gt < 0:
                pos = eof_recover(lt)
                continue
            m_name = _TAGFIND_RE.match(html, lt + 2)
            if m_name is not None:
                # '</div x>': take the name, skip to the next '>'
                handle_endtag(m_name.group(1).lower())
                pos = find(">", m_name.end()) + 1
                continue
            # '</' not followed by a tag name: bogus comment
            # (stdlib parse_bogus_comment; '</1>x' extracts to 'x')
            handle_comment(html[lt + 2:gt])
            pos = gt + 1
            continue

        # ---- declarations / comments (stdlib parse_html_declaration)
        if c == "!":
            if html.startswith("<!--", lt):
                end = _COMMENT_END_RE.search(html, lt + 4)
                if end is None:
                    # unterminated comment: goahead(end=1) recovery
                    pos = eof_recover(lt)
                    continue
                handle_comment(html[lt + 4:end.start()])
                pos = end.end()
                continue
            if html.startswith("<![", lt):
                # marked section / MS conditional (stdlib
                # parse_marked_section): the content is skipped, and
                # unknown_decl is a no-op for the DOM sink
                name = _DECLNAME_RE.match(html, lt + 3)
                if lt + 3 == n or (name is not None and name.end() == n):
                    pos = eof_recover(lt)  # _scan_name: end of buffer
                    continue
                close_re = name and _MARKED_SECTION_CLOSE.get(
                    name.group(1).lower())
                if close_re is None:
                    # stdlib raises AssertionError here (no name, or an
                    # unknown keyword): keep what parsed, stop
                    sink.malformed = True
                    return
                close = close_re.search(html, lt + 3)
                if close is None:
                    pos = eof_recover(lt)
                    continue
                pos = close.end()
                continue
            if html[lt + 2:lt + 9].lower() == "doctype":
                gt = find(">", lt + 9)
                if gt < 0:
                    pos = eof_recover(lt)
                    continue
                # handle_decl is a no-op for the DOM sink
                pos = gt + 1
                continue
            # bogus comment: '<!x y>' → comment 'x y'
            gt = find(">", lt + 2)
            if gt < 0:
                pos = eof_recover(lt)
                continue
            handle_comment(html[lt + 2:gt])
            pos = gt + 1
            continue

        # ---- processing instructions (handle_pi is a no-op) ----
        if c == "?":
            gt = find(">", lt + 2)
            if gt < 0:
                pos = eof_recover(lt)
                continue
            pos = gt + 1
            continue

        # lone '<' that opens nothing: literal text
        flush_text("<")
        pos = lt + 1
