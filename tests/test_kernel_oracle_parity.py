"""Production kernel == general-path oracle (tests/kernel_oracle.py).

The production kernel runs one path per phase: the fast scanner, the
fused minify+rewrite walk and the single-pass linearization.  Length
rules are handled inside those walks — eager subtree minify before a
``needs_text`` measurement, and a ``drop_span``/``_renumber``/re-rank
post-pass for length-dependent span drops.  This test compares every
output field of :func:`kernel.extract` with the two-phase oracle on
the stdlib DOM, over every named config and over random configs that
exercise the length rules.
"""

import copy

import hypothesis
import pytest
from hypothesis import given, settings, strategies as st

from kernel_oracle import oracle_extract, span_key
from mini_html_parser_spark.datagen import _doc_spans
from mini_html_parser_spark.kernel import extract
from mini_html_parser_spark.kernel.config import (
    INF,
    NAMED_CONFIGS,
    DensityPruneConfig,
    ExtractionConfig,
    TagToRemove,
    TagToRemoveWithContent,
)
from mini_html_parser_spark.operators.extract import assemble_html

NEG_INF = -INF

# hand-built edge cases: pre with comments, nbsp runs, folded div
# chains, media, br runs, script raw text, malformed recovery, marked
# sections
EDGE_DOCS = [
    "<body><pre>a <!--c--> b\t\tc</pre>tail  <div><div>x</div></div></body>",
    "<body><p>a&nbsp;&nbsp;b</p><br><br><img src='u'>t</body>",
    "<body><script>var x = '<p>not a tag</p>';</script><p>keep</p></body>",
    "<body><p> broken </><a href='x''>l</a></body>",
    "<body></body>",
    "no tags at all",
    "<body><div><!--a-->  x <span>y  <!--b-->z</span>  w</div>"
    "<pre><div> k  <!--c-->l </div></pre>m</body>",
    "<body><div><div><div><p>deep  fold</p></div></div></div>tail</body>",
    "<body><p>a<![CDATA[ x ]]>b</p><![if IE]>c<![endif]>d</body>",
    "a<p>b</p><![bogus[ q ]]>c<p>d",
]


def _datagen_doc(i: int) -> str:
    return assemble_html(_doc_spans(42, i))


# small datagen documents (the corpus also holds MB-sized giants)
_DATAGEN_POOL = [
    i for i in range(60) if len(_datagen_doc(i)) < 6000
][:24]


def _assert_same(html: str, cfg_factory) -> None:
    got = extract(html, cfg_factory())
    want = oracle_extract(html, cfg_factory())
    assert (got.text, got.malformed, [span_key(s) for s in got.spans]) == (
        want.text, want.malformed, [span_key(s) for s in want.spans]), html[:200]


@pytest.mark.parametrize("cfg_name", sorted(NAMED_CONFIGS))
def test_named_config_matches_oracle(cfg_name):
    for html in [_datagen_doc(i) for i in _DATAGEN_POOL[:8]] + EDGE_DOCS:
        _assert_same(html, NAMED_CONFIGS[cfg_name])


# ---- random length-dependent configs --------------------------------------

_TAGS = [
    "div", "p", "span", "a", "b", "li", "ul", "td", "tr", "table", "h2",
    "br", "img", "pre", "section", "header", "footer", "form", "script",
    "em", "body",
]
_MINS = st.sampled_from([NEG_INF, 0, 1, 3, 10, 30])
_MAXES = st.sampled_from([INF, 0, 2, 5, 20, 60, 200])
_tag = st.sampled_from(_TAGS)
_tags = st.lists(_tag, max_size=3, unique=True)

_alone_rule = st.builds(TagToRemove, _tag, _MINS, _MAXES)
_content_rule = st.builds(TagToRemoveWithContent, _tag, _MINS, _MAXES,
                          st.sampled_from(["top-down", "bottom-up"]))
# (min, max) global threshold pairs; (-inf, -inf) disables the rule
_threshold = st.one_of(
    st.just((NEG_INF, NEG_INF)),
    st.tuples(st.sampled_from([NEG_INF, 0, 2, 8]),
              st.sampled_from([0, 3, 12, 40, INF])),
)


@st.composite
def _configs(draw):
    alone_min, alone_max = draw(_threshold)
    content_min, content_max = draw(_threshold)
    return ExtractionConfig(
        tags_to_remove_alone=draw(st.lists(_alone_rule, max_size=3)),
        tags_to_remove_with_content=draw(st.lists(_content_rule, max_size=3)),
        attrs_to_keep=draw(st.sampled_from([None, ["class", "href"]])),
        start_parsing_at_tag=draw(st.sampled_from(["body", "body", None])),
        consecutive_tags_to_fold=draw(st.lists(
            st.sampled_from(["div", "p", "span", "b", "table"]),
            max_size=2, unique=True)),
        convert_br_tag_to_breaking_line=draw(st.booleans()),
        txt_min_chr_len_alone=alone_min,
        txt_max_chr_len_alone=alone_max,
        tags_exceptions_alone=draw(_tags),
        txt_min_chr_len_with_content=content_min,
        txt_max_chr_len_with_content=content_max,
        tags_exceptions_with_content=draw(_tags),
        density_prune=draw(st.sampled_from([None, DensityPruneConfig()])),
    )


_soup_tokens = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<span class='x'>", "</span>",
    "<b>", "</b>", "<br>", "<img src=a.png>", "<a href=u>", "</a>",
    "<pre>", "</pre>", "<ul>", "<li>", "<table>", "<tr>", "<td>",
    "<section>", "<header>", "</header>", "<script>s</script>",
    "text", "longer text run", " ", "  ", "\n", "&nbsp;", "&amp;",
    "<!-- c -->", "</>", "<![CDATA[ x ]]>", "<body>", "</body>",
])
_docs = st.one_of(
    st.sampled_from(_DATAGEN_POOL).map(_datagen_doc),
    st.sampled_from(EDGE_DOCS),
    st.lists(_soup_tokens, max_size=40).map("".join),
)


@settings(max_examples=300, deadline=None, derandomize=True,
          suppress_health_check=[hypothesis.HealthCheck.too_slow])
@given(_configs(), _docs)
def test_random_length_configs_match_oracle(cfg, html):
    _assert_same(html, lambda: copy.deepcopy(cfg))
