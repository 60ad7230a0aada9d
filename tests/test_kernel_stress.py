"""Adversarial-shape kernel stress: crawl HTML contains every
pathology below; the kernel must stay linear-ish and NEVER raise —
unparseable shapes degrade to an empty result with malformed=True
(the north_rule fallback metric), everything else extracts normally.
No golden values here (the goldens pin semantics); this pins
termination, gracefulness and rough cost bounds."""

import time

import pytest

from mini_html_parser_spark.kernel import boilerplate_strip_config
from mini_html_parser_spark.kernel.extract import extract

CFG = boilerplate_strip_config()

CASES = {
    "deep_nest_5k": "<html><body>" + "<div>" * 5000 + "x" + "</div>" * 5000 + "</body></html>",
    # beyond the recursion budget: must fall back, not crash
    "deep_nest_50k": "<div>" * 50000 + "x" + "</div>" * 50000,
    "many_attrs": "<html><body><p " + " ".join(f"a{i}=v{i}" for i in range(5000)) + ">x</p></body></html>",
    "huge_attr_value": '<html><body><p class="' + "y" * 2_000_000 + '">x</p></body></html>',
    "many_siblings": "<html><body>" + "<p>x</p>" * 100_000 + "</body></html>",
    "unclosed_pile": "<html><body>" + "<b>" * 2000 + "text" + "</body></html>",
    "comment_bomb": "<html><body>" + "<!--c-->" * 100_000 + "x</body></html>",
    "entity_soup": "<html><body>" + "&amp;&lt;&#65;" * 100_000 + "</body></html>",
    "unterminated_script": "<html><body><p>a</p><script>var x = '...",
    "quote_mess": "<html><body>" + '<p a=">">t</p>' * 10_000 + "</body></html>",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_adversarial_shape_is_graceful(name):
    html = CASES[name]
    t0 = time.perf_counter()
    result = extract(html, CFG)  # must not raise
    elapsed = time.perf_counter() - t0
    assert elapsed < 30, (name, elapsed)
    if name == "deep_nest_50k":
        assert result.malformed and result.text == ""
    else:
        assert result.text  # real content extracted


def test_unknown_marked_section_keeps_text_before_it():
    # the stdlib tokenizer rejects an unknown marked-section keyword;
    # the scan stops there and keeps everything parsed before it
    result = extract(
        "<html><body><p>kept text</p><![bogus[ x ]]><p>after</p></body></html>",
        CFG,
    )
    assert result.malformed
    assert result.text == "kept text\n"
