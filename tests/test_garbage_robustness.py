"""Never-raise contracts for the honest-degradation parsers.

Every binary/text ingestion surface promises to DEGRADE (malformed
counts, empty results) rather than raise on arbitrary garbage —
that's what keeps a 10^12-document job from dying on record
3×10^11.  Hypothesis drives raw bytes/text at each parser; fresh
examples every run.
"""

import hypothesis
from hypothesis import given, settings, strategies as st

from mini_html_parser_spark.kernel import boilerplate_strip_config, extract
from mini_html_parser_spark.operators.gpt2_bpe import (
    gpt2_count_tokens, gpt2_decode, gpt2_encode, gpt2_pretokenize,
)
from mini_html_parser_spark.operators.pdf import extract_pdf_spans
from mini_html_parser_spark.sources.warc import parse_warc

_SETTINGS = dict(
    max_examples=120,
    deadline=None,
    suppress_health_check=[hypothesis.HealthCheck.too_slow],
)


@given(st.binary(max_size=2048))
@settings(**_SETTINGS)
def test_warc_never_raises(data):
    rows, malformed = parse_warc(data)
    assert malformed >= 0 and isinstance(rows, list)


@given(st.binary(max_size=2048))
@settings(**_SETTINGS)
def test_warc_never_raises_gzip_prefixed(data):
    # exercise the gzip-member path specifically
    rows, malformed = parse_warc(b"\x1f\x8b" + data)
    assert malformed >= 0 and isinstance(rows, list)


@given(st.binary(max_size=2048))
@settings(**_SETTINGS)
def test_pdf_never_raises(data):
    spans, n_pages, malformed = extract_pdf_spans(data)
    assert isinstance(spans, list) and n_pages >= 0


@given(st.binary(max_size=2048))
@settings(**_SETTINGS)
def test_pdf_never_raises_with_header(data):
    spans, n_pages, malformed = extract_pdf_spans(b"%PDF-1.4\n" + data)
    assert isinstance(spans, list)


# markup-ish characters incl. the '[' ']' of marked sections
_HTML_SOUP_ALPHABET = "<>/!?-=\"' abPsScCrRiIpPtTyYlLeE&;#x1[]\n"


@given(st.one_of(st.text(max_size=400),
                 st.text(alphabet=_HTML_SOUP_ALPHABET, max_size=200)))
@settings(**_SETTINGS)
def test_html_kernel_never_raises(html):
    result = extract(html, boilerplate_strip_config())
    assert isinstance(result.text, str)
    assert isinstance(result.malformed, bool)


@given(st.text(max_size=400))
@settings(**_SETTINGS)
def test_gpt2_total_partition_and_roundtrip(text):
    # pretokenize is a partition of the input; encode/decode is a
    # lossless byte round trip — on ANY unicode input
    pres = gpt2_pretokenize(text)
    assert "".join(pres) == text
    toks = gpt2_encode(text)
    assert gpt2_decode(toks) == text
    assert gpt2_count_tokens(text) == len(toks)
