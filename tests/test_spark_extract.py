"""Spark path == kernel path: the DataFrame pipeline must produce
span-for-span what the unit-verified scalar kernel produces
(span-sequence equality (kind, text, media_ref, order) per
BASELINE.json input_hint)."""

from dataclasses import asdict

import pandas as pd
import pytest

from mini_html_parser_spark.datagen import generate_pandas
from mini_html_parser_spark.kernel import boilerplate_strip_config, extract
from mini_html_parser_spark.operators.extract import (
    DOCUMENTS_SCHEMA,
    assemble_html,
    extract_documents,
    explode_spans,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def docs_pdf():
    return generate_pandas(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def extracted(spark, docs_pdf):
    sdf = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    out = extract_documents(sdf, "boilerplate_strip").cache()
    out.count()
    return out


def test_row_count_and_schema(extracted):
    assert extracted.count() == N_DOCS
    names = [f.name for f in extracted.schema.fields]
    assert names == ["doc_id", "text", "spans", "n_spans", "malformed", "n_chars"]


def test_spark_matches_kernel(extracted, docs_pdf):
    cfg = boilerplate_strip_config()
    got = {r["doc_id"]: r for r in extracted.collect()}
    assert len(got) == N_DOCS
    for _, row in docs_pdf.iterrows():
        expect = extract(assemble_html(row["spans"]), cfg)
        g = got[row["doc_id"]]
        assert g["text"] == expect.text
        assert g["n_spans"] == len(expect.spans)
        # span-sequence equality: (kind, text slice, media_ref, order)
        got_seq = [
            (s["kind"],
             g["text"][s["char_start_idx"]:s["char_end_idx"]],
             s["media_ref"], s["offset"])
            for s in g["spans"]
        ]
        exp_seq = [
            (s.kind,
             expect.text[s.char_start_idx:s.char_end_idx],
             s.media_ref, s.offset)
            for s in expect.spans
        ]
        assert got_seq == exp_seq
        # and the full field tuples
        for gs, es in zip(g["spans"], expect.spans):
            assert (
                gs["value"], gs["char_start_idx"], gs["relative_start_pos"],
                gs["char_end_idx"], gs["relative_end_pos"],
                list(gs["attrs"]), list(gs["attr_values"]),
            ) == (
                es.value, es.char_start_idx, es.relative_start_pos,
                es.char_end_idx, es.relative_end_pos,
                list(es.attrs), [v or "" for v in es.attr_values],
            )


def test_media_spans_preserved_in_order(extracted, docs_pdf):
    media_in = {
        row["doc_id"]: [s["media_ref"] for s in sorted(row["spans"], key=lambda x: x["offset"])
                        if s["kind"] == "media"]
        for _, row in docs_pdf.iterrows()
    }
    rows = (
        explode_spans(extracted)
        .filter("kind = 'media'")
        .orderBy("doc_id", "offset")
        .collect()
    )
    media_out = {}
    for r in rows:
        media_out.setdefault(r["doc_id"], []).append(r["media_ref"])
    for doc_id, refs in media_in.items():
        assert media_out.get(doc_id, []) == refs


def test_malformed_counter(spark):
    pdf = pd.DataFrame({
        "doc_id": ["good", "bad"],
        "spans": [
            [{"kind": "html", "text": "<html><body><p>ok</p></body></html>",
              "media_ref": "", "offset": 0}],
            [{"kind": "html", "text": "<p> broken </>", "media_ref": "", "offset": 0}],
        ],
    })
    sdf = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)
    out = extract_documents(sdf, "keep_everything")
    rows = {r["doc_id"]: r["malformed"] for r in out.collect()}
    assert rows == {"good": False, "bad": True}


def _span_row(s) -> dict:
    """A kernel Span as the span struct Spark returns."""
    return {**asdict(s), "attrs": list(s.attrs), "attr_values": list(s.attr_values)}


def test_rows_match_scalar_kernel_field_by_field(spark, docs_pdf):
    """Every field of every mapInArrow output row equals the scalar
    kernel's result for the same document."""
    sdf = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA)
    rows = extract_documents(sdf, "boilerplate_strip").orderBy("doc_id").collect()
    assert len(rows) == N_DOCS
    cfg = boilerplate_strip_config()
    spans_by_doc = dict(zip(docs_pdf["doc_id"], docs_pdf["spans"]))
    for row in rows:
        r = extract(assemble_html(spans_by_doc[row["doc_id"]]), cfg)
        assert row.asDict(recursive=True) == {
            "doc_id": row["doc_id"],
            "text": r.text,
            "spans": [_span_row(s) for s in r.spans],
            "n_spans": len(r.spans),
            "malformed": r.malformed,
            "n_chars": len(r.text),
        }
