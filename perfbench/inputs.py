"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, size)`` and is written under
the run's own work directory, so two runs with one seed see byte-equal
inputs and nothing outside the checkout is read.

* The HTML corpus is drawn from ``datagen.generate_pandas`` but filled
  to fixed size-class quotas (90% small, 9% medium, 1% giant — the
  FIXTURES.md profile), the giants one per equal-width band of
  datagen's 0.5–2 MB giant range, each from the middle fifth of its
  band.  A plain contiguous id range would
  carry a Poisson number of giants of any size, so the corpus size, and
  with it every timing, would swing from seed to seed by far more than
  any regression bound.
* Each job reads its own copy of the corpus, the doc ids under the
  copy's prefix (``r<k>-``), as a new day's crawl of the same pages
  would arrive.  Salting places rows round-robin after sorting them by
  content hash, so which giants share a partition is fixed by the ids;
  a run's median then covers as many placements as it runs jobs.  A
  copy is written when a job first asks for it, outside the timed
  region.  The kernel sees no ids, so every copy has the same
  reference totals.
* The sf tables have the schema, row counts and value distributions of
  the repo's sf test tables (TESTDATA.md), as measured on the sf0.1
  and sf0.001 sets; the facts are listed in perfbench/README.md.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SMALL_MAX_CHARS = 10_000
GIANT_RANGE = (500_000, 2_000_000)  # datagen's giant target sizes
# giants come from the middle fifth of their band: the giants carry
# most of the corpus bytes, and over whole bands the corpus size swung
# by +-8 % from seed to seed
GIANT_BAND_SHARE = 0.2

# HTML corpus documents per input size
HTML_DOCS = {"full": 300, "toy": 30}


class HtmlCorpus:
    """The documents table (doc_id, spans) of one seed, and its copies."""

    def __init__(self, out_dir: str, table: pa.Table, htmls: list, giants: int):
        self.out_dir = out_dir
        self.table = table
        self.htmls = htmls  # (doc_id, assembled html) in doc_id order
        self.docs = table.num_rows
        self.html_bytes = sum(len(h.encode()) for _, h in htmls)
        self.giants = giants

    def copy_path(self, k: int) -> str:
        """Parquet path of copy ``k``, written on first use."""
        path = os.path.join(self.out_dir, f"documents-r{k}.parquet")
        if not os.path.exists(path):
            ids = self.table.column(0).to_pylist()
            renamed = pa.array([f"r{k}-{d}" for d in ids], pa.string())
            pq.write_table(self.table.set_column(0, self.table.schema.field(0), renamed), path)
        return path


def _quotas(n_docs: int) -> dict:
    giants = max(1, round(n_docs * 0.01))
    medium = max(1, round(n_docs * 0.09))
    quotas = {"small": n_docs - medium - giants, "medium": medium}
    quotas.update({("giant", b): 1 for b in range(giants)})
    return quotas


def _size_class(n_chars: int, giants: int, giant_min: int):
    """The quota a document fills, or None for a giant outside the
    middle ``GIANT_BAND_SHARE`` of its band."""
    if n_chars >= giant_min:
        lo, hi = GIANT_RANGE
        pos = (n_chars - lo) * giants / (hi - lo)  # band index + offset in it
        band = min(giants - 1, max(0, int(pos)))
        return ("giant", band) if abs(pos - band - 0.5) <= GIANT_BAND_SHARE / 2 else None
    return "small" if n_chars < SMALL_MAX_CHARS else "medium"


def make_html_corpus(out_dir: str, n_docs: int, seed: int) -> HtmlCorpus:
    """Documents table with exact size-class quotas; copy 0 is written."""
    from mini_html_parser_spark.datagen import generate_pandas
    from mini_html_parser_spark.operators.extract import DOCUMENTS_SCHEMA, assemble_html
    from mini_html_parser_spark.pipeline import GIANT_DOC_CHARS
    from pyspark.sql.pandas.types import to_arrow_schema

    need = _quotas(n_docs)
    giants = sum(1 for k in need if k[0] == "giant")
    ids: list = []
    spans: list = []
    htmls: list = []
    start = 0
    while any(need.values()):
        batch = generate_pandas(64, seed=seed, start=start)
        start += 64
        for doc_id, doc_spans in zip(batch["doc_id"], batch["spans"]):
            html = assemble_html(doc_spans)
            cls = _size_class(len(html), giants, GIANT_DOC_CHARS)
            if need.get(cls):
                need[cls] -= 1
                ids.append(doc_id)
                spans.append(doc_spans)
                htmls.append((doc_id, html))
    table = pa.Table.from_pydict(
        {"doc_id": ids, "spans": spans}, schema=to_arrow_schema(DOCUMENTS_SCHEMA)
    )
    os.makedirs(out_dir, exist_ok=True)
    corpus = HtmlCorpus(out_dir, table, htmls, giants)
    corpus.copy_path(0)
    return corpus


# Shape of the sf test tables (TESTDATA.md), measured on the sf0.1 set
# and recorded in perfbench/README.md.  Row counts per input size: the
# full size is sf0.1, the toy size sf0.001.
SF_ROWS = {
    "full": {"documents": 5000, "embeddings": 2000, "part": 20_000, "lineitem": 600_000},
    "toy": {"documents": 500, "embeddings": 500, "part": 200, "lineitem": 6000},
}
# documents: 10-100 words drawn uniformly from a 30-word vocabulary; 5%
# of the documents end in the token "dup", and 8 in 5000 repeat the
# text of another "dup" document
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch".split()
)
_WORDS = (10, 100)
DUP_SHARE = 0.05
DUP_PAIRS_PER_DOC = 8 / 5000
_LANGS = (np.array(["en", "zh", "es", "fr", "de"]), [0.41, 0.15, 0.15, 0.15, 0.14])
_SOURCES = 20
EMBED_DIM = 64
_PART_NAMES = np.array([
    f"{a} {n}"
    for a in "red new hot small large cold old blue".split()
    for n in "bolt anvil ring rod plate gear widget gizmo".split()
])
_PART_TYPES = np.array("LARGE MEDIUM ECONOMY PROMO SMALL STANDARD".split())
_BRANDS = np.array([f"Brand#{i}" for i in range(1, 26)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(_WORDS[0], _WORDS[1] + 1, size=n)
    words = rng.choice(_VOCAB, size=int(lengths.sum()))
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    for i in dup:
        texts[i] += " dup"
    pairs = min(len(dup) // 2, round(n * DUP_PAIRS_PER_DOC))
    picked = rng.choice(dup, size=2 * pairs, replace=False)
    for src, dst in zip(picked[:pairs], picked[pairs:]):
        texts[dst] = texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS[0], size=n, p=_LANGS[1]).tolist(),
        "source": [f"src{i % _SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    emb = rng.standard_normal((n, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _part(rng, n: int) -> pa.Table:
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": rng.choice(_PART_NAMES, size=n).tolist(),
        "p_brand": rng.choice(_BRANDS, size=n).tolist(),
        "p_type": rng.choice(_PART_TYPES, size=n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, size=n), pa.int32()),
        "p_retailprice": np.round(900 + 0.1 * (np.arange(n) % 1000), 2),
    })


def _lineitem(rng, m: int, parts: int) -> pa.Table:
    shipdays = rng.integers(0, 2499, size=m)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, m // 4, size=m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, size=m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, m // 600), size=m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=m), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, size=m), 2),
        "l_discount": rng.integers(0, 11, size=m) / 100.0,
        "l_tax": rng.integers(0, 9, size=m) / 100.0,
        "l_returnflag": pa.DictionaryArray.from_arrays(
            rng.integers(0, 3, size=m).astype(np.int8), ["A", "N", "R"]
        ).cast(pa.string()),
        "l_linestatus": pa.DictionaryArray.from_arrays(
            rng.integers(0, 2, size=m).astype(np.int8), ["F", "O"]
        ).cast(pa.string()),
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02") + shipdays.astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
    })


def make_sf_tables(out_dir: str, rows: dict, seed: int) -> dict:
    """documents / embeddings / part / lineitem parquet tables with the
    schema and value distributions of the sf test tables; returns
    {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
        "part": _part(rng, rows["part"]),
        "lineitem": _lineitem(rng, rows["lineitem"], rows["part"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
