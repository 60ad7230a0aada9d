"""The benchmark workloads.

Each workload drives the program through its public entry points:

* ``prepare`` makes the inputs (timed as part of set-up),
* ``stage`` readies one job's input copy, untimed,
* ``run_once`` is one closed-loop job, the timed unit,
* ``after`` does untimed per-job bookkeeping,
* ``check`` compares every job's output with an independent
  reference, outside every timed region, and returns the failures,
* ``layers`` (traced runs only) times each layer's public calls.
  Every traced run reports every layer: a layer the workload does not
  run is measured on toy-size inputs of the same seed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import checks
from .inputs import HTML_DOCS, SF_ROWS, make_html_corpus, make_sf_tables

CONFIG = "boilerplate_strip"
MB = 1e6


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_pass(htmls: list, time_parse: bool = False) -> dict:
    """In-process single-core pass of ``kernel.extract`` over
    ``(doc_id, html)`` pairs: output totals and per-document seconds.
    With ``time_parse`` each document's ``kernel.dom.parse_document`` is
    timed next to its extract, first on every other document, so the
    difference of the two sums is not skewed by the process warming up
    between two separate passes."""
    from mini_html_parser_spark.kernel import extract
    from mini_html_parser_spark.kernel.config import NAMED_CONFIGS
    from mini_html_parser_spark.kernel.dom import parse_document

    cfg = NAMED_CONFIGS[CONFIG]()
    out = {"docs": 0, "spans": 0, "chars": 0, "malformed": 0, "doc_s": [], "parse_s": 0.0}
    for n, (_, html) in enumerate(htmls):
        if time_parse and n % 2:
            out["parse_s"] += _timed(parse_document, html)[0]
        t0 = time.perf_counter()
        r = extract(html, cfg)
        out["doc_s"].append(time.perf_counter() - t0)
        if time_parse and not n % 2:
            out["parse_s"] += _timed(parse_document, html)[0]
        out["docs"] += 1
        out["spans"] += len(r.spans)
        out["chars"] += len(r.text)
        out["malformed"] += bool(r.malformed)
    return out


def kernel_totals(htmls: list, workers: int) -> dict:
    """``kernel_pass`` totals with the documents dealt largest-first
    over ``workers`` spawned processes, for checks that need no
    single-core timing."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    by_size = sorted(htmls, key=lambda d: len(d[1]), reverse=True)
    chunks = [by_size[w::workers] for w in range(workers)]
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("spawn")) as ex:
        parts = list(ex.map(kernel_pass, chunks))
    return {k: sum(p[k] for p in parts) for k in ("docs", "spans", "chars", "malformed")}


def kernel_layer_metrics(k: dict, html_bytes: int) -> dict:
    """Layer metrics of a ``kernel_pass`` made with ``time_parse``."""
    doc_ms = sorted(1000.0 * s for s in k["doc_s"])
    extract_s, parse_s = sum(k["doc_s"]), k["parse_s"]
    q = statistics.quantiles(doc_ms, n=100, method="inclusive") if len(doc_ms) > 1 else doc_ms * 99
    return {
        "kernel.extract_s": extract_s,
        "kernel.parse_s": parse_s,
        "kernel.rewrite_linearize_s": extract_s - parse_s,
        "kernel.mb_per_s": html_bytes / MB / extract_s,
        "kernel.doc_ms.p50": statistics.median(doc_ms),
        "kernel.doc_ms.p99": q[98],
        "kernel.doc_ms.max": doc_ms[-1],
        "kernel.doc_ms.samples": len(doc_ms),
        "kernel.spans_out": k["spans"],
        "kernel.malformed": k["malformed"],
    }


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.jobs: list = []  # per-job results kept for the check
        self.facts: dict = {}

    # number of documents one job completes and its input MB
    docs = 0
    input_bytes = 0

    def warm_up(self, out_dir: str) -> None:
        """One untimed job of this workload at toy size: it pays the
        cold start on the same engine paths, and its plan differs from
        the measured one, so no measured job is served from its shuffle
        output (the CLAUDE.md rule against warming on the measured
        plan)."""
        self.prepare(out_dir, "toy", self.ctx.seed)
        self.run_once(-1, 0)

    def prepare(self, out_dir: str, size: str, seed: int) -> None:
        """Make the inputs of ``size`` from ``seed`` under ``out_dir``."""
        raise NotImplementedError

    def stage(self, copy: int) -> None:
        """Make input copy ``copy`` ready for a job, outside its timing."""

    def run_once(self, i: int, copy: int):
        """Job ``i`` over input copy ``copy``: the timed unit."""
        raise NotImplementedError

    def after(self, i: int, result) -> None:
        raise NotImplementedError

    def check(self) -> tuple:
        """(attempted, failed, problems)."""
        raise NotImplementedError

    def layers(self, tracer) -> dict:
        """Every per-layer metric.  The layers this workload runs are
        measured on its own inputs; the others on toy-size inputs of
        the same seed, so each metric is a measurement on every run."""
        raise NotImplementedError


class HtmlJob(Workload):
    name = "html_job"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.kernel = None

    def prepare(self, out_dir: str, size: str, seed: int) -> None:
        self.corpus = make_html_corpus(out_dir, HTML_DOCS[size], seed)
        self.docs = self.corpus.docs
        self.input_bytes = self.corpus.html_bytes
        self.facts = {
            "docs": self.corpus.docs,
            "html_mb": self.corpus.html_bytes / MB,
            "giant_docs": self.corpus.giants,
        }

    def _table_dir(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"table-{i}")

    def stage(self, copy: int) -> None:
        self.corpus.copy_path(copy)

    def run_once(self, i: int, copy: int):
        from mini_html_parser_spark.pipeline import run_extraction_job

        docs = self.spark.read.parquet(self.corpus.copy_path(copy))
        return run_extraction_job(
            self.spark, docs, self._table_dir(i), config=CONFIG,
            parallelism=self.ctx.nproc, mode="append",
        )

    def after(self, i: int, result) -> None:
        snap = result["snapshot"] or {}
        self.jobs.append({
            "rows": snap.get("total_rows", 0),
            "metrics": dict(result.get("metrics") or {}),
        })
        # keep only the newest table: it gets the full read-back check
        if i > 0:
            shutil.rmtree(self._table_dir(i - 1), ignore_errors=True)
        self.last_table = self._table_dir(i)

    def _kernel(self) -> dict:
        """Reference totals; a traced run makes the pass on one core in
        process, because its per-document times are layer metrics."""
        if self.kernel is None:
            if self.ctx.tracer.enabled:
                with self.ctx.tracer.span("kernel.extract"):
                    self.kernel = kernel_pass(self.corpus.htmls, time_parse=True)
            else:
                self.kernel = kernel_totals(self.corpus.htmls, self.ctx.nproc)
        return self.kernel

    def check(self) -> tuple:
        from mini_html_parser_spark.plans.icelite import IceliteTable
        from pyspark.sql import functions as F

        k = self._kernel()
        t = IceliteTable(self.last_table).read(self.spark).agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("doc_id").alias("docs"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_chars").alias("chars"),
            F.sum(F.col("malformed").cast("long")).alias("malformed"),
        ).first().asDict()
        return checks.extraction(self.docs, k, self.jobs, t)

    def layers(self, tracer) -> dict:
        # the check has already made the kernel.extract pass
        out = html_layers(self.ctx, tracer, self.corpus, self._kernel())
        toy_sf = os.path.join(self.ctx.work, "layer-sf-toy")
        make_sf_tables(toy_sf, SF_ROWS["toy"], self.ctx.seed)
        out.update(query_layers(self.spark, tracer, toy_sf, measured_s=None))
        return out


def html_layers(ctx, tracer, corpus, kernel: dict) -> dict:
    """The kernel, salting, extract-operator, icelite, WARC-reader and
    stats read-side layers over ``corpus``; ``kernel`` is a
    ``kernel_pass`` over it made with ``time_parse``."""
    out = kernel_layer_metrics(kernel, corpus.html_bytes)
    table_dir = os.path.join(ctx.work, "layer-commit")
    out.update(_extract_layers(ctx, tracer, corpus, table_dir))
    out["operators.extract.kernel_share"] = (
        out["kernel.extract_s"] / (out["operators.extract.wall_s"] * ctx.nproc)
    )
    out.update(_warc_layers(ctx, tracer, corpus))
    out.update(_read_side_layers(ctx, tracer, table_dir))
    shutil.rmtree(table_dir, ignore_errors=True)
    return out


def _extract_layers(ctx, tracer, corpus, table_dir: str) -> dict:
    """Salting, the extract operator and the icelite commit, each timed
    over cached output of the step before it; the commit goes to
    ``table_dir``."""
    from mini_html_parser_spark.operators.extract import extract_documents
    from mini_html_parser_spark.pipeline import (
        GIANT_BUCKET_SPACE, GIANT_DOC_CHARS, repartition_for_extraction,
    )
    from mini_html_parser_spark.plans.icelite import IceliteTable

    spark, n = ctx.spark, ctx.nproc
    out = {}
    docs = spark.read.parquet(corpus.copy_path(0))
    with tracer.span("pipeline.repartition"):
        out["pipeline.repartition_s"], _ = _timed(_noop, repartition_for_extraction(docs, n))
    salted = repartition_for_extraction(docs, n).cache()
    salted.count()
    with tracer.span("operators.extract"):
        out["operators.extract.wall_s"], _ = _timed(
            _noop, extract_documents(salted, CONFIG, passthrough_cols=["bucket"])
        )
    extracted = extract_documents(salted, CONFIG, passthrough_cols=["bucket"]).cache()
    extracted.count()
    layout = {"n_buckets": 2 * n, "giant_bucket_space": GIANT_BUCKET_SPACE,
              "giant_doc_chars": GIANT_DOC_CHARS}
    with tracer.span("plans.icelite.commit"):
        out["plans.icelite.commit_s"], snap = _timed(
            IceliteTable(table_dir).commit_append,
            extracted, partition_col="bucket", partitioning=layout,
        )
    files = [os.path.join(table_dir, f) for f in snap["data_files"]]
    out["plans.icelite.files_written"] = len(files)
    out["plans.icelite.bytes_written"] = sum(os.path.getsize(f) for f in files)
    extracted.unpersist()
    salted.unpersist()
    return out


def _warc_layers(ctx, tracer, corpus) -> dict:
    """The WARC reader over the corpus in crawl form: one plain and one
    gzip segment, each holding half the documents."""
    from mini_html_parser_spark.sources.warc import parse_warc, read_warc, warc_bytes

    warc_dir = os.path.join(ctx.work, "layer-warc")
    os.makedirs(warc_dir)
    pages = [(f"http://bench.example/{d}", h) for d, h in corpus.htmls]
    half = len(pages) // 2
    for name, part, gz in (("segment-0.warc", pages[:half], False),
                           ("segment-1.warc.gz", pages[half:], True)):
        with open(os.path.join(warc_dir, name), "wb") as f:
            f.write(warc_bytes(part, compress=gz))
    out = {}
    with tracer.span("sources.warc.parse"):
        t0 = time.perf_counter()
        for name in sorted(os.listdir(warc_dir)):
            with open(os.path.join(warc_dir, name), "rb") as f:
                parse_warc(f.read())
        out["sources.warc.parse_s"] = time.perf_counter() - t0
    with tracer.span("sources.warc.read"):
        out["sources.warc.read_s"], _ = _timed(
            lambda: read_warc(ctx.spark, warc_dir).count()
        )
    shutil.rmtree(warc_dir, ignore_errors=True)
    return out


def _read_side_layers(ctx, tracer, table_dir: str) -> dict:
    """The jobs/stats_job.py calls over a committed table: table read,
    per-doc stats, describe, CSV write."""
    from mini_html_parser_spark.operators.stats import stats_per_doc_table, tag_stats
    from mini_html_parser_spark.plans.icelite import IceliteTable
    from mini_html_parser_spark.sources.readers import write_csv_gz

    table = IceliteTable(table_dir)
    out = {}
    with tracer.span("plans.icelite.read"):
        out["plans.icelite.read_s"], _ = _timed(_noop, table.read(ctx.spark))
    extracted = table.read(ctx.spark).cache()
    extracted.count()
    with tracer.span("operators.stats.per_doc"):
        out["operators.stats.per_doc_s"], _ = _timed(
            _noop, stats_per_doc_table(extracted, tokenizer="bpe")
        )
    per_doc = stats_per_doc_table(extracted, tokenizer="bpe").cache()
    per_doc.count()
    with tracer.span("operators.stats.tag_stats"):
        out["operators.stats.tag_stats_s"], _ = _timed(_noop, tag_stats(per_doc))
    csv_dir = os.path.join(ctx.work, "layer-csv")
    with tracer.span("sources.readers.write_csv"):
        out["sources.readers.write_csv_s"], _ = _timed(
            write_csv_gz, per_doc, csv_dir, header=False
        )
    per_doc.unpersist()
    extracted.unpersist()
    shutil.rmtree(csv_dir, ignore_errors=True)
    return out


QUERY_NAMES = [
    "dedup_clusters", "bm25_batch_topk", "join_broadcast_revenue",
    "dedup_ngram_jaccard", "similarity_bruteforce_topk", "agg_median_by_lang",
]
def run_queries(spark, sf_dir: str) -> dict:
    """Each query's (seconds, (columns, rows) or the exception it raised)."""
    from mini_html_parser_spark.queries import QUERIES

    out = {}
    for name in QUERY_NAMES:
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            got = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # a raising query counts as failed
            got = e
        out[name] = (time.perf_counter() - t0, got)
    return out


def query_layers(spark, tracer, toy_dir: str, measured_s: dict | None) -> dict:
    """``queries.<q>_s``: median seconds per query, from ``measured_s``
    (name -> seconds over the workload's own tables) or, when that is
    None, from one round over the toy-size tables in ``toy_dir``.
    ``queries.<q>.operator_share``: 1 - (toy-size time ÷ that time).  A
    toy-size run of a query is nearly all per-query fixed cost
    (planning, job and task launch, Python worker start), so the share
    estimates how much of the query's time is its operators' work."""
    from mini_html_parser_spark.queries import QUERIES

    with tracer.span("queries.toy_round"):
        toy = run_queries(spark, toy_dir)
    out = {}
    for name in QUERY_NAMES:
        toy_s, got = toy[name]
        if isinstance(got, Exception):
            raise got
        own = statistics.median(measured_s[name]) if measured_s else toy_s
        key = f"queries.{QUERIES[name].__name__}"
        out[f"{key}_s"] = own
        out[f"{key}.operator_share"] = 1.0 - toy_s / own
    return out


class CorpusQueries(Workload):
    name = "corpus_queries"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.query_s: dict = {name: [] for name in QUERY_NAMES}

    def prepare(self, out_dir: str, size: str, seed: int) -> None:
        self.sf_dir = os.path.join(out_dir, "sf")
        rows = make_sf_tables(self.sf_dir, SF_ROWS[size], seed)
        self.docs = rows["documents"]
        self.input_bytes = _dir_bytes(self.sf_dir)
        self.facts = {"table_rows": rows, "input_mb": self.input_bytes / MB}

    def run_once(self, i: int, copy: int):
        return run_queries(self.spark, self.sf_dir)

    def after(self, i: int, result) -> None:
        job = {}
        for name, (seconds, got) in result.items():
            self.query_s[name].append(seconds)
            job[name] = got if isinstance(got, Exception) else checks.result_hash(*got)
        self.jobs.append(job)

    def check(self) -> tuple:
        return checks.queries(checks.oracle_hashes(self.sf_dir, QUERY_NAMES), self.jobs)

    def layers(self, tracer) -> dict:
        toy_sf = os.path.join(self.ctx.work, "layer-sf-toy")
        make_sf_tables(toy_sf, SF_ROWS["toy"], self.ctx.seed)
        out = query_layers(self.spark, tracer, toy_sf, measured_s=self.query_s)
        corpus = make_html_corpus(
            os.path.join(self.ctx.work, "layer-html-toy"), HTML_DOCS["toy"], self.ctx.seed
        )
        with tracer.span("kernel.extract"):
            kernel = kernel_pass(corpus.htmls, time_parse=True)
        out.update(html_layers(self.ctx, tracer, corpus, kernel))
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {w.name: w for w in (HtmlJob, CorpusQueries)}
