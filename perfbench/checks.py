"""Correctness checks, kept apart from Spark so they can be tested on
hand-made totals.  Each returns ``(attempted, failed, problems)``:
``attempted`` counts the units compared (documents or queries), ``failed`` those missing or mismatched, and ``problems``
says what differed."""

from __future__ import annotations

import os

from tools.check_oracles import table_hash  # the oracle gate's normalisation

EXTRACTION_TOTALS = (("docs_parsed", "docs"), ("spans_emitted", "spans"),
                     ("malformed_fallbacks", "malformed"))


def extraction(docs_in: int, kernel: dict, jobs: list, table: dict) -> tuple:
    """Every job's committed rows and observed totals must equal the
    in-process kernel totals; the newest table, read back, must hold
    each document once with the kernel's spans, chars and malformed
    totals.  A job whose totals differ fails all its documents, since
    totals cannot say which document differed."""
    attempted = failed = 0
    problems = []
    for i, job in enumerate(jobs):
        attempted += docs_in
        bad = [
            f"{name}={job['metrics'].get(name)} kernel={kernel[key]}"
            for name, key in EXTRACTION_TOTALS
            if job["metrics"].get(name) != kernel[key]
        ]
        if bad:
            failed += docs_in
            problems.append(f"job {i}: " + ", ".join(bad))
        elif job["rows"] != docs_in:
            failed += abs(docs_in - job["rows"])
            problems.append(f"job {i}: committed rows {job['rows']} != docs in {docs_in}")
    want = {"rows": docs_in, "docs": docs_in, "spans": kernel["spans"],
            "chars": kernel["chars"], "malformed": kernel["malformed"]}
    bad = [f"{k}={table.get(k)} want {v}" for k, v in want.items() if table.get(k) != v]
    if bad:
        failed = max(failed, docs_in)
        problems.append("table read-back: " + ", ".join(bad))
    return attempted, failed, problems


def oracle_hashes(sf_dir: str, names: list) -> dict:
    """DuckDB oracle result hash per query, over the same tables."""
    import duckdb

    from mini_html_parser_spark.queries import ORACLES

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
    out = {}
    for name in names:
        rel = con.sql(ORACLES[name])
        out[name] = result_hash(rel.columns, rel.fetchall())
    con.close()
    return out


def queries(oracle: dict, jobs: list) -> tuple:
    """A query that raised or whose result hash missed its oracle fails."""
    attempted = failed = 0
    problems = []
    for i, job in enumerate(jobs):
        for name, got in job.items():
            attempted += 1
            if isinstance(got, Exception):
                failed += 1
                problems.append(f"job {i}: {name} raised {type(got).__name__}: {str(got)[:200]}")
            elif got != oracle[name]:
                failed += 1
                problems.append(f"job {i}: {name} result hash differs from its oracle")
    return attempted, failed, problems


def result_hash(columns: list, rows: list) -> str:
    return table_hash([c.lower() for c in columns], rows)
