"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload html_job --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One process drives ``local[nproc]``
Spark in a closed loop: each job starts when the previous one has
returned.  With ``--trace 0`` the last stdout line carries the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it carries the
per-layer metrics, taken from spans around the program's public calls.
Every run checks the jobs' outputs outside the timed regions and exits
non-zero when the check fails.  Inputs, scratch space and artifacts
live under ``.perfbench/`` in the checkout; ``--size toy`` shrinks
every input for smoke tests.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# jobs every run times, however short --seconds: the first job of a run
# is still slower than the rest, and a run of one job would report it
MIN_JOBS = 2
# load-average gate before the timed region (pipeline.await_idle):
# proceed after this long, with the decision stamped into the artifact
IDLE_TIMEOUT_S = 10.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_times() -> list:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def driver_memory_mb(mem_total_mb: int) -> int:
    """A sixth of the host's RAM, between 1 and 4 GiB: local mode runs
    the executors inside the driver JVM, and the Python workers and the
    benchmark's own kernel pass need the rest."""
    return max(1024, min(4096, mem_total_mb // 6))


def _configure_env(work: str, nproc: int) -> int:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    mem_mb = driver_memory_mb(_mem_total_mb())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # the JVMs write perf counters to /tmp unless they are off
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])
    return mem_mb


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    specs = _metric_specs()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        import pyarrow

        import mini_html_parser_spark  # noqa: F401
        from mini_html_parser_spark.pipeline import await_idle, build_session
        from perfbench.tracing import RssSampler, StageLedger, Tracer
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = _nproc()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    mem_mb = _configure_env(work, nproc)
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        # ---- set-up: session, warm-up, inputs
        t0 = time.perf_counter()
        spark = build_session(
            app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = SimpleNamespace(spark=spark, nproc=nproc, seed=args.seed,
                              work=work, tracer=tracer)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.warm_up(os.path.join(work, "warm-up"))
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(os.path.join(work, "inputs"), args.size, args.seed)
        prep_s = time.perf_counter() - t0
        setup_s = session_s + warm_s + prep_s

        gate = await_idle(threshold=float(nproc), timeout_sec=IDLE_TIMEOUT_S, poll_sec=1.0)

        # ---- measured closed loop.  Untraced job i reads input copy i.
        # A traced run works in pairs, both jobs of a pair on one copy,
        # one traced and one not, the traced one first in every other
        # pair; the traced ÷ untraced wall of a pair is the tracing
        # overhead at equal input placement and balanced job order.
        walls, traced_walls, stage_stats = [], [], []
        ledger = StageLedger(spark) if args.trace else None
        cpu_before = _cpu_times()
        deadline = time.perf_counter() + args.seconds
        i = 0
        with RssSampler() as rss:
            while i < MIN_JOBS or (args.trace and i % 2) or time.perf_counter() < deadline:
                copy = i // 2 if args.trace else i
                traced = bool(args.trace) and i % 2 != copy % 2
                wl.stage(copy)
                if traced:
                    ledger.mark()
                with tracer.span("job", i=i, copy=copy) if traced else nullcontext():
                    t0 = time.perf_counter()
                    result = wl.run_once(i, copy)
                    wall = time.perf_counter() - t0
                (traced_walls if traced else walls).append(wall)
                if traced:
                    stage_stats.append(dict(ledger.since_mark(), wall_s=wall))
                wl.after(i, result)
                i += 1
        steal = _steal_share(cpu_before, _cpu_times())

        # ---- correctness, outside every timed region
        with tracer.span("check"):
            attempted, failed, problems = wl.check()
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)

        wall_s = statistics.median(walls)
        metrics = {
            "wall_s": wall_s,
            "docs_per_s": wl.docs / wall_s,
            "input_mb_per_s": wl.input_bytes / 1e6 / wall_s,
            "setup_s": setup_s,
            "worker_peak_rss_mb": rss.peak_mb,
        }
        layer = {}
        if args.trace:
            with tracer.span("layers"):
                layer = wl.layers(tracer)
            layer.update(_spark_layer_metrics(stage_stats, nproc))
            layer["datagen.generate_s"] = prep_s
            layer["trace.job_wall_ratio"] = statistics.median(
                t / u for t, u in zip(traced_walls, walls)
            )
            missing = sorted(set(specs["per_layer"]) - set(layer))
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {missing}")
        report = layer if args.trace else metrics
        kind = "per_layer" if args.trace else "end_to_end"
        out_metrics = {
            name: {"value": float(report[name]), "unit": specs[kind][name]}
            for name in specs[kind]
        }
        manifest = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "seconds": args.seconds,
            "trace": args.trace,
            "run_id": tracer.run_id,
            "host": {
                "nproc": os.cpu_count(),
                "cpus_used": nproc,
                "mem_total_mb": _mem_total_mb(),
                "driver_memory_mb": mem_mb,
                "python": platform.python_version(),
                "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
            },
            "inputs": wl.facts,
            "idle_gate": gate,
            "cpu_steal_share_in_loop": steal,
            "set_up": {"session_s": session_s, "warm_up_s": warm_s, "inputs_s": prep_s},
            "jobs": {"wall_s": walls, "traced_wall_s": traced_walls,
                     "stages": stage_stats},
            "end_to_end": metrics,
            "per_layer": layer,
            "check": {"attempted": attempted, "failed": failed, "problems": problems},
            "spans": tracer.spans,
        }
        _write_artifact(base, manifest)
        correct = failed == 0 and not problems
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": out_metrics,
        }))
        return 0 if correct else 1
    finally:
        _shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)


def _proc_stat(pid: int):
    """(parent pid, start time, state) of ``pid``, or None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), int(fields[19]), fields[0]


def _descendants(root: int) -> dict:
    """{pid: start time} of every process below ``root``."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append((int(entry), st[1]))
    out, todo = {}, [root]
    while todo:
        for pid, start in children.get(todo.pop(), []):
            out[pid] = start
            todo.append(pid)
    return out


def _alive(pid: int, start: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[1] == start and st[2] != "Z"


def _reap_children() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _shut_down(spark) -> None:
    """Stop Spark and every process the run started, and wait until
    each has ended.  The JVM outlives ``spark.stop()`` until its stdin
    closes, the PySpark daemon and its workers end after the JVM, and
    the process pool of the reference kernel pass leaves a
    multiprocessing resource tracker behind."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # e.g. a gateway call cut by SIGTERM
            print(f"perfbench: spark.stop() failed: {e}", file=sys.stderr)
    if gateway is not None:
        # the JVM exits when its stdin reaches end of file
        jvm = gateway.proc
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    resource_tracker._resource_tracker._stop()
    procs.update(_descendants(os.getpid()))
    # the rest should end on their own once the JVM has; those that
    # do not are terminated, then killed
    for sig, wait_s in ((None, 30.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        live = {p: s for p, s in procs.items() if _alive(p, s)}
        for pid in live if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while live and time.monotonic() < deadline:
            _reap_children()
            time.sleep(0.05)
            live = {p: s for p, s in live.items() if _alive(p, s)}
        if not live:
            break
    _reap_children()


def _spark_layer_metrics(stage_stats: list, nproc: int) -> dict:
    """Medians over the traced jobs of the status-store stage totals."""

    def med(key):
        return statistics.median(s[key] for s in stage_stats)

    return {
        "spark.busy_ratio": statistics.median(
            s["executor_run_s"] / (s["wall_s"] * nproc) for s in stage_stats
        ),
        "spark.shuffle_write_mb": med("shuffle_write_mb"),
        "spark.shuffle_read_mb": med("shuffle_read_mb"),
        "spark.spill_mb": med("spill_mb"),
        "spark.tasks": med("tasks"),
        "spark.heaviest_stage.task_max_over_median": med("heaviest_task_max_over_median"),
    }


def _write_artifact(base: str, manifest: dict) -> None:
    out = os.path.join(base, "out")
    os.makedirs(out, exist_ok=True)
    name = "{workload}-seed{seed}-trace{trace}.json".format(**manifest)
    with open(os.path.join(out, name), "w") as f:
        json.dump(manifest, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
