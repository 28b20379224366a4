#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Lands the workload's seeded input (cached under
``perfbench/.cache``), builds one warm ``local[nproc]`` session, runs the
workload's untimed warm-up iterations, then times ``round(--seconds / nominal)``
iterations, where ``nominal`` is the workload's calibrated iteration time
(about ``--seconds`` of measurement on the calibration host):

* ``--trace 0`` prints the end-to-end metrics named in ``BENCHMARK.json``;
* ``--trace 1`` alternates untraced and traced iterations and prints the
  per-layer metrics plus the tracing overhead.

Every output written is checked against the oracle afterwards. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it carries the detail (host stamp, landing
time, sample counts and tail percentiles).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> dict[str, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
    }


def prepare_env(work: str) -> str:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, Spark's launcher included, would write a perf-data file
    # under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return tmp


def start_session(work: str, tmp: str):
    from dd_ops_ocr_spark.session import build_spark
    from perfbench import host

    mem = host.driver_memory()
    t0 = time.perf_counter()
    spark = build_spark(
        app="perfbench",
        cores=host.nproc(),
        driver_memory=mem,
        extra={
            "spark.local.dir": tmp,
            # a fixed, pre-touched heap: a growing one makes the memory peak
            # depend on when G1 chose to expand, not on what the job needed
            "spark.driver.extraJavaOptions":
                f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def summary(values: list[float], higher_is_better: bool) -> dict:
    """Median, plus the most extreme percentile on the bad side that still
    has at least ten samples beyond it, plus the sample count."""
    n = len(values)
    out = {"median": statistics.median(values) if values else None, "n": n}
    if n >= 11:
        xs = sorted(values, reverse=not higher_is_better)
        # xs[10] has exactly ten samples worse than it
        pct = 100.0 * (n - 10) / n
        out[f"p{pct:.0f}" if not higher_is_better else f"p{100 - pct:.0f}"] = xs[10]
    return out


def harvested(tr) -> float:
    """Harvest ``tr``, check its tree, return the harvest's seconds."""
    from perfbench.trace import check_nesting, self_times

    t0 = time.perf_counter()
    tr.harvest()
    harvest_s = time.perf_counter() - t0
    nest = check_nesting(tr.spans)
    if nest:
        raise RuntimeError(f"trace spans do not nest: {nest[:3]}")
    root = tr.spans[0]
    if abs(sum(self_times(tr.spans).values()) - (root["end"] - root["start"])) > 1e-3:
        raise RuntimeError("trace self times do not sum to the root span")
    return harvest_s


def traced(w, spark, one, run_id: str) -> tuple[dict, dict]:
    """One iteration under the tracer; returns its record and metrics."""
    from perfbench import host
    from perfbench.trace import Tracer, self_times
    from perfbench.workloads import call_stages, stage_sum

    tr = Tracer(spark, run_id, spark_groups=True)
    cpu0 = host.tree_cpu_s()
    rec = one(tr)
    cpu_s = host.tree_cpu_s() - cpu0
    harvest_s = harvested(tr)
    job = tr.spans[rec["job_span"]]
    unattributed = self_times(tr.spans)[job["id"]]
    stages = call_stages(tr, tr.children(job["id"]))
    m = w.job_metrics(tr, rec)
    m.update({
        "spark.executor_cpu_s": stage_sum(stages, "cpu_s"),
        "spark.executor_run_s": stage_sum(stages, "run_s"),
        "spark.gc_s": stage_sum(stages, "gc_s"),
        "spark.spill_bytes": stage_sum(stages, "spill_bytes"),
        "spark.tree_cpu_s": cpu_s,
        "trace.unattributed_s": unattributed,
        "trace.coverage_frac": 1 - unattributed / rec["wall_s"],
        "trace.harvest_s": harvest_s,
    })
    tr.dump(os.path.join(os.path.dirname(rec["out"]), f"trace-{rec['it']}.json"))
    return rec, m


def probed(w, spark, rec: dict, job_values: dict) -> dict:
    """The workload's layer probes, once, after the timed iterations."""
    from perfbench.trace import Tracer

    tr = Tracer(spark, "probes", spark_groups=True)
    with tr.span("probes"):
        w.probes(spark, tr, rec)
    harvested(tr)
    tr.dump(os.path.join(os.path.dirname(rec["out"]), "trace-probes.json"))
    return w.probe_metrics(tr, rec, job_values)


def run(args, spec) -> tuple[dict, dict]:
    from perfbench import gen, host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    phases: dict[str, float] = {}
    detail["phases"] = phases
    # landing first, before the session exists: landing inside it would warm
    # the JVM and the Python workers in runs that land and not in runs that
    # reuse the cache
    data, land_s, cached = gen.land(CACHE, args.workload, args.seed, w.cfg)
    phases["land_s"] = land_s
    detail["land_cached"] = cached
    tmp = prepare_env(work)
    spark, session_start_s = start_session(work, tmp)
    try:
        w.tiny(spark, f"{work}/tiny")
        setup_s = host.since_process_start() - land_s
        phases["setup_s"] = setup_s
        detail["host"] = host.stamp()
        w.prepare(data, args.seed)

        recs: list[dict] = []

        def one(tr: Tracer) -> dict:
            it = len(recs)
            rec = w.iteration(spark, os.path.join(work, "out", str(it)), tr, it)
            recs.append(rec)
            return rec

        t0 = time.perf_counter()
        for _ in range(w.warmup):  # the JVM is still compiling the hot paths
            one(Tracer())
        phases["warmup_s"] = time.perf_counter() - t0

        # a fixed amount of work per run, not a deadline: a deadline makes
        # the iteration count, and with it the sampled stretch of the
        # warm-up curve, depend on the host's speed at the time. --trace 1
        # alternates untraced and traced iterations, so both sides are
        # equally warm.
        n = max(2, int(args.seconds / w.nominal_iteration_s + 0.5))
        timed: list[dict] = []
        layers: list[tuple[dict, dict]] = []
        t0 = time.perf_counter()
        with host.PeakMemory(spark) as mem:
            for _ in range(max(1, n // 2) if args.trace else n):
                timed.append(one(Tracer()))
                if args.trace:
                    layers.append(traced(w, spark, one, f"t{len(recs)}"))
        phases["timed_s"] = time.perf_counter() - t0
        if args.trace:
            job_values = {
                k: statistics.median(m.get(k, 0.0) for _, m in layers)
                for k in {k for _, m in layers for k in m}
            }
            job_values.update(probed(w, spark, layers[-1][0], job_values))
        t0 = time.perf_counter()
        attempted, failed, problems = w.check(spark, recs)
        phases["check_s"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t0

    shutil.rmtree(work, ignore_errors=True)

    unit = w.unit
    rates = [r["items"] / r["wall_s"] for r in timed]
    detail.update(
        session_start_s=session_start_s,
        heap_committed_mb=mem.heap_committed / (1 << 20),
        checked_iterations=len(recs),
        problems=problems,
        failed_frac=failed / attempted,
        timings={
            f"{unit}_per_s": summary(rates, True),
            "iteration_s": summary([r["wall_s"] for r in timed], False),
        },
        iteration_walls=[r["wall_s"] for r in timed],
    )
    resumes = [r["resume"] for r, _ in layers if "resume" in r]
    if resumes:
        detail["uncommitted_at_crash"] = [x["uncommitted_at_crash"] for x in resumes]
        detail["buckets_reprocessed"] = [x["reprocessed"] for x in resumes]
    if "mpx" in timed[0]:
        detail["timings"]["mpx_per_s"] = summary(
            [r["mpx"] / r["wall_s"] for r in timed], True
        )
    if not args.trace:
        values = {
            # throughput over the whole window: every timed item over the
            # summed wall time, steadier than a median of a few iterations
            "items_per_s": sum(r["items"] for r in timed) / sum(r["wall_s"] for r in timed),
            "setup_s": setup_s,
            "peak_rss_mb": mem.peak_rss_mb,
            "live_heap_mb": mem.live_heap_mb,
        }
        declared = spec["end_to_end"]
    else:
        values = {name: 0.0 for name in spec["per_layer"]}
        values.update(job_values)
        values["session.start_s"] = session_start_s
        values["native.available"] = float(detail["host"]["native_shim"])
        values["trace.overhead_frac"] = (
            statistics.median(r["wall_s"] for r, _ in layers)
            / statistics.median(r["wall_s"] for r in timed) - 1
        )
        declared = spec["per_layer"]
        detail["traced_iterations"] = len(layers)
    unknown = set(values) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {
        name: {"value": float(values[name]), "unit": m["unit"]}
        for name, m in declared.items()
    }
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import dd_ops_ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    spec = declared_metrics()
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    detail, result = run(args, spec)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
