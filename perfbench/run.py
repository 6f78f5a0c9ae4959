"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository.  Generates the
workload's inputs from the seed, starts Spark with the session factory's
own defaults (``master=local[nproc]``), runs the timed region, checks the
program's outputs and prints, as the last line of stdout, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
the per-layer metrics of a separate, traced run.  The line before it is
a detail record (inputs, Spark conf, host-noise readings, named
workload metrics) that is also written under ``.bench_out/records/``.

Everything the run writes stays under ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    clipped,
    codegen_totals,
    engine_totals,
    jobs_by_span,
    read_event_log,
    self_times,
    union_length,
)

# the host-noise reference job: CPU-only, no I/O, no shuffle
REF_ROWS = 4_000_000


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _ref_job_s(spark) -> float:
    """Seconds for one run of a fixed CPU-only Spark job."""
    t = time.perf_counter()
    spark.range(0, REF_ROWS, 1, 4).selectExpr(
        "count(if(((id * 2654435761) % 1000003) % 7 = 0, 1, null)) as c"
    ).collect()
    return time.perf_counter() - t


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p
        for p in ("osrs_dashboard_elt_spark/session.py", "scripts/run_pipeline.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the repository (missing {missing})", file=sys.stderr)
        return 2

    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("in", "tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # Spark's Python workers import the package from the checkout; every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    ).strip()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

    try:
        t = time.perf_counter()
        inputs = wl.generate(args.seed, os.path.join(work, "in"))
        inputs["generate_s"] = time.perf_counter() - t
        return _run(args, wl, work, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, inputs: dict) -> int:
    from osrs_dashboard_elt_spark.session import get_spark

    nproc = os.cpu_count() or 1
    conf = {}
    if args.trace:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        }
    steal0, total0 = _cpu_times()

    # -- set-up: the session start, which launches the JVM
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{nproc}]", extra_conf=conf)
    setup_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    spark_conf = dict(spark.sparkContext.getConf().getAll())

    try:
        ref_before = _ref_job_s(spark)
        tracer = Tracer(f"{args.workload}-{args.seed}", spark.sparkContext if args.trace else None)
        if args.trace:
            wl.install_spans(tracer)
            cg0 = codegen_totals(spark)
        t0 = time.time()
        with tracer.span("bench.timed"):
            res = wl.run(spark, tracer, work, inputs, args.seconds)
        t1 = time.time()
        if args.trace:
            cg1 = codegen_totals(spark)
        ref_after = _ref_job_s(spark)
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t
    t = time.perf_counter()
    checks = wl.check(work, inputs, res)
    check_s = time.perf_counter() - t
    steal1, total1 = _cpu_times()

    q = res["query_ms"]
    failed = res["failed_ops"] + sum(not ok for ok in checks.values())
    attempted = res["ops"] + len(checks)
    # a workload without a scored answer (the dashboard) reports the
    # share of its output checks that hold
    quality = res.get("answer_quality", sum(checks.values()) / len(checks))
    # the build and query phases are reported in CPU time of the program
    # (the Spark JVM and its Python workers): on a shared host their wall
    # time moved with neighbours' load by more than any bound a
    # regression gate can use; the wall times are in the detail record
    e2e = {
        "setup_s": (setup_s, "s"),
        "pipeline_cpu_s": (res["pipeline_cpu_s"], "s"),
        "query_cpu_ms": (res["query_cpu_ms"], "ms"),
        "answer_quality": (quality, "ratio"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "loop": wl.LOOP,
        "inputs": inputs,
        "spark_master": f"local[{nproc}]",
        "spark_conf": dict(sorted(spark_conf.items())),
        "host": {
            "ref_job_before_s": ref_before,
            "ref_job_after_s": ref_after,
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        },
        "timed_region_s": t1 - t0,
        "stop_s": stop_s,
        "check_s": check_s,
        "pipeline_s": res["pipeline_s"],
        "query_p50_ms": statistics.median(q),
        "query_ms": q,
        "checks": checks,
        "workload_metrics": res["named"],
    }
    if args.trace:
        metrics = _per_layer(tracer, work, t0, t1, setup_s, res, cg1[1] - cg0[1])
        detail["spans"] = len(tracer.spans)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rec_dir = os.path.join(ROOT, ".bench_out", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def _per_layer(tracer, work, t0, t1, get_spark_s, res, codegen_s) -> dict:
    """Per-layer metrics of a traced run."""
    spans = tracer.spans
    wall = t1 - t0
    jobs = read_event_log(os.path.join(work, "eventlog"))
    eng = engine_totals(list(jobs.values()), t0, t1)
    by_span = jobs_by_span(jobs)
    selft = self_times(spans)
    out: dict[str, tuple[float, str]] = {
        "session.get_spark.s": (get_spark_s, "s"),
        "spark.jobs": (eng["jobs"], "count"),
        "spark.stages": (eng["stages"], "count"),
        "spark.tasks": (eng["tasks"], "count"),
        "spark.single_task_stages": (eng["single_task_stages"], "count"),
        "spark.executor_run_s": (eng["run_s"], "s"),
        "spark.executor_cpu_s": (eng["cpu_s"], "s"),
        "spark.gc_s": (eng["gc_s"], "s"),
        "spark.driver_only_s": (eng["driver_only_s"], "s"),
        "spark.codegen_compile_s": (codegen_s, "s"),
        "spark.shuffle_read_bytes": (eng["shuffle_read_bytes"], "bytes"),
        "spark.shuffle_write_bytes": (eng["shuffle_write_bytes"], "bytes"),
        "spark.input_bytes": (eng["input_bytes"], "bytes"),
        "spark.output_bytes": (eng["output_bytes"], "bytes"),
        "traced.pipeline_s": (res["pipeline_s"], "s"),
        "traced.query_p50_ms": (statistics.median(res["query_ms"]), "ms"),
        "traced.pipeline_cpu_s": (res["pipeline_cpu_s"], "s"),
        "traced.query_cpu_ms": (res["query_cpu_ms"], "ms"),
    }
    # layer spans: everything below the workload entry spans
    entry = {sp["id"] for sp in spans if sp["name"].startswith("bench.")}
    covered = union_length(
        clipped([(sp["start"], sp["end"]) for sp in spans if sp["id"] not in entry], t0, t1)
    )
    out["trace.coverage_pct"] = (100.0 * covered / wall, "%")
    layer_self: dict[str, float] = {l: 0.0 for l in workloads.LAYERS}
    for sp in spans:
        layer_self[workloads.layer_of(sp["name"])] += selft[sp["id"]]
    for layer, s in layer_self.items():
        out[f"{layer}.self_pct"] = (100.0 * s / wall, "%")
    # per-function inclusive share of the timed region, Spark jobs and
    # driver-only share, for every function the workloads wrap; a
    # function's spans may nest (a report builder calling another), so
    # its time is the union of its spans and its jobs are counted once
    desc: dict[int, list[int]] = {}
    for sp in spans:
        p = sp["parent"]
        while p is not None:
            desc.setdefault(p, []).append(sp["id"])
            p = spans[p]["parent"]
    for n in workloads.FUNCTIONS:
        own = [sp for sp in spans if sp["name"] == n]
        ivs = clipped([(sp["start"], sp["end"]) for sp in own], t0, t1)
        js = {
            j["id"]: j
            for sp in own
            for i in [sp["id"]] + desc.get(sp["id"], [])
            for j in by_span.get(i, [])
        }.values()
        busy = union_length(clipped([(j["start"], j["end"]) for j in js], t0, t1))
        out[f"{n}.pct"] = (100.0 * union_length(ivs) / wall, "%")
        out[f"{n}.spark_jobs"] = (len(js), "count")
        out[f"{n}.driver_only_pct"] = (100.0 * (union_length(ivs) - busy) / wall, "%")
        if n == "operators.ivfpq_topk_at_rest":
            out[f"{n}.input_bytes"] = (sum(j["input_bytes"] for j in js), "bytes")
    # every workload reports every count; one it does not produce reads 0
    for k in workloads.COUNTS:
        out[k] = (res["counts"].get(k, 0), workloads.count_unit(k))
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
