"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``perfbench/workloads.py``) in a fresh Spark
session at local[<cores>] with one closed-loop client, checks its
outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Everything it writes stays under ``.perfbench_work/`` in
the checkout it runs from.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: end-to-end metrics: name -> unit. Every one is printed for every
#: workload with --trace 0. The work is batch, so the speed metric is
#: work done per second at a stated input size; op latencies (median,
#: first, tail) are per-layer metrics.
E2E = {
    "setup_s": "s",
    "mb_s": "MB/s",
}

#: leaf spans of a traced op: the layer calls whose durations are
#: attributed; everything else in the untraced op wall is unattributed
SPAN_METRICS = {
    "sources.discover": "sources.discover_s",
    "sources.probe": "sources.probe_s",
    "plans.plan": "plans.plan_s",
    "sinks.write": "sinks.write_s",
    "streaming.reprobe": "streaming.reprobe_s",
}

SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB",
}


def layer_units() -> dict:
    """Per-layer metrics: name -> unit. Every one is printed for every
    workload with --trace 1; a layer a workload bypasses reads 0."""
    from perfbench.workloads import FAMILIES, GATES

    units = {
        "op.count": "count", "op.median_s": "s", "op.first_s": "s",
        "op.tail_s": "s", "mem.peak_rss_mb": "MB",
        "trace.unattributed_s": "s",
        "sources.discover_s": "s", "sources.probe_s": "s",
        "sources.files_probed": "count", "sources.probe_jobs": "count",
        "plans.unify_s": "s", "plans.plan_s": "s",
        "plans.plan_jobs": "count", "plans.schema_groups": "count",
        "sinks.write_s": "s", "sinks.write_jobs": "count",
        "sinks.out_per_in_bytes": "ratio",
        "engine.passthrough_frac": "ratio",
        "sinks.transcode_s": "s", "sinks.transcode_tasks": "count",
        "streaming.reprobe_s": "s", "streaming.run_self_s": "s",
        "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
        "streaming.commit_ms": "ms", "streaming.planning_ms": "ms",
        "streaming.batches": "count", "streaming.history_files": "count",
        "streaming.new_variant_failed": "count",
    }
    units.update({f"spark.{k}": u for k, u in SPARK_METRICS.items()})
    units.update({f"gates.{f}_s": "s" for f in FAMILIES})
    for g in GATES:
        units.update({f"{g}.build_s": "s", f"{g}.exec_s": "s",
                      f"{g}.jobs": "count", f"{g}.shuffle_mb": "MB"})
    return units


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def prepare_env(work: str) -> dict:
    """Point every scratch location Spark and Python use at ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local",
                                               "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR on the next tempfile call
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # every JVM the launch starts (spark-submit's launcher too): temp
    # files in the work dir, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    return dirs


def start_spark(dirs: dict):
    from streaming_parquet_spark import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)


def measure(wl, seconds: float, traced: bool) -> list[dict]:
    """Closed loop: the next op starts when the previous one ends, until
    ``seconds`` pass (and at least ``wl.min_ops`` ops ran). Traced runs
    alternate an untraced op with its traced twin."""
    traces = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(wl.ops) < wl.min_ops:
        t0 = time.perf_counter()
        try:
            rec = wl.op()
        except Exception:  # a raising op is a failed op, not a crash
            log(traceback.format_exc())
            rec = {"ok": False, "wall": time.perf_counter() - t0, "bytes": 0}
        wl.ops.append(rec)
        wl.attempted += rec.get("attempted", 1)
        wl.failed += rec.get("failed", 0 if rec["ok"] else 1)
        if traced:
            tr = wl.tracer
            with tr.span("op", op=f"op{len(wl.ops)}") as span:
                m = wl.traced_op()
            leaves = [s for s in tr.spans if s["op"] == span["op"]
                      and not tr.children(s)]
            for s in leaves:
                if s["name"] in SPAN_METRICS:
                    m[SPAN_METRICS[s["name"]]] = tr.duration(s)
            m["trace.unattributed_s"] = rec["wall"] - sum(
                tr.duration(s) for s in leaves)
            traces.append(m)
    return traces


def e2e_metrics(wl, setup_s: float) -> dict:
    ops = [o for o in wl.ops if o["ok"]] or wl.ops
    return {
        "setup_s": setup_s,
        "mb_s": statistics.median(o["bytes"] / 1e6 / o["wall"] for o in ops),
    }


def layer_metrics(wl, traces: list[dict]) -> dict:
    from perfbench.workloads import PASSTHROUGH, tail

    out = {k: 0.0 for k in layer_units()}
    keys = {k for m in traces for k in m if not k.startswith("_")}
    for k in keys:
        vals = [m[k] for m in traces if k in m]
        out[k] = statistics.median(vals)
    for k in SPARK_METRICS:
        vals = [m["_window"][k] for m in traces if "_window" in m]
        if vals:
            out[f"spark.{k}"] = statistics.median(vals)
    walls = [o["wall"] for o in wl.ops]
    out["op.count"] = len(walls)
    out["op.median_s"] = statistics.median(walls)
    out["op.tail_s"] = tail(walls)[1]
    out["engine.passthrough_frac"] = (
        sum(o.get("via") == PASSTHROUGH for o in wl.ops) / len(wl.ops))
    out.update(wl.timed_layer_metrics())
    return out


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str = "full", t_start: float | None = None) -> dict:
    """One benchmark run in a fresh Spark session; returns the result
    object, plus a ``record`` with the context that is not a metric."""
    from perfbench.probes import RssSampler, cpu_ticks, host_yardsticks
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS, tail

    t_start = time.perf_counter() if t_start is None else t_start
    work = os.path.join(WORK_ROOT, f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = prepare_env(work)
    tracer = Tracer() if trace else None
    spark = None
    try:
        with RssSampler() as rss:
            spark = start_spark(dirs)
            session_s = time.perf_counter() - t_start
            wl = WORKLOADS[workload](spark, work, seed,
                                     SIZES[size][workload], tracer)
            with (tracer.span("run", op="run") if tracer
                  else contextlib.nullcontext()):
                first_op_s = wl.setup()
                setup_s = time.perf_counter() - t_start
                t0, ticks0 = time.perf_counter(), cpu_ticks()
                traces = measure(wl, seconds, trace)
                measure_s = time.perf_counter() - t0
                ticks = {k: v - ticks0[k] for k, v in cpu_ticks().items()}
            wl.finish()
            t0 = time.perf_counter()
            wl.check()
            check_s = time.perf_counter() - t0
        yard = host_yardsticks(dirs["tmp"])
        e2e = e2e_metrics(wl, setup_s)
        metrics = e2e
        if trace:
            metrics = layer_metrics(wl, traces)
            metrics["op.first_s"] = first_op_s
            metrics["mem.peak_rss_mb"] = rss.peak_mb
        units = layer_units() if trace else E2E
        walls = [o["wall"] for o in wl.ops]
        record = {
            "workload": workload, "seed": seed, "trace": trace, "size": size,
            "session_s": session_s, "measure_s": measure_s,
            "check_s": check_s, "measure_cpu_ticks": ticks,
            "op_walls": walls, "ops": wl.ops,
            "op_tail_pct": tail(walls)[0],
            "checks": wl.checks, "probes": wl.probes,
            "yardsticks": yard, "e2e": e2e,
            "first_op_s": first_op_s, "peak_rss_mb": rss.peak_mb,
        }
        if tracer:
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tpath = os.path.join(WORK_ROOT, "traces",
                                 f"{workload}-s{seed}.json")
            tracer.write(tpath)
            record["trace_file"] = tpath
            record["self_s"] = tracer.self_times()
        return {
            "correct": bool(wl.checks) and all(wl.checks.values()),
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
            "record": record,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def report(res: dict) -> None:
    """Human-readable summary on stderr."""
    rec = res["record"]
    log(f"== {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
        f"attempted={res['attempted']} failed={res['failed']} "
        f"correct={res['correct']}")
    for k, v in sorted(rec["checks"].items()):
        log(f"   check {k}: {'ok' if v else 'FAILED'}")
    for k, v in sorted(rec["probes"].items()):
        log(f"   probe {k}: {'ok' if v['ok'] else 'fails: ' + v['error']}")
    for k, m in res["metrics"].items():
        log(f"   {k:34s} {m['value']:14.4f} {m['unit']}")
    log(f"   ops: {len(rec['op_walls'])}, tail percentile "
        f"{rec['op_tail_pct']}; measure {rec['measure_s']:.2f} s, "
        f"checks {rec['check_s']:.2f} s, cpu ticks {rec['measure_cpu_ticks']}, "
        f"peak rss {rec['peak_rss_mb']:.0f} MB")
    log(f"   host yardsticks: {rec['yardsticks']}")
    if "self_s" in rec:
        log("   self time by span (s):")
        for k, v in sorted(rec["self_s"].items(), key=lambda kv: -kv[1]):
            log(f"     {k:34s} {v:10.3f}")


def main(argv=None) -> int:
    from perfbench.workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.size, t_start=T_START)
    os.makedirs(os.path.join(WORK_ROOT, "runs"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "runs", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, default=str)
    report(res)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed",
                                           "metrics")}), flush=True)
    return 0


if __name__ == "__main__":
    if not (os.path.isfile(os.path.join(ROOT, "streaming_parquet_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from a checkout of the repository: the "
              "streaming_parquet_spark package and bench.py are missing",
              file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.exit(main())
