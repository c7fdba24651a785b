"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload (the three in BENCHMARK.json plus ``transcode``) at
the "tiny" size with tracing on, then checks that the printed metric
names and units match BENCHMARK.json, that every correctness and
mechanism check ran and held, and that the traced run wrote its spans.
It also runs the command line once and checks that the benchmark
refuses to run without the package beside it. Exits non-zero on the
first failed expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def check_run(name: str, spec: dict) -> None:
    res = bench.run(name, seed=3, seconds=0.5, trace=True, size="tiny")
    rec = res["record"]
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    expect(got == per_layer, f"{name}: per-layer names/units differ from "
           f"BENCHMARK.json: {sorted(set(got) ^ set(per_layer))}")
    expect(set(rec["e2e"]) == set(e2e) == set(bench.E2E),
           f"{name}: end-to-end names differ from BENCHMARK.json")
    expect(all(v > 0 for v in rec["e2e"].values()),
           f"{name}: an end-to-end metric is not positive: {rec['e2e']}")
    checks = rec["checks"]
    expect(any(k.startswith("correct.") for k in checks),
           f"{name}: no correctness check ran")
    expect(any(k.startswith("mechanism.") for k in checks),
           f"{name}: no mechanism check ran")
    expect(res["correct"], f"{name}: checks failed: {checks}")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    expect(m["op.count"] >= 1, f"{name}: no timed op")
    if name == "transcode":
        expect(m["engine.passthrough_frac"] == 1, "transcode left the "
               "columnar passthrough")
    if name == "convert_drift":
        expect(m["engine.passthrough_frac"] == 0, "convert_drift took the "
               "columnar passthrough")
    if name == "resume":
        # the new-variant wave is a probe of every run, not a timed op
        expect("new_variant_wave" in rec["probes"]
               and res["attempted"] == m["op.count"],
               "resume: the new-variant probe did not run apart from the ops")
    with open(rec["trace_file"]) as f:
        spans = json.load(f)["spans"]
    ops = {s["op"] for s in spans if s["name"] == "op"}
    expect(ops and all(any(c["op"] == o and c["name"] != "op" for c in spans)
                       for o in ops), f"{name}: an op span has no layer spans")
    print(f"selftest: {name} ok ({len(spans)} spans, "
          f"attempted={res['attempted']} failed={res['failed']})", flush=True)


def check_cli(spec: dict) -> None:
    cmd = spec["command"] + ["--workload", "transcode", "--seed", "4",
                             "--seconds", "0.5", "--trace", "0",
                             "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    expect(out.returncode == 0, f"command failed: {out.stderr[-2000:]}")
    last = json.loads(out.stdout.strip().splitlines()[-1])
    expect(set(last) == {"correct", "attempted", "failed", "metrics"},
           f"last line keys: {sorted(last)}")
    expect(set(last["metrics"]) == {m["name"] for m in spec["end_to_end"]},
           "command printed other end-to-end metrics than BENCHMARK.json")
    # without the package beside it the benchmark must refuse, quickly
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work"))\
            as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
        out = subprocess.run(spec["command"] + [
            "--workload", "gates", "--seed", "1", "--seconds", "1",
            "--trace", "0"], cwd=bare, capture_output=True, text=True,
            timeout=180)
        expect(out.returncode != 0 and not out.stdout.strip(),
               "the benchmark ran without the package beside it")
    print("selftest: command line ok", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    check_cli(spec)
    for name in [w["name"] for w in spec["workloads"]] + ["transcode"]:
        check_run(name, spec)
    print("selftest: all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
