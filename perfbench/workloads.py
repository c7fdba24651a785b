"""The four workloads. Each drives the package only through its public
entry points (``Engine.run``, ``StreamEngine.run``, ``QUERIES[name]``)
on inputs from ``gen``; the traced variants call the same layers one
public function at a time.

A workload object owns one work dir and one Spark session. ``setup()``
makes inputs and runs the cold first op; ``op()`` is one timed op;
``traced_op()`` is the same op decomposed into layer spans; ``check()``
runs the untimed correctness and mechanism checks.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads

from perfbench import gen
from perfbench.probes import SparkWindow

#: gates by family, in the order a pass runs them. Two registered gates
#: of the families are not here: ``multimodal_family`` and
#: ``pipeline_pack_sequences`` stage files under /dev/shm, outside the
#: benchmark's checkout.
FAMILIES = {
    "embed": ["embed_ann_bucketed"],
    "dedup": ["dedup_semantic"],
    "text": ["text_df_assoc"],
    "rel": ["q18_large_orders"],
}
GATES = [g for gs in FAMILIES.values() for g in gs]

#: input sizes per size class; "tiny" is the self-test's
SIZES = {
    "full": {
        "convert_drift": {"files": 64, "rows": 1000, "variants": 16},
        "transcode": {"files": 24, "rows": 1_000_000},
        "resume": {"history": 32, "wave": 4, "rows": 2000, "variants": 2},
        "gates": {"gates": GATES},
    },
    "tiny": {
        "convert_drift": {"files": 16, "rows": 50, "variants": 4},
        "transcode": {"files": 4, "rows": 4000},
        "resume": {"history": 4, "wave": 4, "rows": 50, "variants": 2},
        "gates": {"gates": ["text_df_assoc", "q18_large_orders"]},
    },
}

PASSTHROUGH = "columnar-passthrough"
ROLL_ROWS = 100_000


def column_digests(table: pa.Table) -> dict:
    """Order-insensitive per-column checksum: the wrapped sum of
    pandas' per-value hashes over a canonical dtype (numbers as
    float64, everything else as objects), plus the null count."""
    out = {}
    for name in table.column_names:
        col = table[name]
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            arr = col.cast(pa.float64()).to_numpy()
        else:
            arr = col.to_numpy()
        h = pd.util.hash_array(arr)
        out[name] = (int(h.sum(dtype=np.uint64)), col.null_count)
    return out


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum (100)."""
    n = len(values)
    if n <= 10:
        return 100.0, max(values)
    pct = 100.0 * (1 - 10 / n)
    return pct, float(np.percentile(values, pct))


class Workload:
    name = ""
    #: ops a timed run makes at least, even past its deadline
    min_ops = 1

    def __init__(self, spark, work: str, seed: int, size: dict, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.ops: list[dict] = []
        self.checks: dict[str, bool] = {}
        #: untimed probes of known behaviour: name -> {"ok", "error"}
        self.probes: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.op_bytes = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def finish(self) -> None:
        """Probes every run makes after the timed loop, untimed."""

    def timed_layer_metrics(self) -> dict:
        """Per-layer metrics that come from the timed ops themselves."""
        return {}


# ---------------------------------------------------------------- convert


class _Conversion(Workload):
    """Shared by convert_drift and transcode: one op is one
    ``Engine.run`` into a fresh rolling parquet+zstd output."""

    #: warm ops still speed up for several jobs (the JVM keeps
    #: compiling); a convert_drift op takes about as long as a run
    #: measures, so with one guaranteed op a run made one or two
    #: depending on where the deadline fell, and its median jumped
    #: between them. Two guaranteed ops fix the count.
    min_ops = 2

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from streaming_parquet_spark import Engine

        self.engine = Engine(self.spark)
        self.in_dir = self.path("in")
        self._n = 0
        self._last_out: str | None = None

    def spec(self, out: str):
        from streaming_parquet_spark import RunSpec

        return RunSpec(inputs=[self.in_dir], out=out, single_file=False,
                       compression="zstd", roll_by_rows=ROLL_ROWS)

    def _next_out(self) -> str:
        if self._last_out:
            shutil.rmtree(os.path.dirname(self._last_out), ignore_errors=True)
        self._n += 1
        d = self.path(f"out{self._n}")
        os.makedirs(d)
        self._last_out = os.path.join(d, "out.parquet")
        return self._last_out

    def run_once(self) -> dict:
        out = self._next_out()
        t0 = time.perf_counter()
        res = self.engine.run(self.spec(out))
        wall = time.perf_counter() - t0
        return {"wall": wall, "bytes": res.input_bytes, "via": res.output.via,
                "rows": res.rows, "out_bytes": res.output.bytes_written}

    def setup(self) -> float:
        self.generate()
        return self.run_once()["wall"]

    def op(self) -> dict:
        rec = self.run_once()
        rec["ok"] = rec["rows"] == self.expected_rows
        return rec

    def output_paths(self) -> list[str]:
        """The parquet files of the newest op's output, traced or not."""
        d = os.path.dirname(self._last_out)
        return sorted(os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith(".parquet"))

    def traced_op(self) -> dict:
        """``Engine.run``'s Catalyst branch, one public call per span:
        discover, probe_schemas, dataframe(files, schemas) and
        write_parquet."""
        from streaming_parquet_spark.plans.unify import unify_schemas
        from streaming_parquet_spark.sinks.writers import write_parquet

        tr, eng = self.tracer, self.engine
        win = SparkWindow(self.spark)
        out = self._next_out()
        spec = self.spec(out)
        m = {}
        with tr.span("sources.discover"):
            files = eng.discover(spec)
        with tr.span("sources.probe"):
            schemas = eng.probe_schemas(files, spec)
        probe_jobs = win.take()["jobs"]
        m["sources.files_probed"] = len(files)
        t0 = time.perf_counter()
        unify_schemas(schemas)
        # unify runs again inside dataframe(); timed apart, not a span
        m["plans.unify_s"] = time.perf_counter() - t0
        with tr.span("plans.plan"):
            df, _u, files = eng.dataframe(spec, files=files, schemas=schemas)
        m["plans.plan_jobs"] = win.take()["jobs"]
        m["plans.schema_groups"] = len(
            {(f.format, s.json()) for f, s in zip(files, schemas)})
        with tr.span("sinks.write"):
            sink = write_parquet(df, out, compression="zstd",
                                 single_file=False,
                                 max_records_per_file=ROLL_ROWS)
        w = win.take()
        m["sinks.write_jobs"] = w["jobs"]
        m["sinks.out_per_in_bytes"] = sink.bytes_written / self.op_bytes
        m["sources.probe_jobs"] = probe_jobs
        m["_window"] = win.total
        return m


class ConvertDrift(_Conversion):
    name = "convert_drift"

    def generate(self) -> None:
        z = self.size
        g = gen.gen_drift(self.seed, self.in_dir, z["files"], z["rows"],
                          z["variants"])
        self.expected = g["expected"]
        self.expected_rows = self.expected.num_rows
        self.op_bytes = g["bytes"]

    def check(self) -> None:
        from streaming_parquet_spark.sources.discover import InputFormat

        spec = self.spec(self.path("unused.parquet"))
        files = self.engine.discover(spec)
        schemas = self.engine.probe_schemas(files, spec)
        groups = {(f.format, s.json()) for f, s in zip(files, schemas)}
        self.checks["mechanism.no_passthrough"] = all(
            o.get("via") == "spark" for o in self.ops)
        self.checks["mechanism.schema_groups"] = (
            len(groups) >= self.size["variants"])
        self.checks["mechanism.mixed_formats"] = (
            {f.format for f in files} == {InputFormat.CSV, InputFormat.PARQUET})
        got = pads.dataset(self.output_paths(), format="parquet").to_table()
        want = self.expected
        self.checks["correct.rows"] = got.num_rows == want.num_rows
        self.checks["correct.schema"] = (
            sorted(got.column_names) == sorted(want.column_names)
            and all(got.schema.field(c).type == gen.UNIFIED[c]
                    for c in got.column_names))
        self.checks["correct.column_checksums"] = (
            self.checks["correct.schema"]
            and column_digests(got) == column_digests(want))


class Transcode(_Conversion):
    name = "transcode"

    def generate(self) -> None:
        z = self.size
        g = gen.gen_shards(self.seed, self.in_dir, z["files"], z["rows"])
        self.expected_rows = g["rows"]
        self.op_bytes = g["bytes"]

    def traced_op(self) -> dict:
        """The passthrough gate is private, so the op is discover and
        probe_schemas as spans, then the whole ``Engine.run``; the
        transcode's own cost comes from Spark's status store."""
        tr, eng = self.tracer, self.engine
        win = SparkWindow(self.spark)
        out = self._next_out()
        spec = self.spec(out)
        m = {}
        with tr.span("sources.discover"):
            files = eng.discover(spec)
        with tr.span("sources.probe"):
            eng.probe_schemas(files, spec)
        m["sources.files_probed"] = len(files)
        win.take()
        with tr.span("engine.run"):
            res = eng.run(spec)
            jobs = win.take()
            tr.add("sinks.transcode", jobs["jobs_wall_s"])
        m["sinks.transcode_s"] = jobs["jobs_wall_s"]
        m["sinks.transcode_tasks"] = jobs["tasks"]
        m["sinks.out_per_in_bytes"] = res.output.bytes_written / self.op_bytes
        m["_window"] = win.total
        return m

    @staticmethod
    def _content(paths: list[str]) -> tuple:
        """(rows, order-insensitive row-multiset digest, schema) of a
        parquet file set, columns taken by name."""
        t = pads.dataset(paths, format="parquet").to_table()
        cols = sorted(t.column_names)
        rows = pd.util.hash_pandas_object(t.select(cols).to_pandas(),
                                          index=False)
        schema = [(c, str(t.schema.field(c).type)) for c in cols]
        return t.num_rows, int(rows.to_numpy().sum(dtype=np.uint64)), schema

    def check(self) -> None:
        self.checks["mechanism.all_passthrough"] = all(
            o.get("via") == PASSTHROUGH for o in self.ops)
        inputs = sorted(os.path.join(self.in_dir, f)
                        for f in os.listdir(self.in_dir))
        n_in, h_in, s_in = self._content(inputs)
        n_out, h_out, s_out = self._content(self.output_paths())
        self.checks["correct.rows"] = n_in == n_out == self.expected_rows
        self.checks["correct.schema"] = s_in == s_out
        self.checks["correct.row_multiset"] = h_in == h_out


# ---------------------------------------------------------------- resume


class Resume(Workload):
    """``maw --state`` traffic: a checkpointed stream over a growing
    directory; each op lands one wave of CSV files and calls
    ``StreamEngine.run`` again."""

    name = "resume"
    min_ops = 3

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        from streaming_parquet_spark.streaming.stream import StreamEngine

        self.stream = StreamEngine(self.spark)
        z = self.size
        self.src = gen.WaveSource(self.seed, self.path("in"), z["rows"],
                                  z["variants"])
        self.out_dir = self.path("sink")
        #: rows (and their summed ids) of every wave whose run returned
        self.committed_rows = 0
        self.committed_rid_sum = 0
        self.wave_rows_ok = True

    def spec(self):
        from streaming_parquet_spark import RunSpec

        return RunSpec(inputs=[self.src.in_dir], state=self.path("state"),
                       compression="zstd")

    def _commit(self, landed: dict, res) -> bool:
        """Account a wave whose run returned; True if it committed
        exactly the rows it landed."""
        self.committed_rows += landed["rows"]
        self.committed_rid_sum += landed["rid_sum"]
        return res.rows == landed["rows"]

    def _wave(self, n_files: int, new_variant: bool = False) -> dict:
        landed = self.src.land(n_files, new_variant=new_variant)
        t0 = time.perf_counter()
        res = self.stream.run(self.spec(), out_dir=self.out_dir)
        wall = time.perf_counter() - t0
        return {"wall": wall, "bytes": landed["bytes"],
                "ok": self._commit(landed, res)}

    def setup(self) -> float:
        rec = self._wave(self.size["history"])
        if not rec["ok"]:
            raise RuntimeError("the history drain did not commit exactly "
                               "the rows it landed")
        return rec["wall"]

    def op(self) -> dict:
        return self._wave(self.size["wave"])

    def traced_op(self) -> dict:
        """Re-probe (discover + probe_schemas + unify on the wave's
        spec) as one span, then the ``run()`` with the trigger's own
        ``durationMs`` parts as child spans."""
        from streaming_parquet_spark.plans.unify import unify_schemas

        tr = self.tracer
        spec = self.spec()
        landed = self.src.land(self.size["wave"])
        m = {}
        with tr.span("streaming.reprobe"):
            files = self.stream._batch.discover(spec)
            unify_schemas(self.stream._batch.probe_schemas(files, spec))
        m["streaming.history_files"] = len(files)
        win = SparkWindow(self.spark)
        with tr.span("streaming.run") as run_span:
            res = self.stream.run(spec, out_dir=self.out_dir)
            dur = {}
            for p in res.progress:
                for k, v in (p.get("durationMs") or {}).items():
                    dur[k] = dur.get(k, 0) + v
            tr.add("streaming.trigger", dur.get("triggerExecution", 0) / 1e3)
        m["streaming.run_self_s"] = (tr.duration(run_span)
                                     - dur.get("triggerExecution", 0) / 1e3)
        self.wave_rows_ok &= self._commit(landed, res)
        m["streaming.trigger_ms"] = dur.get("triggerExecution", 0)
        m["streaming.add_batch_ms"] = dur.get("addBatch", 0)
        m["streaming.commit_ms"] = (dur.get("walCommit", 0)
                                    + dur.get("commitOffsets", 0))
        m["streaming.planning_ms"] = dur.get("queryPlanning", 0)
        m["streaming.batches"] = res.batches
        win.take()
        m["_window"] = win.total
        return m

    def finish(self) -> None:
        """After the timed loop, every run lands one file of a schema
        variant the checkpoint has never seen and calls ``run()`` once
        more. This probe is not a timed op and does not count in
        ``attempted``/``failed``: its outcome is the per-layer metric
        ``streaming.new_variant_failed`` and the run record's probes."""
        try:
            ok, error = self._wave(1, new_variant=True)["ok"], ""
            if not ok:
                error = "the wave did not commit exactly the rows it landed"
        except Exception as e:  # the probe's outcome is a result
            ok, error = False, (str(e).splitlines() or [""])[0][:300]
        if not ok:
            print(f"resume: new-variant wave failed: {error}",
                  file=sys.stderr, flush=True)
        self.probes["new_variant_wave"] = {"ok": ok, "error": error}

    def timed_layer_metrics(self) -> dict:
        probe = self.probes.get("new_variant_wave", {"ok": True})
        return {"streaming.new_variant_failed": float(not probe["ok"])}

    def check(self) -> None:
        from pyspark.sql import functions as F

        target = self.size["history"] + self.size["wave"] * len(self.ops)
        files = self.stream._batch.discover(self.spec())
        self.checks["mechanism.waves_exactly_once"] = self.wave_rows_ok and all(
            o["ok"] for o in self.ops)
        self.checks["mechanism.history_target"] = len(files) >= target
        row = self.spark.read.parquet(self.out_dir).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("rid").alias("d"),
            F.sum("rid").alias("s"),
        ).collect()[0]
        self.checks["correct.sink_rows"] = int(row["n"]) == self.committed_rows
        self.checks["correct.rid_unique"] = int(row["d"]) == int(row["n"])
        self.checks["correct.sink_rids"] = (int(row["s"])
                                            == self.committed_rid_sum)


# ---------------------------------------------------------------- gates


class Gates(Workload):
    """One op is one pass over the gate list; each gate runs after
    ``clearCache()`` and ``release_materialized()`` and ends in a noop
    write."""

    name = "gates"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        import streaming_parquet_spark.queries_ext  # noqa: F401  (registers)
        import streaming_parquet_spark.queries_tpch  # noqa: F401  (registers)
        from streaming_parquet_spark.queries import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.gates = self.size["gates"]
        self.tables = self.path("tables")
        self.cleared = True

    def _clear(self) -> None:
        from streaming_parquet_spark.operators.similarity import (
            release_materialized,
        )

        self.spark.catalog.clearCache()
        release_materialized()
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        self.cleared &= bool(cm.isEmpty())

    def _oracle_ok(self, name: str, sdf) -> bool:
        """The oracle-parity test's comparison: same columns, dtype
        kinds and row count, and equal rows once columns are sorted by
        name, rows by value and floats taken as their exact bits."""
        from tests.test_oracle_parity import _dtypes, _normalize

        odf = self.duck.execute(self.oracles[name]).df()
        return (sorted(sdf.columns) == sorted(odf.columns)
                and _dtypes(sdf) == _dtypes(odf) and len(sdf) == len(odf)
                and _normalize(sdf) == _normalize(odf))

    def setup(self) -> float:
        import duckdb

        self.op_bytes = gen.gen_gate_tables(self.seed, self.tables)
        self.duck = duckdb.connect()
        for t in gen.GATE_TABLES:
            p = os.path.join(self.tables, f"{t}.parquet")
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        # the cold pass doubles as the oracle check: the same plans,
        # collected; only the Spark side is timed
        cold = 0.0
        for g in self.gates:
            self._clear()
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                sdf = self.queries[g](self.spark, self.tables).toPandas()
                cold += time.perf_counter() - t0
                ok = self._oracle_ok(g, sdf)
            except Exception as e:  # a gate raising is a failed op
                print(f"gates: {g} raised: {str(e)[:300]}", file=sys.stderr,
                      flush=True)
                ok = False
            self.checks[f"correct.oracle.{g}"] = ok
            self.failed += not ok
        return cold

    def _gate(self, g: str, traced: bool = False) -> dict:
        self._clear()
        span = (self.tracer.span if traced
                else lambda name: contextlib.nullcontext())
        t0 = time.perf_counter()
        with span(f"{g}.build"):
            df = self.queries[g](self.spark, self.tables)
        t1 = time.perf_counter()
        with span(f"{g}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

    def op(self) -> dict:
        t0 = time.perf_counter()
        fam = {f: 0.0 for f in FAMILIES}
        per_gate = {}
        failed = 0
        for g in self.gates:
            try:
                r = self._gate(g)
            except Exception as e:  # a gate raising is a failed op
                print(f"gates: {g} raised: {str(e)[:300]}", file=sys.stderr,
                      flush=True)
                failed += 1
                continue
            f = next(k for k, v in FAMILIES.items() if g in v)
            fam[f] += r["build_s"] + r["exec_s"]
            per_gate[g] = r
        return {"wall": time.perf_counter() - t0, "bytes": self.op_bytes,
                "ok": not failed, "family": fam, "gates": per_gate,
                "attempted": len(self.gates), "failed": failed}

    def traced_op(self) -> dict:
        m = {}
        win = SparkWindow(self.spark)
        for g in self.gates:
            with self.tracer.span(g):
                r = self._gate(g, traced=True)
            w = win.take()
            m[f"{g}.build_s"] = r["build_s"]
            m[f"{g}.exec_s"] = r["exec_s"]
            m[f"{g}.jobs"] = w["jobs"]
            m[f"{g}.shuffle_mb"] = w["shuffle_mb"]
        m["_window"] = win.total
        return m

    def check(self) -> None:
        self.checks["mechanism.cleared_cache"] = self.cleared

    def timed_layer_metrics(self) -> dict:
        out = {}
        for f in FAMILIES:
            vals = [o["family"][f] for o in self.ops if "family" in o]
            out[f"gates.{f}_s"] = statistics.median(vals) if vals else 0.0
        return out


WORKLOADS = {w.name: w for w in (ConvertDrift, Transcode, Resume, Gates)}
