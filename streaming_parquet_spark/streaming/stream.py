"""Streaming engine: the Structured-Streaming rendering of the pipeline.

The reference's operational machinery maps 1:1 onto Structured Streaming
(SURVEY.md §2.9):

  * resumable state (src/state.rs:10-168, --state/--resume cli.rs:109-116)
    -> the checkpoint directory: the file-source offsets log records which
    input files were processed and the sink commit log gives exactly-once
    parquet output. ``StreamEngine.run`` with the same ``state`` dir
    *is* ``maw --resume`` — stronger, since partial-file offsets and
    crash atomicity come for free.
  * pipelined execution with backpressure (bounded mpsc(8),
    src/pipeline.rs:76-193) -> micro-batches with ``maxFilesPerTrigger``
    (the reference's --concurrency knob, cli.rs:89-91).
  * progress/throughput metrics (src/progress.rs:6-61) ->
    ``StreamingQuery.lastProgress`` re-shaped into the same fields.

Scale: the same topology runs unchanged on a 1000-executor cluster — the
file source lists + assigns splits to executors, the parquet sink commits
atomically per micro-batch, and a crashed driver resumes from the
checkpoint exactly where the offsets log ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from streaming_parquet_spark.engine import Engine
from streaming_parquet_spark.plans.align import align_dataframe, union_aligned
from streaming_parquet_spark.plans.unify import unify_schemas
from streaming_parquet_spark.runspec import RunSpec
from streaming_parquet_spark.sources.discover import InputFormat
from streaming_parquet_spark.sources.readers import readable_schema

# Ceiling on the auto-sized trigger (concurrency * cores): bounds batch
# latency and failure-replay granularity on large clusters while leaving
# the local[32] amortization (4 * 32 = 128 files/trigger) untouched.
# spec.trigger_files overrides both directions.
MAX_TRIGGER_FILES = 1024


def per_trigger_files(spec: RunSpec, cores: int) -> int:
    """Files admitted per micro-batch: ``spec.trigger_files`` verbatim
    when set (the reference's literal --concurrency semantics, opt-in),
    else concurrency * cores capped at MAX_TRIGGER_FILES (see the
    sizing rationale at the reader construction site / SURVEY §2 M7)."""
    if spec.trigger_files is not None:
        return max(1, int(spec.trigger_files))
    return min(max(1, spec.concurrency) * max(1, cores), MAX_TRIGGER_FILES)


@dataclass
class StreamResult:
    """GlobalProgress-shaped streaming metrics (src/progress.rs:88-103)."""

    rows: int
    batches: int
    seconds: float
    out_dir: str
    checkpoint: str
    progress: list[dict] = field(default_factory=list)
    verified: bool | None = None


class _ProgressTally(StreamingQueryListener):
    """Sum rows/batches across ALL micro-batches via onQueryProgress.

    ``query.recentProgress`` is capped (spark.sql.streaming.
    numRecentProgressUpdates, default 100): an availableNow run over many
    files produces more batches than retained entries and undercounts.
    The listener sees every progress event, keyed by query id so
    concurrent queries on the session don't cross-talk."""

    def __init__(self) -> None:
        self.by_id: dict[str, dict] = defaultdict(
            lambda: {"rows": 0, "batches": 0, "progress": []}
        )
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        t = self.by_id[str(p.id)]
        t["rows"] += int(p.numInputRows or 0)
        t["batches"] += 1
        try:
            t["progress"].append(json.loads(p.json))
        except Exception:
            pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.add(str(event.id))

    def drain(self, query_id: str, timeout_sec: float = 10.0) -> None:
        """Listener events are delivered asynchronously on a separate
        dispatch thread — wait for the terminated event so every
        progress update for this query has been counted."""
        deadline = time.time() + timeout_sec
        while query_id not in self.terminated and time.time() < deadline:
            time.sleep(0.05)


class StreamEngine:
    """Run a RunSpec as a resumable stream: file source -> align/union ->
    parquet (or csv) sink with checkpointing."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._batch = Engine(spark)

    def _aligned_streams(self, spec: RunSpec) -> list[DataFrame]:
        """Probe schemas batch-side (cheap, driver metadata), then open one
        readStream per (format, schema) group — same grouping trick as the
        batch engine so stream width is bounded by distinct schemas — and
        project each onto the unified schema with the batch aligner."""
        files = self._batch.discover(spec)
        if not files:
            raise ValueError("no input files discovered")
        schemas = self._batch.probe_schemas(files, spec)
        unified = unify_schemas(
            schemas, rename=spec.rename, stringify_conflicts=spec.stringify_conflicts
        )

        groups: dict[tuple, tuple[list[str], object]] = {}
        for f, s in zip(files, schemas):
            key = (f.format, s.json())
            groups.setdefault(key, ([], s))[0].append(f.path)

        streams: list[DataFrame] = []
        for (fmt, _sjson), (paths, schema) in groups.items():
            # Parity with the batch reader: Spark's nullValue takes one
            # sentinel; the aligner nulls the rest (cli.rs:41-43). CSV
            # only — ORC/JSONL carry typed nulls natively.
            na_values = spec.na_values[1:] if fmt is InputFormat.CSV else ()
            schema = readable_schema(schema)
            if fmt is InputFormat.PARQUET:
                reader = self.spark.readStream.schema(schema).format("parquet")
            elif fmt is InputFormat.ORC:
                reader = self.spark.readStream.schema(schema).format("orc")
            elif fmt is InputFormat.JSONL:
                reader = self.spark.readStream.schema(schema).format("json")
            elif fmt is InputFormat.TXT:
                reader = self.spark.readStream.schema(schema).format("text")
            else:
                reader = (
                    self.spark.readStream.schema(schema)
                    .format("csv")
                    .option("sep", spec.delimiter)
                    .option("quote", spec.quote)
                    .option("header", str(spec.headers).lower())
                    .option("multiLine", str(spec.multiline).lower())
                    .option("nullValue", spec.na_values[0] if spec.na_values else "")
                )
            # Micro-batch sizing: the reference's --concurrency is
            # per-worker pipelining depth (bounded mpsc(8) per task,
            # src/pipeline.rs:76-193); on Spark every core is a worker,
            # so by default a trigger admits concurrency * cores files —
            # each micro-batch feeds the whole cluster and the per-batch
            # fixed cost (offset log + sink commit fsyncs, planning)
            # amortizes over cores' worth of work instead of being paid
            # once per `concurrency` files. Measured on the bench
            # corpus (512 files, local[32]): 128 batches -> 4, and the
            # streaming:batch throughput gap narrows from 1.63x toward
            # parity. Backpressure semantics are unchanged — batches
            # stay bounded, checkpoint/resume still exactly-once.
            #
            # The product is CAPPED: on a large cluster (thousands of
            # cores) an uncapped concurrency * cores would admit an
            # unbounded batch, inflating trigger latency and
            # failure-replay granularity with no way to bound it.
            # spec.trigger_files, when set, is the LITERAL per-trigger
            # bound — the reference's exact knob semantics, opt-in
            # (divergence documented in SURVEY §2 M7).
            reader = reader.option(
                "maxFilesPerTrigger",
                per_trigger_files(
                    spec, self.spark.sparkContext.defaultParallelism or 1
                ),
            )
            # The file stream source requires a directory or glob, not a
            # bare file path — group files per parent dir into a Hadoop
            # glob alternation {a,b,...}. (Filenames containing braces or
            # commas are not supported on the streaming path.)
            by_dir: dict[str, list[str]] = {}
            for path in paths:
                by_dir.setdefault(os.path.dirname(path), []).append(
                    os.path.basename(path)
                )
            for parent, names in by_dir.items():
                pattern = os.path.join(
                    parent, "{" + ",".join(sorted(names)) + "}"
                )
                streams.append(
                    align_dataframe(
                        reader.load(pattern), unified, spec.columns,
                        spec.exclude, schema=schema, na_values=na_values,
                    )
                )
        return streams

    def dataframe(self, spec: RunSpec) -> DataFrame:
        """The streaming align+UNION ALL DataFrame (unbounded)."""
        return union_aligned(self._aligned_streams(spec))

    def _sink_count(self, out_dir: str, fmt: str, spec: RunSpec) -> int:
        """Rows currently committed in the file sink (0 if none yet)."""
        if not os.path.exists(out_dir):
            return 0
        try:
            if fmt == "parquet":
                return self.spark.read.parquet(out_dir).count()
            if fmt == "orc":
                return self.spark.read.orc(out_dir).count()
            if fmt == "jsonl":
                return self.spark.read.json(out_dir).count()
            if fmt == "text":
                return self.spark.read.text(out_dir).count()
            return (
                self.spark.read.option("header", str(spec.headers).lower())
                .option("sep", spec.delimiter)
                .csv(out_dir)
                .count()
            )
        except Exception:
            return 0

    def run(
        self,
        spec: RunSpec,
        out_dir: str | None = None,
        timeout_sec: float = 300.0,
    ) -> StreamResult:
        """Process all currently-available input, exactly once, resumably.

        ``spec.state`` is the checkpoint dir (--state, cli.rs:109-112);
        rerunning with the same state dir skips already-processed files
        (--resume semantics, state.rs:89-102). Uses Trigger.AvailableNow:
        drains everything then stops — the batch-CLI ergonomics with
        streaming exactly-once guarantees.
        """
        if out_dir is None:
            if not spec.out:
                raise ValueError("out_dir or spec.out required")
            out_dir = spec.out
        checkpoint = spec.state or os.path.join(out_dir, "_checkpoint")

        df = self.dataframe(spec)
        fmt = spec.resolve_out_format() if spec.out else "parquet"
        # Engine out-formats don't map 1:1 onto Spark sink names
        # (jsonl -> json); dispatch explicitly, same as the batch sinks.
        sink_format = {"parquet": "parquet", "csv": "csv",
                       "jsonl": "json", "orc": "orc", "text": "text"}.get(fmt)
        if sink_format is None:
            raise ValueError(f"unsupported streaming out format: {fmt}")
        if fmt == "text":
            # Spark's text sink takes exactly one string column — same
            # loud contract (and embedded-newline guard) as the batch
            # write_text sink.
            if len(df.columns) != 1:
                raise ValueError(
                    f"text output requires exactly one column, got "
                    f"{df.columns}; project with --columns or write "
                    "CSV/JSONL instead"
                )
            from streaming_parquet_spark.sinks.writers import (
                _text_value_column,
            )

            df = _text_value_column(df, df.columns[0])
        writer = (
            df.writeStream.format(sink_format)
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
        )
        if fmt == "parquet":
            codec = {"none": "none", "snappy": "snappy", "gzip": "gzip",
                     "zstd": "zstd"}.get(spec.compression.lower(), "snappy")
            writer = writer.option("compression", codec)
        elif fmt == "orc":
            codec = {"none": "none", "snappy": "snappy", "gzip": "zlib",
                     "zstd": "zstd"}.get(spec.compression.lower(), "none")
            writer = writer.option("compression", codec)
        elif fmt == "csv":
            writer = writer.option("header", str(spec.headers).lower()).option(
                "sep", spec.delimiter
            )

        pre_total = self._sink_count(out_dir, fmt, spec) if spec.verify else 0

        tally = _ProgressTally()
        self.spark.streams.addListener(tally)
        t0 = time.time()
        try:
            query = writer.start()
            qid = str(query.id)
            query.awaitTermination(timeout_sec)
            if query.isActive:
                query.stop()
            tally.drain(qid)
        finally:
            self.spark.streams.removeListener(tally)

        counted = tally.by_id.get(qid)
        if counted is None:
            # Listener machinery unavailable — fall back to the (capped)
            # recentProgress buffer rather than report zero.
            counted = {"rows": 0, "batches": 0, "progress": []}
            for p in query.recentProgress:
                counted["batches"] += 1
                try:
                    counted["rows"] += int(p["numInputRows"])
                except (KeyError, TypeError):
                    pass
                counted["progress"].append(p)
        rows, batches, progress = (
            counted["rows"], counted["batches"], counted["progress"]
        )

        verified = None
        if spec.verify:
            # --verify (cli.rs:118-120): reconcile output row count for
            # THIS run's input against the sink. The file-sink commit log
            # makes re-reads exactly-once, so total committed rows must
            # equal rows committed before this run + this run's input
            # rows — an exact reconciliation, not a lower bound.
            total = self._sink_count(out_dir, fmt, spec)
            verified = total == pre_total + rows
        return StreamResult(
            rows=rows,
            batches=batches,
            seconds=time.time() - t0,
            out_dir=out_dir,
            checkpoint=checkpoint,
            progress=progress,
            verified=verified,
        )
