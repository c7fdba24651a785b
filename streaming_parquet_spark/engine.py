"""Batch engine: RunSpec -> discover -> probe -> unify -> align -> union -> sink.

The Spark-native rendering of the reference's pipeline
(/root/reference/src/pipeline.rs:24-193; lifecycle SURVEY.md §3.1):

  * discovery is driver-side metadata (same as the reference),
  * per-file schema probing feeds the widening fold (schema.rs:76-115),
  * align + UNION ALL is one declarative Catalyst plan — no shuffle:
    scans union into a single stage, filters/projections push into the
    scans, and Spark schedules one task per file split (the distributed
    generalization of the reference's N-reader/1-writer topology),
  * the sink is either single-file (CLI parity) or rolling/parallel
    (the 100 TB path).

Scale notes: inputs with IDENTICAL schemas are read as one multi-path
DataFrame, so the union width is bounded by the number of *distinct
schemas*, not the number of files — with a million homogeneous parquet
files the plan is a single scan node. Parquet schema probing reads only
footers (pyarrow, no Spark job); CSV probing samples ``infer_rows`` rows
per distinct header shape.

Plan cost per schema group is one read and ONE JVM projection: the
aligner renders rename/cast/null-fill/NA-sentinel nulling as SQL text
for a single ``selectExpr`` against the schema the probe already knows
(py4j ``Column`` building costs a round trip per expression node).
Parquet groups read with their probed schema unless a footer type is
``spark_hostile``, so a drift concat plans without Spark jobs (Spark's
own inference is one job per read). Each group's scan would size its
splits from its own bytes — one task per small file — so a multi-group
union is coalesced to the partition count ONE scan over every file
would get (``single_scan_partitions``); a single-group plan is that one
scan and keeps its width.
"""

from __future__ import annotations

import contextlib
import io
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from streaming_parquet_spark.plans.align import (
    _effective_columns,
    align_dataframe,
    union_aligned,
)
from streaming_parquet_spark.plans.unify import UnifiedSchema, unify_schemas
from streaming_parquet_spark.runspec import RunSpec
from streaming_parquet_spark.sinks.writers import (
    SinkResult,
    transcode_parquet,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
    write_text,
    write_partitioned,
)
from streaming_parquet_spark.sources.discover import (
    DiscoveryConfig,
    InputFile,
    InputFormat,
    discover_inputs,
)
from streaming_parquet_spark.sources.readers import (
    CsvOptions,
    csv_reader,
    infer_csv_schema_prefix,
    infer_csv_schemas_per_file,
    infer_jsonl_schema_prefix,
    read_jsonl,
    read_orc,
    read_parquet,
    read_text,
    readable_schema,
    TXT_SCHEMA,
)


def spark_hostile(t) -> bool:
    """True when Spark's parquet reader disagrees with the footer
    probe's mapping of the Arrow type ``t``, or cannot read the type
    back, anywhere in its nesting. Two decisions depend on this: the
    columnar passthrough gate (``Engine._passthrough_arrow_schema``)
    and reading a parquet group with its probed schema instead of
    Spark's own inference (``Engine.dataframe``).

    * ns timestamps, which also covers INT96: pyarrow renders INT96 as
      timestamp[ns] (probed TimestampNTZ) while Spark reads it as
      session-tz TIMESTAMP_LTZ, and Spark 4 cannot read INT64
      TIMESTAMP(NANOS) at all;
    * unsigned ints: Spark reads UINT64 as DECIMAL(20,0), the probe
      folds it into LongType;
    * null, duration and time columns: Spark reads them as INT32,
      INT64 and an illegal type where the probe says Null, an interval
      and TimeType."""
    import pyarrow.types as pat

    if pat.is_timestamp(t) and t.unit == "ns":
        return True
    if (
        pat.is_unsigned_integer(t)
        or pat.is_null(t)
        or pat.is_duration(t)
        or pat.is_time(t)
    ):
        return True
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return spark_hostile(t.value_type)
    if pat.is_dictionary(t):
        return spark_hostile(t.value_type)
    if pat.is_struct(t):
        return any(spark_hostile(t.field(i).type) for i in range(t.num_fields))
    if pat.is_map(t):
        return spark_hostile(t.key_type) or spark_hostile(t.item_type)
    return False


def single_scan_partitions(
    sizes: list[int],
    max_partition_bytes: int,
    open_cost: int,
    min_partitions: int,
) -> int:
    """The partition count Spark gives ONE file scan over files of
    ``sizes`` bytes: ``FilePartition.maxSplitBytes`` over the total
    bytes plus ``open_cost`` per file, each file split into chunks of
    that size, then next-fit-decreasing packing. Treats every file as
    splittable (a compressed or multiline CSV is one chunk in Spark), so
    on such inputs the count can exceed Spark's by their splits."""
    total = sum(sz + open_cost for sz in sizes)
    max_split = min(
        max_partition_bytes, max(open_cost, total // max(1, min_partitions))
    )
    chunks = []
    for sz in sizes:
        chunks += [max_split] * (sz // max_split)
        if sz % max_split:
            chunks.append(sz % max_split)
    chunks.sort(reverse=True)
    partitions, current = 0, 0  # every chunk is > 0 bytes
    for length in chunks:
        if current and current + length > max_split:
            partitions += 1
            current = 0
        current += length + open_cost
    return partitions + int(current > 0)


def _conf_bytes(value: str) -> int:
    """A JVM byte-size conf value (``4194304b``, ``8m``, ``1g``) in bytes."""
    v = value.strip().lower()
    units = {"t": 1 << 40, "g": 1 << 30, "m": 1 << 20, "k": 1 << 10, "b": 1}
    v = v[:-1] if v.endswith("b") and len(v) > 1 and v[-2] in units else v
    if v and v[-1] in units:
        return int(v[:-1]) * units[v[-1]]
    return int(v)


@dataclass
class PlanInfo:
    """--plan output (src/main.rs:65-71): discovered inputs + unified
    schema + the Catalyst physical plan."""

    files: list[InputFile]
    unified: UnifiedSchema
    explain: str

    def describe(self) -> str:
        lines = [f"Plan: would process {len(self.files)} input(s)"]
        lines += [f"  {f.path} [{f.format.value}, {f.size} bytes]" for f in self.files]
        lines.append("Unified schema:")
        lines += [
            f"  {name}: {kind.value}" for name, kind in self.unified.type_mapping.items()
        ]
        lines.append(self.explain)
        return "\n".join(lines)


@dataclass
class RunResult:
    """Metrics shaped like the reference's GlobalProgress
    (src/progress.rs:6-61): files/bytes/rows totals + derived throughput."""

    rows: int
    input_files: int
    input_bytes: int
    output: SinkResult | None
    seconds: float
    verified: bool | None = None

    @property
    def mb_per_sec(self) -> float:
        if self.seconds <= 0:
            return 0.0
        return self.input_bytes / 1e6 / self.seconds


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        #: per-run parquet footer facts: path -> (arrow schema,
        #: num_rows); populated by the schema probe, consumed by the
        #: passthrough gate and its row accounting
        self._arrow_probe: dict = {}

    # ---- plan construction -------------------------------------------

    def discover(self, spec: RunSpec) -> list[InputFile]:
        cfg = DiscoveryConfig(
            recursive=spec.recursive, follow_symlinks=spec.follow_symlinks
        )
        return discover_inputs(spec.inputs, cfg)

    def _probe_parquet_schema(self, path: str) -> T.StructType:
        try:  # footer-only read, no Spark job
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            # ONE footer read serves the whole run: the Arrow schema
            # and the exact row count are both in this footer, and the
            # passthrough gate + its row accounting would otherwise
            # re-open every file (a second and third driver sweep on a
            # million-file corpus — review r14). Cached per run;
            # probe_schemas clears it. INT96 needs no separate
            # tracking: pyarrow renders it as timestamp[ns], which
            # ``spark_hostile`` refuses.
            pf = pq.ParquetFile(path)
            arrow = pf.schema_arrow
            # prefer_timestamp_ntz: a tz-less parquet timestamp IS the
            # unified DATETIME (TimestampNTZ — typesys maps every
            # datetime kind there), so probing it as NTZ lets the
            # passthrough gate see the no-cast copy it really is;
            # tz-adjusted columns still probe as TimestampType and take
            # the casting plan. Unification is unaffected: both types
            # fold into the same DATETIME kind.
            schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
            # cached only once the mapping succeeded: a cached footer
            # means this schema came from the pyarrow probe, which the
            # explicit-schema parquet read relies on
            self._arrow_probe[path] = (arrow, pf.metadata.num_rows)
            return schema
        except Exception:
            return self.spark.read.parquet(path).schema

    def _probe_orc_schema(self, path: str) -> T.StructType:
        try:  # footer-only read, no Spark job
            import pyarrow.orc as po
            from pyspark.sql.pandas.types import from_arrow_schema

            return from_arrow_schema(po.ORCFile(path).schema)
        except Exception:
            return self.spark.read.orc(path).schema

    def _csv_header_key(self, path: str, spec: RunSpec):
        """Driver-side header sniff (first line only) to group CSV files
        before inference. With --no-headers, files group by column count.
        Decompresses .gz/.bz2 prefixes — a raw read of compressed bytes
        would give every file a unique garbage key and explode the
        one-job-per-header-group inference into one job per file."""
        import csv as _csv
        import io

        from streaming_parquet_spark.sources.readers import _read_prefix

        enc = {"utf8": "utf-8-sig", "utf-8": "utf-8-sig", "latin1": "cp1252"}.get(
            spec.encoding.lower(), spec.encoding
        )
        text = _read_prefix(path, 64 << 10).decode(enc, errors="replace")
        first = next(
            _csv.reader(
                io.StringIO(text), delimiter=spec.delimiter,
                quotechar=spec.quote,
            ),
            [],
        )
        return tuple(first) if spec.headers else len(first)

    def probe_schemas(
        self, files: list[InputFile], spec: RunSpec
    ) -> list[T.StructType]:
        """Per-file schemas with a bounded number of Spark jobs.

        Parquet: pyarrow footer reads on a driver thread pool (no jobs).
        CSV: files grouped by sniffed header; ONE inference job per
        distinct header computes every member file's parse-probe schema
        (see infer_csv_schemas_per_file). Job count is O(distinct CSV
        headers), not O(files) — the difference between a million-file
        input working and the driver melting.
        """
        from concurrent.futures import ThreadPoolExecutor

        # per-run arrow-probe cache (see _probe_parquet_schema): keyed
        # by path, valid for exactly this probe's file set — cleared
        # here so a later run never reads a stale footer's facts
        self._arrow_probe = {}

        out: list[T.StructType | None] = [None] * len(files)

        pq_idx = [i for i, f in enumerate(files) if f.format is InputFormat.PARQUET]
        if pq_idx:
            with ThreadPoolExecutor(max_workers=min(32, len(pq_idx))) as pool:
                for i, schema in zip(
                    pq_idx,
                    pool.map(
                        lambda i: self._probe_parquet_schema(files[i].path), pq_idx
                    ),
                ):
                    out[i] = schema

        orc_idx = [i for i, f in enumerate(files) if f.format is InputFormat.ORC]
        if orc_idx:
            with ThreadPoolExecutor(max_workers=min(32, len(orc_idx))) as pool:
                for i, schema in zip(
                    orc_idx,
                    pool.map(
                        lambda i: self._probe_orc_schema(files[i].path), orc_idx
                    ),
                ):
                    out[i] = schema

        for i, f in enumerate(files):
            # raw text: fixed (value: Utf8) schema — nothing to probe
            if f.format is InputFormat.TXT:
                out[i] = TXT_SCHEMA

        jl_idx = [i for i, f in enumerate(files) if f.format is InputFormat.JSONL]
        if jl_idx:
            # JSONL: always sampled prefix inference (driver-side, zero
            # jobs) — a JSON record stream has no header to group by, so
            # the exact-mode Spark path has no per-header batching to
            # exploit; the prefix probe reads <= infer_rows records.
            n_rows = spec.infer_rows if spec.infer_rows else 1000
            with ThreadPoolExecutor(max_workers=min(32, len(jl_idx))) as pool:
                for i, schema in zip(
                    jl_idx,
                    pool.map(
                        lambda i: infer_jsonl_schema_prefix(
                            files[i].path, n_rows, encoding=spec.encoding
                        ),
                        jl_idx,
                    ),
                ):
                    out[i] = schema

        csv_idx = [i for i, f in enumerate(files) if f.format is InputFormat.CSV]
        if not csv_idx:
            return out  # type: ignore[return-value]

        opts = self._csv_opts(spec)
        if spec.infer_rows and spec.infer_rows > 0:
            # Sampled inference (--infer-rows, the reference default):
            # driver-side prefix reads, zero Spark jobs, thread pool.
            with ThreadPoolExecutor(max_workers=min(32, len(csv_idx))) as pool:
                for i, schema in zip(
                    csv_idx,
                    pool.map(
                        lambda i: infer_csv_schema_prefix(files[i].path, opts),
                        csv_idx,
                    ),
                ):
                    out[i] = schema
            return out  # type: ignore[return-value]

        # Exact full-file inference: one Spark job per distinct header.
        csv_groups: dict[object, list[int]] = {}
        for i in csv_idx:
            csv_groups.setdefault(
                self._csv_header_key(files[i].path, spec), []
            ).append(i)
        for idxs in csv_groups.values():
            paths = [files[i].path for i in idxs]
            schemas = infer_csv_schemas_per_file(self.spark, paths, opts)
            for i in idxs:
                out[i] = schemas[files[i].path]
        return out  # type: ignore[return-value]

    @staticmethod
    def _csv_opts(spec: RunSpec) -> CsvOptions:
        return CsvOptions(
            delimiter=spec.delimiter,
            quote=spec.quote,
            headers=spec.headers,
            encoding=spec.encoding,
            na_values=spec.na_values,
            infer_rows=spec.infer_rows,
            multiline=spec.multiline,
        )

    def dataframe(
        self, spec: RunSpec, files: list[InputFile] | None = None,
        schemas: list[T.StructType] | None = None,
    ) -> tuple[DataFrame, UnifiedSchema, list[InputFile]]:
        """Build the aligned UNION ALL DataFrame for a spec (lazy).

        One multi-path read and ONE projection (``align_dataframe``'s
        single ``selectExpr``) per ``(format, schema)`` group. CSV and
        JSONL groups read with their probed schema, parquet groups too
        when every member's footer probe passed ``spark_hostile``, so
        for such inputs the plan starts no Spark job and the aligner
        needs no ``df.schema`` round trip. With two or more groups the
        union coalesces to the width one scan over all the files would
        have (see ``_tune_split_size``)."""
        files = files if files is not None else self.discover(spec)
        if not files:
            raise ValueError("no input files discovered")

        max_partition_bytes = self._tune_split_size(files)
        if schemas is None:
            schemas = self.probe_schemas(files, spec)
        unified = unify_schemas(
            schemas, rename=spec.rename, stringify_conflicts=spec.stringify_conflicts
        )

        # Group files by (format, schema) -> one multi-path read per group.
        groups: dict[tuple, tuple[list[str], T.StructType]] = {}
        for f, s in zip(files, schemas):
            groups.setdefault((f.format, s.json()), ([], s))[0].append(f.path)

        csv = None
        aligned = []
        for (fmt, _json), (paths, schema) in groups.items():
            na_values: tuple[str, ...] = ()
            if fmt is InputFormat.PARQUET:
                if not self._probe_is_readable(paths):
                    # Spark's own inference (a footer-reading job); the
                    # aligner then asks the JVM for the real schema
                    df, schema = read_parquet(self.spark, paths), None
                else:
                    df = read_parquet(self.spark, paths, schema=schema)
            elif fmt is InputFormat.ORC:
                df, schema = read_orc(self.spark, paths), None
            elif fmt is InputFormat.TXT:
                df = read_text(self.spark, paths)
            elif fmt is InputFormat.JSONL:
                df = read_jsonl(self.spark, paths, schema, encoding=spec.encoding)
                schema = readable_schema(schema)
            else:
                # The CSV scan can't materialize NullType (probe result
                # for valueless columns) — read those as string; every
                # value is null, and the aligner casts to the unified
                # type anyway. The NA sentinels beyond the scan's one
                # nullValue are nulled inside the same projection.
                if csv is None:
                    csv = csv_reader(self.spark, self._csv_opts(spec))
                schema = readable_schema(schema)
                df = csv.schema(schema).csv(paths)
                na_values = tuple(spec.na_values[1:])
            aligned.append(
                align_dataframe(
                    df, unified, spec.columns, spec.exclude,
                    schema=schema, na_values=na_values,
                )
            )
        df = union_aligned(aligned)
        if len(aligned) > 1:
            df = df.coalesce(self._single_scan_width(files, max_partition_bytes))
        return df, unified, files

    def _probe_is_readable(self, paths: list[str]) -> bool:
        """True when every file's schema came from the pyarrow footer
        probe and no column type is ``spark_hostile`` — then the probed
        schema is exactly what Spark's inference would return."""
        for path in paths:
            probe = self._arrow_probe.get(path)
            if probe is None or any(spark_hostile(t) for t in probe[0].types):
                return False
        return True

    def _single_scan_width(
        self, files: list[InputFile], max_partition_bytes: int
    ) -> int:
        """``single_scan_partitions`` under this session's file-scan
        confs (three conf reads)."""
        conf = self.spark.conf
        min_parts = conf.get("spark.sql.files.minPartitionNum", None) or conf.get(
            "spark.sql.leafNodeDefaultParallelism", None
        )
        return max(1, single_scan_partitions(
            [f.size for f in files],
            max_partition_bytes,
            _conf_bytes(conf.get("spark.sql.files.openCostInBytes")),
            int(min_parts or self.spark.sparkContext.defaultParallelism or 1),
        ))

    # ---- entry points (SURVEY.md §3) ---------------------------------

    def plan(self, spec: RunSpec) -> PlanInfo:
        """--plan (main.rs:65-71), upgraded to list *discovered* files and
        include the unified schema + physical plan."""
        df, unified, files = self.dataframe(spec)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return PlanInfo(files=files, unified=unified, explain=buf.getvalue())

    def dry_run(self, spec: RunSpec) -> RunResult:
        """--dry-run (main.rs:73-76): execute the full plan into a no-op
        sink — validates reads, coercions, and unions without writing."""
        t0 = time.time()
        df, _unified, files = self.dataframe(spec)
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        observed.write.format("noop").mode("overwrite").save()
        rows = int(obs.get["rows"])
        return RunResult(
            rows=rows,
            input_files=len(files),
            input_bytes=sum(f.size for f in files),
            output=None,
            seconds=time.time() - t0,
        )

    def run(self, spec: RunSpec) -> RunResult:
        """The main CLI query: concat inputs -> sink (pipeline.rs:76-193).

        Row accounting: ``observe``'s CollectMetrics evaluates its
        aggregate per row through the interpreted expression path, which
        measured ~2x on a parquet->parquet conversion (the scan itself is
        vectorized, so the per-row metric dominates). Whenever parquet is
        on either side we read exact row counts from footers instead
        (driver-side, no job); only csv->csv — where parse cost dwarfs
        the metric — keeps the observe."""
        if not spec.out:
            raise ValueError("RunSpec.out is required for run()")
        t0 = time.time()
        files = self.discover(spec)
        if not files:
            raise ValueError("no input files discovered")
        schemas = self.probe_schemas(files, spec)

        passthrough_cols = self._passthrough_columns(spec, files, schemas)
        passthrough = (
            self._passthrough_arrow_schema(files, passthrough_cols)
            if passthrough_cols is not None
            else None
        )
        if passthrough_cols is not None and passthrough is not None:
            passthrough_schema, rows = passthrough
            max_records = self._rolling_records(spec, files)
            sink = transcode_parquet(
                self.spark,
                [(f.path, f.size) for f in files],
                spec.out,
                passthrough_cols,
                arrow_schema=passthrough_schema,
                compression=spec.compression,
                zstd_level=spec.zstd_level,
                max_records_per_file=max_records,
                # mirror write_parquet exactly: single-file ergonomics
                # apply only when no roll threshold asks for parts
                single_file=spec.single_file and max_records is None,
            )
            # Exact accounting from the INPUT footers the gate already
            # read: a transcode preserves rows by contract, and
            # count-verify must reconcile output against input —
            # counting the output's own footers on this branch would
            # verify the writer against itself (review r13); a third
            # footer sweep here would re-read every file (review r14).
            verified = None
            if spec.verify:
                verified = self._verify(spec, sink, rows)
            return RunResult(
                rows=rows,
                input_files=len(files),
                input_bytes=sum(f.size for f in files),
                output=sink,
                seconds=time.time() - t0,
                verified=verified,
            )

        df, _unified, files = self.dataframe(spec, files=files, schemas=schemas)

        max_records = self._rolling_records(spec, files)
        fmt = spec.resolve_out_format()
        all_parquet_in = all(f.format is InputFormat.PARQUET for f in files)
        obs: Observation | None = None
        observed = df
        if fmt != "parquet" and not all_parquet_in:
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        # Content verify observes its (n, crc) on the SAME write pass —
        # CollectMetrics rides the writer's scan, so the written-side
        # checksum reflects exactly the rows that left the writer, at
        # zero extra jobs (ADVICE r5: checksumming the unexecuted plan
        # in _verify re-ran the whole input pipeline at verify time and
        # raced against post-write input mutation).
        content_obs: Observation | None = None
        if spec.verify and spec.verify_mode == "content":
            content_obs = Observation()
            observed = observed.observe(
                content_obs, *self._checksum_aggs(observed)
            )
        if spec.partition_by:
            sink = write_partitioned(
                observed,
                spec.out,
                spec.partition_by,
                out_format=fmt,
                compression=spec.compression
                if spec.compression != "none"
                else "snappy",
                delimiter=spec.delimiter,
                max_records_per_file=max_records,
            )
        elif fmt == "parquet":
            sink = write_parquet(
                observed,
                spec.out,
                compression=spec.compression,
                zstd_level=spec.zstd_level,
                single_file=spec.single_file,
                max_records_per_file=max_records,
            )
        elif fmt == "jsonl":
            sink = write_jsonl(
                observed,
                spec.out,
                single_file=spec.single_file,
                max_records_per_file=max_records,
            )
        elif fmt == "orc":
            sink = write_orc(
                observed,
                spec.out,
                compression=spec.compression,
                single_file=spec.single_file,
                max_records_per_file=max_records,
            )
        elif fmt == "text":
            sink = write_text(
                observed,
                spec.out,
                single_file=spec.single_file,
                max_records_per_file=max_records,
            )
        else:
            sink = write_csv(
                observed,
                spec.out,
                delimiter=spec.delimiter,
                quote=spec.quote,
                single_file=spec.single_file,
                max_records_per_file=max_records,
            )
        if obs is not None:
            rows = int(obs.get["rows"])
        elif fmt == "parquet":
            rows = self._parquet_rows(sink.paths)
        else:
            # csv out, all-parquet in: concat preserves row counts, so
            # input footers are exact.
            rows = self._parquet_rows([f.path for f in files])
        verified = None
        if spec.verify:
            wm = None
            if content_obs is not None:
                got = content_obs.get
                wm = (int(got["n"]), int(got["crc"]))
            verified = self._verify(
                spec, sink, rows, schema=observed.schema, written_metrics=wm
            )
        return RunResult(
            rows=rows,
            input_files=len(files),
            input_bytes=sum(f.size for f in files),
            output=sink,
            seconds=time.time() - t0,
            verified=verified,
        )

    # ---- helpers ------------------------------------------------------

    def _passthrough_columns(
        self,
        spec: RunSpec,
        files: list[InputFile],
        schemas: list[T.StructType],
    ) -> list[str] | None:
        """Gate for the columnar passthrough sink (transcode_parquet):
        returns the sink's column order when the run is a pure parquet
        transcode — every row leaves exactly as it arrived, so the sink
        may copy column chunks through Arrow instead of row-pivoting
        the data through Spark's writer — or None to take the Catalyst
        plan. The conditions mirror align_dataframe's no-op case: any
        rename, implied cast, null-fill, widening, or non-parquet side
        disqualifies, as do partitioned output and content verify
        (whose checksum must observe the write pass). Single-file mode
        stays eligible — the transcoder has its own one-writer path
        with the same serialized semantics as ``coalesce(1)``."""
        if spec.resolve_out_format() != "parquet":
            return None
        if spec.partition_by:
            return None
        if spec.verify and spec.verify_mode == "content":
            return None
        if spec.rename:
            return None
        if spec.compression.lower() not in ("none", "snappy", "gzip", "zstd"):
            return None  # let the Spark sink raise its codec error
        if any(f.format is not InputFormat.PARQUET for f in files):
            return None
        unified = unify_schemas(
            schemas, rename=spec.rename,
            stringify_conflicts=spec.stringify_conflicts,
        )
        cols = _effective_columns(unified, spec.columns, spec.exclude)
        if not cols:
            return None
        distinct = {s.json(): s for s in schemas}
        for schema in distinct.values():
            by_name = {fld.name: fld.dataType for fld in schema.fields}
            for name in cols:
                target = unified.type_mapping[name].to_spark_type()
                if isinstance(target, T.NullType):
                    return None  # align materializes these as string
                if by_name.get(name) != target:
                    return None  # missing column or implied cast
        return cols

    def _passthrough_arrow_schema(self, files: list[InputFile], cols: list[str]):
        """Arrow-level second half of the passthrough gate: returns
        (the ONE canonical ``pyarrow.Schema`` every transcode bin must
        write, the exact input row total from the same footers), or
        None to take the Catalyst plan.

        The Spark-type check above is necessary but not sufficient — it
        compares probe-derived StructTypes, and two hazards live below
        that level (ADVICE r13):

        * **Probe/reader divergence.** The footer probe maps parquet
          INT96 to timestamp[ns] -> TimestampNTZ, but Spark's own reader
          yields session-tz TIMESTAMP_LTZ for INT96 — so "no cast
          needed" is wrong, the Catalyst plan would produce different
          values, and worse, pyarrow re-encodes INT96 as INT64
          TIMESTAMP(NANOS), which Spark 4 refuses to read at all
          (PARQUET_TYPE_ILLEGAL). Same story for unsigned ints (Spark
          reads UINT64 as DECIMAL(20,0)). Any ``spark_hostile`` type,
          anywhere in a gated column's nesting, disqualifies.
        * **Per-bin schema drift.** Distinct Arrow types can collapse to
          one Spark type (string vs large_string, timestamp units), so a
          bin-local "first file wins" schema could emit an output
          directory whose parts disagree physically — and cast() between
          them can truncate. The gate therefore requires every file's
          Arrow type to be IDENTICAL per gated column and hands the one
          canonical schema to every bin; anything short of identical
          falls back to Catalyst, which unifies losslessly by
          construction.

        Zero extra I/O in the normal path: the schema probe's single
        footer sweep already cached (arrow schema, num_rows) per file
        (``self._arrow_probe``); only files whose pyarrow probe fell
        back to the Spark reader re-read here (a thread-pooled footer
        read each), and any file unreadable that way disqualifies."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as pq

        want = set(cols)

        def _probe(path: str):
            pf = pq.ParquetFile(path)
            return pf.schema_arrow, pf.metadata.num_rows

        cached = [self._arrow_probe.get(f.path) for f in files]
        missing = [i for i, c in enumerate(cached) if c is None]
        if missing:
            try:
                with ThreadPoolExecutor(
                    max_workers=min(32, len(missing))
                ) as pool:
                    fresh = list(
                        pool.map(lambda i: _probe(files[i].path), missing)
                    )
            except Exception:
                return None  # unreadable footer: let Spark report it
            for i, c in zip(missing, fresh):
                cached[i] = c
        canonical: dict[str, pa.Field] = {}
        total_rows = 0
        for arrow, n_rows in cached:
            total_rows += int(n_rows)
            try:
                fields = {
                    name: arrow.field(name)
                    for name in arrow.names
                    if name in want
                }
            except Exception:
                return None  # duplicate field names etc.
            for name in cols:
                fld = fields.get(name)
                if fld is None or spark_hostile(fld.type):
                    return None
                prev = canonical.get(name)
                if prev is None:
                    canonical[name] = fld.with_nullable(True)
                elif prev.type != fld.type:
                    return None  # same Spark type, different Arrow type
        return pa.schema([canonical[name] for name in cols]), total_rows

    @staticmethod
    def _parquet_rows(paths: list[str]) -> int:
        """Exact row count from parquet footers (files or directories),
        fanned over a driver thread pool — metadata reads only."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        file_paths: list[str] = []
        for p in paths:
            if os.path.isdir(p):
                for root, _dirs, names in os.walk(p):
                    file_paths += [
                        os.path.join(root, n)
                        for n in names
                        if n.endswith(".parquet") and not n.startswith((".", "_"))
                    ]
            else:
                file_paths.append(p)
        if not file_paths:
            return 0
        with ThreadPoolExecutor(max_workers=min(32, len(file_paths))) as pool:
            return sum(
                pool.map(lambda f: pq.ParquetFile(f).metadata.num_rows, file_paths)
            )

    def _tune_split_size(self, files: list[InputFile]) -> int:
        """Size ``spark.sql.files.maxPartitionBytes`` so the scan yields
        ~3 splits per core, and return the value set. The 128 MB default
        packs small-file corpora into a handful of tasks and idles the
        cluster (measured 2x on a 0.7 GB / 64-file conversion); large
        inputs clamp back to 128 MB, so cluster-scale behavior is
        unchanged. Session-level setting — read at scan planning of this
        run's queries.

        Spark sizes each scan's splits from that scan's bytes alone, so
        a drift concat of many small schema groups would plan one task
        per file (64 tasks and 64 output files for 64 files of 60 KB).
        ``dataframe`` therefore coalesces a multi-group union to
        ``single_scan_partitions`` under the value returned here: the
        width one scan over every file would get. A single-group plan is
        that one scan and keeps its own width."""
        total = sum(f.size for f in files)
        cores = self.spark.sparkContext.defaultParallelism or 1
        # Floor at 16 MB: smaller splits fragment parquet row groups
        # (tasks than cannot split below a row group go idle) — measured
        # slower than the 128 MB default on a row-group-heavy corpus.
        target = max(16 << 20, min(128 << 20, total // (3 * cores) or (16 << 20)))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
        return target

    def _rolling_records(
        self, spec: RunSpec, files: list[InputFile]
    ) -> int | None:
        """Rolling thresholds (cli.rs:70-77). Rows map exactly to
        ``maxRecordsPerFile``; bytes are approximated as
        roll_by_bytes / (input_bytes / input_rows) using parquet footer
        row counts (no data scan) — documented approximation (SURVEY §7)."""
        if spec.roll_by_rows:
            return int(spec.roll_by_rows)
        if not spec.roll_by_bytes:
            return None
        total_bytes = sum(f.size for f in files) or 1
        total_rows = 0
        for f in files:
            if f.format is InputFormat.PARQUET:
                try:
                    import pyarrow.parquet as pq

                    total_rows += pq.ParquetFile(f.path).metadata.num_rows
                    continue
                except Exception:
                    pass
            # CSV fallback: estimate ~100 bytes/row rather than scanning.
            total_rows += max(1, f.size // 100)
        bytes_per_row = max(1, total_bytes // max(1, total_rows))
        return max(1, int(spec.roll_by_bytes // bytes_per_row))

    def _read_back(self, spec: RunSpec, sink: SinkResult, schema=None):
        """Re-open the just-written output. With ``schema`` (content
        verify) text formats parse back to the written types, so the
        canonical rendering agrees between the pre-write plan and the
        round-tripped bytes."""
        fmt = spec.resolve_out_format()
        if fmt == "parquet":
            return self.spark.read.parquet(*sink.paths)
        if fmt == "jsonl":
            r = self.spark.read
            if schema is not None:
                r = r.schema(schema)
            return r.json(sink.paths)
        if fmt == "orc":
            return self.spark.read.orc(sink.paths)
        if fmt == "text":
            return self.spark.read.text(sink.paths)
        r = (
            self.spark.read.option("header", "true")
            .option("sep", spec.delimiter)
            .option("quote", spec.quote)
        )
        if schema is not None:
            r = r.schema(schema)
        return r.csv(sink.paths)

    @staticmethod
    def _checksum_aggs(df) -> tuple:
        """The (n, crc) aggregate pair over a canonical row rendering —
        every column cast to string in column-name order, nulls as a
        sentinel no real value renders, fields joined on a unit
        separator. The CRC32 sum accumulates into decimal(38,0) so it
        cannot overflow at any row count, and being commutative it is
        partitioning-independent: at 100 TB each map task folds its
        partition's CRCs and the exchange carries one decimal per
        task. CRC32 is the JVM-built-in stand-in for the reference's
        declared-but-unused crc64fast dependency (Cargo.toml:60); a
        32-bit sum still detects any single-row corruption and all but
        ~2^-32 of multi-row ones."""
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00\x00NULL"))
            for c in sorted(df.columns)
        ]
        row = F.concat_ws("\x1f", *cols)
        return (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.crc32(row).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("crc"),
        )

    def _content_checksum(self, df) -> tuple[int, int]:
        """(rows, checksum) of a relation, one aggregation job — used
        on the READ-BACK side of content verify. The written side never
        runs this: its checksum is observed during the write pass
        itself (see run()), so verify compares what actually left the
        writer, not a re-execution of the input pipeline that would
        double the run cost and, if inputs were mutated or removed
        after the write, silently compare fresh inputs against old
        outputs."""
        n, crc = self._checksum_aggs(df)
        got = df.select(n, crc).first()
        return int(got["n"]), int(got["crc"])

    def _verify(
        self,
        spec: RunSpec,
        sink: SinkResult,
        expected_rows: int,
        schema=None,
        written_metrics: tuple[int, int] | None = None,
    ) -> bool:
        """--verify (cli.rs:118-120, declared with a crc64 dependency
        but never implemented in the reference): re-read the output and
        reconcile row counts; in ``verify_mode="content"`` additionally
        reconcile the canonical-row checksum OBSERVED during the write
        pass (``written_metrics``) against the round-tripped bytes
        (did my bytes survive?)."""
        if spec.verify_mode == "content" and written_metrics is not None:
            back = self._read_back(spec, sink, schema=schema)
            return written_metrics == self._content_checksum(back)
        return self._read_back(spec, sink).count() == expected_rows
