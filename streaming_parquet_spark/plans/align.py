"""Per-input alignment to a unified schema, and aligned concatenation.

Reimplements the semantics of ``BatchAligner::align_batch``
(/root/reference/src/coercion.rs:36-84): for each unified column —
apply include/exclude filters (coercion.rs:44-56), resolve renames
(coercion.rs:58-59,86-100), cast the source column to the unified type
(coercion.rs:102-204 — parse-with-null-on-failure semantics), or fill an
all-null typed column when the input lacks the field (coercion.rs:206-230).

Spark-first: alignment is a single projection of cast/literal
expressions, so Catalyst sees a plain ``Project`` — column pruning and
scan pushdown stay intact, and the whole align+union plan is codegen'd
with zero Python in the hot path. The projection is built as SQL text
and handed to ONE ``selectExpr`` call: composing it from py4j
``Column`` objects costs one or more driver↔JVM round trips per
``col``/``try_cast``/``alias``/``when`` (on a 4-core host: ~125 ms
for a 12-column projection, vs ~19 ms as one ``selectExpr``), and a
drift concat builds one projection per schema group.

``try_cast`` is used for coercions: the reference's parse-based coercion
turns unparseable values into nulls (coercion.rs:116-154), which matches
try_cast (and not Spark 4's ANSI-mode cast, which raises).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from streaming_parquet_spark.plans.unify import UnifiedSchema


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for Spark SQL (a literal backtick is
    doubled), so dots, spaces and non-ASCII letters name one column."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A Spark SQL string literal for ``value``, written as UTF-8 hex
    bytes cast to string. Unlike a quoted literal, its meaning does not
    depend on ``spark.sql.parser.escapedStringLiterals``, and quotes or
    backslashes in the value need no escaping."""
    return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"


def _effective_columns(
    unified: UnifiedSchema,
    include: Iterable[str] | None,
    exclude: Iterable[str] | None,
) -> list[str]:
    include_set = set(include) if include is not None else None
    exclude_set = set(exclude) if exclude is not None else set()
    cols = []
    for name in unified.names:
        if include_set is not None and name not in include_set:
            continue
        if name in exclude_set:
            continue
        cols.append(name)
    return cols


def align_dataframe(
    df: DataFrame,
    unified: UnifiedSchema,
    include: Iterable[str] | None = None,
    exclude: Iterable[str] | None = None,
    schema: T.StructType | None = None,
    na_values: Iterable[str] = (),
) -> DataFrame:
    """Project ``df`` onto the unified schema in one ``selectExpr``:
    rename, cast, null-fill, and null out ``na_values`` on string source
    columns (the NA sentinels beyond the one a CSV scan's ``nullValue``
    handles, cli.rs:41-43 — nulled before the cast, as csv_in.rs:129-135
    checks sentinels before parsing). Every target type is one of the
    flat lattice types.

    ``schema`` is ``df``'s schema when the caller already knows it (the
    engine reads with an explicit schema), saving the JVM round trip
    that ``df.schema`` costs; it must be exactly what Spark reads."""
    source = schema if schema is not None else df.schema
    # unified name -> source field present in this relation (rename-aware)
    source_for = {unified.unified_name(f.name): f for f in source.fields}
    na = ", ".join(sql_string(v) for v in na_values)

    exprs: list[str] = []
    for name in _effective_columns(unified, include, exclude):
        target = unified.type_mapping[name].to_spark_type()
        if isinstance(target, T.NullType):
            # Column had no values in ANY input (unified type = Null, the
            # widening identity). Sinks can't write VOID — materialize as
            # an all-null string column (CSV renders na_string, parquet
            # a null string column).
            target = T.StringType()
        fld = source_for.get(name)
        if fld is None:
            # Missing column -> typed all-null (coercion.rs:206-230)
            expr = f"CAST(NULL AS {target.simpleString()})"
        else:
            expr = quote_ident(fld.name)
            if na and isinstance(fld.dataType, T.StringType):
                expr = f"CASE WHEN {expr} IN ({na}) THEN NULL ELSE {expr} END"
            if fld.dataType != target:
                expr = f"try_cast({expr} AS {target.simpleString()})"
        exprs.append(f"{expr} AS {quote_ident(name)}")
    return df.selectExpr(*exprs)


def union_aligned(aligned: list[DataFrame]) -> DataFrame:
    """UNION ALL of frames already projected onto one unified schema."""
    if not aligned:
        raise ValueError("concat_aligned requires at least one input DataFrame")
    return reduce(lambda a, b: a.unionByName(b), aligned)


def concat_aligned(
    dfs: list[DataFrame],
    unified: UnifiedSchema,
    include: Iterable[str] | None = None,
    exclude: Iterable[str] | None = None,
) -> DataFrame:
    """UNION ALL of inputs after alignment — the reference's core operator
    (src/pipeline.rs:76-100): bag semantics, no dedup, fixed output schema.

    Aligned frames share an identical schema, so ``unionByName`` is a
    zero-shuffle plan: Spark unions the scans and keeps per-file read
    parallelism (one task per file split) — the distributed analog of the
    reference's N-readers-one-channel topology.
    """
    return union_aligned(
        [align_dataframe(df, unified, include, exclude) for df in dfs]
    )
