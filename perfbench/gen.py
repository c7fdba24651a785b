"""Seeded input generators. The program under test only ever sees the
files written here; the expected answers come from the same arrays.

Every generator takes the seed explicitly and derives all randomness
from ``numpy.random.default_rng``, so one seed always gives the same
bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

#: tables the gates read; the fixture copy is the sf0.01 table set
GATE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: lineitem-slice columns; ``rid`` is a generator-assigned unique row id
COLS = (
    "rid l_orderkey l_partkey l_suppkey l_linenumber l_quantity "
    "l_extendedprice l_discount l_tax l_returnflag l_linestatus "
    "l_shipdate"
).split()
#: columns a drift variant may drop (the engine null-fills them)
DROPPABLE = (None, "l_tax", "l_discount", "l_returnflag")
#: unified (arrow) type of every column after widening
UNIFIED = {
    "rid": pa.int64(), "l_orderkey": pa.int64(), "l_partkey": pa.int64(),
    "l_suppkey": pa.int64(), "l_linenumber": pa.int64(),
    "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
    "l_discount": pa.float64(), "l_tax": pa.float64(),
    "l_returnflag": pa.string(), "l_linestatus": pa.string(),
    "l_shipdate": pa.string(),
}


def lineitem_slice(rng: np.random.Generator, n: int, rid0: int,
                   qty_int: bool) -> pa.Table:
    """``n`` lineitem-like rows with ids ``rid0 .. rid0+n-1``. The ship
    date is a plain string, so no variant can raise a type conflict.
    ``qty_int`` writes whole quantities as int64; otherwise quantities
    carry a fraction so CSV inference sees a double."""
    qty = rng.integers(1, 51, n)
    days = np.datetime64("1992-01-02") + rng.integers(0, 2526, n).astype(
        "timedelta64[D]")
    return pa.table({
        "rid": pa.array(np.arange(rid0, rid0 + n, dtype=np.int64)),
        "l_orderkey": pa.array(rng.integers(1, 6_000_000, n)),
        "l_partkey": pa.array(rng.integers(1, 200_000, n)),
        "l_suppkey": pa.array(rng.integers(1, 10_000, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n)),
        "l_quantity": pa.array(qty if qty_int else qty + 0.5),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n)),
        "l_shipdate": pa.array(np.datetime_as_string(days)),
    })


def drift_variants(rng: np.random.Generator, n: int) -> list[tuple]:
    """``n`` distinct schema variants as ``(column order, qty_int)``:
    every (dropped column, quantity type) pair, each under distinct
    seeded column permutations."""
    out, seen = [], set()
    while len(out) < n:
        k = len(out)
        drop = DROPPABLE[k % len(DROPPABLE)]
        qty_int = bool((k // len(DROPPABLE)) % 2)
        cols = [c for c in COLS if c != drop]
        order = tuple(cols[i] for i in rng.permutation(len(cols)))
        if (order, qty_int) not in seen:
            seen.add((order, qty_int))
            out.append((order, qty_int))
    return out


def write_slice(path: str, table: pa.Table, order: tuple) -> int:
    """Write ``table`` projected to ``order`` as CSV or parquet (by
    extension); returns the file size in bytes."""
    t = table.select(list(order))
    if path.endswith(".csv"):
        pacsv.write_csv(t, path)
    else:
        pq.write_table(t, path, compression="snappy")
    return os.path.getsize(path)


def unified_view(table: pa.Table) -> pa.Table:
    """What the engine must write for ``table``: every column of
    ``COLS`` under its unified type, absent columns all-null."""
    cols = {}
    for c in COLS:
        if c in table.column_names:
            cols[c] = table[c].cast(UNIFIED[c])
        else:
            cols[c] = pa.nulls(table.num_rows, UNIFIED[c])
    return pa.table(cols)


def gen_drift(seed: int, out_dir: str, n_files: int, rows: int,
              n_variants: int) -> dict:
    """The schema-drift concat corpus: ``n_files`` slices, 3/4 CSV and
    1/4 parquet. The first 3/4 of the ``n_variants`` schema variants are
    CSV-only and the rest parquet-only, so the input has exactly
    ``n_variants`` (format, schema) groups."""
    rng = np.random.default_rng(seed)
    variants = drift_variants(rng, n_variants)
    n_csv = n_variants * 3 // 4
    os.makedirs(out_dir, exist_ok=True)
    expected, nbytes = [], 0
    for i in range(n_files):
        if i % 4 == 3:
            ext, v = "parquet", n_csv + (i // 4) % (n_variants - n_csv)
        else:
            ext, v = "csv", (i - i // 4) % n_csv
        order, qty_int = variants[v]
        t = lineitem_slice(rng, rows, i * rows, qty_int)
        nbytes += write_slice(os.path.join(out_dir, f"part-{i:03d}.{ext}"),
                              t, order)
        expected.append(unified_view(t.select([c for c in COLS if c in order])))
    return {"expected": pa.concat_tables(expected), "bytes": nbytes}


def gen_shards(seed: int, out_dir: str, n_files: int, rows: int) -> dict:
    """Same-schema snappy parquet shards for the columnar passthrough:
    ``rows`` rows in total, split into ``n_files`` shards of seeded,
    different sizes, each written with its own row-group size."""
    rng = np.random.default_rng(seed)
    weights = rng.lognormal(0.0, 0.6, n_files)
    sizes = np.floor(weights / weights.sum() * rows).astype(int)
    sizes[-1] += rows - sizes.sum()
    os.makedirs(out_dir, exist_ok=True)
    nbytes, rid0 = 0, 0
    for i, n in enumerate(sizes):
        t = lineitem_slice(rng, int(n), rid0, qty_int=False)
        rid0 += int(n)
        path = os.path.join(out_dir, f"shard-{i:03d}.parquet")
        pq.write_table(t, path, compression="snappy",
                       row_group_size=int(rng.integers(8_000, 64_000)))
        nbytes += os.path.getsize(path)
    return {"bytes": nbytes, "rows": rows}


class WaveSource:
    """Lands CSV waves for the resume workload into one input dir.
    ``variants`` fixed schema variants are reused for every wave; a
    call with ``new_variant=True`` lands a schema no earlier wave had."""

    def __init__(self, seed: int, in_dir: str, rows: int, n_variants: int):
        self.rng = np.random.default_rng(seed)
        self.in_dir = in_dir
        self.rows = rows
        self.variants = drift_variants(self.rng, n_variants + 1)
        self.files = 0
        self.landed_rows = 0
        os.makedirs(in_dir, exist_ok=True)

    def land(self, n_files: int, new_variant: bool = False) -> dict:
        rows = nbytes = rid_sum = 0
        for _ in range(n_files):
            if new_variant:
                order, qty_int = self.variants[-1]
            else:
                order, qty_int = self.variants[
                    self.files % (len(self.variants) - 1)]
            t = lineitem_slice(self.rng, self.rows, self.landed_rows + rows,
                               qty_int)
            rid_sum += int(np.sum(t["rid"].to_numpy()))
            path = os.path.join(self.in_dir, f"w-{self.files:05d}.csv")
            nbytes += write_slice(path, t, order)
            rows += self.rows
            self.files += 1
        self.landed_rows += rows
        return {"rows": rows, "bytes": nbytes, "rid_sum": rid_sum}


def gen_gate_tables(seed: int, out_dir: str) -> int:
    """The gates' tables. Seed 0 copies the fixture bytes; any other
    seed rewrites each table as one ``<t>.parquet`` in a seeded row
    order, so every oracle answer is unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    nbytes = 0
    for t in GATE_TABLES:
        src = os.path.join(FIXTURES, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if seed == 0:
            shutil.copyfile(src, dst)
        else:
            tab = pq.read_table(src)
            pq.write_table(tab.take(rng.permutation(tab.num_rows)), dst)
        nbytes += os.path.getsize(dst)
    return nbytes
