"""Morton (Z-curve) kernel + layout-quality measurement.

Parquet (and every columnar lake format) keeps min/max statistics per
file and per row group; a scan with a pushed predicate skips units
whose stats exclude it. A single-column sort makes those stats tight
on ONE dimension and useless on every other. Z-ordering (the
technique behind Delta Lake/Iceberg ``OPTIMIZE ZORDER BY``)
interleaves the bits of several quantized columns so that sorting by
the interleaved value co-locates rows that are close in EVERY
dimension: each output file covers a small hyper-rectangle, and
selective filters on ANY of the z-columns prune most files.

This module is the shared kernel: ``morton_interleave`` builds the
z-value as unrolled JVM bit ops (whole-stage codegen, no UDF);
``sources/stage_io.py::write_zordered`` is the writer that clusters a
table by it; ``morton_interleave_sql`` emits the identical bit math
as ANSI SQL so the curve itself is oracle-checkable cross-engine
(``zorder_event_cells``); ``file_minmax``/``overlapping_units`` read
real parquet row-group metadata so tests measure the skipping, not
just assert the plan shape.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_interleave(cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of non-negative integral
    columns into one Morton value: bit b of column j lands at
    position b*len(cols)+j. Unrolled to bits*len(cols) shift/mask
    ops — codegen-friendly, no loop at runtime."""
    n = len(cols)
    parts = []
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            parts.append(F.shiftleft(bit, b * n + j))
    return functools.reduce(lambda a, x: a.bitwiseOR(x), parts)


def morton_interleave_sql(names: list[str], bits: int) -> str:
    """The identical interleave as ANSI SQL text (DuckDB `>>`/`&`/
    `<<`/`|` on BIGINT) — used by oracle SQL so the cross-engine hash
    check covers the exact bit math, not just row counts."""
    n = len(names)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + j})"
        for b in range(bits)
        for j, c in enumerate(names)
    ]
    return "(" + " | ".join(terms) + ")"


def morton_z2(x: Column, y: Column, bits: int = 8) -> Column:
    """2-D convenience instance: bit b of ``x`` at 2b+1, of ``y`` at
    2b (x is the higher-order dimension)."""
    return morton_interleave([y, x], bits)


def morton_z2_sql(x: str, y: str, bits: int = 8) -> str:
    return morton_interleave_sql([y, x], bits)


def file_minmax(path: str, columns: list[str]) -> list[dict[str, tuple]]:
    """Per-row-group min/max statistics of the parquet files under
    ``path`` (pyarrow metadata only — no data read). Returns one dict
    per row group: {column: (min, max)}. This is the same metadata a
    Spark/Trino/DuckDB scan consults for skipping; tests use it to
    prove a layout actually tightens the stats."""
    import glob
    import os

    import pyarrow.parquet as pq

    out: list[dict[str, tuple]] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        pf = pq.ParquetFile(f)
        if pf.metadata.num_rows == 0:
            continue
        names = [pf.metadata.schema.column(i).name
                 for i in range(pf.metadata.num_columns)]
        idx = {c: names.index(c) for c in columns}
        for rg in range(pf.metadata.num_row_groups):
            row = pf.metadata.row_group(rg)
            stats = {}
            for c in columns:
                s = row.column(idx[c]).statistics
                stats[c] = (s.min, s.max)
            out.append(stats)
    return out


def overlapping_units(
    stats: list[dict[str, tuple]], box: dict[str, tuple]
) -> int:
    """How many row groups a stats-pruning scan would have to read
    for a conjunctive range predicate ``box`` ({col: (lo, hi)})."""
    n = 0
    for rg in stats:
        if all(rg[c][0] <= hi and rg[c][1] >= lo for c, (lo, hi) in box.items()):
            n += 1
    return n


# --------------------------------------------------------------------
# Hilbert curve (the locality upgrade over Morton: no Z-shaped jumps,
# every curve step is a unit grid step, so range queries touch fewer
# runs — Delta OPTIMIZE's documented motivation for Hilbert mode)
# --------------------------------------------------------------------


def hilbert_steps(bits: int = 8):
    """The classic 2-D Hilbert xy->d transform (the public-domain
    convert routine, e.g. Hamilton 2006 / Wikipedia "Hilbert curve"),
    as a list of per-iteration named-column expression dicts — one
    dict per half-step, highest bit level s = 2^(bits-1) first. Each
    step must be applied as its OWN projection (withColumns / nested
    SELECT): the rotate references the previous x/y twice, so
    inlining all steps into one expression doubles the tree per level
    (2^bits blowup); named intermediates keep it linear. The quadrant
    value (3*rx) XOR ry is emitted as the dialect-neutral arithmetic
    identity 3*rx + (1-2*rx)*ry (DuckDB's ^ is POWER, not xor).
    Columns carried: __hx, __hy, __hd (+ per-level __rx, __ry)."""
    steps = []
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        steps.append(
            {
                "__rx": f"CASE WHEN (__hx & {s}) > 0 THEN 1 ELSE 0 END",
                "__ry": f"CASE WHEN (__hy & {s}) > 0 THEN 1 ELSE 0 END",
            }
        )
        steps.append(
            {
                "__hd": (
                    f"__hd + CAST({s} AS BIGINT) * {s} * "
                    "(3 * __rx + (1 - 2 * __rx) * __ry)"
                ),
                # rotate: only when ry == 0; reflect when also rx == 1,
                # then swap x and y
                "__hx": (
                    f"CASE WHEN __ry = 0 THEN "
                    f"(CASE WHEN __rx = 1 THEN {s} - 1 - __hy "
                    "ELSE __hy END) ELSE __hx END"
                ),
                "__hy": (
                    f"CASE WHEN __ry = 0 THEN "
                    f"(CASE WHEN __rx = 1 THEN {s} - 1 - __hx "
                    "ELSE __hx END) ELSE __hy END"
                ),
            }
        )
    return steps


def hilbert_d2(df, xcol: str, ycol: str, bits: int = 8, out: str = "hval"):
    """Append ``out`` = Hilbert curve index of (xcol, ycol) (each in
    [0, 2^bits)). Pure unrolled JVM bit/arithmetic ops across 2*bits
    narrow projections — whole-stage codegen fuses them into one
    stage, no UDF, no shuffle."""
    from pyspark.sql import functions as F

    cur = df.withColumns(
        {
            "__hx": F.col(xcol).cast("long"),
            "__hy": F.col(ycol).cast("long"),
            "__hd": F.lit(0).cast("long"),
        }
    )
    for step in hilbert_steps(bits):
        cur = cur.withColumns({k: F.expr(v) for k, v in step.items()})
    return cur.withColumn(out, F.col("__hd")).drop(
        "__hx", "__hy", "__hd", "__rx", "__ry"
    )


def hilbert_d2_sql(
    source_sql: str, xcol: str, ycol: str, bits: int, out: str = "hval"
) -> str:

    """DuckDB twin of ``hilbert_d2``: the same steps as a chain of
    nested SELECTs over ``source_sql`` (named intermediates — see
    hilbert_steps on why inlining is forbidden). The final SELECT
    exposes the source columns plus ``out``."""
    q = (
        f"(SELECT *, CAST({xcol} AS BIGINT) AS __hx, "
        f"CAST({ycol} AS BIGINT) AS __hy, "
        f"CAST(0 AS BIGINT) AS __hd FROM ({source_sql}))"
    )
    live = {"__hx", "__hy", "__hd"}
    for step in hilbert_steps(bits):
        assign = ", ".join(f"{expr} AS {name}" for name, expr in step.items())
        replaced = live & set(step)
        excl = f" EXCLUDE ({', '.join(sorted(replaced))})" if replaced else ""
        q = f"(SELECT *{excl}, {assign} FROM {q})"
        live |= set(step)
    return (
        f"SELECT * EXCLUDE (__hx, __hy, __hd, __rx, __ry), "
        f"__hd AS {out} FROM {q}"
    )
