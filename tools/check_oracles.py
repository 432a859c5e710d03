"""Local harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at a given sf dir; compares row count, column names, and an
order-insensitive value hash. Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")

from bbcnews_scraper_nlp_spark.catalog import TABLES  # noqa: E402
from bbcnews_scraper_nlp_spark.session import (  # noqa: E402
    codegen_stats,
    get_spark,
    metaspace_used_bytes,
    release_blocks,
)

import __spark_entry__ as entrymod  # noqa: E402


class NonAtomicCell(Exception):
    """A result cell the driver's pandas canonicalizer cannot hash.

    The driver sorts results through pandas ``sort_values`` before
    value-hashing; list/map/struct cells make that raise
    ``TypeError: unhashable type`` (CORRECTNESS_r05
    ``inverted_index_blocks``). Fail locally the same way the driver
    would instead of silently stringifying."""


def norm_cell(v):
    # numpy scalars (from the pandas-materialized DuckDB side) must
    # normalize to the same repr as the Python objects Spark's
    # collect() returns — np.float64.__repr__ is
    # "np.float64(1.5)" under numpy>=2.
    if hasattr(v, "item") and not isinstance(v, (str, bytes, bool, int, float)):
        try:
            v = v.item()
        except (ValueError, TypeError):  # e.g. np.ndarray of size>1
            raise NonAtomicCell(type(v).__name__)
    if v is None or v != v:  # None / NaN (pandas NULL int → NaN)
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{float(v)!r}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, _dt.datetime):
        # DuckDB DATE materializes as pandas Timestamp (midnight);
        # Spark collect() gives datetime.date — canonicalize both.
        if v.tzinfo is None and v.time() == _dt.time(0):
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict, set)):
        raise NonAtomicCell(type(v).__name__)
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            complex_cols = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct", "udt")
            ]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            release_blocks(spark)
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            # materialize through pandas exactly as the driver does:
            # DuckDB HUGEINT (e.g. SUM(BIGINT)) becomes float64 here,
            # which the fetchall() path would hide (CORRECTNESS_r05
            # pagerank_copurchase).
            pdf = con.sql(oracles[name]).df()
            dcols = list(pdf.columns)
            drows = list(pdf.itertuples(index=False, name=None))
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if complex_cols:
            problems.append(f"non-atomic spark columns {complex_cols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            try:
                hs = table_hash(scols, srows)
                hd = table_hash(dcols, drows)
            except NonAtomicCell as e:
                print(f"FAIL  {name}: non-atomic cell ({e}) — driver "
                      "canonicalizer would crash")
                n_fail += 1
                continue
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a sample diff
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {"|".join(norm_cell(r[i]) for i in order_s) for r in srows}
                set_d = {"|".join(norm_cell(r[i]) for i in order_d) for r in drows}
                for x in list(set_s - set_d)[:3]:
                    print(f"        spark-only: {x[:160]}")
                for x in list(set_d - set_s)[:3]:
                    print(f"        duck-only:  {x[:160]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    compiles, compile_s = codegen_stats(spark)
    print(
        f"codegen: {compiles} classes compiled in {compile_s:.1f}s "
        f"(cache maxEntries "
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')}); "
        f"driver Metaspace used {metaspace_used_bytes(spark) / 2**20:.0f} MiB"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
