"""Local replica of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry at a given sf dir, runs the
matching oracle_sql() in DuckDB over the same parquet, and compares
row count, sorted column names, and an order-insensitive value hash.
A query that returns while a Spark job is still active fails too.

The compare path deliberately goes THROUGH PANDAS on both sides (Spark
`toPandas()`, DuckDB `.df()`) because that is what the driver does:
it surfaces failure modes a tuple-level compare hides — list-typed
cells break `DataFrame.sort_values` (unhashable), and DuckDB HUGEINT
(int128, from SUM over integers) silently becomes float64 in pandas
while Spark returns int64, so the stringified values diverge.

Usage: python tools/crosscheck.py [--bare] [--json OUT] [sf_dir] [query ...]

--json OUT additionally records one entry per query (status, rows,
hash match, seconds) to OUT — used for the committed CROSSCHECK_SF01
artifact.

--bare builds a plain SparkSession (no engine configs), replicating the
driver's environment — catches anything that silently depends on our
session factory.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from planning_center_data_pipeline_spark.session import get_spark  # noqa: E402
from planning_center_data_pipeline_spark.sources.tables import TABLES  # noqa: E402


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(pdf):
    """Driver-style canonicalization: columns sorted by name, rows
    sorted by every column via pandas (raises on unhashable cells,
    exactly like the driver), cells stringified."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf


def value_hash(pdf) -> str:
    import numpy as np

    cells = pdf.to_numpy(dtype=object)
    lines = ["\x1f".join(norm_cell(v) for v in row) for row in cells]
    lines.sort()
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    argv = sys.argv[1:]
    bare = "--bare" in argv
    if bare:
        argv.remove("--bare")
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    record: dict[str, dict] = {}
    from bench import active_jobs

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("crosscheck-bare")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = canon(fn(spark, sf_dir).toPandas())
        except Exception as exc:
            print(f"{name:42s} FAIL spark-side: {str(exc).splitlines()[0][:160]}")
            failures += 1
            record[name] = {"status": "FAIL", "err": str(exc)[:200]}
            continue
        dt = time.time() - t0
        jobs = active_jobs(spark)
        if jobs:
            print(f"{name:42s} FAIL Spark jobs {jobs} still active after the query")
            failures += 1
            record[name] = {"status": "FAIL", "err": f"Spark jobs {jobs} still active"}
            continue
        if name not in oracles:
            print(f"{name:42s} rows={len(spdf):6d} (rows-only, {dt:.1f}s)")
            if len(spdf) == 0:
                print("   ^ WARN: zero rows")
            record[name] = {
                "status": "ROWS_ONLY" if len(spdf) else "ROWS_ONLY_EMPTY",
                "rows": len(spdf),
                "sec": round(dt, 2),
            }
            continue
        try:
            dpdf = canon(con.execute(oracles[name]).df())
        except Exception as exc:
            print(f"{name:42s} FAIL oracle-side: {str(exc).splitlines()[0][:160]}")
            failures += 1
            record[name] = {"status": "FAIL", "err": str(exc)[:200]}
            continue
        ok_rows = len(spdf) == len(dpdf)
        ok_cols = list(spdf.columns) == list(dpdf.columns)
        sh, dh = value_hash(spdf), value_hash(dpdf)
        ok_hash = sh == dh
        status = "OK " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        record[name] = {
            "status": status.strip(),
            "rows": len(spdf),
            "oracle_rows": len(dpdf),
            "hash_match": ok_hash,
            "cols_match": ok_cols,
            "sec": round(dt, 2),
        }
        print(
            f"{name:42s} {status} rows={len(spdf)}/{len(dpdf)}"
            f" cols={'=' if ok_cols else 'DIFF'} hash={'=' if ok_hash else 'DIFF'}"
            f" ({dt:.1f}s)"
        )
        if status == "FAIL":
            failures += 1
            if not ok_cols:
                print(
                    f"   spark cols: {list(spdf.columns)}\n"
                    f"   duck  cols: {list(dpdf.columns)}"
                )
            if ok_cols and not ok_hash:
                sset = sorted(
                    "\x1f".join(norm_cell(v) for v in row)
                    for row in spdf.to_numpy(dtype=object)
                )
                dset = sorted(
                    "\x1f".join(norm_cell(v) for v in row)
                    for row in dpdf.to_numpy(dtype=object)
                )
                for a, b in list(zip(sset, dset))[:500]:
                    if a != b:
                        print(f"   spark: {a[:220]}\n   duck : {b[:220]}")
                        break
    spark.stop()
    if json_out:
        import json

        Path(json_out).write_text(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(record),
                    "n_failures": failures,
                    "queries": record,
                },
                indent=1,
            )
        )
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
