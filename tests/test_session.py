"""Session defaults: one local thread per usable CPU, and JVM case
mapping (ICU off), which is both cheaper to start and the one that
agrees with DuckDB, the oracle engine."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import duckdb


def test_default_parallelism_fits_the_host():
    """With SPARK_GRAFT_CPUS unset, a fresh session runs local[N] for
    the N CPUs this process may run on."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = (
        "from planning_center_data_pipeline_spark.session import get_spark\n"
        "s = get_spark()\n"
        "print(s.sparkContext.master)\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    assert out.split() == [f"local[{len(os.sched_getaffinity(0))}]"]


def test_icu_case_mapping_off(spark):
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


def test_lower_upper_match_duckdb(spark):
    # Unicode 14-16 letters, where ICU's mapping differs from the JVM's
    # and DuckDB's, plus ASCII
    samples = ["\ua7c0", "\u2c2f", "\u019b", "\u0264", "\u1c89", "Hello, World 0-9 AZ az"]
    got = spark.createDataFrame([(s,) for s in samples], "s string").selectExpr(
        "s", "lower(s) AS l", "upper(s) AS u"
    ).collect()
    con = duckdb.connect()
    for r in got:
        want = con.execute("SELECT lower(?), upper(?)", [r.s, r.s]).fetchone()
        assert (r.l, r.u) == want, hex(ord(r.s[0]))


def test_lower_upper_special_casing_pinned(spark):
    """Where JVM case mapping applies Unicode special casing (and DuckDB
    does not), the current output is pinned."""
    samples = ["ß", "İ", "ΣΑΣ ΟΔΟΣ"]
    got = {
        r.s: (r.l, r.u)
        for r in spark.createDataFrame([(s,) for s in samples], "s string")
        .selectExpr("s", "lower(s) AS l", "upper(s) AS u")
        .collect()
    }
    assert got == {
        "ß": ("ß", "SS"),
        "İ": ("i\u0307", "İ"),
        "ΣΑΣ ΟΔΟΣ": ("σας οδος", "ΣΑΣ ΟΔΟΣ"),
    }
