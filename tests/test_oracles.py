"""Fast (Spark-free) guards over the oracle registry: every oracle SQL
string must parse and plan in DuckDB against the fixture schemas, and
the registry must stay internally consistent. Catches SQL typos and
schema drift in seconds instead of a full crosscheck run."""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

from planning_center_data_pipeline_spark.plans import collect_all
from planning_center_data_pipeline_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.fixture(scope="module")
def con_sf001():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '/root/testdata/sf0.01/{t}.parquet'"
        )
    return c


def test_every_oracle_plans_in_duckdb(con):
    _, oracles = collect_all()
    bad = []
    for name, sql in oracles.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:
            bad.append((name, str(exc).splitlines()[0]))
    assert not bad, bad


def test_registry_consistency():
    queries, oracles = collect_all()
    # oracle keys must be a subset of query names (collect_all asserts
    # this too — keep the guarantee visible in the test suite)
    assert set(oracles) <= set(queries)
    # every callable takes (spark, sf_dir)
    import inspect

    for name, fn in queries.items():
        assert len(inspect.signature(fn).parameters) == 2, name


def test_bench_warmup_and_headline_names_exist():
    """bench.py references queries by NAME (warmup list, headline
    subset); a renamed query would silently drop out of the warmup or
    the driver's stdout line.  Pin every referenced name to the
    registry."""
    import re

    queries, _ = collect_all()
    src = Path(__file__).resolve().parent.parent / "bench.py"
    text = src.read_text()
    # headline list + warmup list entries are quoted names
    referenced = set(re.findall(r'"([a-z0-9_]+)"', text))
    known = {n for n in referenced if n in queries}
    # every name that LOOKS like a query (family prefix) must resolve.
    # Prefixes are DERIVED from the registry (round-10 ADVICE: the old
    # literal tuple omitted newer families — ml_, ord_, sup_, rank_ —
    # so a dangling reference to one of those would not be caught).
    prefixes = tuple({n.split("_", 1)[0] + "_" for n in queries if "_" in n})
    lookalike = {
        n
        for n in referenced
        if n.startswith(prefixes) and not n.startswith("spark.")
    }
    missing = lookalike - set(queries)
    assert not missing, f"bench.py references unknown queries: {missing}"
    assert len(known) >= 50  # headline + warmup really were scanned


def test_rotation_sample_sets_are_consistent():
    """The registry is a module round-robin discovered from the package:
    every plan module contributes at least one query, every oracled
    query precedes every rows-only one, and the first k entries (k =
    modules with oracles) come from k distinct modules, so any prefix
    spans every operator family."""
    import importlib

    from planning_center_data_pipeline_spark import plans as P

    queries, oracles = collect_all()
    stems = sorted(
        p.stem for p in Path(P.__file__).parent.glob("*.py") if p.stem != "__init__"
    )
    owner = {}
    for stem in stems:
        mod = importlib.import_module(f"{P.__name__}.{stem}")
        assert mod.QUERIES, f"plans/{stem}.py contributes no query"
        owner.update(dict.fromkeys(mod.QUERIES, stem))
    assert set(owner) == set(queries)

    names = list(queries)
    assert all(n in oracles for n in names[: len(oracles)])
    assert not any(n in oracles for n in names[len(oracles) :])

    k = len({owner[n] for n in oracles})
    assert len({owner[n] for n in names[:k]}) == k


def test_no_oracle_is_vacuous_at_sf001(con_sf001):
    """A 0-row result hash-matches trivially — the oracle proves
    nothing.  Every oracled query must return at least one row at the
    driver's correctness SF (measured: all 382 non-empty; ~50 s,
    DuckDB only)."""
    _, oracles = collect_all()
    empty = []
    for name, sql in oracles.items():
        if not con_sf001.execute(sql).fetchall():
            empty.append(name)
    assert not empty, f"vacuous oracles at sf0.01: {empty}"
