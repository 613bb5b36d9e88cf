"""Fast (Spark-free) guards over the oracle registry: every oracle SQL
string must parse and plan in DuckDB against the fixture schemas, and
the registry must stay internally consistent. Catches SQL typos and
schema drift in seconds instead of a full crosscheck run."""

from __future__ import annotations

import ast
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


def test_query_index_is_current():
    """docs/QUERY_INDEX.md is generated; a query added, moved, renamed or
    re-documented without regenerating it fails here."""
    from tools.query_index import OUT, render

    assert OUT.read_text() == render(), "run python tools/query_index.py"


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


def _bound_names(target):
    """The plain names an assignment target binds (`a`, `a, b`), not the
    containers it stores into (`QUERIES["x"]`)."""
    if isinstance(target, ast.Name):
        return [target]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for t in target.elts for n in _bound_names(t)]
    return []


def test_no_plan_module_binds_a_top_level_name_twice():
    """A second top-level `def`, `class` or assignment of a name silently
    replaces the first, so a shadowed oracle or constant would only show
    up as a hash mismatch in crosscheck.  Name the module and the name."""
    from planning_center_data_pipeline_spark import plans as P

    twice = []
    for path in sorted(Path(P.__file__).parent.glob("*.py")):
        seen = set()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in _bound_names(t)]
            else:
                continue
            twice += [f"{path.name}: {n}" for n in names if n in seen]
            seen.update(names)
    assert not twice, f"top-level names bound twice: {twice}"


def test_no_plan_function_opens_with_a_format_call():
    """A function whose first statement is a string literal with
    `.format(...)` applied opens with an expression, not a docstring:
    `__doc__` is None and the query's `docs/QUERY_INDEX.md` row is
    blank.  Write the values as literals."""
    from planning_center_data_pipeline_spark import plans as P

    bad = []
    for path in sorted(Path(P.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Call)
                and isinstance(first.value.func, ast.Attribute)
                and first.value.func.attr == "format"
            ):
                bad.append(f"{path.name}: {node.name}")
    assert not bad, f"functions opening with a str.format call: {bad}"


def test_no_plan_module_calls_a_range_partition_prefix_sum():
    """No plan module calls `repartitionByRange` or `spark_partition_id`.
    A prefix sum keyed on range-partition ids is right only while
    Catalyst reuses one range exchange for the offsets and the stream
    side: the range sampler draws its boundaries again on every
    execution, so two executions can split the rows differently
    (`ml_auc_rank` read three different AUCs in three sf0.1 runs in
    that form).  `operators.windows.running_sums` buckets by value
    instead."""
    from planning_center_data_pipeline_spark import plans as P

    banned = {"repartitionByRange", "spark_partition_id"}
    bad = []
    for path in sorted(Path(P.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in banned:
                bad.append(f"{path.name}:{node.lineno}: {name}")
    assert not bad, f"range-partition prefix sums in plan modules: {bad}"


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
