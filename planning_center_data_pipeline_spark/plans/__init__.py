"""Named end-to-end query plans exposed through __spark_entry__.py.

Each submodule contributes `QUERIES: dict[name -> fn(spark, sf_dir) -> DataFrame]`
and `ORACLES: dict[name -> ANSI SQL str]` (DuckDB-runnable over the
pre-registered test-table views).  Column names are aliased identically
on both sides — the driver sorts columns by name before hashing.
`collect_all()` discovers the submodules, so a new module registers
itself by defining both dicts.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from itertools import chain, zip_longest

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def collect_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Aggregate queries + oracles from every plan module.

    Modules are imported in sorted name order and their queries
    interleaved round-robin, every module's oracle-backed queries
    before any rows-only one, so any prefix of the result spans every
    operator family and the order depends only on this package.
    """
    modules = [
        importlib.import_module(f"{__name__}.{name}")
        for name in sorted(m.name for m in pkgutil.iter_modules(__path__))
    ]
    by_name: dict[str, QueryFn] = {}
    owner: dict[str, str] = {}
    oracles: dict[str, str] = {}
    for mod in modules:
        if not hasattr(mod, "QUERIES") or not hasattr(mod, "ORACLES"):
            raise ValueError(f"{mod.__name__} must define QUERIES and ORACLES")
        # duplicate names would silently shadow each other — fail loudly
        # (not assert: must survive python -O)
        for n, fn in mod.QUERIES.items():
            if n in owner:
                raise ValueError(
                    f"duplicate query name {n!r} in {mod.__name__} and {owner[n]}"
                )
            owner[n] = mod.__name__
            by_name[n] = fn
        oracles.update(mod.ORACLES)
    missing = set(oracles) - set(by_name)
    if missing:
        raise ValueError(f"oracle without query: {missing}")

    tiers = (
        [[n for n in mod.QUERIES if n in oracles] for mod in modules],
        [[n for n in mod.QUERIES if n not in oracles] for mod in modules],
    )
    order = chain.from_iterable(
        chain.from_iterable(zip_longest(*tier)) for tier in tiers
    )
    queries = {n: by_name[n] for n in order if n is not None}
    return queries, oracles
