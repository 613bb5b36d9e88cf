"""Fixed-round iterations (power iteration, PageRank, label propagation)
emitted as one chained-CTE SQL statement."""

from __future__ import annotations

from pyspark.sql import DataFrame


def unrolled_sql(
    first: str, step: str, n: int, out: str, /, **dfs: DataFrame
) -> DataFrame:
    """``WITH r0 AS (first), r1 AS (step), ..., rn AS (step) out``.

    In `step` and `out`, ``{prev}`` names the previous round (the last
    one in `out`).  Every other ``{name}`` binds the DataFrame
    ``dfs[name]`` through ``spark.sql(text, **dfs)``, which registers
    it under a unique view name and drops that view once the statement
    is analyzed, so no build leaves a session-global name behind or
    reads one a concurrent build rebound.  Literal braces are doubled.

    Why one statement: each DataFrame operation analyzes its whole
    subtree eagerly, so n rounds written as chained DataFrame calls pay
    O(n^2) Catalyst analysis plus a few py4j round-trips per operation.
    At sf0.1 that was about 1.5 of 2.6 s (ev_markov_stationary) and 1.6
    of 3.25 s (graph_pagerank_parts).  The SQL text is parsed and
    analyzed once.  Each round reads the previous one once, so Spark
    inlines the CTEs and the physical plan is that of the chained calls.
    """
    spark = next(iter(dfs.values())).sparkSession
    ctes = [f"r0 AS ({first})"]
    for i in range(1, n + 1):
        ctes.append(f"r{i} AS ({step.replace('{prev}', f'r{i - 1}')})")
    tail = out.replace("{prev}", f"r{n}")
    return spark.sql("WITH " + ", ".join(ctes) + " " + tail, **dfs)
