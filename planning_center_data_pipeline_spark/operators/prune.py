"""Bloom-filter join pruning.

The pre-join filter pattern for selective joins at 100 TB: build a
compact bitmap from the (small) build side's keys, broadcast it inside
an expression, and drop probe-side rows that cannot match BEFORE the
shuffle.  Spark's own runtime row-level filtering
(spark.sql.optimizer.runtime.bloomFilter.enabled) does this inside the
optimizer when stats justify it; this operator is the explicit,
composable version for pipelines that pre-compute the filter once and
reuse it across many queries (e.g. an allowlist of customer keys
applied to dozens of fact scans).

Properties:
- no false negatives: every probe row whose key IS in the build set
  passes (guaranteed by construction; tested);
- deterministic: positions come from xxhash64(seed, key), so the same
  build set always yields the same bitmap and the same candidate set;
- mergeable: bitmaps of two builds OR together (bit_or aggregation is
  exactly the distributed build step).

Build: one scan of the build side -> k explode -> bit_or per 64-bit
word -> collect the (sparse) non-zero words (bounded by n_bits/64
longs, e.g. 2^18 bits = 4 KiB of words).  Probe: a pure projection —
k xxhash64 probes against a constant array literal; no shuffle, no
join, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 1 << 18  # 256 Kbit = 32 KiB bitmap, 4096 words
DEFAULT_K = 4


def build_bloom_words(
    df: DataFrame, key_col: str, n_bits: int = DEFAULT_BITS, k: int = DEFAULT_K
) -> list[int]:
    """Distributed bloom build: returns the dense word array
    (n_bits/64 int64 values).  The aggregation is a bit_or per word —
    associative/commutative, so it partial-aggregates map-side and
    merges across executors (and across separate builds)."""
    pos = ", ".join(
        f"pmod(xxhash64({seed}, {key_col}), {n_bits})" for seed in range(k)
    )
    # kept: the bitmap becomes a literal in the probe expression, so the
    # build collects its (at most n_bits/64) words
    words = (
        df.select(F.expr(f"explode(array({pos})) AS p"))
        .distinct()
        .select(
            F.expr("cast(p div 64 as int) AS w"),
            F.expr("shiftleft(1L, cast(p % 64 as int)) AS m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    dense = [0] * (n_bits // 64)
    for r in words:
        dense[r["w"]] = r["mask"]
    return dense


def bloom_probe_expr(
    words: list[int], key_col: str, n_bits: int = DEFAULT_BITS, k: int = DEFAULT_K
) -> Column:
    """Membership-test expression: true iff ALL k probe bits are set.
    The bitmap rides along as a constant array literal inside the
    expression (one F.expr parse), so the probe is a map-only filter."""
    arr = "array(" + ",".join(f"{w}L" for w in words) + ")"
    tests = []
    for seed in range(k):
        p = f"pmod(xxhash64({seed}, {key_col}), {n_bits})"
        tests.append(
            f"shiftright(element_at({arr}, cast({p} div 64 as int) + 1),"
            f" cast({p} % 64 as int)) & 1 = 1"
        )
    return F.expr(" AND ".join(tests))


def bloom_prune(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    n_bits: int = DEFAULT_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Filter `probe` down to rows whose key MIGHT be in `build`
    (superset of the semi-join, usually a small one).  Follow with the
    real join for exactness; the bloom just keeps non-matching rows
    out of the shuffle."""
    words = build_bloom_words(build, build_key, n_bits, k)
    return probe.filter(bloom_probe_expr(words, probe_key, n_bits, k))
