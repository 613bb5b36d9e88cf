"""Similarity search over embedding columns (SURVEY.md §2.10).

Two paths:
- `brute_force_topk`: exact cosine top-k. The query set is broadcast;
  the corpus side streams — O(corpus x queries) but embarrassingly
  parallel, no shuffle until the per-query top-k window.
- `lsh_ann_topk`: sign-random-projection LSH — bucket the corpus by a
  b-bit hyperplane signature and search only the query's bucket. This
  is the 100 TB path: bucket count scales the search space down
  exponentially; recall tuned by b and multi-probe.

Numeric determinism: embeddings are quantized to scaled int64
(round(x * 10^6)) before any arithmetic. Dot products and norms are
exact integer sums — results are bit-identical at any parallelism and
reproducible in any engine (the DuckDB oracle mirrors the quantized
computation). Quantization error ~1e-6 per component is far below any
meaningful similarity resolution.

All vector math is expression-level (aggregate/zip_with over arrays) —
JVM codegen, no Python UDFs in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor

# Misuse ceilings for the Pandas kernels (round-7 VERDICT item 8, the
# jw_micro_pairs contract): Python/numpy kernels must only ever see
# bounded work units, and the bound is enforced at the kernel, not
# trusted to the caller.
MAX_BROADCAST_QUERIES = 4096  # GEMM scorer's driver-collected probe side
MAX_VECS_PER_BLOCK = 8192  # within-block n^2 matmul ceiling

Q_SCALE = 1_000_000


def quantized(vec: Column) -> Column:
    """array<float> -> array<bigint> with round(x * 1e6)."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * Q_SCALE).cast("bigint"))


def label_centroids(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact per-label centroids of an embeddings frame
    (label, vec_id, embedding), kept as integer sums, so that
    `point_centroid_dist_q` and `centroid_pair_dist` take one sqrt of
    an exact integer.

    Returns `q(label, vec_id, dim, v)`, one row per quantized
    component, and `cent(label, dim, n, s, ssq)`: the label's point
    count, sum and sum of squares (decimal(38,0)) of dim `dim`.  The
    centroid is s / (n * Q_SCALE).  A caller that does not read `ssq`
    gets its aggregate pruned by the optimizer.  Scale shape: one
    |E| x dims explode and one (label, dim) rollup."""
    q = e.select(
        "label",
        "vec_id",
        F.posexplode(quantized(F.col("embedding"))).alias("dim", "v"),
    )
    cent = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("ssq"),
    )
    return q, cent


def point_centroid_dist_q(q: DataFrame, cent: DataFrame) -> DataFrame:
    """(label, d_q) per point of `label_centroids`: the Euclidean
    distance to its own label's centroid in original units,
    micro-quantized, d_q = round(sqrt(sum_d (v*n - s)^2) / (n * Q_SCALE)
    * 1e6).  The squared sum is exact, so the one sqrt and the rounding
    give the same bigint in any engine and order; callers sum d_q
    order-free.  Scale shape: one point-level join on (label, dim)."""
    dv = F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s")
    return (
        q.join(cent, ["label", "dim"])
        .select("label", "vec_id", "n", (dv * dv).alias("d2"))
        .groupBy("label", "vec_id")
        .agg(F.min("n").alias("n"), F.sum("d2").alias("d2sum"))
        .select(
            "label",
            F.expr(
                "CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(n AS DOUBLE) * {Q_SCALE}) * 1e6) AS BIGINT)"
            ).alias("d_q"),
        )
    )


def centroid_pair_dist(cent: DataFrame) -> DataFrame:
    """(la, lb, cdist) for every ordered pair of distinct labels of
    `label_centroids`: the distance between their centroids,
    sqrt(sum_d (s_a n_b - s_b n_a)^2) / (n_a n_b Q_SCALE).  The squared
    sum is exact and symmetric, so cdist(a, b) == cdist(b, a) bit for
    bit.  Scale shape: a labels^2 x dims self-join of the rollup."""
    ca, cb = cent.alias("ca"), cent.alias("cb")
    ds = (
        F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
        - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
    )
    return (
        ca.join(
            cb,
            (F.col("ca.dim") == F.col("cb.dim"))
            & (F.col("ca.label") != F.col("cb.label")),
        )
        .select(
            F.col("ca.label").alias("la"),
            F.col("cb.label").alias("lb"),
            (ds * ds).alias("d2"),
            F.col("ca.n").alias("na"),
            F.col("cb.n").alias("nb"),
        )
        .groupBy("la", "lb")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.sum("d2").alias("d2sum"),
        )
        .select(
            "la",
            "lb",
            F.expr(
                "SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * {Q_SCALE})"
            ).alias("cdist"),
        )
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm_sq_q(a: Column) -> Column:
    return dot_q(a, a)


def cosine_q(a: Column, b: Column) -> Column:
    """Cosine over quantized vectors: exact int dot, deterministic
    double sqrt/divide — written left-associated to match the oracle's
    `dot / sqrt(n1) / sqrt(n2)`.

    NOTE: recomputes both norms per invocation — fine for one-shot
    scoring, but in pairwise joins precompute `norm_sq_q` once per
    vector and use `cosine_from` (higher-order aggregates are
    interpreted, not codegen'd; per-pair norm recompute measured 159s
    vs 6s at sf0.1)."""
    return (
        dot_q(a, b).cast("double")
        / F.sqrt(norm_sq_q(a).cast("double"))
        / F.sqrt(norm_sq_q(b).cast("double"))
    )


def cosine_from(dot: Column, nsq_a: Column, nsq_b: Column) -> Column:
    """Cosine from a precomputed int dot and per-vector squared norms;
    same left-associated float ops as `cosine_q` / the oracle."""
    return (
        dot.cast("double")
        / F.sqrt(nsq_a.cast("double"))
        / F.sqrt(nsq_b.cast("double"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.
    Returns (query_id, neighbor_id, cosine, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_sq_q(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_sq_q(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from(
                dot_q(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# --- sign-random-projection LSH ---------------------------------------------

def _hyperplane_sign(bit: int, dim: int) -> int:
    """Deterministic pseudo-random sign for hyperplane `bit`,
    component `dim` — sha256-derived so it is stable across runs,
    machines, and engines."""
    h = hashlib.sha256(f"srp:{bit}:{dim}".encode()).digest()
    return 1 if h[0] & 1 else -1


def srp_signature(vec_col: str, n_bits: int, dims: int, bit_offset: int = 0) -> Column:
    """n_bits-bit sign-random-projection bucket id of a quantized
    vector column (referenced by NAME): bit j = sign(<v, h_{bit_offset+j}>)
    with fixed +-1 hyperplanes.  `bit_offset` selects a disjoint
    hyperplane family so multiple independent LSH bands can share one
    deterministic sign table.  Built as ONE SQL string — the equivalent
    nested-Column form cost seconds of driver-side py4j round-trips
    (n_bits x dims literal objects) before Spark saw the plan."""
    terms = []
    for j in range(n_bits):
        signs = ",".join(
            f"{_hyperplane_sign(bit_offset + j, i)}L" for i in range(dims)
        )
        proj = (
            f"aggregate(zip_with({vec_col}, array({signs}),"
            f" (x, y) -> x * y), 0L, (a, x) -> a + x)"
        )
        terms.append(f"shiftleft(cast({proj} >= 0 as bigint), {j})")
    return F.expr(" + ".join(terms))


def _probe_masks(n_bits: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius over n_bits (multi-probe)."""
    return [m for m in range(1 << n_bits) if bin(m).count("1") <= radius]


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_bits: int = 8,
    dims: int = 64,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: only corpus vectors within Hamming distance
    `probe_radius` of the query's SRP bucket are scored.
    Returns (query_id, neighbor_id, cosine, rank).

    At scale the bucket join replaces the cross join: corpus is hashed
    once (reusable, materializable); each query multi-probes its bucket
    plus Hamming-adjacent ones (sum_{i<=r} C(n_bits, i) probes). The
    probe expansion happens on the (small, broadcast) query side, so
    the corpus is still scanned once with an equi-join on `bucket`."""
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv")
        )
        .withColumn("cn", norm_sq_q(F.col("cv")))
        .withColumn("bucket", srp_signature("cv", n_bits, dims))
    )
    masks = F.array(*[F.lit(m).cast("long") for m in _probe_masks(n_bits, probe_radius)])
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv")
        )
        .withColumn("qn", norm_sq_q(F.col("qv")))
        .withColumn("home", srp_signature("qv", n_bits, dims))
        .withColumn("bucket", F.explode(F.transform(masks, lambda m: F.col("home").bitwiseXOR(m))))
        .drop("home")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from(
                dot_q(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to
    their nearest coarse centroid (the inverted file); each query
    scores only the `n_probe` centroid cells nearest to it.
    Returns (query_id, neighbor_id, cosine, rank).

    Centroid choice here is deterministic-simple (the n_centroids
    lowest-id corpus vectors) so results are reproducible without an
    iterative k-means job; at scale you'd train centroids once with
    `pyspark.ml.clustering.KMeans` and feed them in — the
    assign/probe/score dataflow below is unchanged.

    Scale shape: assignment is a broadcast cross-score against
    n_centroids rows (linear, no shuffle); the probe join shuffles the
    corpus ONCE on cell id; per-query work is |cell| * n_probe instead
    of |corpus|.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_sq_q(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_sq_q(F.col("qv")))
    cents = (
        c.orderBy("neighbor_id")
        .limit(n_centroids)
        .select(
            F.col("neighbor_id").alias("centroid_id"),
            F.col("cv").alias("centv"),
            F.col("cn").alias("centn"),
        )
    )
    # Inverted file: nearest centroid per corpus vector (argmax cosine,
    # centroid_id as deterministic tie-break).
    assign = (
        c.crossJoin(F.broadcast(cents))
        .groupBy("neighbor_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    cosine_from(
                        dot_q(F.col("cv"), F.col("centv")),
                        F.col("cn"),
                        F.col("centn"),
                    ).alias("cos"),
                    (-F.col("centroid_id")).alias("tb"),
                ),
            ).alias("cell")
        )
    )
    c_cells = c.join(assign, "neighbor_id")
    # Probe list: top n_probe centroids per query.
    qw = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.col("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "qn",
            F.col("centroid_id"),
            cosine_from(
                dot_q(F.col("qv"), F.col("centv")), F.col("qn"), F.col("centn")
            ).alias("qcos"),
        )
        .withColumn("pr", F.row_number().over(qw))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "qv", "qn", F.col("centroid_id").alias("cell"))
    )
    scored = (
        c_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from(
                dot_q(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def near_dup_pairs_by_block(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key
    (label, LSH bucket, shard...). Returns (id_1, id_2, cosine)."""
    v = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col),
        quantized(F.col(vec_col)).alias("qv"),
    ).withColumn("nsq", norm_sq_q(F.col("qv")))
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            cosine_from(
                dot_q(F.col("a.qv"), F.col("b.qv")),
                F.col("a.nsq"),
                F.col("b.nsq"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def near_dup_pairs_lsh_rescore(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bands: int = 4,
    bits_per_band: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Near-duplicate pairs at 100 TB shape: SRP-LSH banded prefilter
    + exact integer rescore.  Each vector gets `n_bands` independent
    sign-random-projection signatures (disjoint deterministic
    hyperplane families via `bit_offset`); a pair is a CANDIDATE iff it
    collides in at least one (band, bucket) — the classic banded LSH
    equi-join, never an all-pairs or per-block quadratic over the raw
    corpus.  Candidates are then rescored with the exact quantized
    cosine and filtered at `threshold`.

    Unlike the exact blocked paths (`near_dup_pairs_by_block*`, which
    are the verification twins), the candidate set — hence the result —
    is recall<1 by construction, but fully DETERMINISTIC: hyperplane
    signs are sha256-derived, so the same pairs come out on any engine
    and the whole pipeline is hash-checkable against a SQL oracle that
    mirrors the sign table.

    Scale shape: two narrow shuffles (explode to (id, band, bucket) and
    the bucket self-join) plus one candidate-keyed rescore join.  Within
    a bucket cost is O(|bucket|^2) — tuned by bits_per_band, exactly the
    MinHash-LSH banding trade-off, and independent of corpus size for
    well-spread buckets.  Returns (id_1, id_2, cosine).
    """
    # parallelism floor: the signature stage does n_bands x bits x dims
    # multiply-adds per row BEFORE the first shuffle; a single-file
    # corpus scans as one partition and serializes it (same wall as
    # operators/dedup.shingle_table — no-op at real scale)
    df = cpu_floor(df, id_col, cap=16)
    v = df.select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("qv")
    ).withColumn("nsq", norm_sq_q(F.col("qv")))
    sig = v.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("band"),
                        srp_signature(
                            "qv", bits_per_band, dims, bit_offset=k * bits_per_band
                        ).alias("bucket"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("vid", "bb.band", "bb.bucket")
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("id_1"), F.col("b.vid").alias("id_2"))
        .distinct()
    )
    v1 = v.select(F.col("vid").alias("id_1"), F.col("qv").alias("qv1"), F.col("nsq").alias("n1"))
    v2 = v.select(F.col("vid").alias("id_2"), F.col("qv").alias("qv2"), F.col("nsq").alias("n2"))
    return (
        cand.join(v1, "id_1")
        .join(v2, "id_2")
        .select(
            "id_1",
            "id_2",
            cosine_from(
                dot_q(F.col("qv1"), F.col("qv2")), F.col("n1"), F.col("n2")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def srp_sign_table_sql_rows(n_bits: int, dims: int) -> str:
    """The deterministic hyperplane sign table as SQL VALUES rows
    `(bit, dim, sgn)` — lets a DuckDB oracle mirror `srp_signature`
    exactly (same sha256-derived signs, same bucket ids)."""
    rows = []
    for bit in range(n_bits):
        for dim in range(dims):
            rows.append(f"({bit},{dim},{_hyperplane_sign(bit, dim)})")
    return ",".join(rows)


def kmeans_lloyd_step(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """One Lloyd iteration of k-means over an embedding column:
    assign every vector to its nearest seed centroid (max cosine,
    centroid_id tie-break — the same deterministic assignment as
    `ivf_ann_topk`), then recompute each cell's centroid as the exact
    mean of its members' quantized components.

    Seeds are the n_centroids lowest-id vectors, so a fixed number of
    iterations is fully deterministic and SQL-mirrorable; a production
    training loop is this operator iterated to convergence (centroid
    shift under epsilon), with the assignment broadcast staying
    O(n_centroids) per row and the update a single shuffle on cell id.

    Returns (cell, dim, centroid, n_members) — the updated centroids
    flattened to one row per dimension.
    """
    c = corpus.select(
        F.col(id_col).alias("vid"), quantized(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_sq_q(F.col("cv")))
    cents = (
        c.orderBy("vid")
        .limit(n_centroids)
        .select(
            F.col("vid").alias("centroid_id"),
            F.col("cv").alias("centv"),
            F.col("cn").alias("centn"),
        )
    )
    assign = (
        c.crossJoin(F.broadcast(cents))
        .groupBy("vid")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    cosine_from(
                        dot_q(F.col("cv"), F.col("centv")),
                        F.col("cn"),
                        F.col("centn"),
                    ).alias("cos"),
                    (-F.col("centroid_id")).alias("tb"),
                ),
            ).alias("cell")
        )
    )
    members = c.join(assign, "vid").select(
        "cell", F.posexplode(F.col("cv")).alias("dim", "v")
    )
    return (
        members.groupBy("cell", F.col("dim").cast("long").alias("dim"))
        .agg(
            (F.sum("v").cast("double") / F.count(F.lit(1)) / Q_SCALE).alias(
                "centroid"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("cell", "dim")
    )


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    parallelism: int | None = 8,
    per_batch_topk: int | None = None,
    carry_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Arrow-vectorized twin of `brute_force_topk`: the corpus streams
    through `mapInPandas` and each batch scores against the (small,
    driver-collected) query matrix with one int64 numpy matmul —
    the Pandas-UDF path the expression version is benchmarked against.

    `per_batch_topk=t` (use t=k) additionally prunes EACH BATCH's
    candidates to the rows with cosine >= the batch's t-th largest per
    query — keeping ALL boundary ties, so the global top-k (a subset of
    every batch's cosine top-k for that query) survives and the final
    window stays exact.  Shuffle drops from |corpus| x |queries| rows
    to ~batches x queries x t: this is what makes the GEMM scorer the
    scale path for kNN classification, not just a faster kernel.

    `carry_cols={'label': 'long', ...}` rides extra corpus columns
    along with each emitted neighbor row — at scale this beats a
    post-hoc corpus re-scan + join to fetch per-neighbor attributes
    (the attribute is bytes; the embedding it would otherwise re-read
    is the expensive part).

    Exactness contract: quantized int64 dot products (numpy matmul
    accumulates in int64 — no float drift), then cosine assembled in
    the SAME left-associated op order as `cosine_from`
    (dot / sqrt(qn) / sqrt(cn)), so results are bit-identical to the
    expression path and hash-match the same SQL oracle.

    Scale shape: queries ship to every worker like a broadcast join
    side; per-batch work is an (batch x dims) @ (dims x m) matmul, and
    only (query, neighbor, cosine) rows shuffle into the final top-k
    window — never the vectors."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    # misuse guard (round-7 VERDICT item 8, same contract as
    # fuzzy.jw_micro_pairs): the query side is driver-collected and
    # shipped to every worker — an unbounded query side is a disguised
    # all-pairs GEMM that OOMs the driver first.  LIMIT+1 bounds the
    # collect itself, not just the post-hoc check.  kept at build: the
    # query matrix is a closure constant of the scoring UDF.
    q_rows = (
        queries.select(
            F.col(id_col).alias("qid"), quantized(F.col(vec_col)).alias("qv")
        )
        .orderBy("qid")
        .limit(MAX_BROADCAST_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > MAX_BROADCAST_QUERIES:
        raise ValueError(
            "brute_force_topk_pandas: query side exceeds "
            f"MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}; the GEMM "
            "scorer broadcasts the query matrix to every worker, so an "
            "unbounded query side is a disguised all-pairs scan — "
            "shrink/filter the probe set, or swap the sides."
        )
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["qv"] for r in q_rows], dtype=np.int64)  # m x d
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1).astype(np.float64))

    carry = dict(carry_cols or {})
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantized(F.col(vec_col)).alias("cv"),
        *[F.col(name) for name in carry],
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if b.empty:
                continue
            nid = b["neighbor_id"].to_numpy(dtype=np.int64)
            cm = np.array(list(b["cv"]), dtype=np.int64)  # n x d
            dots = cm @ q_mat.T  # n x m, exact int64
            cn = np.sqrt((cm * cm).sum(axis=1).astype(np.float64))
            # (dot / sqrt(qn)) / sqrt(cn): same associativity as
            # cosine_from(dot, qn, cn) in the expression path
            cos = (dots.astype(np.float64) / q_norm[None, :]) / cn[:, None]
            n, m = cos.shape
            if per_batch_topk and n > per_batch_topk:
                # mask self-matches so they can't occupy a top slot;
                # masked rows that still slip through a tie at -inf are
                # removed by the neighbor != query filter downstream
                cos = np.where(nid[:, None] == q_ids[None, :], -np.inf, cos)
                t = per_batch_topk
                kth = np.partition(cos, n - t, axis=0)[n - t]
                rows, cols = np.nonzero(cos >= kth[None, :])
                out = {
                    "query_id": q_ids[cols],
                    "neighbor_id": nid[rows],
                    "cosine": cos[rows, cols],
                }
                for name in carry:
                    out[name] = b[name].to_numpy()[rows]
                yield pd.DataFrame(out)
            else:
                out = {
                    "query_id": np.repeat(q_ids[None, :], n, axis=0).ravel(),
                    "neighbor_id": np.repeat(nid, m),
                    "cosine": cos.ravel(),
                }
                for name in carry:
                    out[name] = np.repeat(b[name].to_numpy(), m)
                yield pd.DataFrame(out)

    if parallelism:
        c = c.repartition(parallelism)
    out_schema = "query_id long, neighbor_id long, cosine double" + "".join(
        f", {name} {dtype}" for name, dtype in carry.items()
    )
    scored = c.mapInPandas(score, schema=out_schema).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def near_dup_pairs_by_block_pandas(
    df: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Grouped-numpy twin of `near_dup_pairs_by_block`: one
    applyInPandas per blocking key computes the full within-block
    upper-triangle with a single int64 matmul instead of a self-join
    of interpreted per-pair dot expressions.

    Exactness: int64 matmul dots, cosine assembled in `cosine_from`'s
    op order with ids sorted ascending so id_1 < id_2 matches the join
    formulation — bit-identical output, same SQL oracle.

    Scale note: each block must fit one worker's memory (n_block x dims
    int64 plus an n_block^2 dot matrix) — the blocking key granularity
    is the lever, exactly the constraint the join version shares in
    shuffle form. O(n_block^2) arithmetic runs at BLAS speed instead of
    per-row expression interpretation."""
    import numpy as np
    import pandas as pd

    # captured by VALUE so the ceiling ships inside the pickled
    # closure (a module-global reference would re-resolve on the
    # worker and ignore driver-side overrides)
    cap = MAX_VECS_PER_BLOCK

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        n = len(pdf)
        if n > cap:
            # misuse guard (round-7 VERDICT item 8): within-block cost
            # is n^2 — a degenerate blocking key is a disguised cross
            # product, the same failure jw_micro_pairs rejects.
            raise ValueError(
                f"near_dup_pairs_by_block_pandas: block holds {n} vectors "
                f"(> MAX_VECS_PER_BLOCK={cap}); the within-"
                "block matmul is O(n^2) — refine the blocking key."
            )
        if n < 2:
            return pd.DataFrame({"id_1": [], "id_2": [], "cosine": []}).astype(
                {"id_1": "int64", "id_2": "int64", "cosine": "float64"}
            )
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        m = np.array(list(pdf["qv"]), dtype=np.int64)
        dots = m @ m.T
        norms = np.sqrt(np.diag(dots).astype(np.float64))
        i, j = np.triu_indices(n, k=1)
        # (dot / sqrt(nsq_1)) / sqrt(nsq_2), id_1 < id_2 — same
        # associativity and operand roles as the join formulation
        cos = (dots[i, j].astype(np.float64) / norms[i]) / norms[j]
        keep = cos >= threshold
        return pd.DataFrame(
            {"id_1": ids[i[keep]], "id_2": ids[j[keep]], "cosine": cos[keep]}
        )

    v = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("vid"),
        quantized(F.col(vec_col)).alias("qv"),
    )
    return v.groupBy("blk").applyInPandas(
        per_block, schema="id_1 long, id_2 long, cosine double"
    )


def gram_matrix_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Distributed exact Gram matrix G[i,j] = Σ_v v_i·v_j over all
    vectors — the one-pass building block for covariance/PCA over an
    embedding corpus.

    Plan shape (the 100 TB pattern): quantize Spark-side (rounding
    parity with the SQL oracle), one int64 matmul per Arrow batch in
    `mapInPandas` (BLAS, no per-element expression cost), emit each
    partition's dims x dims partial as rows, then a built-in sum over
    (i, j).  Communication is O(partitions x dims^2) — independent of
    row count — and the final agg is dims^2 = 4096 keys, so the reduce
    side is trivially small at any scale.  Exact: int64 products
    (|q| <= 1e6 -> products <= 1e12; 2^63 holds ~9e6 row-partials per
    partition) summed associatively, so any partitioning yields the
    identical integer matrix."""
    import numpy as np
    import pandas as pd

    idx_i, idx_j = np.indices((dims, dims))
    flat_i = idx_i.ravel().astype("int32")
    flat_j = idx_j.ravel().astype("int32")

    def partial_gram(batches):
        acc = np.zeros((dims, dims), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(list(pdf["qv"]), dtype=np.int64)
            acc += q.T @ q
            seen = True
        if seen:
            yield pd.DataFrame(
                {"i": flat_i, "j": flat_j, "partial": acc.ravel()}
            )

    v = df.select(quantized(F.col(vec_col)).alias("qv"))
    partials = v.mapInPandas(partial_gram, schema="i int, j int, partial long")
    return partials.groupBy("i", "j").agg(F.sum("partial").alias("gram_q"))


def gram_matrix_exact_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Arrow-native twin of `gram_matrix_exact`: `mapInArrow` hands the
    partition over as RecordBatches, so the quantized list column goes
    straight from Arrow buffers to a (n, dims) int64 ndarray via
    flatten+reshape — no pandas Series of per-row objects in between.
    Identical integer output (same Spark-side quantization, same int64
    matmul), same SQL oracle; the conversion overhead is what differs."""
    import numpy as np
    import pyarrow as pa

    idx_i, idx_j = np.indices((dims, dims))
    flat_i = pa.array(idx_i.ravel(), type=pa.int32())
    flat_j = pa.array(idx_j.ravel(), type=pa.int32())

    def partial_gram(batches):
        acc = np.zeros((dims, dims), dtype=np.int64)
        seen = False
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = batch.column(0)
            # values buffer of the list column, reshaped (n, dims) —
            # valid because every embedding is exactly `dims` long
            q = col.flatten().to_numpy(zero_copy_only=False).reshape(n, dims)
            acc += q.T @ q
            seen = True
        if seen:
            yield pa.RecordBatch.from_arrays(
                [flat_i, flat_j, pa.array(acc.ravel(), type=pa.int64())],
                names=["i", "j", "partial"],
            )

    v = df.select(quantized(F.col(vec_col)).alias("qv"))
    partials = v.mapInArrow(partial_gram, schema="i int, j int, partial long")
    return partials.groupBy("i", "j").agg(F.sum("partial").alias("gram_q"))
