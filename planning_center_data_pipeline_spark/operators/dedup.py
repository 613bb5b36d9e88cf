"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.10):
exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

Design for 100 TB:
- Exact dedup is one hash-shuffle on the content key (or its md5 to
  keep shuffle rows narrow).
- MinHash/LSH never materializes the O(n^2) pair space: docs are
  bucketed by (band_id, band_hash) and only within-bucket pairs are
  generated — the standard shingle→minhash→band→bucket-join pipeline.
- SimHash blocks on 16-bit signature chunks (any pair within Hamming
  distance 3 of a 64-bit signature shares at least one of 4 chunks).
- All hash functions are deterministic Spark built-ins (xxhash64 with
  per-row constant seeds), so results are reproducible at any
  parallelism and every stage is JVM-side codegen — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.operators.textstats import (
    normalize_text,
    tokens,
)


# --- exact dedup ------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    key: Column,
    id_col: str,
    tie_break: list[Column] | None = None,
) -> DataFrame:
    """Keep exactly one row per content key, deterministically (lowest
    id wins) — unlike dropDuplicates, whose survivor is partition-order
    dependent.  One shuffle on the key."""
    order = tie_break or [F.col(id_col)]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- shingling --------------------------------------------------------------

def shingles(tok_array: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a token ARRAY column.

    IMPORTANT: pass a materialized array column (project
    `tokens(normalize_text(...))` into its own select first), not the
    tokenizing expression itself — expressions referenced inside a
    higher-order-function lambda are re-evaluated per element (no
    common-subexpression elimination across lambda boundaries), which
    turns one regex tokenization per row into one per shingle
    (~15x slowdown measured at sf0.1)."""
    n = F.size(tok_array)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tok_array, i + 1, k))
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", tok_array))
    )


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, [extra...], shingle) edge table — the input to MinHash and
    exact Jaccard. Distinct per doc; extra_cols carry blocking keys.

    Two-step plan on purpose: tokenize once into an array column, then
    shingle from the array (see `shingles` docstring).

    Parallelism floor: tokenize/shingle/hash is CPU-dense per input
    byte, and parquet cannot split below a row group — a small
    single-file corpus scans as ONE partition and serializes the whole
    stage (this is why sf0.1's single 1.5 MB file measured SLOWER than
    sf1's 8-file layout: cores idle; any 'small corpus, big box' run
    hits the same wall).  When the scan has fewer partitions than the
    floor, repartition on the id hash up front (reusable by the per-id
    aggs downstream).  Floor capped at 16: beyond that the
    distinct-shingle digest join fragments and costs more than the
    extra cores return (measured 8-16 optimal on local[32] at sf0.1).
    At real scale the scan already exceeds the floor — no-op, no added
    shuffle."""
    df = cpu_floor(df, id_col, cap=16)
    tokenized = df.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        tokens(normalize_text(F.col(text_col))).alias("__tk"),
    )
    return tokenized.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        F.explode(shingles(F.col("__tk"), k)).alias("shingle"),
    )


# --- exact n-gram Jaccard ---------------------------------------------------

def jaccard_pairs(
    shingle_df: DataFrame,
    id_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard similarity for every pair sharing >= 1 shingle
    (optionally only within a blocking key to bound the pair space).
    Returns (id_1, id_2, n_common, n_1, n_2, jaccard), id_1 < id_2.

    Scale: the shingle self-join is the standard inverted-index pair
    generation; hot shingles are the skew risk — block, raise k, or
    drop ubiquitous shingles (doc-frequency cap) before joining.
    """
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingle_df.alias("a")
    b = shingle_df.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.shingle") == F.col("b.shingle")
    )
    if block_col is not None:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    pairs = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed(id_col, "id_1"), "id_1")
        .withColumnRenamed("n_sh", "n_1")
        .join(
            sizes.withColumnRenamed(id_col, "id_2").withColumnRenamed(
                "n_sh", "n_2"
            ),
            "id_2",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_1") + F.col("n_2") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "n_common", "n_1", "n_2", "jaccard")
    )
    return out


# --- MinHash + LSH ----------------------------------------------------------

def minhash_signatures(
    shingle_df: DataFrame, id_col: str, n_hashes: int = 32
) -> DataFrame:
    """n_hashes-wide MinHash signature per document.

    Hash family: xxhash64(seed_j, shingle) — one shuffle (groupBy id),
    all expression-level.  Returns (id, sig array<bigint>).
    """
    mins = [
        F.min(F.xxhash64(F.lit(j), F.col("shingle"))).alias(f"h{j}")
        for j in range(n_hashes)
    ]
    sig = F.array(*[F.col(f"h{j}") for j in range(n_hashes)])
    return shingle_df.groupBy(id_col).agg(*mins).select(
        F.col(id_col), sig.alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 8
) -> DataFrame:
    """Band the signatures and emit candidate pairs that collide in at
    least one band. Never materializes cross-product: pairs come from
    a self-join on (band_id, band_hash) buckets.
    Returns distinct (id_1, id_2), id_1 < id_2."""
    n_hashes = None  # derived from array length at runtime
    sig_len = F.size(F.col("sig"))
    rows_per_band = (sig_len / bands).cast("int")
    banded = signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1, rows_per_band
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band_id", "bb.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .distinct()
    )


def _verify_pairs_arrays(
    sh: DataFrame, id_col: str, cands: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against per-doc
    shingle ARRAYS (r12, guide §8/§2.3): one groupBy builds
    (id, sorted shingles, n_sh) — replacing the separate sizes rollup —
    then each unique pair attaches its two payload rows and verifies
    with one in-row array_intersect.  The former verify shape joined
    the shingle ROW table twice per candidate (|cands| x shingles/doc
    rows through two exchanges plus a groupBy); arrays stay bounded by
    shingles-per-doc, so the attach moves each doc payload once.
    n_common = |intersect| over distinct-per-doc shingle sets is
    value-identical to the join-count form.  The collect_list order is
    partition-dependent but array_intersect is order-insensitive and
    the arrays never leave this stage, so no sort is needed (a
    sort_array here measured as a ~15% regression on the portable
    variant)."""
    docs = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("shs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    d1 = docs.select(
        F.col(id_col).alias("id_1"),
        F.col("shs").alias("shs_1"),
        F.col("n_sh").alias("n_1"),
    )
    d2 = docs.select(
        F.col(id_col).alias("id_2"),
        F.col("shs").alias("shs_2"),
        F.col("n_sh").alias("n_2"),
    )
    return (
        cands.join(d1, "id_1")
        .join(d2, "id_2")
        .select(
            "id_1",
            "id_2",
            F.size(F.array_intersect("shs_1", "shs_2"))
            .cast("long")
            .alias("n_common"),
            "n_1",
            "n_2",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_1") + F.col("n_2") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH buckets →
    candidate pairs → exact-Jaccard verification ≥ threshold."""
    sh = shingle_table(df, id_col, text_col, k).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh, id_col, n_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, bands)
    return _verify_pairs_arrays(sh, id_col, cands, threshold)


# --- engine-portable (md5-based) sketch variants -----------------------------
# xxhash64 is Spark-only; md5 exists in every engine (DuckDB mirror:
# CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)), so sketches built on
# it are cross-checkable value-for-value against a SQL oracle.  The md5
# family is ~2x slower than xxhash64 (still JVM codegen) — production
# paths keep xxhash64; these variants exist for verifiability and for
# interop with engines that persist md5-based signatures.

def md5_hash60(col: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit non-negative int64 hash, portable across
    engines: first 15 hex chars of md5, base-16 decoded."""
    s = col if seed is None else F.concat(F.lit(f"{seed}|"), col)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def _md5_hash60_family(col_sql: str, n_hashes: int) -> list[Column]:
    """n_hashes 60-bit hash expressions over the column named
    `col_sql`, from ceil(n/2) md5 evaluations: one 128-bit md5 yields
    two independent 60-bit halves (hex chars 1-15 and 17-31) — halves
    the dominant md5 cost of wide MinHash signatures. Mirror:
    substr(md5(seed||'|'||x), 1|17, 15) base-16.  Each hash is one
    F.expr SQL string (driver-side py4j cost, see srp_signature)."""
    out: list[Column] = []
    for seed in range((n_hashes + 1) // 2):
        h = f"md5(concat('{seed}|', {col_sql}))"
        out.append(F.expr(f"cast(conv(substr({h}, 1, 15), 16, 10) as bigint)"))
        out.append(F.expr(f"cast(conv(substr({h}, 17, 15), 16, 10) as bigint)"))
    return out[:n_hashes]


def minhash_signatures_portable(
    shingle_df: DataFrame, id_col: str, n_hashes: int = 16
) -> DataFrame:
    """Long-format MinHash signature (id, j, minhash) on the md5
    family — every value reproducible by the SQL oracle."""
    sig = F.array(*[F.col(f"h{j}") for j in range(n_hashes)])
    return (
        _hex_digest_rows(shingle_df, id_col, n_hashes)
        .groupBy(id_col)
        .agg(*_hex_min_aggs(n_hashes))
        .select(F.col(id_col), *_hex_conv_cols(n_hashes))
        .select(F.col(id_col), F.posexplode(sig).alias("j", "minhash"))
        .withColumn("j", F.col("j").cast("long"))
    )


def _hex_digest_rows(
    shingle_df: DataFrame, id_col: str, n_hashes: int
) -> DataFrame:
    """(id, m0..m{d-1}) rows with the md5 digests computed directly per
    occurrence row — a pure map stage, zero shuffles.

    r12 (guide §2.3 "shuffle fewer bytes"): this REPLACES a
    compute-per-DISTINCT-shingle + join-back form.  That vocabulary
    join saved ~9/10 of the md5 evaluations (27k distinct vs 260k
    occurrences at sf0.1) but paid a distinct shuffle of the occurrence
    strings plus a broadcast probe per row — A/B'd in one session, min
    of 4 noop reps: digest-join chain 2.36 s vs direct 0.62 s for the
    full signature build.  Codegen'd md5 over short strings is cheaper
    than moving the row; the trade only reverses when the per-value
    hash work dwarfs a shuffle write (cf. the |E|:|V| ~ 100:1 8-hash
    family of plans/graph.graph_minhash_neighbors, where the vocabulary join measured as a
    win).  Values are identical either way (same md5(seed|shingle)
    family)."""
    n_digests = (n_hashes + 1) // 2
    return shingle_df.select(
        F.col(id_col),
        *[
            F.expr(f"md5(concat('{seed}|', shingle)) AS m{seed}")
            for seed in range(n_digests)
        ],
    )


def _hex_min_aggs(n_hashes: int) -> list[Column]:
    """min over the fixed-width lowercase HEX substring — lexicographic
    order on fixed-length hex equals numeric order."""
    return [
        F.expr(f"min(substr(m{j // 2}, {1 if j % 2 == 0 else 17}, 15)) AS s{j}")
        for j in range(n_hashes)
    ]


def _hex_conv_cols(n_hashes: int) -> list[Column]:
    """base-16-decode only the per-group winners: |groups| * n_hashes
    convs instead of |shingle rows| * n_hashes."""
    return [
        F.expr(f"cast(conv(s{j}, 16, 10) as bigint) AS h{j}")
        for j in range(n_hashes)
    ]


def minhash_near_dups_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
    pair_predicate=None,
) -> DataFrame:
    """MinHash→LSH→verify pipeline on the md5 family with md5 band
    keys, so the whole pipeline (not just the verified output) has an
    exact SQL twin. Same bucket-join structure as minhash_near_dups:
    the pair space is banded, never quadratic.

    shingle_df: pass a pre-built (id, shingle) table to share one
    shingle scan with a caller that needs it too (the recall harness).
    pair_predicate: optional Column filter on (id_1, id_2) applied to
    the CANDIDATES before the exact-verify joins — semantics-preserving
    for any downstream restriction to the same predicate, and it cuts
    the rescore cost proportionally (the recall harness only scores
    panel-touching pairs)."""
    rows_per_band = n_hashes // bands
    sh = (
        shingle_df
        if shingle_df is not None
        else shingle_table(df, id_col, text_col, k).localCheckpoint(eager=False)
    )
    # same per-row-digest + hex-min + decode-winners-only shape as
    # minhash_signatures_portable (bit-identical)
    sigs = (
        _hex_digest_rows(sh, id_col, n_hashes)
        .groupBy(id_col)
        .agg(*_hex_min_aggs(n_hashes))
        .select(F.col(id_col), *_hex_conv_cols(n_hashes))
    )
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{j}").cast("string")
                                    for j in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band_id", "bb.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"), F.col(f"b.{id_col}").alias("id_2")
        )
        .distinct()
    )
    if pair_predicate is not None:
        cands = cands.where(pair_predicate)
    return _verify_pairs_arrays(sh, id_col, cands, threshold)


def simhash_signatures_portable(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 60
) -> DataFrame:
    """SimHash on the md5 family (60-bit: 15 hex chars keep the int64
    positive in both engines). Same explode→bit-sum→assemble plan as
    simhash_signatures."""
    # r12 (guide §2.5): the regex tokenize + explode is CPU-dense per
    # input byte and a small corpus scans as ONE partition — same floor
    # rationale (and cap) as shingle_table; per-row, results unchanged.
    df = cpu_floor(df, id_col, cap=16)
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
    )
    # same (doc, token)-count pre-aggregation as simhash_signatures:
    # weighted +-cnt bit sums.  r13 A/B (guide §2.3, the round-12
    # minhash _hex_digest_rows precedent): r12 computed the md5+conv
    # once per DISTINCT token and joined it back, betting the Zipf
    # vocabulary's smaller cardinality beats per-row hashing — but the
    # vocabulary distinct + join (and the checkpoint it needed) cost
    # more than the codegen'd md5 it saved at this |rows|:|distinct|
    # ratio: signature stage 0.72 -> 0.42 s warm min at sf0.1, values
    # bit-identical (exceptAll both ways = 0).  The hash now evaluates
    # once per (doc, token) GROUP — the groupBy already shrank the row
    # count — with zero extra shuffles.
    per_doc = tok.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cnt = per_doc.withColumn("h", md5_hash60(F.col("tok")))
    # SQL-string expressions for the same driver-side py4j reason as
    # simhash_signatures
    bit_sums = [
        F.expr(f"sum(if((h >> {i}) & 1 = 1, cnt, -cnt)) AS b{i}")
        for i in range(n_bits)
    ]
    agg = cnt.groupBy(id_col).agg(*bit_sums)
    assemble = " + ".join(
        f"shiftleft(cast(b{i} > 0 as bigint), {i})" for i in range(n_bits)
    )
    return agg.select(F.col(id_col), F.expr(f"{assemble} AS simhash"))


def simhash_near_dups_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 60,
    n_chunks: int = 4,
    max_hamming: int = 5,
) -> DataFrame:
    """Near-dup pairs on the md5 SimHash, blocked on (n_bits/n_chunks)-
    bit signature chunks so the pair space is bucketed, never quadratic
    — same structure as `simhash_near_dups`, but every stage (hash
    family, chunk keys, Hamming verify) has an exact SQL twin.

    Recall note: chunk blocking guarantees all pairs within Hamming
    distance n_chunks-1; beyond that it is approximate — but
    *deterministically* approximate (the oracle mirrors the same
    blocking), so results stay engine-portable bit-for-bit.
    Returns (id_1, id_2, hamming), id_1 < id_2."""
    chunk_bits = n_bits // n_chunks
    mask = (1 << chunk_bits) - 1
    sigs = simhash_signatures_portable(df, id_col, text_col, n_bits)
    chunks = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk_id", "cc.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            hamming.alias("hamming"),
        )
        # filter BEFORE distinct: hamming is part of the distinct key, so
        # the predicate commutes, and the dedup aggregate only sees the
        # (much smaller) surviving pair set
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- connected components ----------------------------------------------------

def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation with
    pointer jumping: each round every node takes the minimum label in
    its neighborhood, then follows its label's label (path halving),
    so convergence is O(log n) rounds rather than O(diameter).

    Inputs: `edges(id_1, id_2)` undirected pairs, `nodes(node)` the
    full vertex set (isolated vertices become singleton components).
    Returns (node, component) where component = min node id reachable.

    Scale design: each round is two shuffle joins sized |E| + |V|;
    `localCheckpoint` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1; convergence is detected from a
    1-row aggregate (sum of labels is strictly decreasing until the
    fixpoint — labels only ever move down), not a collect.  The same
    loop on a real cluster would checkpoint to HDFS/S3 instead
    (`sc.setCheckpointDir` + `.checkpoint()`) for fault tolerance.

    Small-graph short-circuit: when the (already-materialized) edge
    set is under `driver_threshold` rows, ~O(log n)-rounds x
    several-jobs-per-round of pure scheduling overhead dwarfs the
    actual work, so the component labels are computed with a
    single-pass union-find on the driver (a bounded <=2M-row collect,
    tens of MB) and joined back — identical output, one job instead of
    dozens.  The distributed loop remains the path for real graphs."""
    sym = (
        edges.select(F.col("id_1").alias("src"), F.col("id_2").alias("dst"))
        .union(edges.select(F.col("id_2").alias("src"), F.col("id_1").alias("dst")))
        # Materialize once: without this every iteration's join replays
        # the whole upstream edge-generation pipeline (e.g. the SimHash
        # sketch), multiplying its cost by the round count.
        .localCheckpoint(eager=True)
    )
    n_sym = sym.count()  # cheap: counts the materialized checkpoint
    if n_sym <= 2 * driver_threshold:
        pairs = [(r[0], r[1]) for r in sym.collect()]
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while x != root:  # path compression
                nxt = parent[x]
                parent[x] = root
                x = nxt
            return root

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the label IS the component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in parent]
        spark = edges.sparkSession
        if mapping:
            mdf = spark.createDataFrame(mapping, schema="node bigint, c bigint")
            return (
                nodes.join(F.broadcast(mdf), "node", "left")
                .select("node", F.coalesce("c", "node").alias("component"))
            )
        return nodes.select("node", F.col("node").alias("component"))
    labels = nodes.select(F.col("node"), F.col("node").alias("label"))
    prev_sum: int | None = None
    for it in range(max_iter):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = labels.join(
            neigh, labels["node"] == neigh["src"], "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        jump = labels.select(
            F.col("node").alias("j_node"), F.col("label").alias("j_label")
        )
        labels = labels.join(
            jump, labels["label"] == jump["j_node"], "left"
        ).select(
            "node", F.coalesce("j_label", "label").alias("label")
        )
        labels = labels.localCheckpoint(eager=True)
        # convergence probe only every 2nd round: with pointer jumping a
        # single extra round is cheaper than a per-round driver action
        # (each 1-row agg is a full job's scheduling overhead)
        if it % 2 == 0 and it + 1 < max_iter:
            continue
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


# --- SimHash ----------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document from token hashes: bit i of the
    signature is the sign of sum over tokens of (+1 if bit i of
    xxhash64(token) else -1).  Pure expressions: explode → 64
    conditional sums → bit assembly."""
    # r12 (guide §2.5): same tokenize-parallelism floor as the portable
    # variant / shingle_table; per-row, results unchanged.
    df = cpu_floor(df, id_col, cap=16)
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
    )
    # pre-aggregate to (doc, token) counts before the 64 bit-sums: on a
    # Zipf-distributed corpus this shrinks the bit-sum input by the mean
    # token multiplicity (and hashes each distinct token once, not once
    # per occurrence); weighted +-cnt sums are exactly the per-occurrence
    # +-1 sums in integer arithmetic
    cnt = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt")).withColumn(
        "h", F.xxhash64("tok")
    )
    # the 64 bit-sums and the 64-term assembly are built as SQL strings
    # (one py4j call each via F.expr), not nested Column objects: the
    # Column-object form spent ~4s of DRIVER time per query on py4j
    # round-trips before Spark even saw the plan
    bit_sums = [
        F.expr(f"sum(if((h >> {i}) & 1 = 1, cnt, -cnt)) AS b{i}") for i in range(64)
    ]
    agg = cnt.groupBy(id_col).agg(*bit_sums)
    assemble = " + ".join(
        f"shiftleft(cast(b{i} > 0 as bigint), {i})" for i in range(64)
    )
    return agg.select(F.col(id_col), F.expr(f"{assemble} AS simhash"))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    chunks (pigeonhole: distance <= 3 over 4 chunks => >= 1 identical
    chunk), so the join space is bucketed, not quadratic."""
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk_id", "cc.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            hamming.alias("hamming"),
        )
        # filter BEFORE distinct: hamming is part of the distinct key, so
        # the predicate commutes, and the dedup aggregate only sees the
        # (much smaller) surviving pair set
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
