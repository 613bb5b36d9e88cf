"""Advanced OLAP surface: exact-mergeable distinct (bitmap), ordered
string aggregation, sweep-line interval analytics, space-filling-curve
layout manifests, and degree-oriented triangle counting.

These extend the engine beyond the reference's surface (the reference
has no aggregation beyond per-list counts — SURVEY.md §2.5,
dags/tasks/planning_center.py:50) with the patterns a 100 TB pipeline
actually leans on:

- ``distinct_users_bitmap`` — COUNT(DISTINCT) that scales: Spark's
  bitmap functions build per-bucket roaring-style bitmaps that merge
  associatively (map-side partials, re-mergeable across shards/days),
  unlike a naive distinct which must shuffle every raw value.  Exact,
  so it hash-checks against the DuckDB oracle — unlike HLL.
- ``ev_max_concurrency`` / ``ts_interval_union_length`` — the two
  classic sweep-line/interval primitives (peak simultaneous load,
  deduplicated coverage time).  Both are one shuffle + one ordered
  window pass; no self-joins (a range self-join here is quadratic per
  key).
- ``zorder_file_manifest`` — Morton (z-order) interleaving of two
  filter dimensions + per-file min/max stats: the data-layout side of
  predicate pushdown.  The manifest IS what lets a scan skip files;
  row-group min/max stats in parquet give this for free once data is
  written in z order.
- ``graph_triangle_count`` — triangle counting with degree-ordered
  edge orientation, the standard trick that bounds the wedge join by
  arboricity instead of max-degree (hub nodes never fan out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.operators.joins import gated_broadcast
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- exact mergeable distinct via bitmaps -----------------------------------
# Two-level plan: (group, bucket) -> one bitmap per 32k-value bucket
# (bitmap_construct_agg is an associative partial aggregate — map-side
# combine applies), then SUM of per-bucket counts per group.  At 100 TB
# the first shuffle carries one 4 KB bitmap per (group, bucket), not
# one row per raw value; bitmaps for the same bucket from different
# days/shards OR together (bitmap_or_agg), so the state is incremental
# across ingestion batches — the exact counterpart of the mergeable
# HLL sketch in distinct_users_hll_mergeable.

def distinct_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bmp")
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bmp")).cast("bigint").alias("n_users"))
        .orderBy("event_type")
    )


DISTINCT_USERS_BITMAP_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- ordered string aggregation (listagg) -----------------------------------
# Top-3 customers by account balance per (segment, nation), names
# concatenated in deterministic name order.  listagg WITHIN GROUP
# (ORDER BY ...) is the SQL-standard ordered string agg (Spark 4.1);
# ties in the top-3 cut broken by c_custkey so the selected set is
# identical at any partition count.

def fn_listagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    top3 = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return (
        top3.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.expr(
                "listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)"
            ).alias("top_names"),
            F.count("*").cast("bigint").alias("n_top"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


FN_LISTAGG_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, c_nationkey, c_name,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
)
SELECT c_mktsegment, c_nationkey,
       STRING_AGG(c_name, ',' ORDER BY c_name) AS top_names,
       CAST(COUNT(*) AS BIGINT) AS n_top
FROM ranked WHERE rn <= 3
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


# --- sweep-line: peak concurrency -------------------------------------------
# Each event opens a half-open 5-minute interval [ts, ts+300s).  Peak
# simultaneous open intervals per event_type = running sum over +1/-1
# boundary points.  Netting all deltas at the same instant first makes
# the running sum insensitive to intra-timestamp row order (with
# half-open intervals the -1s at time t conceptually apply before the
# +1s, and the post-instant net value is where any maximum lives), so
# the result is deterministic at any parallelism.  ONE shuffle on
# event_type + one ordered window — never a range self-join.

_CONC_US = 300 * 1_000_000


def ev_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    opens = e.select("event_type", F.col("tus").alias("t"), F.lit(1).alias("d"))
    closes = e.select(
        "event_type", (F.col("tus") + F.lit(_CONC_US)).alias("t"),
        F.lit(-1).alias("d"),
    )
    net = (
        opens.unionAll(closes)
        .groupBy("event_type", "t")
        .agg(F.sum("d").alias("net"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = net.withColumn("conc", F.sum("net").over(w))
    return (
        running.groupBy("event_type")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
        .orderBy("event_type")
    )


EV_MAX_CONCURRENCY_SQL = f"""
WITH pts AS (
  SELECT event_type, epoch_us(ts) AS t, 1 AS d FROM events
  UNION ALL
  SELECT event_type, epoch_us(ts) + {_CONC_US} AS t, -1 AS d FROM events
),
net AS (
  SELECT event_type, t, SUM(d) AS net FROM pts GROUP BY event_type, t
),
run AS (
  SELECT event_type,
         SUM(net) OVER (PARTITION BY event_type ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS conc
  FROM net
)
SELECT event_type, CAST(MAX(conc) AS BIGINT) AS peak_concurrency
FROM run GROUP BY event_type ORDER BY event_type
"""


# --- sweep-line: interval union length --------------------------------------
# Total covered wall-clock per user after merging overlapping 10-minute
# activity intervals (gaps-and-islands).  prev_max_end over an ordered
# window detects island starts; covered time = Σ per-island
# (max_end - min_start).  Exact int64 microseconds end to end.

_COVER_US = 600 * 1_000_000


def ts_interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.lit(_COVER_US)).alias("e"),
        "event_id",
    )
    ordering = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        ordering.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(ordering.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("span_us")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("span_us").cast("bigint").alias("covered_us"),
            F.count("*").cast("bigint").alias("n_islands"),
        )
        .orderBy("user_id")
    )


TS_INTERVAL_UNION_SQL = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_COVER_US} AS e, event_id
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER w IS NULL
                OR s > MAX(e) OVER w THEN 1 ELSE 0 END AS new_island
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT user_id, island, MAX(e) - MIN(s) AS span_us
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(SUM(span_us) AS BIGINT) AS covered_us,
       CAST(COUNT(*) AS BIGINT) AS n_islands
FROM spans GROUP BY user_id ORDER BY user_id
"""


# --- z-order (Morton) layout manifest ---------------------------------------
# Interleave 8 bits of two filter dimensions (customer bucket, order
# day bucket) into a 16-bit Morton code, lay rows out in z order in
# fixed-size "files", and emit the per-file min/max manifest for both
# dims.  Under a linear layout a filter on the SECOND dim prunes
# nothing; under z order both dims stay range-clustered, so min/max
# stats skip most files for either predicate — this manifest is
# exactly what parquet row-group stats + partition pruning consume.
#
# The bit interleave is pure integer arithmetic ((x div 2^i) mod 2 —
# no engine-specific shift operators) so the DuckDB oracle runs the
# byte-identical formula.  The global row_number here is the
# demonstration shape; at 100 TB the same layout comes from
# repartitionByRange(zcode) + sortWithinPartitions (no single-task
# sort), as in doc_shard_manifest's two-phase prefix sum.

_ROWS_PER_FILE = 1000


def _morton16(bx: str, by: str) -> str:
    """SQL expression string interleaving 8 bits of bx (odd positions)
    and by (even positions) — portable across Spark and DuckDB."""
    terms = []
    for i in range(8):
        terms.append(f"(({bx} % {2 ** (i + 1)}) DIV {2 ** i}) * {2 ** (2 * i + 1)}")
        terms.append(f"(({by} % {2 ** (i + 1)}) DIV {2 ** i}) * {2 ** (2 * i)}")
    return " + ".join(terms)


def zorder_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("odus", epoch_us("o_orderdate"))
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 256).alias("bx"),
            F.expr("(odus DIV 86400000000) % 256").alias("by"),
        )
    )
    z = o.withColumn("zcode", F.expr(_morton16("bx", "by")))
    # The manifest is computable WITHOUT ranking the fact rows at all:
    # bx and by are functionally determined by zcode (the code IS the
    # bit interleave), and within a zcode the z-order tie-break
    # (o_orderkey) cannot change any file's min/max/count.  So the
    # fact table contributes exactly ONE map-side-combinable groupBy —
    # the <=65536-row zcode frequency rollup — and everything after
    # runs on the rollup: an exclusive prefix sum over zcode gives
    # each code's global rank range [off, off+freq), and a sequence()
    # explode splits each range across the fixed-size file boundaries
    # it touches (a code spans at most freq/ROWS_PER_FILE + 1 files,
    # so explode output is <= 65536 + n_files rows — the manifest's
    # own output cardinality).  The only global-ordered stage is the
    # prefix-sum window over the rollup, bounded by the 16-bit code
    # space, never by fact rows.  The repartition before the explode
    # spreads the fan-out so a 100 TB manifest (n_files = N/1000) is
    # not materialized on the window's single task.
    zfreq = z.groupBy("zcode", "bx", "by").agg(F.count(F.lit(1)).alias("freq"))
    w_code = Window.orderBy("zcode").rowsBetween(Window.unboundedPreceding, -1)
    off = zfreq.withColumn(
        "off", F.coalesce(F.sum("freq").over(w_code), F.lit(0))
    ).repartition(32, "zcode")
    spans = off.withColumn(
        "file_id",
        F.explode(
            F.sequence(
                F.expr(f"off DIV {_ROWS_PER_FILE}"),
                F.expr(f"(off + freq - 1) DIV {_ROWS_PER_FILE}"),
            )
        ),
    )
    in_file = F.least(
        F.col("off") + F.col("freq"), (F.col("file_id") + 1) * _ROWS_PER_FILE
    ) - F.greatest(F.col("off"), F.col("file_id") * _ROWS_PER_FILE)
    return (
        spans.withColumn("rows_in_file", in_file)
        .groupBy("file_id")
        .agg(
            F.min("bx").cast("bigint").alias("min_bx"),
            F.max("bx").cast("bigint").alias("max_bx"),
            F.min("by").cast("bigint").alias("min_by"),
            F.max("by").cast("bigint").alias("max_by"),
            F.sum("rows_in_file").cast("bigint").alias("n_rows"),
        )
        .orderBy("file_id")
    )


def _zorder_sql() -> str:
    # DuckDB: integer division is //; DIV is not an operator there.
    morton = _morton16("bx", "by").replace(" DIV ", " // ")
    return f"""
WITH dims AS (
  SELECT o_orderkey,
         o_custkey % 256 AS bx,
         (epoch_us(o_orderdate) // 86400000000) % 256 AS by
  FROM orders
),
z AS (
  SELECT o_orderkey, bx, by, {morton} AS zcode FROM dims
),
numbered AS (
  SELECT bx, by,
         (ROW_NUMBER() OVER (ORDER BY zcode, o_orderkey) - 1) // {_ROWS_PER_FILE}
           AS file_id
  FROM z
)
SELECT file_id,
       CAST(MIN(bx) AS BIGINT) AS min_bx, CAST(MAX(bx) AS BIGINT) AS max_bx,
       CAST(MIN(by) AS BIGINT) AS min_by, CAST(MAX(by) AS BIGINT) AS max_by,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM numbered GROUP BY file_id ORDER BY file_id
"""


# --- degree-oriented triangle counting --------------------------------------
# Co-purchase graph: parts are adjacent when they appear in the same
# order.  Edge building self-joins lineitem ON l_orderkey — bounded
# (TPC-H orders have ≤ 7 lines, so ≤ 21 pairs per order) and shuffles
# once on orderkey.  Triangles are counted edge-iterator style: orient
# every edge from the (degree, id)-smaller endpoint to the larger
# (out-degree then bounded by O(sqrt E) — hub nodes never fan out),
# build each node's sorted out-neighbor array, and count each triangle
# exactly once at its base edge as |N+(s) ∩ N+(t)|.  Unlike the naive
# wedge join E⋈E (41M intermediate rows at sf0.1) nothing bigger than
# the edge list is ever shuffled: the adjacency side is |V| rows and
# broadcastable, and array_intersect runs inside whole-stage codegen.
# The oracle counts the same triangles from the plain pa<pb edge set —
# orientation changes the join cost, not the count.
#
# Scale note: the degree and adjacency tables are |V|-cardinality —
# the same order as the edge list on sparse graphs.  r13: they carry
# an EXPLICIT broadcast hint through operators.joins.gated_broadcast
# — measurement showed the planner choosing sort-merge for the probe
# join (shuffling |E| rows that each carry a full adjacency array)
# because the probe side is a Generate over a checkpointed RDD whose
# size estimate is the tiny pre-explode one (the wave39 trap).  On a
# billion-node graph switch the gate off and the identical plan
# degrades to shuffle joins keyed on the node id; the O(sqrt E)
# out-degree bound from orientation still caps the per-row array size.
# localCheckpoint(eager=False) keeps plan *construction* lazy (no jobs
# run at build time — explain-only callers pay nothing); the subtree
# still materializes exactly once at first action and every consumer
# reuses the checkpointed partitions.

def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 rewrite (guide §2.3/§2.4/§3.3): the graph is built and
    # consumed as ADJACENCY LISTS instead of edge rows.
    #   1. collect_set(pk) per order — one shuffle, basket-bounded;
    #   2. map-side pair explosion -> collect_set(v) per u — one
    #      shuffle; dedup happens inside the aggregate, so the former
    #      basket self-join + distinct exchanges are gone, and the
    #      degree table falls out as size(nbrs) with NO union+groupBy
    #      pass over the edge list;
    #   3. orientation takes ONE join (deg_u rides along from the
    #      explode; only deg_v is looked up) instead of two;
    #   4. the per-edge intersect probe is derived by exploding the
    #      oriented adjacency (nbrs_s attached map-side), so it joins
    #      adj ONCE (t side) instead of twice.
    # localCheckpoint (not a cache) materializes the two multi-
    # consumer frames with their AQE-coalesced partitioning — same
    # rationale as before the rewrite (cache froze pre-AQE
    # partitioning: 2.6s vs 88s at sf0.01 under 200 partitions).
    # Adjacency rows stay bounded at scale: per-part co-purchase
    # degree does not grow with SF (parts scale with SF).
    # Measured 4.1 -> 2.5 s warm at sf0.1; n/m/t bit-identical.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
    )
    pairs = (
        baskets.select(F.explode("pks").alias("u"), F.col("pks"))
        .select("u", F.explode("pks").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    und = (
        pairs.groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
        .select("u", "nbrs", F.size("nbrs").cast("bigint").alias("deg"))
        .localCheckpoint(eager=False)
    )
    exploded = und.select("u", "deg", F.explode("nbrs").alias("v")).where(
        F.col("u") < F.col("v")
    )
    degv = und.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    # r13 (guide §3.1/§8): explicit gated broadcast of the |V|-row
    # sides.  The exploded probe rows carry the FULL nbrs_s array each,
    # so letting the planner pick a sort-merge join (it did — the
    # Generate size-estimate trap, see plans/wave39) shuffles |E| x
    # array payload; broadcasting the |V|-row adjacency/degree side
    # moves the payload zero times.  Gated so an extreme-scale |V|
    # falls back to shuffle joins without a code edit (the O(sqrt E)
    # orientation bound still caps array sizes).
    oriented = (
        exploded.join(gated_broadcast(degv), "v")
        .select(
            F.when(
                (F.col("deg") < F.col("deg_v"))
                | ((F.col("deg") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    adj = (
        oriented.groupBy("s")
        .agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
        .localCheckpoint(eager=False)
    )
    probe = adj.select(F.col("s"), F.col("nbrs").alias("nbrs_s")).select(
        "s", "nbrs_s", F.explode("nbrs_s").alias("t")
    )
    adj_t = adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nbrs_t"))
    per_edge = probe.join(gated_broadcast(adj_t), "t", "left").select(
        F.size(
            F.array_intersect(
                F.col("nbrs_s"),
                F.coalesce("nbrs_t", F.array().cast("array<bigint>")),
            )
        ).alias("tri_here")
    )
    n = und.agg(F.count("*").cast("bigint").alias("n_nodes"))
    m = und.agg(F.expr("sum(deg) DIV 2").cast("bigint").alias("n_edges"))
    t = per_edge.agg(
        F.coalesce(F.sum("tri_here"), F.lit(0)).cast("bigint").alias("n_triangles")
    )
    return n.crossJoin(m).crossJoin(t)


GRAPH_TRIANGLE_SQL = """
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nodes AS (
  SELECT u AS n FROM edges UNION SELECT v FROM edges
)
SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e1.v = e2.u
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


# --- theta-sketch set algebra -----------------------------------------------
# Distinct-user set operations across behaviors: |click ∪ purchase|,
# |click ∩ purchase|, |click \ purchase|.  HLL can only union; theta
# sketches support the full set algebra with mergeable state — the
# audience-overlap primitive.  A theta sketch is EXACT until it holds
# more than 2^lg_k distinct keys (it keeps the k smallest hashes, all
# of them below capacity); lg_k=14 keeps it exact beyond sf1's user
# cardinality, which is what lets the DuckDB oracle hash-match the
# estimates as plain distinct counts.  Past capacity it degrades
# gracefully to ~1.6% relative error (and this oracle would no longer
# apply) while state stays 128 KB per group.

def theta_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sk = e.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END, 14)"
        ).alias("c"),
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END, 14)"
        ).alias("p"),
    )
    return sk.select(
        F.expr("CAST(theta_sketch_estimate(theta_union(c, p)) AS BIGINT)").alias(
            "either_users"
        ),
        F.expr(
            "CAST(theta_sketch_estimate(theta_intersection(c, p)) AS BIGINT)"
        ).alias("both_users"),
        F.expr(
            "CAST(theta_sketch_estimate(theta_difference(c, p)) AS BIGINT)"
        ).alias("click_only_users"),
    )


THETA_USER_SET_OPS_SQL = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT
  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS BIGINT)
    AS either_users,
  CAST((SELECT COUNT(*) FROM c WHERE user_id IN (SELECT user_id FROM p)) AS BIGINT)
    AS both_users,
  CAST((SELECT COUNT(*) FROM c WHERE user_id NOT IN (SELECT user_id FROM p)) AS BIGINT)
    AS click_only_users
"""


# --- rolling distinct users (bitmap partials + window union) ----------------
# Distinct users over a trailing 7-day window, per day — the DAU/WAU
# shape.  COUNT(DISTINCT) per sliding window recounts every raw row 7
# times; instead build ONE exact bitmap per (day, bucket) (linear in
# the data, mergeable across ingestion batches), then EXPLODE each
# daily partial to the 7 target days it contributes to and merge with
# an equi-keyed groupBy — no nested-loop range join anywhere.  The
# broadcast semi-join against the day spine drops target days with no
# events of their own.  At 100 TB the per-day bitmap table is KBs per
# day — the rolling union runs on aggregate state, never raw events.

def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    daily = (
        e.withColumn("day", F.expr("tus DIV 86400000000"))
        .groupBy("day", F.bitmap_bucket_number("user_id").alias("bkt"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bmp"))
    )
    days = daily.select("day").distinct()
    contrib = daily.select(
        F.explode(F.sequence("day", F.col("day") + 6)).alias("day"), "bkt", "bmp"
    )
    windowed = contrib.join(F.broadcast(days), "day", "left_semi")
    per_bucket = windowed.groupBy("day", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg("bmp")).alias("cnt")
    )
    return (
        per_bucket.groupBy("day")
        .agg(F.sum("cnt").cast("bigint").alias("users_7d"))
        .orderBy("day")
    )


ROLLING_DISTINCT_7D_SQL = """
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM d)
SELECT days.day AS day,
       CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS users_7d
FROM days JOIN d ON d.day <= days.day AND d.day > days.day - 7
GROUP BY days.day ORDER BY days.day
"""


# --- 2-D skyline (Pareto front) ---------------------------------------------
# Orders no other order dominates: higher total price AND more recent
# date.  The naive dominance test is a quadratic self-join; in 2-D the
# skyline falls out of a sort: scan by price descending and keep the
# rows that strictly raise the running date maximum.  Distributed as
# skyline-of-skylines — skyline(S) = skyline(∪ skyline(bucket_i)) —
# so the expensive pass is a PARTITIONED window over hash buckets
# (each bucket prunes its dominated rows in parallel) and only the
# few survivors reach the single-partition global scan.  Ties on
# price are ordered date-descending so an equal-price-earlier-date
# row never survives; duplicate (price, date) pairs keep the smallest
# orderkey via a dedup rank.

_SKYLINE_BUCKETS = 64


def _skyline_scan(df: DataFrame, part_cols: list[str]) -> DataFrame:
    """Keep rows that strictly raise the running date max within a
    price-descending scan (optionally per partition column)."""
    scan = (
        Window.partitionBy(*part_cols)
        .orderBy(F.desc("o_totalprice"), F.desc("odus"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_best = F.max("odus").over(scan)
    return df.withColumn("prev_best", prev_best).filter(
        F.col("prev_best").isNull() | (F.col("odus") > F.col("prev_best"))
    ).drop("prev_best")


def pareto_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("odus", epoch_us("o_orderdate"))
        .select("o_orderkey", "o_totalprice", "odus")
    )
    dedup = Window.partitionBy("o_totalprice", "odus").orderBy("o_orderkey")
    uniq = o.withColumn("dr", F.row_number().over(dedup)).filter(F.col("dr") == 1)
    bucketed = uniq.withColumn(
        "bkt", F.pmod(F.hash("o_orderkey"), F.lit(_SKYLINE_BUCKETS))
    )
    local = _skyline_scan(bucketed, ["bkt"])  # parallel prune, drops ~all rows
    global_sky = _skyline_scan(local, [])  # tiny survivor set, one partition
    return global_sky.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("odus").alias("order_day_us"),
    ).orderBy("o_orderkey")


PARETO_SKYLINE_SQL = """
WITH pts AS (
  SELECT o_orderkey, o_totalprice, epoch_us(o_orderdate) AS odus
  FROM orders
),
uniq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_totalprice, odus
                               ORDER BY o_orderkey) AS dr
  FROM pts
),
scanned AS (
  SELECT o_orderkey, o_totalprice, odus,
         MAX(odus) OVER (ORDER BY o_totalprice DESC, odus DESC, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_best
  FROM uniq WHERE dr = 1
)
SELECT o_orderkey, o_totalprice AS price, odus AS order_day_us
FROM scanned
WHERE prev_best IS NULL OR odus > prev_best
ORDER BY o_orderkey
"""


QUERIES = {
    "distinct_users_bitmap": distinct_users_bitmap,
    "fn_listagg_top_customers": fn_listagg_top_customers,
    "ev_max_concurrency": ev_max_concurrency,
    "ts_interval_union_length": ts_interval_union_length,
    "zorder_file_manifest": zorder_file_manifest,
    "graph_triangle_count": graph_triangle_count,
    "theta_user_set_ops": theta_user_set_ops,
    "rolling_distinct_users_7d": rolling_distinct_users_7d,
    "pareto_orders_skyline": pareto_orders_skyline,
}

ORACLES = {
    "theta_user_set_ops": THETA_USER_SET_OPS_SQL,
    "rolling_distinct_users_7d": ROLLING_DISTINCT_7D_SQL,
    "pareto_orders_skyline": PARETO_SKYLINE_SQL,
    "distinct_users_bitmap": DISTINCT_USERS_BITMAP_SQL,
    "fn_listagg_top_customers": FN_LISTAGG_SQL,
    "ev_max_concurrency": EV_MAX_CONCURRENCY_SQL,
    "ts_interval_union_length": TS_INTERVAL_UNION_SQL,
    "zorder_file_manifest": _zorder_sql(),
    "graph_triangle_count": GRAPH_TRIANGLE_SQL,
}
