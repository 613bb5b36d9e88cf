"""Round-6 additions (SURVEY.md §2.10 corpus-curation wing): weighted
reservoir sampling and fuzzy (Jaro-Winkler) entity matching — the two
operators previously deferred on cross-engine bit-parity grounds, now
expressible with full SQL oracles via deterministic md5 randomness
(operators/sampling.py) and exact-rational quantized similarity
(functions/fuzzy.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators.sampling import (
    aes_key_sql,
    weighted_sample,
)
from planning_center_data_pipeline_spark.operators.joins import gated_broadcast
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- weighted reservoir sample ----------------------------------------------

def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """500-document A-ES weighted sample, weight = n_chars: longer
    documents proportionally more likely, sampled without replacement,
    byte-deterministic across engines and partitionings (see
    operators/sampling.py).  At 100 TB this is the 'sample k docs
    proportional to token count' curation primitive: per-row key
    expression + TakeOrderedAndProject, no global sort, no shuffle of
    document text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(d, "doc_id", "n_chars", 500)
        .select("doc_id", F.col("n_chars").alias("w_chars"))
        .orderBy("doc_id")
    )


DOC_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, w_chars FROM (
  SELECT doc_id, n_chars AS w_chars
  FROM documents WHERE n_chars > 0
  ORDER BY {aes_key_sql("doc_id", "n_chars")} DESC, doc_id
  LIMIT 500
) ORDER BY doc_id
"""


def doc_weighted_sample_stratified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source A-ES weighted sample (100 docs per source, weight =
    n_chars): the corpus-mixing primitive — each source keeps its own
    reservoir, so one giant source can't crowd out the rest.  One
    shuffle on source for the windowed top-k; key computation stays
    per-row."""
    from planning_center_data_pipeline_spark.operators.sampling import (
        aes_key,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    w = Window.partitionBy("source").orderBy(
        F.desc("k"), F.asc("doc_id")
    )
    return (
        d.withColumn("k", aes_key(F.col("doc_id"), F.col("n_chars")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("source", "doc_id", F.col("n_chars").alias("w_chars"))
        .orderBy("source", "doc_id")
    )


DOC_WEIGHTED_SAMPLE_STRAT_SQL = f"""
SELECT source, doc_id, w_chars FROM (
  SELECT source, doc_id, n_chars AS w_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {aes_key_sql("doc_id", "n_chars")} DESC, doc_id
         ) AS rn
  FROM documents WHERE n_chars > 0
) WHERE rn <= 100 ORDER BY source, doc_id
"""


# --- Jaro-Winkler best match -------------------------------------------------

def jw_best_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: for each probe part (1-in-97 by key),
    the best Jaro-Winkler match among OTHER parts in the same
    (noun, brand) block — the classic blocked fuzzy-dedup lookup.

    Plan shape: block equi-join against the broadcast probe set bounds
    the candidate pairs (never a cross product over the catalog); the
    JW kernel runs as a vectorized pandas UDF over candidate pairs in
    exact integer arithmetic (functions/fuzzy.py), so the argmax and
    the reported micro-score hash-match DuckDB's native
    jaro_winkler_similarity.  Deterministic tie-break: (jw desc,
    candidate key asc)."""
    from planning_center_data_pipeline_spark.functions.fuzzy import (
        jw_micro_pairs,
    )

    @F.pandas_udf("long")
    def jw_q(a: pd.Series, b: pd.Series, blk: pd.Series) -> pd.Series:
        # blk = the blocking key each pair came from; the kernel raises
        # on unblocked input or a degenerate block (misuse guard).
        return pd.Series(jw_micro_pairs(a, b, block=blk), dtype="int64")

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(1).alias("noun"),
        "p_brand",
    )
    probes = parts.filter(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("probe_key"),
        F.col("p_name").alias("probe_name"),
        F.col("noun").alias("p_noun"),
        F.col("p_brand").alias("p_pbrand"),
    )
    cand = parts.join(
        F.broadcast(probes),
        (F.col("noun") == F.col("p_noun"))
        & (F.col("p_brand") == F.col("p_pbrand"))
        & (F.col("p_partkey") != F.col("probe_key")),
    ).select(
        "probe_key",
        F.col("p_partkey").alias("cand_key"),
        jw_q(
            F.col("probe_name"),
            F.col("p_name"),
            F.concat_ws("|", F.col("p_noun"), F.col("p_pbrand")),
        ).alias("jw_micro"),
    )
    w = Window.partitionBy("probe_key").orderBy(
        F.desc("jw_micro"), F.asc("cand_key")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_key", F.col("cand_key").alias("best_match"), "jw_micro")
        .orderBy("probe_key")
    )


JW_BEST_MATCH_SQL = """
WITH parts AS (
  SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS noun, p_brand
  FROM part
), cand AS (
  SELECT pr.p_partkey AS probe_key, c.p_partkey AS cand_key,
         CAST(ROUND(jaro_winkler_similarity(pr.p_name, c.p_name) * 1000000)
              AS BIGINT) AS jw_micro
  FROM parts pr
  JOIN parts c
    ON c.noun = pr.noun AND c.p_brand = pr.p_brand
   AND c.p_partkey <> pr.p_partkey
  WHERE pr.p_partkey % 97 = 0
)
SELECT probe_key, cand_key AS best_match, jw_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
                               ORDER BY jw_micro DESC, cand_key) AS rn
  FROM cand
) WHERE rn = 1 ORDER BY probe_key
"""


# --- prefix-filtered exact Jaccard join (PPJoin-lite) ------------------------

def _jaccard_prefix_core(sh_with_df: DataFrame, t: float) -> DataFrame:
    """Shared PPJoin-style machinery over a (doc_id, shingle, df)
    table: per-doc build (rarity-ordered prefix + lex-sorted payload
    array), prefix self-join with length + positional filters,
    candidate dedup, payload attach, in-row verify.  Returns
    (id_1, id_2, n_common, n_1, n_2, jaccard).  Exact integer filter
    forms assume t = 0.7.

    r12 restructure (guide §8 "decide with small rows, move big rows
    once", §2.3): the prefix self-join previously CARRIED each doc's
    full lex-sorted shingle array on every prefix-token row — the
    payload crossed the candidate exchange once per prefix token per
    side, and the array_intersect verify ran once per SHARED token
    before pair dedup.  Now the self-join moves only
    (doc_id, n, pos, shingle), candidates are dedup'd FIRST, and the
    two |docs|-sized payload attaches + one verify run per unique
    pair.  Same pair set, same values (verify inputs are identical
    arrays); measured 27.9 -> 5.0 s cold / 4.7 -> 4.0 s warm at
    sf0.1 on the rare-prefix variant.

    r13 (guide §2.4 "remove shuffles outright", §3.1): the r12 shape
    still ran the prefix SELF-JOIN as a sort-merge join (both prefix
    streams shuffled + sorted) and the planner lost the two payload
    attaches to SMJ as well (localCheckpoint erases size estimates, so
    the |docs|-row side was never considered broadcastable) — the r12
    round's one real regression on the prefix_filter twin (2.99 ->
    4.19 s clean).  Candidate generation is now the basket-array
    pattern proven on wave22/wave4 this suite: ONE groupBy collects
    each prefix shingle's (doc_id, n, pos) occurrence list — bounded
    by construction, df <= JACCARD_DF_SWITCH on the full path and
    <= JACCARD_DF_CAP on the capped/rare path, so a list never exceeds
    100 entries — and pairs come from a map-side double explode with
    the SAME length + positional predicates applied in-row.  The two
    payload attaches carry an explicit broadcast hint: the build side
    is the |docs|-row array table.  A forced broadcast does not degrade
    when that table outgrows the driver: it fails the query.  So the
    hint goes through operators.joins.gated_broadcast (on by default,
    the plan below); switch the gate off at a corpus size where the
    docs table no longer fits, and the attaches fall back to the
    planner's own choice (sort-merge, as localCheckpoint hides the
    size).  Plan: 8 shuffle Exchanges -> 4 (prefix group, candidate
    distinct, final sort x2), payload attaches BroadcastHashJoin."""
    docs = sh_with_df.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
            "by_rarity"
        ),
        F.sort_array(F.collect_list("shingle")).alias("shs"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=False)
    pref = docs.select(
        "doc_id",
        "n",
        F.posexplode(
            F.slice(
                F.transform(F.col("by_rarity"), lambda s: s["shingle"]),
                1,
                (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int"),
            )
        ).alias("pos", "shingle"),
    )
    # isNotNull mirrors the old equi-join's null-key semantics (a null
    # shingle never matched); groupBy would otherwise form a null group
    occ = pref.filter(F.col("shingle").isNotNull()).groupBy("shingle").agg(
        F.collect_list(F.struct("doc_id", "n", "pos")).alias("ds")
    )
    a, b = F.col("a"), F.col("b")
    cand = (
        occ.select(
            F.explode("ds").alias("a"), F.col("ds").alias("ds_b")
        )
        .select("a", F.explode("ds_b").alias("b"))
        .filter(
            (a["doc_id"] < b["doc_id"])
            & (F.least(a["n"], b["n"]) * 10 >= F.greatest(a["n"], b["n"]) * 7)
            & (
                F.least(a["n"] - a["pos"], b["n"] - b["pos"]) * 17
                >= (a["n"] + b["n"]) * 7
            )
        )
        .select(a["doc_id"].alias("id_1"), b["doc_id"].alias("id_2"))
        .distinct()
    )
    d1 = docs.select(
        F.col("doc_id").alias("id_1"),
        F.col("shs").alias("shs_1"),
        F.col("n").alias("n_1"),
    )
    d2 = docs.select(
        F.col("doc_id").alias("id_2"),
        F.col("shs").alias("shs_2"),
        F.col("n").alias("n_2"),
    )
    return (
        cand.join(gated_broadcast(d1), "id_1")
        .join(gated_broadcast(d2), "id_2")
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
        .filter(F.col("jaccard") >= t)
        .select("id_1", "id_2", "n_common", "n_1", "n_2", "jaccard")
    )


# Auto-switch rule for doc_jaccard_prefix_filter: the full exact join's
# cost is Sum C(df,2), which a handful of ubiquitous template shingles
# dominate.  When the corpus carries any shingle with df above this
# threshold, the exact-over-all-shingles envelope is already
# super-linear — route to the df-capped definition instead.  Both the
# Spark plan and the DuckDB oracle apply the SAME data-driven rule, so
# the hash check covers the switch itself.  Measured: max df 25 at
# sf0.1 (full path) vs 250 at sf1 (capped path).
JACCARD_DF_SWITCH = 100
JACCARD_DF_CAP = 50


def doc_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard >= 0.7 via PREFIX FILTERING (the PPJoin
    family): each document's shingles are ordered by (global document
    frequency, shingle) and only the first |d| - ceil(t*|d|) + 1 — the
    RAREST — participate in candidate generation; any pair with
    Jaccard >= t provably shares a prefix token, so recall is exactly 1
    while the candidate join touches a small, rare-token slice of the
    inverted index instead of every co-occurring pair (the hot, common
    shingles that explode the naive self-join never generate
    candidates).

    This is the EXACT scale path next to the probabilistic MinHash-LSH
    twin: same output as the naive inverted-index join, guaranteed —
    and the oracle PROVES it, computing the naive all-pairs definition
    with no prefix mechanics at all.

    Scale shape (true to the PPJoin paper's index layout): each
    prefix-index row CARRIES its document's lex-sorted shingle array
    and size, so the candidate equi-join on the rare prefix token
    already holds both verify payloads — the whole query is one linear
    chain (df agg -> per-doc build -> prefix self-join -> in-row
    array-intersect verify -> pair dedup) with no join back to a doc
    table and no multi-consumer subtree to re-materialize.  The
    carried-array shuffle is |prefix rows| x |doc| bytes — the prefix
    (~30% of tokens at t=0.7) is the lever.  Returns
    (id_1, id_2, n_common, n_1, n_2, jaccard).

    Cost honesty + AUTO-SWITCH (round-6 verdict item 5): an index-based
    exact join must examine every within-bucket pair, so its cost is
    Sum_over_prefix_tokens C(df, 2) — on a template-heavy corpus that
    grows ~quadratically (measured exponent 1.4-1.6 sf0.1 -> sf1,
    ~2 s -> 53-83 s, even with the length+positional filters).  The
    envelope is intrinsic to recall=1 over ALL shingles, so the plan
    now bounds it: the driver materializes the (vocab-sized) df table
    once and checks max(df); if any shingle exceeds
    JACCARD_DF_SWITCH the corpus has densified and the query routes to
    the df <= JACCARD_DF_CAP definition (ubiquitous template shingles
    carry no near-dup signal — dropping them is the standard
    stopword-shingle treatment), whose cost is linear in vocabulary.
    The DuckDB oracle implements the SAME data-driven rule, so the
    hash check proves the switch; which path ran is visible in the
    constant `path` output column.  Candidate reduction and recall
    are asserted in tests/test_wave6.py; the scale-safe probabilistic
    twin remains doc_minhash_lsh (exponent ~0.6)."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    t = 0.7
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_table(d, "doc_id", "text", k=3)
    # vocab-sized; materialized once (executor-side) and reused by the
    # max-df probe and the per-doc build — the probe is one extra
    # driver-side scalar, not a second shingling pass
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    dfreq = dfreq.localCheckpoint(eager=True)
    maxdf = dfreq.agg(F.max("df")).first()[0] or 0
    if maxdf > JACCARD_DF_SWITCH:
        path = "exact_rare_capped"
        dfreq = dfreq.filter(F.col("df") <= JACCARD_DF_CAP)
    else:
        path = "exact_full"
    # exact integer forms of the PPJoin bounds at t = 0.7 = 7/10 (see
    # _jaccard_prefix_core):
    #   length filter:     jac>=t  =>  min(n)*10 >= max(n)*7
    #   positional filter: all common tokens rank >= this shared token
    #     in BOTH docs (df,shingle global order), so
    #     overlap <= min(n_a-pos_a, n_b-pos_b); and jac>=t requires
    #     overlap*(1+t) >= t*(n_a+n_b)  =>  min_suffix*17 >= 7*(n_a+n_b).
    #     A true pair always survives via its EARLIEST shared token,
    #     where the bound is exact — recall stays 1 (pytest-proven).
    return (
        _jaccard_prefix_core(sh.join(dfreq, "shingle"), t)
        .withColumn("path", F.lit(path))
        .orderBy("id_1", "id_2")
    )


def doc_jaccard_rare_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE exact sibling of doc_jaccard_prefix_filter:
    Jaccard >= 0.7 over RARE shingles only (document frequency <= 50
    — ubiquitous template/boilerplate shingles carry no near-dup
    signal and are what densifies the exact join; dropping them is the
    standard stopword-shingle treatment in production dedup).  The cap
    bounds within-bucket pairs at C(100,2) per shingle, so total cost
    grows with the VOCABULARY (~linear in corpus) instead of
    Sum C(df,2) (~quadratic on template corpora) — the super-linear
    envelope of the full-feature twin turns linear by definition, and
    the oracle mirrors the same capped definition exactly.

    Same candidate machinery (prefix + length + positional filters,
    carried-payload index) on the filtered shingle table."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    t = 0.7
    cap = JACCARD_DF_CAP  # ubiquity threshold: templates exceed it at
    # every sf, doc-specific shingles never do — measured candidates
    # 35k (sf0.1) -> 84k (sf1), sub-linear, vs 2.1M at cap=100
    d = load_table(spark, sf_dir, "documents")
    sh_all = shingle_table(d, "doc_id", "text", k=3)
    dfreq = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= cap)
    )
    # inner join applies the cap
    return _jaccard_prefix_core(sh_all.join(dfreq, "shingle"), t).orderBy(
        "id_1", "id_2"
    )


def _jaccard_rare_oracle() -> str:
    # naive all-pairs over the SAME capped shingle set — again no
    # prefix mechanics, so candidate recall is proven by equality
    from planning_center_data_pipeline_spark.plans.extensions import (
        _SHINGLE_CTE,
    )

    return f"""
WITH {_SHINGLE_CTE}, rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50
), shr AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, n_common, s1.n AS n_1, s2.n AS n_2,
       CAST(n_common AS DOUBLE)
         / CAST(s1.n + s2.n - n_common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes s1 ON s1.doc_id = id_1
JOIN sizes s2 ON s2.doc_id = id_2
WHERE CAST(n_common AS DOUBLE) / CAST(s1.n + s2.n - n_common AS DOUBLE) >= 0.7
ORDER BY id_1, id_2
"""


def _jaccard_naive_oracle() -> str:
    # The UNOPTIMIZED definition with the SAME data-driven auto-switch
    # as the Spark plan: if any shingle's df exceeds JACCARD_DF_SWITCH
    # the capped (df <= JACCARD_DF_CAP) branch produces rows, else the
    # full branch does — each branch is the naive all-pairs join over
    # its shingle set, no prefix mechanics, so equality with the Spark
    # result proves BOTH the recall=1 claim and the switch decision.
    from planning_center_data_pipeline_spark.plans.extensions import (
        _SHINGLE_CTE,
    )

    def branch(src: str, path: str, guard: str) -> str:
        return f"""
  SELECT id_1, id_2, n_common, s1.n AS n_1, s2.n AS n_2,
         CAST(n_common AS DOUBLE)
           / CAST(s1.n + s2.n - n_common AS DOUBLE) AS jaccard,
         '{path}' AS path
  FROM (
    SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
    FROM {src} a JOIN {src} b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) pairs
  JOIN (SELECT doc_id, COUNT(*) AS n FROM {src} GROUP BY doc_id) s1
    ON s1.doc_id = id_1
  JOIN (SELECT doc_id, COUNT(*) AS n FROM {src} GROUP BY doc_id) s2
    ON s2.doc_id = id_2
  WHERE CAST(n_common AS DOUBLE)
          / CAST(s1.n + s2.n - n_common AS DOUBLE) >= 0.7
    AND (SELECT MAX(df) FROM dfq) {guard} {JACCARD_DF_SWITCH}"""

    return f"""
WITH {_SHINGLE_CTE}, dfq AS (
  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
), shr AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN dfq USING (shingle) WHERE dfq.df <= {JACCARD_DF_CAP}
)
SELECT * FROM (
{branch("sh", "exact_full", "<=")}
  UNION ALL
{branch("shr", "exact_rare_capped", ">")}
) ORDER BY id_1, id_2
"""


# --- SCD2 point-in-time join -------------------------------------------------

def li_scd2_pit_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every shipped lineitem attributed to the
    priority REGIME its customer was in on the ship date (the SCD2
    intervals of scd2_customer_priority), then exact revenue per
    (regime, ship year).

    The PIT join is an EQUI-join on custkey with the interval
    containment as a join residual — never a range cross join: the
    SCD2 side has a handful of intervals per customer, so the residual
    filters a few rows per probe.  At warehouse scale this is the
    standard fact-to-dimension-history attach (bitemporal lookup), and
    it composes with the same broadcast/SMJ machinery as any equi-join.
    Exact money: scale-4 fixed-point revenue (functions/exact.py)."""
    from planning_center_data_pipeline_spark.functions.exact import (
        cents,
        money_sum,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ch = o.withColumn("prev_prio", F.lag("o_orderpriority").over(w)).filter(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    scd2 = ch.withColumn("valid_to", F.lead("o_orderdate").over(w)).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        "valid_to",
    )
    fact = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
        "l_orderkey",
    ).select(
        F.col("o_custkey").alias("custkey"),
        "l_shipdate",
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
            "rev_s4"
        ),
    )
    pit = fact.join(
        scd2,
        (fact["custkey"] == scd2["custkey"])
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("l_shipdate") < F.col("valid_to"))
        ),
    )
    return (
        pit.groupBy(
            "priority", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money_sum(F.col("rev_s4"), scale=4).alias("revenue"),
        )
        .orderBy("priority", "ship_year")
    )


LI_SCD2_PIT_SQL = """
WITH ch AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), scd2 AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS valid_from,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM ch WHERE prev IS NULL OR prev <> o_orderpriority
), fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate,
         CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT)) AS rev_s4
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT s.priority,
       CAST(EXTRACT(year FROM f.l_shipdate) AS INTEGER) AS ship_year,
       COUNT(*) AS n_items,
       CAST(SUM(f.rev_s4) AS DOUBLE)/10000.0 AS revenue
FROM fact f
JOIN scd2 s
  ON s.custkey = f.custkey
 AND f.l_shipdate >= s.valid_from
 AND (s.valid_to IS NULL OR f.l_shipdate < s.valid_to)
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES = {
    "doc_weighted_sample": doc_weighted_sample,
    "doc_weighted_sample_stratified": doc_weighted_sample_stratified,
    "jw_best_match_parts": jw_best_match_parts,
    "doc_jaccard_prefix_filter": doc_jaccard_prefix_filter,
    "doc_jaccard_rare_prefix": doc_jaccard_rare_prefix,
    "li_scd2_pit_revenue": li_scd2_pit_revenue,
}

ORACLES = {
    "doc_weighted_sample": DOC_WEIGHTED_SAMPLE_SQL,
    "doc_weighted_sample_stratified": DOC_WEIGHTED_SAMPLE_STRAT_SQL,
    "jw_best_match_parts": JW_BEST_MATCH_SQL,
    "doc_jaccard_prefix_filter": _jaccard_naive_oracle(),
    "doc_jaccard_rare_prefix": _jaccard_rare_oracle(),
    "li_scd2_pit_revenue": LI_SCD2_PIT_SQL,
}
