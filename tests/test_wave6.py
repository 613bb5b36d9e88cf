"""Round-6 operators: weighted reservoir sampling (A-ES) and exact
Jaro-Winkler — distribution/parity invariants beyond the driver's
hash check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()


def test_weighted_sample_partitioning_invariant(spark, sf_dir):
    """The sampled ID SET must be identical under any partitioning —
    per-row deterministic keys + TakeOrderedAndProject, no RNG state."""
    from planning_center_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    one = {
        r.doc_id
        for r in weighted_sample(d.repartition(1), "doc_id", "n_chars", 100)
        .select("doc_id")
        .collect()
    }
    many = {
        r.doc_id
        for r in weighted_sample(d.repartition(16), "doc_id", "n_chars", 100)
        .select("doc_id")
        .collect()
    }
    assert one == many and len(one) == 100


def test_weighted_sample_respects_weights(spark):
    """Planted distribution: half the items carry 20x weight; an A-ES
    sample of 400 of 4000 must be dominated by heavy items.  Expected
    heavy share = 20/(20+1) ~ 0.95 of inclusion mass early on; assert
    a loose lower bound (> 0.8) and that light items still appear in a
    sample this large relative to the light mass."""
    from planning_center_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    rows = [(i, 20 if i % 2 == 0 else 1) for i in range(4000)]
    df = spark.createDataFrame(rows, "item_id long, w long")
    got = weighted_sample(df, "item_id", "w", 400).collect()
    heavy = sum(1 for r in got if r.item_id % 2 == 0)
    assert len(got) == 400
    assert heavy / 400 > 0.8
    # uniform sampling would give ~200 heavy; weights must clearly beat it
    assert heavy > 300


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from planning_center_data_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, 7)], "item_id long, w long"
    )
    got = {r.item_id for r in weighted_sample(df, "item_id", "w", 10).collect()}
    assert got == {1, 4}


def test_jaro_winkler_literature_values():
    """Classic pairs with hand-checkable values (micro-units)."""
    from planning_center_data_pipeline_spark.functions.fuzzy import (
        jaro_winkler_micro,
    )

    assert jaro_winkler_micro("MARTHA", "MARHTA") == round(0.9611111111111111e6)
    assert jaro_winkler_micro("DIXON", "DICKSONX") == round(0.8133333333333332e6)
    assert jaro_winkler_micro("JELLYFISH", "SMELLYFISH") == round(
        0.8962962962962964e6
    )
    assert jaro_winkler_micro("abc", "abc") == 1_000_000
    assert jaro_winkler_micro("", "abc") == 0
    assert jaro_winkler_micro("", "") == 0  # DuckDB convention
    assert jaro_winkler_micro("a", "b") == 0
    # boost applies at jaro exactly 0.7 (DuckDB parity)
    assert jaro_winkler_micro("hot plate", "hot widget") == 820_000


def test_jaro_winkler_boost_fires_at_exact_boundary():
    """Constructed pair with rational jaro EXACTLY 7/10 (m=3, l1=5,
    l2=6, t=0 -> num/den = 189/270 = 7/10) and prefix 3: DuckDB 1.x
    applies the Winkler boost at jaro >= 0.7 (verified: it returns
    0.79 = 0.7 + 3*0.1*0.3 for this pair), so our `10*num >= 7*den`
    must too — a strict `>` would return 700000 here."""
    duckdb = pytest.importorskip("duckdb")
    from planning_center_data_pipeline_spark.functions.fuzzy import (
        jaro_winkler_micro,
    )

    a, b = "aaaaa", "aaabbb"
    d_jw, d_j = duckdb.sql(
        f"SELECT CAST(ROUND(jaro_winkler_similarity('{a}','{b}')*1e6) AS BIGINT),"
        f"       CAST(ROUND(jaro_similarity('{a}','{b}')*1e6) AS BIGINT)"
    ).fetchone()
    assert d_j == 700_000  # the pair really sits on the boundary
    assert d_jw == 790_000  # and DuckDB boosts it
    assert jaro_winkler_micro(a, b) == d_jw


def test_jw_pairs_unblocked_call_raises():
    """Misuse guard: the per-pair Python kernel refuses to run without
    a blocking-key column (cross products must never reach it), and
    refuses a degenerate (constant, oversized) block."""
    from planning_center_data_pipeline_spark.functions.fuzzy import (
        MAX_PAIRS_PER_BLOCK,
        jw_micro_pairs,
    )

    with pytest.raises(ValueError, match="unblocked"):
        jw_micro_pairs(["abc"], ["abd"])
    # explicit opt-out still works for bounded test corpora
    assert jw_micro_pairs(["abc"], ["abc"], unsafe_allow_unblocked=True) == [
        1_000_000
    ]
    # a constant block key bigger than the ceiling = disguised cross join
    n = MAX_PAIRS_PER_BLOCK + 1
    with pytest.raises(ValueError, match="degenerate blocking key"):
        jw_micro_pairs(["a"] * n, ["b"] * n, block=["blk"] * n)
    # healthy blocked call passes through
    assert jw_micro_pairs(["ab"], ["ab"], block=["k1"]) == [1_000_000]


def test_jaro_winkler_matches_duckdb_on_random_strings():
    """Property parity: the exact-rational implementation agrees with
    DuckDB's float jaro_winkler_similarity after 1e-6 quantization on
    arbitrary short strings."""
    duckdb = pytest.importorskip("duckdb")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from planning_center_data_pipeline_spark.functions.fuzzy import (
        jaro_winkler_micro,
    )

    con = duckdb.connect()
    word = st.text(alphabet="abcdexyz ", min_size=0, max_size=16)

    @settings(max_examples=300, deadline=None)
    @given(word, word)
    def agree(a, b):
        d = con.execute(
            "SELECT CAST(ROUND(jaro_winkler_similarity(?, ?) * 1000000)"
            " AS BIGINT)",
            [a, b],
        ).fetchone()[0]
        assert jaro_winkler_micro(a, b) == d

    agree()


def test_jaro_winkler_symmetry_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from planning_center_data_pipeline_spark.functions.fuzzy import (
        jaro_winkler_micro,
    )

    word = st.text(alphabet="abcdef", min_size=0, max_size=12)

    @settings(max_examples=200, deadline=None)
    @given(word, word)
    def sym(a, b):
        assert jaro_winkler_micro(a, b) == jaro_winkler_micro(b, a)
        assert 0 <= jaro_winkler_micro(a, b) <= 1_000_000

    sym()


def test_prefix_filter_equals_naive_jaccard(spark, sf_dir):
    """Recall=1 proof at the operator level: the prefix-filtered join
    must produce EXACTLY the naive inverted-index join's pairs."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        shingle_table,
    )

    got = {
        (r.id_1, r.id_2, r.n_common, r.n_1, r.n_2)
        for r in Q["doc_jaccard_prefix_filter"](spark, sf_dir).collect()
    }
    sh = shingle_table(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", k=3
    )
    want = {
        (r.id_1, r.id_2, r.n_common, r.n_1, r.n_2)
        for r in jaccard_pairs(sh, "doc_id", threshold=0.7).collect()
    }
    assert got == want and want


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """Efficiency evidence: the prefix join must generate strictly
    fewer candidate pairs than the full inverted index co-occurrence
    join it replaces."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )
    from pyspark.sql import functions as F

    sh = shingle_table(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id", "text", k=3
    )
    a, b = sh.alias("a"), sh.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    t = 0.7
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("br"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    pref = docs.select(
        "doc_id",
        F.explode(
            F.slice(
                F.transform(F.col("br"), lambda x: x["shingle"]),
                1,
                (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int"),
            )
        ).alias("shingle"),
    )
    pa, pb = pref.alias("a"), pref.alias("b")
    pruned = (
        pa.join(
            pb,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert pruned < naive


def test_scd2_pit_join_covers_every_fact_row(spark, sf_dir):
    """PIT-join invariant: SCD2 intervals partition each customer's
    timeline from their first order onward, so every lineitem whose
    ship date is on/after the customer's first interval start matches
    EXACTLY one interval — no gaps, no double-attribution."""
    from pyspark.sql import functions as F

    out = Q["li_scd2_pit_revenue"](spark, sf_dir)
    n_attributed = out.agg(F.sum("n_items")).first()[0]

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    first_order = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("d0"))
    eligible = (
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(first_order, "o_custkey")
        .filter(F.col("l_shipdate") >= F.col("d0"))
        .count()
    )
    assert n_attributed == eligible


def test_jaccard_auto_switch_routes_dense_corpus(spark, tmp_path):
    """Auto-switch proof (round-6 verdict item 5): plant a corpus where
    one template shingle's df exceeds JACCARD_DF_SWITCH.  The plan must
    route to the df-capped path (path='exact_rare_capped'), still find
    the genuinely-near-dup pair via its rare shingles, NOT pair up the
    template-only docs — and the DuckDB oracle, which implements the
    same data-driven rule in SQL, must agree row-for-row."""
    import duckdb

    from planning_center_data_pipeline_spark.plans.documents_dedup import (
        JACCARD_DF_SWITCH,
        _jaccard_naive_oracle,
    )

    n_template = JACCARD_DF_SWITCH + 50
    rows = [
        # template head (shared 3-gram, df = n_template) + unique tail
        (i, f"alpha beta gamma tail{i} mid{i} end{i} close{i}")
        for i in range(n_template)
    ]
    # a true near-dup pair built from doc-unique words (every shingle
    # df == 2 <= cap): survives the capped path with jaccard 1.0
    dup = "quark boson lepton hadron meson photon gluon tau"
    rows += [(9001, dup), (9002, dup)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sfdir = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sfdir}/documents.parquet")

    out = Q["doc_jaccard_prefix_filter"](spark, sfdir).collect()
    assert {r["path"] for r in out} == {"exact_rare_capped"}
    got = {(r.id_1, r.id_2): r.jaccard for r in out}
    assert got[(9001, 9002)] == 1.0
    # template docs share ONLY the df-capped-out shingle: no pairs
    assert all(k == (9001, 9002) for k in got)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sfdir}/documents.parquet/*.parquet')"
    )
    oracle = con.execute(_jaccard_naive_oracle()).fetchall()
    spark_rows = sorted(
        (r.id_1, r.id_2, r.n_common, r.n_1, r.n_2, r.jaccard, r.path)
        for r in out
    )
    assert spark_rows == sorted(tuple(r) for r in oracle)


def test_jaccard_auto_switch_full_path_on_sparse_corpus(spark, sf_dir):
    """On the real sf0.001 corpus (max df 9) the switch keeps the full
    exact path and the output says so."""
    paths = {
        r["path"]
        for r in Q["doc_jaccard_prefix_filter"](spark, sf_dir)
        .select("path")
        .distinct()
        .collect()
    }
    assert paths in ({"exact_full"}, set())  # set() if no pairs at this sf
