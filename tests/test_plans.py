"""Physical-plan assertions: the plans we ship are the plans we designed.

Each test pins a scale-critical property — losing predicate pushdown,
column pruning, a broadcast, or top-k pushdown is a performance regression
that correctness tests cannot see.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE

from wx20222_bigdata_spark.plans import (
    forced_broadcast_sf_scans,
    formatted_plan,
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
    read_schemas,
)


def _q(name):
    from wx20222_bigdata_spark.registry import all_queries

    return all_queries()[name]


@pytest.fixture(scope="module")
def registry_plans(spark):
    """``{name: (df, formatted_plan(df))}`` for every registered seat,
    built once for the registry-wide sweeps below (eager seats run their
    checkpoint loops at build time, so each walk used to pay them
    again)."""
    from wx20222_bigdata_spark.registry import all_queries

    plans = {}
    for name, fn in all_queries().items():
        df = fn(spark, SF_ORACLE)
        plans[name] = (df, formatted_plan(df))
    return plans


def test_filter_pushdown_reaches_scan(spark):
    df = _q("a4_pricing_summary")(spark, SF_ORACLE)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_column_pruning(spark):
    df = _q("p2_derive_drop")(spark, SF_ORACLE)
    schemas = read_schemas(df)
    assert schemas, "no file scan found"
    # text is needed (n_words derives from it) but source must be pruned
    assert all("source" not in s for s in schemas), schemas


def test_pruning_drops_payload_for_metadata_plan(spark):
    # e5 manifest never materializes text-derived payload beyond what the
    # expressions need; documents scan must not read lang/source.
    df = _q("e5_multimodal_manifest")(spark, SF_ORACLE)
    schemas = read_schemas(df)
    assert all("lang" not in s and "source" not in s for s in schemas), schemas


def test_small_dim_joins_broadcast(spark):
    for name in ["j2_broadcast_dim_join", "p3_dict_encode", "j3_inner_join_revenue"]:
        df = _q(name)(spark, SF_ORACLE)
        assert has_broadcast_join(df), f"{name} lost its broadcast join"


def test_no_forced_broadcast_of_sf_scaled_table(registry_plans):
    """r8 inverse of test_small_dim_joins_broadcast (the q9 rule,
    NOTES_r7 item 6): no registered query may carry a *hint-forced*
    broadcast whose build side scans an SF-scaled table (lineitem /
    orders / part / supplier / customer / documents / embeddings /
    events) un-aggregated. A forced hint on a corpus-scaled table is an
    executor OOM at 100 TB — the strategy must be left to AQE, which
    broadcasts at small SF and falls back to a shuffled hash join at
    scale. q9 had exactly this bug (F.broadcast(part): 2.7x slower at
    sf10, measured); r8 swept the same hint out of q2/q11/q14/q15/q16/
    q17/q19/q20/q21/dq1. Hints stay legal on fixed-cardinality dims
    (nation/region — not in SF_TABLE_SIGNATURES) and on bounded
    subtrees (a global aggregate or LIMIT under the hint passes the
    detector). The allowlist below is for bounds the plan cannot see."""
    # bounded by construction, invisible to the plan: the ANN query
    # sides are filter(vec_id < N_QUERIES) — a constant <=10-row probe
    # set carved from embeddings (similarity.py / retrieval.py document
    # the bound at each site).
    BOUNDED_BY_CONSTRUCTION = {
        "e3_cosine_topk",
        "e3b_lsh_bucket_ann",
        "rrf1_hybrid_retrieval",
    }
    offenders = {}
    for name, (df, _) in registry_plans.items():
        hits = forced_broadcast_sf_scans(df)
        if hits and name not in BOUNDED_BY_CONSTRUCTION:
            offenders[name] = hits
    assert not offenders, offenders


def test_vocab_stats_window_form_has_no_equi_join(spark):
    """r8 e16/e19 final form: vocabulary statistics (document frequency /
    per-token instance count) are computed OVER A tok WINDOW of the
    distinct (doc, token) table — no vocab table is materialized, joined,
    or broadcast (the pre-r8 broadcast hint was an OOM at web-scale
    vocab; the interim join form paid an avoidable exchange). Pin: the
    physical plan contains NO equi-join operator at all — the only joins
    allowed are the documented one-row BroadcastNestedLoopJoin crosses
    (corpus size / corpus total / tercile bounds).

    e19 materializes its scored frame since r12 (the fold ran once per
    branch otherwise), which would hide the upstream lineage from this
    law — so the law drives it with ``materialize_scored=False`` to
    assert the shape across the FULL lazy plan."""
    from wx20222_bigdata_spark.operators.textstats import e19_unigram_logprob

    frames = {
        "e16_tfidf_keywords": _q("e16_tfidf_keywords")(spark, SF_ORACLE),
        "e19_unigram_logprob": e19_unigram_logprob(
            spark, SF_ORACLE, materialize_scored=False
        ),
    }
    for name, df in frames.items():
        plan = formatted_plan(df)
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
            assert op not in plan, f"{name}: unexpected {op} — vocab join is back"
        assert "hashpartitioning(tok" in plan, f"{name}: lost the tok window exchange"


def test_topk_is_take_ordered(spark):
    df = _q("o4_top_k_orders")(spark, SF_ORACLE)
    assert has_take_ordered(df), formatted_plan(df)[:2000]


def test_e4b_topk_is_two_stage(spark):
    """VERDICT r1 item 9: the token-frequency top-k must stay the
    two-stage plan — partial map-side HashAggregate, shuffle on |vocab|,
    TakeOrderedAndProject (per-partition top-k merged on the driver).
    A Sort+Limit or SinglePartition here would be the 100x scale killer."""
    df = _q("e4b_token_freq_topk")(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert has_take_ordered(df), plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]


def test_no_unintended_cartesian_or_nested_loop(registry_plans):
    # Every query must be cartesian-free, and nested-loop joins are allowed
    # ONLY where the build side is constant-size and broadcast: the ANN
    # brute-force baseline + IVF centroid probe (documented), the 3-row
    # tier table of the range join, and the flagship's 1-row aggregate
    # cross. A nested loop anywhere else is an O(n*m) scale killer — e2h's
    # equality-free band join hung the sf1 soak exactly this way before it
    # was decomposed into a block-key equi-join.
    NESTED_LOOP_OK = {
        "e3_cosine_topk",
        "e3c_ivf_probe_ann",
        "t2_range_join",
        "flagship_two_level_metrics",
        # one-row corpus-stats (N, avgdl) broadcast into the scorer —
        # constant-size nested loop, the documented benign pattern
        "e13_bm25_retrieval",
        # one-row query-vector broadcast (e3's pattern) + the one-row
        # corpus stats of its BM25 arm
        "rrf1_hybrid_retrieval",
        # one-row (na, nb, V) totals broadcast into the smoothed-KL terms
        "dq3_distribution_drift",
        # one-row global-total broadcast (Q11 threshold); both q2/q11
        # also cross the 4-row replication frame of the synthesized
        # partsupp (constant-size broadcast)
        "q11_important_stock",
        "q2_min_cost_supplier",
        # one-row corpus-size broadcast into the tf-idf scorer
        "e16_tfidf_keywords",
        # one-row scalar-average broadcast (q22 pos_avg)
        "q22_global_sales_opportunity",
        # K-row centroid frames broadcast into the assignment scorer
        "e14_kmeans_assign",
        # same K-row centroid broadcast (shares e14's Lloyd assignment)
        "e17_semantic_dedup",
        # one-row token-total + tercile-boundary aggregates broadcast
        # into the per-doc scorer
        "e19_unigram_logprob",
        # one-row global-max bucket broadcast (naive-pad comparison)
        "e24_length_bucketing",
        # one-row (tt, tr, V) smoothing totals broadcast into the
        # DSIR log-ratio weight table (e19's documented pattern)
        "e31_dsir_importance",
        # one-row global max-day broadcast (decay reference day)
        "t10_decay_weighted_value",
    }
    for name, (_, plan) in registry_plans.items():
        assert "CartesianProduct" not in plan, f"{name} has a CartesianProduct"
        if name not in NESTED_LOOP_OK:
            assert "NestedLoop" not in plan, f"{name} has a nested-loop join"


def test_semi_anti_join_operators(spark):
    plan = formatted_plan(_q("j3_semi_join")(spark, SF_ORACLE))
    assert "LeftSemi" in plan
    plan = formatted_plan(_q("j3_anti_join_integrity")(spark, SF_ORACLE))
    assert "LeftAnti" in plan


def test_no_unpartitioned_window_in_declared_set(registry_plans):
    """VERDICT r1 item 5: after routing J1 through the scalable zip index,
    no declared query may funnel its *data* through a single partition.

    ``Exchange SinglePartition`` is allowed only where its input is bounded
    (final step of a one-row global aggregate: one partial row per upstream
    partition). The former o7 exemption is gone (r5 verdict item 1): the
    seeded shuffle now ranks via the scalable zip index, so NO declared
    query funnels row data through one partition. The set is pinned
    exactly: any new query that reintroduces a global window/sort over row
    data fails this test."""
    EXEMPT = {
        # one-row global aggregates (bounded single-partition input)
        "q17_small_quantity_revenue",
        "f_null_semantics",
        "flagship_two_level_metrics",
        "a12_approx_distinct",
        "q6_forecast_revenue",
        "q14_promo_effect",
        # one-row corpus-stats aggregate feeding the BM25 scorer
        "e13_bm25_retrieval",
        # K-row deterministic k-means init (bounded LIMIT-K frame)
        "e14_kmeans_assign",
        # same bounded k-means init via the shared Lloyd assignment
        "e17_semantic_dedup",
        # one-row aggregates: token total + corpus perplexity terciles
        "e19_unigram_logprob",
        # one-row wide constraint aggregate unpivoted into rule rows
        "dq1_constraint_report",
        # one-row global-max bucket aggregate broadcast into the
        # padding-waste comparison
        "e24_length_bucketing",
        # one-row wide profile aggregate unpivoted into per-column rows
        "prof1_table_profile",
        # one-row corpus-size aggregate feeding the tf-idf scorer
        "e16_tfidf_keywords",
        # one-row global aggregates joined back (argmax / scalar avg)
        "q15_top_supplier",
        "q19_discounted_revenue",
        "q22_global_sales_opportunity",
        # one-row global-value threshold broadcast (Q11's scalar subquery)
        "q11_important_stock",
        # source-cardinality-bounded apportionment table (one row per
        # source) — the global window ranks ~20 aggregate rows, not data
        "e12_mixture_sampling",
        # same bounded apportionment table, √n temperature units
        "e12b_temperature_mixture",
        # same bounded apportionment table, corpus-count budget + epochs
        "o15_epoch_repeat_schedule",
        # one-row global max-day aggregate (decay reference day)
        "t10_decay_weighted_value",
        # rank-number windows run AFTER TakeOrderedAndProject bounds
        # each modality list to RRF_DEPTH rows (never the scored set)
        "rrf1_hybrid_retrieval",
        # running sum over the O(days) per-day aggregate series — user
        # rows are reduced by two groupBys before the global window
        "w11_cumulative_actives",
        # one-row KL fold over the |vocab| count table (bounded input)
        "dq3_distribution_drift",
        # one-row wide dataset-card aggregate (bounded single-partition)
        "e30_dataset_card",
        # one-row (tt, tr, V) smoothing-totals aggregate (DSIR weights)
        "e31_dsir_importance",
    }
    offenders = []
    for name, (_, plan) in registry_plans.items():
        if "SinglePartition" in plan and name not in EXEMPT:
            offenders.append(name)
    assert not offenders, offenders


def test_j1_zip_join_has_no_global_window(spark):
    plan = formatted_plan(_q("j1_positional_zip_join")(spark, SF_ORACLE))
    assert "SinglePartition" not in plan, plan[:2000]


def test_w6_rank_pushdown(spark):
    """w6 claims WindowGroupLimit (per-group rank pushdown): each task
    keeps only N rows per group before the window shuffle."""
    plan = formatted_plan(_q("w6_top_n_per_group")(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_e4g_shuffles_hashed_gram_keys(spark):
    """r5 verdict item 7: e4g's exchanges must partition on the int64
    xxhash64 gram key, never the gram string — at 100× the per-(gram,
    doc) distinct pairs dominate the shuffle and string keys there are
    pure waste. Pin: every hashpartitioning expression list is free of
    the string column g (it rides only in the min() agg buffer)."""
    import re

    plan = formatted_plan(_q("e4g_char_ngram_stats")(spark, SF_ORACLE))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan[:2000]
    for p in parts:
        cols = [c.strip().split("#")[0] for c in p.split(",")]
        assert "g" not in cols, f"string gram key crosses an exchange: {p}"
    assert "xxhash64" in plan


def test_e3b_bucket_join_broadcasts_query_side(spark):
    """r6 e3b rewrite: the LSH bucket join must broadcast the N_QUERIES-row
    query side so the candidate corpus never crosses an exchange — at
    100 TB the corpus-side shuffle would dominate the whole query. Pin:
    the join is a BroadcastHashJoin and no hashpartitioning on bucket
    appears below it (the only exchange allowed is the final per-query
    rank window, whose key set is bounded by N_QUERIES)."""
    df = _q("e3b_lsh_bucket_ann")(spark, SF_ORACLE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "hashpartitioning(bucket" not in plan, plan[:2000]


def test_minhash_band_keys_no_permutation_explode(spark):
    """r4 LSH rewrite (NOTES_r4): all 16 permutation minima come from ONE
    groupBy(doc_id) over un-multiplied shingle rows. Pin the shape —
    exactly one Exchange (the doc_id aggregate), and exactly one Generate
    BELOW the aggregate (the shingle explode); the only other Generate is
    the narrow x4 band-struct explode above it. A reappearing permutation
    explode (x16 map-side row volume) would add a second pre-aggregate
    Generate or an Expand."""
    import re

    from wx20222_bigdata_spark.catalog import load_table
    from wx20222_bigdata_spark.operators.dedup import minhash_band_keys

    docs = load_table(spark, SF_ORACLE, "documents")
    for ws in (True, False):
        plan = formatted_plan(minhash_band_keys(docs, whitespace=ws))
        ops = [
            m.group(1)
            for line in plan.splitlines()
            if (m := re.match(r"^\s*\(\d+\) (\w+)", line))
        ]
        assert "Expand" not in ops, ops
        assert ops.count("Exchange") == 1, ops
        first_agg = ops.index("HashAggregate")
        assert ops[:first_agg].count("Generate") == 1, ops
        assert ops[first_agg:].count("Generate") == 1, ops


def test_q5_broadcast_prune_shape_survives_cbo(spark):
    """CBO regression guard (round-5 verdict item 4): enabling the
    cost-based optimizer + join reorder must not degrade the hand-ordered
    q5 — the region prune stays broadcast-first and the fact table is
    never hash-shuffled for a join. (tools/cbo_experiment.py shows the
    flip side: WITH column stats CBO reorders even the naive spec-order
    SQL into this dims-first shape; without stats Catalyst keeps FROM
    order — the reason q5/q3/q17 are hand-ordered.)"""
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    old_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        df = _q("q5_local_supplier_volume")(spark, SF_ORACLE)
        plan = formatted_plan(df)
        assert has_broadcast_join(df), "q5 lost its broadcast joins under CBO"
        assert "Exchange hashpartitioning(l_orderkey" not in plan, (
            "fact table shuffled for a join under CBO"
        )
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", old_reorder)


def test_simhash_single_exchange_no_bit_explode(spark):
    """r5 SimHash rewrite: all 20 bit balances come from ONE
    groupBy(doc_id) over un-multiplied (doc, token) hash rows — the bit
    index is never exploded (the old long-format plan multiplied rows
    x20 and paid a second exchange to reassemble the fingerprint). Pin:
    exactly one Exchange, exactly one Generate (the token explode), no
    Expand."""
    import re

    df = _q("e2c_simhash")(spark, SF_ORACLE)
    plan = formatted_plan(df)
    ops = [
        m.group(1)
        for line in plan.splitlines()
        if (m := re.match(r"^\s*\(\d+\) (\w+)", line))
    ]
    assert "Expand" not in ops, ops
    assert ops.count("Exchange") == 1, ops
    assert ops.count("Generate") == 1, ops
