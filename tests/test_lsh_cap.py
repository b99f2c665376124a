"""Frequent-bucket pruning for LSH candidate generation (lsh_candidate_pairs).

A degenerate bucket of B docs emits B·(B−1)/2 pairs — the quadratic blowup
that kills naive LSH on web-scale boilerplate. ``max_bucket_size`` drops
such buckets before the self-join. These tests pin the semantics:

- capped output is a SUBSET of the uncapped output (pruning only removes);
- a boilerplate family larger than the cap emits no pairs, while a true
  near-dup pair in small buckets survives untouched;
- the default (no cap) path is unchanged — byte-equal pair sets with the
  declared e2b query on real fixture data;
- the pruning introduces no extra shuffle: the window count's exchange is
  the same (band, bucket_key) hash partitioning the self-join needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wx20222_bigdata_spark.operators.dedup import (
    _corpus_with_mutants_spark,
    lsh_candidate_pairs,
    minhash_band_keys,
)

SF = "/root/testdata/sf0.001"


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").distinct().collect()}


def _boilerplate_corpus(spark):
    """20 identical boilerplate docs (ids 0..19) + one near-dup pair
    (100, 101) with distinct long texts differing by one word."""
    boiler = [(i, "terms of service apply to all users of this web site") for i in range(20)]
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles hang on the wall beside a river of melted glass"
    )
    rows = boiler + [(100, base), (101, base + " tonight")]
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_cap_drops_boilerplate_keeps_neardups(spark):
    bands = minhash_band_keys(_boilerplate_corpus(spark))
    uncapped = _pairs(lsh_candidate_pairs(bands))
    capped = _pairs(lsh_candidate_pairs(bands, max_bucket_size=5))
    # identical docs all collide: the boilerplate family is quadratic
    boiler_pairs = {(a, b) for (a, b) in uncapped if a < 20 and b < 20}
    assert len(boiler_pairs) == 20 * 19 // 2
    # the 20-doc buckets exceed the cap → every boilerplate pair pruned
    assert not any(a < 20 and b < 20 for (a, b) in capped)
    # the true near-dup pair lives in 2-doc buckets → untouched
    assert (100, 101) in uncapped and (100, 101) in capped
    assert capped <= uncapped


def test_cap_is_subset_on_fixture_corpus(spark):
    corpus = _corpus_with_mutants_spark(spark, SF)
    bands = minhash_band_keys(corpus)
    uncapped = _pairs(lsh_candidate_pairs(bands))
    capped = _pairs(lsh_candidate_pairs(bands, max_bucket_size=3))
    assert capped <= uncapped


def test_default_path_matches_declared_query(spark):
    """lsh_candidate_pairs with no cap reproduces e2b's aggregated pairs."""
    from wx20222_bigdata_spark.operators.dedup import e2b_minhash_lsh_pairs

    corpus = _corpus_with_mutants_spark(spark, SF)
    via_helper = (
        lsh_candidate_pairs(minhash_band_keys(corpus))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band").alias("n_shared_bands"))
    )
    declared = e2b_minhash_lsh_pairs(spark, SF)
    a = {tuple(r) for r in via_helper.collect()}
    b = {tuple(r) for r in declared.collect()}
    assert a == b


def test_production_tiers_run_capped_and_keep_mutant_recall(spark):
    """e2g/e2m (the production tiers) run with PROD_MAX_BUCKET_SIZE
    (added after the sf10 curve measured a 17,727-doc char bucket —
    157M pairs through one reducer). The cap must not cost recall of
    the seeded mutants: every (doc, doc+100000) mutant pair the
    uncapped join finds is still found capped, and capped ⊆ uncapped."""
    from wx20222_bigdata_spark.operators.dedup import (
        PROD_MAX_BUCKET_SIZE,
        e2g_minhash_lsh_production,
        e2m_char_lsh_production,
    )

    corpus = _corpus_with_mutants_spark(spark, SF)
    for tier_fn, ws in [(e2g_minhash_lsh_production, True), (e2m_char_lsh_production, False)]:
        bands = minhash_band_keys(corpus, production_hash=True, whitespace=ws)
        uncapped = _pairs(lsh_candidate_pairs(bands))
        capped = _pairs(tier_fn(spark, SF))
        assert capped <= uncapped
        mutant_pairs = {(a, b) for (a, b) in uncapped if b == a + 100000}
        assert mutant_pairs, "fixture must contain seeded mutants"
        assert mutant_pairs <= capped
        # fixture buckets are all far below the production cap, so the
        # capped tier loses nothing here (the cap only bites degenerate
        # boilerplate families, by construction)
        assert capped == uncapped
    # guard accidental tightening below the measured p99.9 bucket size
    # (297 at sf10) — a cap under that starts pruning real buckets
    assert PROD_MAX_BUCKET_SIZE >= 300


def test_cap_adds_no_extra_exchange(spark):
    """The window count partitions by (band, bucket_key) — exactly the
    self-join's key — so capping must not add an Exchange beyond the
    uncapped plan's count."""
    bands = minhash_band_keys(_boilerplate_corpus(spark))
    plain = lsh_candidate_pairs(bands)._jdf.queryExecution().executedPlan().toString()
    capped = lsh_candidate_pairs(bands, max_bucket_size=5)
    capped_plan = capped._jdf.queryExecution().executedPlan().toString()
    n_plain = plain.count("Exchange hashpartitioning")
    n_capped = capped_plan.count("Exchange hashpartitioning")
    assert n_capped <= n_plain + 1  # the window's own exchange at most
    # and the join must still be an equi-join on the band keys, not a
    # cartesian/broadcast-nested-loop
    assert "CartesianProduct" not in capped_plan
    assert "BroadcastNestedLoopJoin" not in capped_plan


def test_pair_rows_unique_per_band_and_count_equals_count_distinct(spark):
    """The precondition behind count_shared_bands (r11): minhash_band_keys
    emits exactly one bucket key per (doc, band), so candidate pair rows
    are unique on (id_a, id_b, band) and count(*) == countDistinct(band)
    — the swap that cut the sf10 verify stage 29.5 s -> 5.1 s. Checked on
    the plain join path AND the salted decomposition (whose pair set is
    bit-equal by its own law, but row-level duplication would silently
    inflate count(*) only here)."""
    from wx20222_bigdata_spark.operators.dedup import (
        _corpus_with_mutants_spark,
        lsh_candidate_pairs,
        lsh_candidate_pairs_salted,
        minhash_band_keys,
    )

    bands = minhash_band_keys(_corpus_with_mutants_spark(spark, SF))
    # one bucket key per (doc, band) — the root invariant
    over = (
        bands.groupBy("doc_id", "band")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert over == 0
    for maker in (lsh_candidate_pairs, lsh_candidate_pairs_salted):
        pairs = maker(bands)
        dup = (
            pairs.groupBy("id_a", "id_b", "band")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0, maker.__name__
        both = pairs.groupBy("id_a", "id_b").agg(
            F.count("*").alias("n"),
            F.countDistinct("band").alias("nd"),
        )
        assert both.filter(F.col("n") != F.col("nd")).count() == 0, maker.__name__
