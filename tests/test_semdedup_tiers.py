"""e35 (flat-SQL signature) vs e35b (numpy-kernel signature) tier laws.

The production tier moves ONLY the sign-bit computation into an
Arrow-batched matmul; banding, pair join, cosine and keep tail are the
shared ``_hp_prune``. These laws pin the claim that the move is
value-preserving: band keys agree bit-for-bit on the fixture corpus
(numpy's accumulation order could in principle flip a sign only when
|dot| is within ~1e-13 of zero — if a future fixture ever lands there,
THIS test fails loudly before a driver round sees it), and the two
seats' outputs are row-identical.
"""

from __future__ import annotations

import numpy as np


SF = "/root/testdata/sf0.001"


def test_band_keys_agree_duckdb_vs_numpy():
    """The SQL-semantics side is evaluated in DuckDB (the oracle's own
    ``_hp_band_duck`` expressions — interpreted, no Spark codegen: the
    flat-SQL form's giant generated method OOMs a default test heap,
    which is the very pathology the numpy tier removes)."""
    import duckdb

    from wx20222_bigdata_spark.operators.semdedup import (
        _CORPUS_DUCK_EMB,
        _HP_W,
        HP_BANDS,
        HP_BITS,
        _hp_band_duck,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS"
        f" SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    keys = ", ".join(
        f"CAST({_hp_band_duck(b)} AS INT) AS band{b}" for b in range(HP_BANDS)
    )
    rows = con.execute(
        f"WITH corpus AS ({_CORPUS_DUCK_EMB})"
        f" SELECT vec_id, embedding, {keys} FROM corpus"
    ).fetchall()
    assert rows
    w_t = np.array(_HP_W, dtype=np.float64).T
    pow2 = 1 << np.arange(HP_BITS, dtype=np.int64)
    for vec_id, emb, *sql_keys in rows:
        signs = (np.array(emb, dtype=np.float64) @ w_t) > 0
        for b in range(HP_BANDS):
            np_key = int(signs[b * HP_BITS : (b + 1) * HP_BITS] @ pow2)
            assert np_key == sql_keys[b], (
                f"vec {vec_id} band {b}: numpy {np_key} != sql {sql_keys[b]}"
            )


def test_e35_tiers_outputs_identical(spark):
    from wx20222_bigdata_spark.operators.semdedup import (
        e35_hyperplane_semdedup,
        e35b_hyperplane_semdedup_production,
    )

    a = e35_hyperplane_semdedup(spark, SF)
    b = e35b_hyperplane_semdedup_production(spark, SF)
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_e35c_cap_inactive_equals_e35b_and_bucket_precondition(spark):
    """e35c (capped representative join) must equal e35b EXACTLY wherever
    no bucket exceeds HP_CAP — and the fixture must actually satisfy that
    precondition (asserted, not assumed), so the equality is meaningful."""
    from pyspark.sql import functions as F

    from wx20222_bigdata_spark.operators.semdedup import (
        HP_BANDS,
        HP_CAP,
        _hp_numpy_sig_frame,
        e35b_hyperplane_semdedup_production,
        e35c_hyperplane_semdedup_capped,
    )

    sf = "/root/testdata/sf0.01"
    sig = _hp_numpy_sig_frame(spark, sf)
    bands = sig.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bkey"))
                    for b in range(HP_BANDS)
                ]
            )
        ).alias("bb")
    ).select("bb.band", "bb.bkey")
    max_bucket = (
        bands.groupBy("band", "bkey").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket <= HP_CAP, "fixture grew a hot bucket; law precondition broken"
    b = e35b_hyperplane_semdedup_production(spark, sf)
    c = e35c_hyperplane_semdedup_capped(spark, sf)
    assert c.exceptAll(b).count() == 0
    assert b.exceptAll(c).count() == 0


def test_e35c_cap_binds_on_saturated_bucket(spark):
    """On a hand-built duplication-saturated frame (one family of
    identical vectors far larger than HP_CAP) the capped tier must (a)
    generate only n×HP_CAP-bounded pairs per band — checked structurally
    via the representative count — and (b) still prune every non-min
    member (each sees representative #1 at cosine 1)."""
    from pyspark.sql import functions as F

    from wx20222_bigdata_spark.operators.semdedup import HP_CAP
    from wx20222_bigdata_spark.operators import semdedup as sd

    n = 3 * HP_CAP
    base = [0.25] * 16 + [-0.5] * 16 + [1.0] * 16 + [0.125] * 16  # DIM=64
    df = spark.createDataFrame(
        [(i, base) for i in range(n)], "vec_id long, embedding array<double>"
    )
    # monkeypatch the corpus source through a temp view is overkill —
    # drive the capped tail directly on a synthetic sig frame instead
    import numpy as np

    w_t = np.array(sd._HP_W, dtype=np.float64).T
    signs = (np.array(base) @ w_t) > 0
    pow2 = 1 << np.arange(sd.HP_BITS, dtype=np.int64)
    keys = [
        int(signs[b * sd.HP_BITS : (b + 1) * sd.HP_BITS] @ pow2)
        for b in range(sd.HP_BANDS)
    ]
    sig = df.select(
        "vec_id",
        "embedding",
        sd.norm("embedding").alias("nrm"),
        *[F.lit(keys[b]).cast("int").alias(f"band{b}") for b in range(sd.HP_BANDS)],
    )
    from pyspark.sql.window import Window

    bands = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bkey"))
                    for b in range(sd.HP_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bkey")
    reps = bands.withColumn(
        "rn", F.row_number().over(Window.partitionBy("band", "bkey").orderBy("vec_id"))
    ).filter(F.col("rn") <= HP_CAP)
    assert reps.count() == sd.HP_BANDS * HP_CAP  # cap binds: n=3*CAP members, CAP reps/band
    out = sd._hp_prune(sig, cap=HP_CAP).toPandas().set_index("vec_id")
    # keep-min-id preserved: only vec 0 survives, everyone else sees
    # representative #1 at cosine 1.0 and is pruned
    assert bool(out.loc[0, "is_kept"]) is True
    assert (~out.drop(index=0)["is_kept"]).all()
    assert (out.drop(index=0)["max_lower_cosine"] == 1.0).all()


def test_choose_semdedup_tier_measured_anchors():
    """The tier rule at the measured pair-count anchors (SCALE.md
    'semantic-dedup tier rule'): every completed e35b scale point sits
    below the budget, the ×1000 kill far above it."""
    from wx20222_bigdata_spark.operators.semdedup import (
        HP_PAIR_BUDGET,
        choose_semdedup_tier,
    )

    assert choose_semdedup_tier(800) == "uncapped"          # sf0.01 fixture
    assert choose_semdedup_tier(458_800) == "uncapped"      # sf1 (tiers tie)
    assert choose_semdedup_tier(46_594_800) == "capped"     # sf10 (capped 1.9x)
    assert choose_semdedup_tier(4_647_344_800) == "capped"  # ×1000 (uncapped killed)
    assert choose_semdedup_tier(HP_PAIR_BUDGET) == "capped"  # boundary inclusive


def test_probe_estimate_and_choice_on_fixture(spark):
    """The sampled probe's estimate on the driver fixture is tiny and
    the auto seat therefore takes the UNCAPPED (e35b) path — the regime
    the shared e35 oracle verifies at sf0.01."""
    from wx20222_bigdata_spark.operators.semdedup import (
        choose_semdedup_tier,
        estimate_semdedup_pairs,
    )

    est = estimate_semdedup_pairs(spark, SF)
    assert est < 1_000_000, est
    assert choose_semdedup_tier(est) == "uncapped"


def test_probe_picks_capped_on_saturated_corpus(spark, tmp_path):
    """A/B half two: on a duplication-saturated corpus (one family of
    20,000 verbatim-identical vectors — the ×1000 replica fixture's
    failure mode in miniature) the probe's estimate crosses the pair
    budget and the auto seat chooses the capped tier. Sampled math:
    ~1/20 of the family survives the md5 sample (~1,000 members), all
    in ONE bucket per band → Σ C(c,2)·400 ≈ 4·C(1000,2)·400 ≈ 8×10⁸
    ≥ HP_PAIR_BUDGET, with huge margin on both sides of the boundary."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wx20222_bigdata_spark.operators.semdedup import (
        HP_PAIR_BUDGET,
        choose_semdedup_tier,
        estimate_semdedup_pairs,
    )

    n = 20_000
    base = np.array([0.25] * 16 + [-0.5] * 16 + [1.0] * 16 + [0.125] * 16,
                    dtype=np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([base] * n, pa.list_(pa.float32())),
            "label": pa.array([0] * n, pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    est = estimate_semdedup_pairs(spark, str(tmp_path))
    assert est >= HP_PAIR_BUDGET, est
    assert choose_semdedup_tier(est) == "capped"
    # r11 (r10 ADVICE #3): entering the capped regime must be LOUD —
    # the registered oracle covers only the uncapped regime, so a
    # saturated driver fixture would otherwise mismatch silently.
    import warnings

    from wx20222_bigdata_spark.operators.semdedup import (
        _emb_corpus_with_mutants,
        e35d_semdedup_auto,
    )

    expected = _emb_corpus_with_mutants(spark, str(tmp_path)).count()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = e35d_semdedup_auto(spark, str(tmp_path))
        # capped semantics still cover every corpus vector (incl. mutants)
        assert out.count() == expected
    assert any("CAPPED tier" in str(w.message) for w in caught)


def test_e35d_shares_e35_oracle_verbatim():
    """The auto seat's driver oracle IS e35's (the uncapped regime the
    fixture sits in); if someone forks the SQL the sharing contract —
    and the reasoning in e35d's docstring — silently breaks. Pin it."""
    import wx20222_bigdata_spark.operators.semdedup  # noqa: F401 (registers)
    from wx20222_bigdata_spark.registry import ORACLES

    assert (
        ORACLES["e35d_semdedup_auto"]
        == ORACLES["e35_hyperplane_semdedup"]
    )


def test_e17_pair_budget_guard(spark):
    """r11 verdict item 2: e17's n²/2K exposure is ENFORCED in the
    function, not just documented. Three laws: (a) the guard raises
    before building the quadratic join when the balanced-clusters pair
    floor blows the budget (exercised via the pair_budget parameter, so
    no giant fixture is needed); (b) the error routes the caller to the
    production seat by name; (c) the guard is INACTIVE at every scale
    the driver/parity harnesses run e17 — the sf1 parity corpus
    (n=20,000 → 5.0e7 floor) sits under E17_PAIR_BUDGET, and the
    default call at fixture scale still returns the oracle-checked
    frame."""
    import pytest

    from wx20222_bigdata_spark.operators.kmeans import K
    from wx20222_bigdata_spark.operators.semdedup import (
        E17_PAIR_BUDGET,
        e17_semantic_dedup,
    )

    # (a)+(b): fixture n=500 → floor 31,187; a budget of 1,000 trips it
    with pytest.raises(ValueError, match="e35d_semdedup_auto"):
        e17_semantic_dedup(spark, SF, pair_budget=1_000)

    # (c) guard-inactive regime: sf1's floor is an order of magnitude
    # under the budget; sf10's floor is an order over it (the
    # arithmetic-doomed regime stays blocked).
    floor = lambda n: n * (n - 1) // (2 * K)  # noqa: E731
    assert floor(20_000) < E17_PAIR_BUDGET < floor(200_000)
    # and the default call still runs at fixture scale
    assert e17_semantic_dedup(spark, SF).count() == 500
