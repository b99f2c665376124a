"""Span laws for e36 exact-substring trim (operators/substring.py).

Cross-engine exactness on the fixture corpus is covered by
test_oracle_parity; these pin the POSITIONAL semantics on hand-built
corpora where the right answer is computable by eye: a seeded verbatim
run covers exactly its own positions, overlapping duplicated windows
merge into one span, within-doc repetition counts (Lee et al. count
occurrences, not documents), and sub-K docs emit nothing.
"""

from __future__ import annotations

from wx20222_bigdata_spark.operators.substring import K, span_trim

# 24 unique filler tokens — never part of a duplicated gram.
_FILL = [f"u{i}" for i in range(24)]
_RUN = "r1 r2 r3 r4 r5 r6 r7 r8"  # 8-token shared run


def _trim(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_trim(df, hashed=False).toPandas().set_index("doc_id")
    return out


def test_seeded_run_covers_exactly_its_positions(spark):
    # run at positions 5..12 of doc 0 and 9..16 of doc 1, unique elsewhere:
    # only the 8-5+1 = 4 windows fully inside the run are duplicated, so
    # coverage is exactly the 8 run tokens, one contiguous span.
    a = " ".join(_FILL[:4]) + " " + _RUN + " " + " ".join(_FILL[4:8])
    b = " ".join(_FILL[8:16]) + " " + _RUN + " " + " ".join(_FILL[16:20])
    out = _trim(spark, [(0, a), (1, b)])
    for d in (0, 1):
        assert out.loc[d, "n_dup_tokens"] == 8
        assert out.loc[d, "n_spans"] == 1
    assert out.loc[0, "n_tokens"] == 16
    assert round(out.loc[0, "dup_fraction"], 6) == 0.5


def test_within_doc_repetition_counts(spark):
    # the same K-gram twice inside ONE doc is a duplicated substring
    # (occurrence count, not document frequency): both occurrences'
    # positions are covered, two separate spans across the unique pivot.
    g = " ".join(f"g{i}" for i in range(K))
    doc = g + " " + _FILL[0] + " " + g
    out = _trim(spark, [(0, doc), (1, " ".join(_FILL[1:9]))])
    assert out.loc[0, "n_dup_tokens"] == 2 * K
    assert out.loc[0, "n_spans"] == 2
    assert out.loc[1, "n_dup_tokens"] == 0


def test_overlapping_windows_merge_into_one_span(spark):
    # doc 1 repeats doc 0's first K+1 tokens: two duplicated K-grams
    # overlap in K-1 positions and must merge to ONE span of K+1 tokens.
    head = " ".join(f"h{i}" for i in range(K + 1))
    out = _trim(
        spark,
        [(0, head + " " + " ".join(_FILL[:4])),
         (1, head + " " + " ".join(_FILL[4:8]))],
    )
    for d in (0, 1):
        assert out.loc[d, "n_dup_tokens"] == K + 1
        assert out.loc[d, "n_spans"] == 1


def test_identical_docs_fully_covered(spark):
    text = " ".join(_FILL[:10])
    out = _trim(spark, [(0, text), (1, text)])
    for d in (0, 1):
        assert out.loc[d, "n_dup_tokens"] == 10
        assert out.loc[d, "n_spans"] == 1
        assert out.loc[d, "dup_fraction"] == 1.0


def test_sub_k_and_blank_docs(spark):
    out = _trim(
        spark,
        [(0, " ".join(_FILL[:K - 1])),  # K-1 tokens: no gram possible
         (1, "   "),                     # whitespace only: zero tokens
         (2, " ".join(_FILL[:8]))],
    )
    assert out.loc[0, "n_tokens"] == K - 1
    assert out.loc[0, "n_dup_tokens"] == 0
    assert out.loc[0, "dup_fraction"] == 0.0
    assert out.loc[1, "n_tokens"] == 0
    import math
    assert math.isnan(out.loc[1, "dup_fraction"]) or out.loc[1, "dup_fraction"] is None


def test_e37_containment_catches_what_jaccard_misses(spark):
    """Every seeded snippet (first C_SNIP_LEN tokens of every
    C_SNIP_MOD-th doc) must be recovered as a containment pair with its
    source at containment 1.0 — while the SAME pair's Jaccard sits below
    the dedup threshold (the asymmetric metric's whole point). Sources
    shorter than the snippet cut produce verbatim copies; those may (and
    do) also pair, still at containment 1.0."""
    import pandas as pd

    from wx20222_bigdata_spark.operators.substring import (
        C_SNIP_MOD,
        C_SNIP_OFFSET,
        C_THRESHOLD,
        K,
        e37_containment_pairs,
    )

    sf = "/root/testdata/sf0.01"
    pdf = e37_containment_pairs(spark, sf).toPandas()
    docs = pd.read_parquet(f"{sf}/documents.parquet", columns=["doc_id", "text"])
    # snippets with >= K tokens produce grams; sources are fixture docs
    seeded = [
        int(d) for d in docs.doc_id if d % C_SNIP_MOD == 0
        and len([w for w in docs.set_index("doc_id").loc[d, "text"].lower().split() if w]) >= K
    ]
    got_pairs = {(r.id_a, r.id_b) for r in pdf.itertuples()}
    for d in seeded:
        assert (d, d + C_SNIP_OFFSET) in got_pairs, f"snippet of {d} missed"
    snip = pdf[pdf.id_b >= C_SNIP_OFFSET]
    assert (snip.containment == 1.0).all()
    # Jaccard on the long-source snippet pairs is BELOW the threshold
    long_src = snip[snip.n_a > 2 * snip.n_b]
    assert len(long_src) > 0
    jac = long_src.n_shared / (long_src.n_a + long_src.n_b - long_src.n_shared)
    assert (jac < C_THRESHOLD).all()


def test_e36b_production_tier_equals_oracle_tier(spark):
    """The md5-prefix gram key must not change a single span: e36b ==
    e36 row-for-row (a 60-bit collision could only OVER-mark — none at
    fixture scale)."""
    import pandas as pd

    from wx20222_bigdata_spark.operators.substring import (
        e36_substring_span_trim,
        e36b_span_trim_production,
    )

    sf = "/root/testdata/sf0.01"
    a = (
        e36_substring_span_trim(spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        e36b_span_trim_production(spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_e36_matches_pure_python_reference_on_random_corpora(spark):
    """Seeded-random cross-check: five corpora of word-salad docs from a
    tiny alphabet (so duplicated K-grams are common), span_trim vs an
    independent pure-Python implementation (dict of gram occurrence
    counts → covered-position sets → run counting)."""
    import random

    from wx20222_bigdata_spark.operators.substring import K, span_trim

    rng = random.Random(20260816)
    for case in range(5):
        docs = []
        for d in range(30):
            n = rng.randint(0, 25)
            docs.append((d, " ".join(rng.choice("ab cd ef gh ij".split())
                                     for _ in range(n))))
        # python reference
        toks = {d: [w for w in t.split() if w] for d, t in docs}
        counts: dict[tuple, int] = {}
        for d, ws in toks.items():
            for j in range(len(ws) - K + 1):
                g = tuple(ws[j:j + K])
                counts[g] = counts.get(g, 0) + 1
        want = {}
        for d, ws in toks.items():
            cov = set()
            for j in range(len(ws) - K + 1):
                if counts[tuple(ws[j:j + K])] >= 2:
                    cov.update(range(j, j + K))
            spans = sum(1 for p in cov if p - 1 not in cov)
            want[d] = (len(ws), len(cov), spans)
        got = span_trim(
            spark.createDataFrame(docs, "doc_id long, text string"), hashed=False
        ).toPandas().set_index("doc_id")
        for d in toks:
            row = got.loc[d]
            assert (
                row.n_tokens, row.n_dup_tokens, row.n_spans
            ) == want[d], (case, d, want[d], tuple(row[:3]))


def test_e37b_prefix_tier_is_lossless(spark):
    """Prefix filtering must be LOSSLESS for the threshold: e37b ==
    e37 pair-for-pair (the n_rare − ⌈t·n_grams⌉ + 1 prefix bound is the
    guarantee; this is the law that breaks if the bound is ever
    off-by-one)."""
    import pandas as pd

    from wx20222_bigdata_spark.operators.substring import (
        e37_containment_pairs,
        e37b_containment_prefix_production,
    )

    sf = "/root/testdata/sf0.01"
    a = (
        e37_containment_pairs(spark, sf)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    b = (
        e37b_containment_prefix_production(spark, sf)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_tier_selection_rule_matches_measured_winners():
    """The auto-tier rule must pick the MEASURED faster tier at every
    anchor scale (SCALE.md 'tier-selection rule' — local[32]/48g
    numbers; anchors are documents.parquet compressed bytes)."""
    from wx20222_bigdata_spark.operators.substring import (
        choose_containment_tier,
        choose_span_tier,
    )

    MiB = 1 << 20
    # e36: text key won (or tied within noise) at sf0.1/sf1/sf10; md5 won ×1000
    assert choose_span_tier(int(0.57 * MiB)) == "text"
    assert choose_span_tier(int(5.9 * MiB)) == "text"
    assert choose_span_tier(57 * MiB) == "text"
    assert choose_span_tier(560 * MiB) == "md5"
    # e37: full index won sf0.1/sf1; prefix won sf10 and ×1000
    assert choose_containment_tier(int(0.57 * MiB)) == "full"
    assert choose_containment_tier(int(5.9 * MiB)) == "full"
    assert choose_containment_tier(57 * MiB) == "prefix"
    assert choose_containment_tier(560 * MiB) == "prefix"


def test_auto_seats_row_equal_to_canonical_tier(spark):
    """The auto seats must be row-identical to the canonical tier on the
    fixture (where the rule picks text/full) — with the oracle reused
    unchanged, this is the property that makes e36c/e37c checkable
    whichever tier the rule picks at other scales."""
    from wx20222_bigdata_spark.operators.substring import (
        corpus_parquet_bytes,
        e36_substring_span_trim,
        e36c_span_trim_auto,
        e37_containment_pairs,
        e37c_containment_auto,
    )

    sf = "/root/testdata/sf0.01"
    assert corpus_parquet_bytes(sf) < (18 << 20)  # fixture sits below both boundaries
    for auto, canon in [
        (e36c_span_trim_auto, e36_substring_span_trim),
        (e37c_containment_auto, e37_containment_pairs),
    ]:
        a = auto(spark, sf)
        c = canon(spark, sf)
        assert a.exceptAll(c).count() == 0
        assert c.exceptAll(a).count() == 0


def test_corpus_parquet_bytes_missing_path_degrades_to_canonical():
    """r9 ADVICE #3: a non-local / missing sf_dir must not raise at
    plan-build — the size proxy returns 0 and both auto tiers fall back
    to their canonical small-corpus plan (text / full)."""
    from wx20222_bigdata_spark.operators.substring import (
        choose_containment_tier,
        choose_span_tier,
        corpus_parquet_bytes,
    )

    size = corpus_parquet_bytes("s3a://no-such-bucket/sf0.01")
    assert size == 0
    assert choose_span_tier(size) == "text"
    assert choose_containment_tier(size) == "full"


def test_exchange_volume_tier_laws(spark, shuffle_write_bytes_of):
    """r11 verdict item 4, refined by its own first run: the ×1000
    ordering study showed WALL-CLOCK cannot falsify the e36/e37 tier
    choices on this box (first-seat JIT + ambient bursts exceed the
    real tier deltas), so each tier case is pinned on a load-robust
    PLAN property, in the regime where the e36c/e37c rules pick that
    tier. Two findings from the first run of this law are baked in:

    - e37b's prefix tier moves MORE shuffle bytes than e37 at sf0.1
      (r12 first run: 20.1 MB vs 18.7 MB) — the rank/count windows cost
      more than the candidate cut saves on a small dup-light corpus.
      That ordering is the measured basis of choose_containment_tier
      picking 'full' below 18 MiB, so it is asserted, not fought.
    - shuffle BYTES structurally cannot express e37b's large-corpus
      advantage: the full tier's Σ C(df,2) pair blow-up is map-side
      combined (groupBy-count) before its exchange, while the prefix
      tier's exact verify ships per-doc gram ARRAYS that cannot
      combine. The robust metric for the e37 scale case is candidate-
      JOIN ROW volume — a deterministic data property — measured here
      on a dup-saturated corpus from the cores' own shared frames.
    """
    from pyspark.sql import functions as F

    from wx20222_bigdata_spark.operators.substring import (
        _grams_sizes_rare,
        e36_substring_span_trim,
        e36b_span_trim_production,
        e37_containment_pairs,
        e37b_containment_prefix_production,
        prefix_index_on,
    )

    sf = "/root/testdata/sf0.1"

    # e36: 8-byte md5-prefix keys beat ~K-word text keys on the one big
    # gram exchange at every scale; only hashing CPU (a wall cost,
    # invisible to bytes) moves the e36c boundary.
    e36_bytes = shuffle_write_bytes_of(lambda: e36_substring_span_trim(spark, sf))
    e36b_bytes = shuffle_write_bytes_of(
        lambda: e36b_span_trim_production(spark, sf)
    )
    assert 0 < e36b_bytes < e36_bytes, (
        f"e36b md5-int tier wrote {e36b_bytes:,} shuffle bytes vs e36 text "
        f"tier {e36_bytes:,} — the md5-key exchange-byte case no longer holds"
    )

    # e37 small-corpus ordering: full index cheaper than prefix at sf0.1.
    e37_bytes = shuffle_write_bytes_of(lambda: e37_containment_pairs(spark, sf))
    e37b_bytes = shuffle_write_bytes_of(
        lambda: e37b_containment_prefix_production(spark, sf)
    )
    assert 0 < e37_bytes < e37b_bytes, (
        f"e37 full-index wrote {e37_bytes:,} shuffle bytes vs e37b prefix "
        f"{e37b_bytes:,} at sf0.1 — the small-corpus basis of the e37c "
        "'full' choice no longer holds (re-measure the boundary)"
    )

    # e37 scale case: dup-saturated corpus (40 families x 30 docs
    # sharing a 30-word body; df=30 <= C_DF_CAP=50 keeps the shared
    # grams indexable; 2 doc-unique tail words so texts differ).
    # Candidate volumes from the SAME rare/prefix frames the cores use:
    # full = Sigma C(df,2) ordered pairs, prefix = |prefix join rare|.
    fam = F.floor(F.col("id") / 30)
    body = F.concat_ws(
        " ",
        *[F.concat(F.lit(f"w{i}f"), fam.cast("string")) for i in range(30)],
    )
    sat = spark.range(1200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", body, F.concat(F.lit("u"), F.col("id").cast("string")),
            F.concat(F.lit("v"), F.col("id").cast("string")),
        ).alias("text"),
    )
    _, sizes, rare = _grams_sizes_rare(sat)
    full_cand = (
        rare.select(F.col("doc_id").alias("id_a"), "g")
        .join(rare.select(F.col("doc_id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .count()
    )
    prefix_cand = (
        prefix_index_on(rare, sizes)
        .join(rare.select(F.col("doc_id").alias("rid"), "g"), "g")
        .filter(F.col("doc_id") != F.col("rid"))
        .count()
    )
    assert 0 < prefix_cand < full_cand, (
        f"prefix candidate join produced {prefix_cand:,} rows vs full "
        f"{full_cand:,} on the saturated corpus — the SSJoin prefix "
        "filter's large-corpus case no longer holds"
    )
    # the cut must be structural (>=2x), not incidental
    assert full_cand >= 2 * prefix_cand, (full_cand, prefix_cand)
