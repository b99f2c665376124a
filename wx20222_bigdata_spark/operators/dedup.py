"""Deduplication operators for training-data curation (SURVEY.md §2.11 E1/E2;
BASELINE.json north-star: "dedup … designed for 100 TB scale").

Four tiers, cheapest first — the standard large-corpus dedup ladder:

1. **Exact** — content hash (md5) groupBy; one shuffle on the hash key.
2. **N-gram Jaccard** — shingle-set overlap for candidate pairs; used here
   pairwise (the verification step of any near-dup pipeline).
3. **MinHash + LSH** — Broder resemblance sketches banded into buckets so
   candidate generation is a *join on band keys*, never an O(n²) compare.
   At 100 TB: tokens → k minhashes per doc (one narrow pass), band keys →
   shuffle on (band, bucket) — skew-safe because bucket cardinality is
   bounded by collision rate, and AQE splits hot buckets.
4. **SimHash** — bitwise majority fingerprint; near-dups differ in few bits.

All four are oracle-checked: the token hash is the cross-engine
``md5_hash`` (functions/hashing.py — JVM-native md5, identical in DuckDB),
so even the LSH bucket assignment is bit-identical in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wx20222_bigdata_spark.catalog import load_table, rebalance_small_scan
from wx20222_bigdata_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    MOD,
    duck_md5_hash,
    spark_md5_hash,
)
from wx20222_bigdata_spark.registry import query

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4

#: Frequent-bucket cap for the PRODUCTION tiers (e2g/e2m). Measured on the
#: sf10 replica (tools/make_sf1.py applied twice — near-dup family size
#: squares 10→100, a deliberate boilerplate stress): char-mode banding put
#: 17,727 docs in ONE bucket — 157M candidate pairs through a single
#: reducer (observed: 20+ min straggler, 21 GiB peak execution memory,
#: GC-locker stalls), while the p99.9 bucket size was 297. Capping at 500
#: keeps >99.9% of buckets, preserves every seeded-mutant pair (mutant
#: families are 2 docs), and drops only degenerate boilerplate families —
#: which the linear exact-dedup tier (e1/e34) owns anyway. The
#: oracle-checked tiers (e2b/e2j/e2k) stay uncapped because the DuckDB
#: mirror joins uncapped; they are fixture-scale only.
PROD_MAX_BUCKET_SIZE = 500


@query(
    "e1_exact_dedup",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, md5(text) AS content_key FROM documents
)
SELECT k.source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT k.content_key) AS n_unique,
       COUNT(*) - COUNT(DISTINCT k.content_key) AS n_dupes
FROM keyed k
GROUP BY k.source
""",
)
def e1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 exact dedup — md5 content key, keep-min-id policy, per-source
    dup accounting. ``dropDuplicates(["content_key"])`` is the terse form;
    the groupBy form shown here also yields the audit counts."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "source", F.md5("text").alias("content_key"))
    return keyed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("content_key").alias("n_unique"),
        (F.count("*") - F.countDistinct("content_key")).alias("n_dupes"),
    )


@query(
    "e1b_dedup_survivors",
    oracle="""
SELECT md5(text) AS content_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def e1b_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 survivor set: canonical doc per content key (min doc_id wins —
    a deterministic keep policy, required for reproducible curation)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_key")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@query(
    "e2_ngram_jaccard",
    oracle="""
WITH shingled AS (
  SELECT doc_id,
         list_distinct(CASE WHEN length(text) >= 3
                            THEN [substring(text, i, 3) for i in range(1, length(text) - 1)]
                            ELSE [text] END) AS grams
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
  FROM shingled a JOIN shingled b ON b.doc_id = a.doc_id + 1
)
SELECT id_a, id_b,
       len(list_intersect(ga, gb)) AS n_common,
       ROUND(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
             / len(list_distinct(list_concat(ga, gb))), 6) AS jaccard
FROM pairs
""",
)
def e2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 n-gram Jaccard similarity — character 3-gram shingle sets,
    ``|A∩B| / |A∪B|`` on consecutive doc pairs (the exact-verify step that
    follows LSH candidate generation in a near-dup pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    # guard length < 3: Spark's sequence(1, length-2) DESCENDS when the
    # stop is below the start (sequence(1, 0) = [1, 0]) and would emit
    # bogus shingles where DuckDB's range() yields none — short texts get
    # one whole-text shingle on both engines instead.
    grams = F.array_distinct(
        F.expr(
            """CASE WHEN length(text) >= 3
                    THEN transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))
                    ELSE array(text) END"""
        )
    )
    sh = docs.select("doc_id", grams.alias("grams"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_distinct(F.concat("ga", "gb")))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            inter.cast("bigint").alias("n_common"),
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


def _corpus_with_mutants_spark(
    spark: SparkSession, sf_dir: str, rebalance: bool = False
) -> DataFrame:
    """documents ∪ mutated copies (every 50th doc, ' extra' appended,
    id+100000) — a seeded near-dup population so LSH recall is observable.

    ``rebalance=True`` routes through catalog.rebalance_small_scan —
    measured A/B (idle machine, sf0.1 median-of-5): a clear win ONLY for
    the char-shingle tier (e2j 4.34→2.09 s; ~10× the per-byte CPU of
    word shingles), a slight LOSS for word-mode LSH (e2b 2.01→2.59 s —
    the extra shuffle outweighs the parallelism). Word-mode callers
    keep the default False."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if rebalance:
        docs = rebalance_small_scan(docs, f"{sf_dir}/documents.parquet")
    mutants = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    return docs.unionByName(mutants)


_CORPUS_DUCK = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 50 = 0
"""


#: 3-token shingles — word *sequences*, not bags: single-word shingling
#: collapses any small-vocabulary corpus into one LSH bucket (candidate
#: generation goes quadratic); order-sensitive shingles keep unrelated docs
#: apart while near-dups still collide. Docs under 3 tokens get one
#: whole-text shingle.
_SPARK_SHINGLES = """
CASE WHEN size(toks) >= 3
     THEN transform(sequence(1, size(toks) - 2),
                    i -> concat(element_at(toks, i), ' ',
                                element_at(toks, i + 1), ' ',
                                element_at(toks, i + 2)))
     ELSE array(concat_ws(' ', toks)) END
"""

_DUCK_SHINGLES = """
CASE WHEN len(t) >= 3
     THEN [t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] for i in range(1, len(t) - 1)]
     ELSE [array_to_string(t, ' ')] END
"""

#: Char-shingle variant (whitespace=False — the CJK/no-whitespace path,
#: reference data shape: Chinese titles/asr/ocr, ``data_helper.py:55``).
#: Word shingling degenerates there (one shingle per doc); character
#: 5-grams over the space-stripped text are the standard substitute
#: (5 CJK chars ≈ the discriminating power of a 3-word shingle).
CHAR_SHINGLE_N = 5

_SPARK_CHAR_SHINGLES = f"""
CASE WHEN length(ctext) >= {CHAR_SHINGLE_N}
     THEN transform(sequence(1, length(ctext) - {CHAR_SHINGLE_N - 1}),
                    i -> substring(ctext, i, {CHAR_SHINGLE_N}))
     ELSE array(ctext) END
"""

_DUCK_CHAR_SHINGLES = f"""
CASE WHEN length(ctext) >= {CHAR_SHINGLE_N}
     THEN [substring(ctext, i, {CHAR_SHINGLE_N})
           for i in range(1, length(ctext) - {CHAR_SHINGLE_N - 2})]
     ELSE [ctext] END
"""


def _shingle_hashes(
    corpus: DataFrame, production_hash: bool = False, whitespace: bool = True
) -> DataFrame:
    """Shared front of every MinHash pipeline: tokenize → shingle → hash.
    Returns (doc_id, h) — ONE row per distinct shingle, no permutation
    explode.

    Two hash tiers, BOTH JVM-native:
    - cross-engine ``md5_hash`` (default): DuckDB-reproducible, the
      oracle-checked path — one md5 call per shingle inside codegen
      (replaced the per-char ``char_hash`` fold, which was 3× slower);
    - ``production_hash=True``: xxhash64 — cheapest JVM hash. Same LSH
      semantics/recall, different bucket ids; use in real pipelines
      where no cross-engine oracle is needed.

    ``whitespace=False`` shingles character {CHAR_SHINGLE_N}-grams of the
    space-stripped text instead of word trigrams — the CJK mode; the rest
    of the pipeline (hash → minhash → bands) is identical."""
    if whitespace:
        toks = corpus.select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> length(x) > 0)").alias("toks"),
        )
        shingle_expr = _SPARK_SHINGLES
    else:
        toks = corpus.select(
            "doc_id", F.expr("replace(text, ' ', '')").alias("ctext")
        )
        shingle_expr = _SPARK_CHAR_SHINGLES
    shingles = toks.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(shingle_expr))).alias("tok"),
    )
    h = (
        F.pmod(F.xxhash64("tok"), F.lit(MOD))
        if production_hash
        else F.expr(spark_md5_hash("tok", mod=MOD))
    )
    return shingles.select("doc_id", h.alias("h"))


def minhash_band_keys(
    corpus: DataFrame, production_hash: bool = False, whitespace: bool = True
) -> DataFrame:
    """(doc_id, band, bucket_key) in ONE shuffle and NO row
    multiplication: all {N_HASHES} permutation minima are computed as
    independent ``min((a_j*h + b_j) % p)`` aggregates of a single
    ``groupBy(doc_id)`` — the permutation index is never exploded into
    rows (the earlier ×{N_HASHES} explode materialized every shingle
    hash 16 times before the map-side combine; measured ~18% slower at
    sf0.1 on both shingle modes, and at 100 TB the 16× map-side row
    volume is pure waste). Band keys are then assembled from the 16
    columns with a narrow ×{N_BANDS} struct explode of one tiny row per
    doc. Identical bucket keys (bit-equal pair sets verified)."""
    hashed = _shingle_hashes(
        corpus, production_hash=production_hash, whitespace=whitespace
    )
    aggs = [
        F.min(
            (F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j])) % MOD
        ).alias(f"_m{j}")
        for j in range(N_HASHES)
    ]
    sigs = hashed.groupBy("doc_id").agg(*aggs)
    band_structs = []
    for band in range(N_BANDS):
        key = F.concat_ws(
            "-",
            *[
                F.col(f"_m{band * ROWS_PER_BAND + r}").cast("string")
                for r in range(ROWS_PER_BAND)
            ],
        )
        band_structs.append(
            F.struct(
                F.lit(band).cast("int").alias("band"), key.alias("bucket_key")
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket_key").alias("bucket_key"),
    )


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Candidate pairs from band keys: ``(id_a, id_b, band)`` — one row
    per shared (band, bucket) collision with ``id_a < id_b``. The single
    pair-generation implementation behind the e2b/e2g/e2j/e2m pair seats
    and, through ``clusters.lsh_edges``, every cluster resolver.

    ``max_bucket_size`` enables **frequent-bucket pruning**, the standard
    guard for web-scale corpora: a degenerate bucket of B documents
    (boilerplate pages, templated spam, empty-ish docs that all sketch
    alike) emits B·(B−1)/2 pairs — one 100k-doc bucket is 5 × 10⁹ pairs
    from a single reducer, which is where naive LSH dies at 100 TB.
    Buckets larger than the cap are dropped BEFORE the self-join: such
    buckets carry no discriminating signal (everything matches
    everything), and the downstream verify step (e2 Jaccard / e2h edit
    distance) would reject or trivially merge them anyway — boilerplate
    families are better handled by the exact-dedup tier (e1/e34) which
    is linear in B. Bucket sizes come from ONE window count over
    (band, bucket_key); that exchange hash-partitions the bands exactly
    as the self-join needs, so the pruning adds no extra shuffle —
    both join branches reuse it. The window count is the only cap: a
    broadcast anti-join of over-cap buckets and a join-free grouped
    path were both measured slower at sf10 and removed (SCALE.md "LSH
    cap pre-count A/B" and "LSH at sf10").

    Default ``None`` keeps every bucket — the oracle-checked tiers
    (DuckDB mirrors an uncapped join) and the sf* fixtures use that.
    The production tiers (e2g/e2m) pass ``PROD_MAX_BUCKET_SIZE`` (500,
    sized above the measured p99.9 bucket of the sf10 boilerplate
    stress — SCALE.md "LSH at sf10"); recall loss is bounded because a
    true near-dup pair inside a pruned bucket still collides in its
    other ``N_BANDS − 1`` bands unless those buckets are degenerate
    too."""
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket_key")
        bands = (
            bands.withColumn("_bsz", F.count("*").over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("band").alias("band"),
        F.col("bucket_key").alias("bk_a"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bucket_key").alias("bk_b"),
    )
    return a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("bk_a") == F.col("bk_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b", "band")


def count_shared_bands(pairs: DataFrame) -> DataFrame:
    """``(id_a, id_b, band)`` pair rows → ``(id_a, id_b,
    n_shared_bands)`` via plain ``count(*)``, NOT ``countDistinct(band)``:
    ``minhash_band_keys`` emits exactly ONE bucket key per (doc, band),
    so a pair can collide at most once per band and the pair rows are
    unique on (id_a, id_b, band) — ``count(*)`` is value-identical (the
    uniqueness precondition and the equality are law-tested in
    tests/test_lsh_cap.py) while skipping the distinct-aggregate
    expansion, which at scale is the verify stage's dominant term:
    measured r11 on the sf10 capped word-mode pair stream (90.8M rows →
    26.1M pairs), countDistinct 29.5 s vs count(*) 5.1 s. The DuckDB
    oracles keep ``COUNT(DISTINCT a.band)`` — the values are equal, the
    SQL states the semantic intent, and DuckDB's planner is not the
    100 TB cost model."""
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n_shared_bands")
    )


def lsh_candidate_pairs_salted(
    bands: DataFrame,
    n_cells: int = 8,
    hot_threshold: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """``lsh_candidate_pairs`` with GRID SALTING of hot buckets — the
    skew tier for buckets that are hot but legitimate (below the
    ``max_bucket_size`` drop cap, yet big enough that one reducer owning
    the whole bucket's b·(b−1)/2 pair production is the stage straggler).

    The plain self-equi-join hash-partitions on (band, bucket_key), so a
    single bucket of b rows lands ALL of its ~b²/2 output rows on one
    reducer no matter how many cores exist — AQE's skew-join split
    mitigates but cannot rebalance the *output* explosion of one key.
    Grid salting is the classic triangle decomposition (distributed
    theta-join / "1-bucket" partitioning, Okcan & Riedewald SIGMOD'11):
    each doc in a hot bucket gets a deterministic group
    ``g = xxhash64(doc_id) mod n_cells``; the unordered pair {x, y} with
    groups (p, q), p ≤ q, is produced in exactly one grid cell (p, q):

      * side A carries each row into cells (g, q) for q ∈ [g, n_cells),
      * side B carries each row into cells (p, g) for p ∈ [0, g],
      * the join key becomes (band, bucket_key, p, q) — the hot bucket's
        work spreads over n_cells·(n_cells+1)/2 reducers,
      * diagonal cells (p = p′) see both orderings of a pair and keep
        ``id_a < id_b``; off-diagonal cells see exactly one ordering and
        normalize with least/greatest.

    Cold buckets (size ≤ ``hot_threshold``) take group 0 and a single
    (0,0) cell — zero replication, byte-identical to the plain join —
    so the ~(n_cells+1)× input replication is paid ONLY on hot-bucket
    rows. The bucket-size count reuses the same (band, bucket_key)
    window (and exchange) the plain tier uses for frequent-bucket
    pruning; ``max_bucket_size`` composes as before.

    Output is EXACTLY the plain tier's pair set (law-tested bit-equal) —
    salting is a physical-only transformation, so e2b's DuckDB oracle
    verifies this path end-to-end."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket_key")
    bands = bands.withColumn("_bsz", F.count("*").over(w))
    if max_bucket_size is not None:
        bands = bands.filter(F.col("_bsz") <= max_bucket_size)
    bands = (
        bands.withColumn(
            "_g",
            F.when(
                F.col("_bsz") > hot_threshold,
                F.pmod(F.xxhash64("doc_id"), F.lit(n_cells)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_gmax",
            F.when(F.col("_bsz") > hot_threshold, F.lit(n_cells - 1)).otherwise(
                F.lit(0)
            ),
        )
        .drop("_bsz")
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        "band",
        F.col("bucket_key").alias("bk_a"),
        F.col("_g").alias("_p"),
        F.explode(F.sequence(F.col("_g"), F.col("_gmax"))).alias("_q"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bucket_key").alias("bk_b"),
        F.explode(F.sequence(F.lit(0), F.col("_g"))).alias("_pb"),
        F.col("_g").alias("_qb"),
    )
    joined = a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("bk_a") == F.col("bk_b"))
        & (F.col("_p") == F.col("_pb"))
        & (F.col("_q") == F.col("_qb"))
        # diagonal cells see both orderings: keep one; off-diagonal cells
        # see exactly one ordering: keep it (normalized below)
        & ((F.col("_p") != F.col("_q")) | (F.col("id_a") < F.col("id_b"))),
    )
    return joined.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "band",
    )


def _lsh_bands_duck_ctes(whitespace: bool = True) -> str:
    """The full DuckDB LSH front half (corpus → shingles → minhash → band
    keys) as a reusable CTE chain — the e2b/e2j/e2k pair oracles put
    :func:`duck_band_join` on top, and the cluster-resolution oracles
    (operators/clusters.py) extend it with a recursive reachability CTE. ``whitespace=False``
    mirrors the char-shingle (CJK) path."""
    if whitespace:
        toks = f"""toksrc AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
  FROM corpus
),
toks AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS tok FROM toksrc
)"""
    else:
        toks = f"""toksrc AS (
  SELECT doc_id, replace(text, ' ', '') AS ctext FROM corpus
),
toks AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_CHAR_SHINGLES})) AS tok FROM toksrc
)"""
    return f"""corpus AS ({_CORPUS_DUCK}),
{toks},
hashed AS (
  SELECT doc_id, {duck_md5_hash('tok', mod=MOD)} AS h FROM toks
),
perms AS (
  SELECT j,
         ([{','.join(str(a) for a in MINHASH_A[:N_HASHES])}])[j + 1] AS a_j,
         ([{','.join(str(b) for b in MINHASH_B[:N_HASHES])}])[j + 1] AS b_j
  FROM (SELECT unnest(range(0, {N_HASHES})) AS j)
),
sigs AS (
  SELECT doc_id, j, MIN((a_j * h + b_j) % {MOD}) AS minhash
  FROM hashed, perms
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band,
         string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY j) AS bucket_key
  FROM sigs
  GROUP BY doc_id, j // {ROWS_PER_BAND}
)"""


LSH_BANDS_DUCK_CTES = _lsh_bands_duck_ctes(True)


def duck_band_join(bands: str) -> str:
    """DuckDB mirror of :func:`lsh_candidate_pairs`' self-join over the
    band-key relation ``bands``: one row per shared (band, bucket)
    collision with ``a.doc_id < b.doc_id``."""
    return f"""FROM {bands} a JOIN {bands} b
  ON a.band = b.band AND a.bucket_key = b.bucket_key AND a.doc_id < b.doc_id"""


def _duck_pair_counts_oracle(whitespace: bool) -> str:
    """Oracle of the uncapped ``(id_a, id_b, n_shared_bands)`` pair seats:
    e2b, its salted twin e2k (same pair set by construction) and the
    char-shingle e2j."""
    return f"""
WITH {_lsh_bands_duck_ctes(whitespace)}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(DISTINCT a.band) AS n_shared_bands
{duck_band_join("bands")}
GROUP BY a.doc_id, b.doc_id
"""


@query(
    "e2b_minhash_lsh_pairs",
    oracle=_duck_pair_counts_oracle(whitespace=True),
)
def e2b_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 MinHash-LSH near-dup candidate pairs, end to end: distinct tokens
    → cross-engine token hash → 16 minhashes → 4 bands of 4 → bucket join
    on (band, bucket_key) → candidate pairs. Run over documents plus
    seeded mutants so true near-dups exist and are recovered.

    The pair join is self-equi-join on band keys — at 100 TB this is the
    canonical formulation: no all-pairs compare, shuffle bounded by bucket
    size. Boilerplate-heavy corpora additionally set
    ``lsh_candidate_pairs(..., max_bucket_size=...)`` (frequent-bucket
    pruning) so no degenerate bucket goes quadratic; the oracle-checked
    tier keeps every bucket because DuckDB mirrors the uncapped join."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    bands = minhash_band_keys(corpus)
    return (
        lsh_candidate_pairs(bands)
        .transform(count_shared_bands)
    )


@query(
    "e2k_salted_lsh_pairs",
    oracle=_duck_pair_counts_oracle(whitespace=True),
)
def e2k_salted_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 MinHash-LSH pairs through the SKEW tier
    (``lsh_candidate_pairs_salted``): hot (band, bucket_key) buckets are
    grid-salted so pair production spreads across n_cells·(n_cells+1)/2
    reducers instead of one. ``hot_threshold=1`` here so every
    pair-producing bucket takes the salted path and the DuckDB oracle
    (the plain uncapped bucket join — identical to e2b's) verifies the
    grid decomposition end-to-end; production default is 64 so cold
    buckets pay zero replication."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    bands = minhash_band_keys(corpus)
    return (
        lsh_candidate_pairs_salted(bands, n_cells=8, hot_threshold=1)
        .transform(count_shared_bands)
    )


@query(
    "e2j_char_shingle_lsh_pairs",
    oracle=_duck_pair_counts_oracle(whitespace=False),
)
def e2j_char_shingle_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 MinHash-LSH in char-shingle mode (``whitespace=False``) — the
    CJK/no-whitespace near-dup path. The reference corpus is Chinese
    titles/asr/ocr with no word boundaries (``data_helper.py:55``): word
    trigram shingling degenerates to one shingle per document there, so
    this tier shingles character {CHAR_SHINGLE_N}-grams of the
    space-stripped text instead. Everything downstream — md5 shingle
    hash, 16 minhashes, 4 bands of 4, bucket self-equi-join — is the
    identical scale-safe pipeline as e2b (never all-pairs; shuffle
    bounded by bucket size)."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir, rebalance=True)
    bands = minhash_band_keys(corpus, whitespace=False)
    return (
        lsh_candidate_pairs(bands)
        .transform(count_shared_bands)
    )


@query(
    "e34_nospace_exact_dedup",
    oracle=r"""
WITH keyed AS (
  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', '', 'g')) AS content_key
  FROM documents
)
SELECT content_key,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM keyed
GROUP BY content_key
""",
)
def e34_nospace_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E34 whitespace-insensitive exact dedup — e1b's survivor set keyed
    on md5 of the lowercased, whitespace-STRIPPED text. CJK corpora (the
    reference's data shape) carry inconsistent spacing/full-width spaces
    around identical content; segmentation-insensitive keying catches
    re-spaced copies that byte-exact e1 misses. Same one-shuffle
    hash-groupBy scale shape as e1/e1b."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), r"\s+", "")).alias("content_key"),
    )
    return keyed.groupBy("content_key").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").cast("bigint").alias("n_copies"),
    )


@query(
    "e2c_simhash",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents)
  WHERE length(tok) > 0
),
hashed AS (
  SELECT doc_id, {duck_md5_hash('tok', mod=MOD)} AS h FROM toks
),
bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS bal
  FROM hashed, (SELECT unnest(range(0, 20)) AS j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN bal > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits
GROUP BY doc_id
""",
)
def e2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 SimHash document fingerprint (Charikar '02): per bit j, majority
    vote of token-hash bit j (+1/-1), assemble a 20-bit fingerprint.
    Near-dup docs land within small Hamming distance.

    Plan (r5 rewrite, same trick as the minhash band keys): the 20 bit
    balances are 20 independent conditional-sum AGGREGATES over ONE
    ``groupBy(doc_id)`` — the bit index is never exploded into rows. The
    earlier long-format plan multiplied every token hash ×20 before the
    first exchange and paid a second exchange to reassemble; this one
    ships one row per (doc, token) into a single map-side-combinable
    shuffle and assembles the fingerprint as a projection over the 20
    balance columns (measured 0.74 → 0.42 s sf0.1 median-of-5; at 100 TB the 20×
    map-side row volume is pure waste). Bit-identical output."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).filter(F.length("tok") > 0)
    hashed = toks.select("doc_id", F.expr(spark_md5_hash("tok", mod=MOD)).alias("h"))
    bals = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h div {1 << j}) % 2 = 1"), 1).otherwise(-1)
            ).alias(f"_b{j}")
            for j in range(20)
        ]
    )
    fingerprint = sum(
        F.when(F.col(f"_b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(20)
    )
    return bals.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


@query("e2g_minhash_lsh_production")
def e2g_minhash_lsh_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 MinHash-LSH on the PRODUCTION hash tier (xxhash64, 3× faster
    than the cross-engine fold — see _shingle_hashes). Rows-only:
    bucket ids are engine-specific; recall is still observable — the
    seeded mutants must collide (tested). Runs with the production
    frequent-bucket cap (PROD_MAX_BUCKET_SIZE): candidate volume stays
    bounded per bucket even when boilerplate families grow (the sf10
    stress squares family size; word-mode buckets reached 788 docs)."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    bands = minhash_band_keys(corpus, production_hash=True)
    return (
        lsh_candidate_pairs(bands, max_bucket_size=PROD_MAX_BUCKET_SIZE)
        .transform(count_shared_bands)
    )


@query("e2m_char_lsh_production")
def e2m_char_lsh_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 production-tier CJK near-dup: char-{CHAR_SHINGLE_N}-gram
    shingles (``whitespace=False``) hashed with JVM xxhash64 — the real
    cost of CJK dedup at scale (e2j's headline is dominated by the
    oracle-tier md5 fold, ~3× the hash cost; this seat records the
    number production would pay). Rows-only like e2g: bucket ids are
    engine-specific; recall of the seeded mutants is the liveness
    signal.

    Runs with the production frequent-bucket cap (PROD_MAX_BUCKET_SIZE)
    — char-gram banding is where the cap EARNS its keep: short/templated
    texts sketch alike far more often than word trigrams do (measured at
    sf10: max char bucket 17,727 docs vs 788 word-mode; 300M of 367M
    candidate pairs came from buckets >100 docs, and the uncapped
    self-join sat 25+ min on one 21 GiB reducer; capped: 30.8 s — see
    SCALE.md "LSH at sf10")."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir, rebalance=True)
    bands = minhash_band_keys(corpus, production_hash=True, whitespace=False)
    return (
        lsh_candidate_pairs(bands, max_bucket_size=PROD_MAX_BUCKET_SIZE)
        .transform(count_shared_bands)
    )


@query(
    "e2h_levenshtein_fuzzy",
    oracle="""
WITH heads AS (
  SELECT doc_id, substring(text, 1, 40) AS head FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         levenshtein(a.head, b.head) AS edit_dist,
         greatest(length(a.head), length(b.head)) AS max_len
  FROM heads a JOIN heads b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 10
)
SELECT id_a, id_b, CAST(edit_dist AS BIGINT) AS edit_dist,
       ROUND(1.0 - CAST(edit_dist AS DOUBLE) / max_len, 6) AS similarity
FROM pairs
WHERE edit_dist <= max_len // 2
""",
)
def e2h_levenshtein_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 fuzzy matching by edit distance — the character-level near-dup
    verifier (complements set-based Jaccard: catches transpositions and
    small edits shingles miss). Blocked to a bounded id band; levenshtein
    is O(m·n) per pair, so at scale it runs only on LSH candidates, never
    as the blocking step.

    The band predicate alone has no equality, which Spark can only run as
    a nested-loop join — O(n²) comparisons regardless of the band width
    (measured: hung the sf1 soak at 50k docs). The band is therefore
    decomposed into an equi-join on a block key: block = id div 10, the
    a-side probes (block, block+1), and the band filter applies after the
    hash join — same rows, linear work. DuckDB runs the raw band natively
    (IEJoin), so the oracle keeps the simple form."""
    docs = load_table(spark, sf_dir, "documents")
    heads = docs.select("doc_id", F.substring("text", 1, 40).alias("head"))
    a = heads.select(
        F.col("doc_id").alias("id_a"),
        F.col("head").alias("ha"),
        F.explode(
            F.array(F.expr("doc_id div 10"), F.expr("doc_id div 10 + 1"))
        ).alias("block"),
    )
    b = heads.select(
        F.col("doc_id").alias("id_b"),
        F.col("head").alias("hb"),
        F.expr("doc_id div 10").alias("block"),
    )
    dist = F.levenshtein("ha", "hb")
    max_len = F.greatest(F.length("ha"), F.length("hb"))
    return (
        a.join(b, "block")
        .filter((F.col("id_b") > F.col("id_a")) & (F.col("id_b") <= F.col("id_a") + 10))
        .select(
            "id_a",
            "id_b",
            dist.cast("bigint").alias("edit_dist"),
            F.round(1.0 - dist.cast("double") / max_len, 6).alias("similarity"),
            max_len.alias("_ml"),
        )
        # floor division on BOTH engines: Spark int division truncates and
        # DuckDB `//` floors, identical for non-negative max_len. (CAST(x*0.5
        # AS INT) rounds half-away-from-zero in DuckDB — boundary mismatch
        # for odd max_len.)
        .filter(F.col("edit_dist") <= F.floor(F.col("_ml") / 2))
        .drop("_ml")
    )


@query(
    "e25_incremental_dedup",
    oracle="""
WITH batches AS (
  SELECT doc_id, source, md5(text) AS content_key,
         CASE WHEN doc_id % 3 = 0 THEN 'corpus' ELSE 'incoming' END AS batch
  FROM documents
),
corpus_keys AS (
  SELECT DISTINCT content_key FROM batches WHERE batch = 'corpus'
),
incoming AS (
  SELECT b.doc_id, b.source, b.content_key,
         CASE WHEN c.content_key IS NOT NULL THEN 'dup_vs_corpus'
              WHEN ROW_NUMBER() OVER (
                     PARTITION BY b.content_key ORDER BY b.doc_id) > 1
                   THEN 'dup_in_batch'
              ELSE 'admitted' END AS decision
  FROM batches b LEFT JOIN corpus_keys c USING (content_key)
  WHERE b.batch = 'incoming'
)
SELECT source, decision,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM incoming
GROUP BY source, decision
""",
)
def e25_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 incremental ingest dedup — the continuous-crawl shape of E1:
    a NEW batch of documents is admitted only if its content hash is
    absent from the existing corpus AND it is the first occurrence
    within the batch itself. This is how 100 TB corpora actually grow —
    full-corpus re-dedup (e1) per ingest is O(corpus) every day, while
    this plan is O(batch) + one semi-join against the corpus key index:
    the corpus side projects to its distinct md5 keys only (a narrow
    bounded column, storable as a bucketed key table or Bloom filter —
    the x7 tier), so the corpus text is never re-read, and AQE picks a
    broadcast for small key sets. Within-batch first-wins follows the
    repo dedup survivor rule (min doc_id via a partitioned window whose
    groups are duplicate counts, never the corpus).

    Batch split is deterministic (doc_id % 3) so the decision ledger —
    admitted / dup_vs_corpus / dup_in_batch per source — is oracle-exact.
    Reference parity: the reference ingests annotation shards
    incrementally too (src/split_pretrain_data.py:15-35) but never
    dedups across shards; this op is the scale-mandatory extension.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("content_key"),
        F.when(F.col("doc_id") % 3 == 0, "corpus")
        .otherwise("incoming")
        .alias("batch"),
    )
    corpus_keys = (
        docs.filter(F.col("batch") == "corpus").select("content_key").distinct()
    )
    incoming = docs.filter(F.col("batch") == "incoming")
    from pyspark.sql.window import Window

    joined = incoming.join(
        corpus_keys.withColumn("_in_corpus", F.lit(1)), "content_key", "left"
    )
    rn = F.row_number().over(
        Window.partitionBy("content_key").orderBy("doc_id")
    )
    decided = joined.select(
        "doc_id",
        "source",
        F.when(F.col("_in_corpus").isNotNull(), "dup_vs_corpus")
        .when(rn > 1, "dup_in_batch")
        .otherwise("admitted")
        .alias("decision"),
    )
    return decided.groupBy("source", "decision").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


SEG_WORDS = 5  #: words per paragraph-segment in e32 (RefinedWeb dedups lines)


@query(
    "e32_paragraph_dedup",
    oracle=f"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
  FROM documents
),
segs AS (
  SELECT doc_id, CAST(j AS BIGINT) AS seg_idx,
         array_to_string(ws[j * {SEG_WORDS} + 1 : (j + 1) * {SEG_WORDS}], ' ') AS seg
  FROM words,
       LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws) / {SEG_WORDS}.0) AS BIGINT))) AS j)
),
winners AS (
  SELECT seg, MIN(ROW(doc_id, seg_idx)) AS w FROM segs GROUP BY seg
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
         (w.w = ROW(s.doc_id, s.seg_idx)) AS keep
  FROM segs s JOIN winners w USING (seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx),
                '') AS dedup_text
FROM kept
GROUP BY doc_id
""",
)
def e32_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E32 paragraph-level exact dedup — the RefinedWeb/C4 line-dedup
    pass: split every document into {SEG_WORDS}-word segments (the
    stand-in for paragraphs in the space-separated testdata), keep only
    the GLOBALLY FIRST occurrence of each segment (ordered by (doc_id,
    seg_idx) — fully deterministic), and reassemble each document from
    its surviving segments. Unlike doc-level dedup (e1), this removes
    boilerplate repeated ACROSS distinct documents while keeping the
    novel remainder of each.

    Scale shape: the winner per segment is ``groupBy(seg).min(struct)``
    — map-side combinable (each map partition pre-reduces its segments
    to one candidate winner), so the shuffle carries partial winners,
    not raw segment occurrences; the join back is an equi-join on the
    segment key. No windows over unbounded partitions, no driver state.
    At 100 TB the segment key would be md5(seg) (16 bytes vs the text);
    the text key here keeps the oracle exact and readable."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> length(x) > 0)").alias("ws"),
    )
    segs = words.select(
        "doc_id",
        # guard size(ws) == 0: sequence(0, -1) DESCENDS to [0, -1] and
        # would emit two '' segments for an empty/whitespace-only doc,
        # diverging from the oracle's range() which emits none (r3 ADVICE)
        F.posexplode(
            F.expr(
                f"CASE WHEN size(ws) > 0 THEN"
                f" transform(sequence(0, int(ceil(size(ws) / {SEG_WORDS}.0)) - 1),"
                f" j -> concat_ws(' ', slice(ws, j * {SEG_WORDS} + 1, {SEG_WORDS})))"
                f" ELSE array() END"
            )
        ).alias("seg_idx", "seg"),
    ).select("doc_id", F.col("seg_idx").cast("bigint").alias("seg_idx"), "seg")
    winners = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("w")
    )
    kept = segs.join(winners, "seg").select(
        "doc_id",
        "seg_idx",
        "seg",
        (F.col("w") == F.struct("doc_id", "seg_idx")).alias("keep"),
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN keep THEN"
                " struct(seg_idx, seg) END)), s -> s.seg)"
            ),
        ).alias("dedup_text"),
    )
