"""Exact-substring span dedup — corpus-level duplicated-span detection and
trim accounting (SURVEY.md §2.11 curation family; the ExactSubstr pass of
Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better": any token window that occurs more than once ANYWHERE in the
corpus marks its covered positions as duplicated, and training keeps only
the un-covered remainder).

This is the span-granular sibling of the existing shingle seats: e33
scores per-doc DISTINCT-trigram novelty (a ratio, no positions), e32
dedups whole paragraphs, e10 tests n-grams against an EXTERNAL eval set.
Here every k-gram OCCURRENCE keeps its start offset, so the output is
positional: how many token positions of each document are covered by some
corpus-duplicated window, and how many maximal contiguous spans that
coverage forms — exactly the numbers a trim pass needs.

Scale shape (100 TB): one occurrence row per (doc, start) — linear in
corpus tokens; the duplicate test is a count-over-partition window on the
gram key (ONE hash exchange of the occurrence stream, the same
one-exchange window form that beat the groupBy+join-back at sf10 for
e16/e19 — DF_TABLE_AUDIT.json); coverage explode is bounded by K × the
duplicated occurrences only (the `cnt >= 2` filter runs before the
explode); the per-doc span count reuses the (doc, pos) partitioning laid
down by the distinct. At web scale the gram key would be the 60-bit md5
prefix (functions/hashing.py, cf. e2's production tiers) — the literal
text key here keeps the oracle readable at fixture scale.

Each tier family is one core with thin bindings:

- span trim — :func:`span_trim` (``hashed=`` picks the text or md5 gram
  key) and :func:`_duck_span` for the oracle: e36 is ``hashed=False``,
  e36b ``hashed=True``, e36c picks one by corpus size;
- containment — :func:`_snippet_corpus` feeds :func:`containment_on`
  (e37) or :func:`containment_prefix_on` (e37b), both over
  :func:`_grams_sizes_rare`; the two oracles share the
  ``_DUCK_CONTAIN_PREFIX`` CTEs; e37c picks a tier by corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wx20222_bigdata_spark.catalog import load_table
from wx20222_bigdata_spark.functions.hashing import duck_md5_hash, spark_md5_hash
from wx20222_bigdata_spark.registry import query

K = 5  #: token-window width; Lee et al. use 50 BPE tokens — 5 fits fixture docs


def _duck_span(*, hashed: bool) -> str:
    """DuckDB oracle of the span-trim tiers: the gram key is the literal
    {K}-token text (e36) or its 60-bit md5-prefix BIGINT (e36b)."""
    gram = f"array_to_string(ws[j:j + {K - 1}], ' ')"
    key, col = (duck_md5_hash(gram), "gh") if hashed else (gram, "g")
    return f"""
WITH words AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
  FROM documents
),
occ AS (
  SELECT doc_id, j, {key} AS {col}
  FROM words, LATERAL (SELECT unnest(range(1, len(ws) - {K - 2})) AS j)
  WHERE len(ws) >= {K}
),
dup AS (
  SELECT doc_id, j FROM (
    SELECT doc_id, j, COUNT(*) OVER (PARTITION BY {col}) AS cnt FROM occ
  ) WHERE cnt >= 2
),
cov AS (
  SELECT DISTINCT doc_id, j + d AS pos
  FROM dup, LATERAL (SELECT unnest(range(0, {K})) AS d)
),
runs AS (
  SELECT doc_id,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = pos - 1
              THEN 0 ELSE 1 END AS run_start
  FROM cov
),
cagg AS (
  SELECT doc_id, COUNT(*) AS n_dup_tokens, SUM(run_start) AS n_spans
  FROM runs GROUP BY doc_id
),
base AS (SELECT doc_id, len(ws) AS n_tokens FROM words)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_spans,
       CASE WHEN b.n_tokens > 0
            THEN ROUND(COALESCE(c.n_dup_tokens, 0) * 1.0 / b.n_tokens, 6)
       END AS dup_fraction
FROM base b LEFT JOIN cagg c USING (doc_id)
"""


_E36_ORACLE = _duck_span(hashed=False)


@query("e36_substring_span_trim", oracle=_E36_ORACLE)
def e36_substring_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 exact-substring span trim — per document: total token count,
    how many token positions are covered by a word K-gram (K=5) that
    occurs ≥2 times corpus-wide (self-overlap counts — two occurrences
    inside one doc are still a duplicated substring, per Lee et al.),
    the number of maximal contiguous covered spans, and the covered
    fraction. ``n_tokens - n_dup_tokens`` is the post-trim length; the
    integer ratio rounds cross-engine exact (e33 precedent)."""
    return span_trim(_documents(spark, sf_dir), hashed=False)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def span_trim(docs: DataFrame, *, hashed: bool) -> DataFrame:
    """Span-trim core of e36/e36b over an arbitrary ``(doc_id, text)``
    frame — split out so the span laws (full coverage of a seeded
    verbatim run, overlapping grams merging into one span, sub-K docs
    emitting nothing) are testable on hand-built corpora
    (tests/test_substring.py). ``hashed`` picks the gram key the one big
    window exchange partitions on: the literal {K}-token text ``g`` (e36)
    or its 60-bit md5-prefix BIGINT ``gh`` (e36b)."""
    key = "gh" if hashed else "g"
    words = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), x -> length(x) > 0)").alias("ws"),
    )
    # guard size < K: sequence(1, size-K+1) DESCENDS for short docs
    # (the e33/e2 landmine) — emit no occurrences, matching range().
    occ = (
        words.filter(F.expr(f"size(ws) >= {K}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {K - 1}),"
                    f" j -> struct(j AS j, concat_ws(' ', slice(ws, j, {K})) AS g))"
                )
            ).alias("o"),
        )
        .select(
            "doc_id",
            "o.j",
            F.expr(spark_md5_hash("o.g")).alias(key) if hashed else "o.g",
        )
    )
    dup = occ.withColumn(
        "cnt", F.count("*").over(Window.partitionBy(key))
    ).filter(F.col("cnt") >= 2)
    cov = dup.select(
        "doc_id", F.explode(F.expr(f"sequence(j, j + {K - 1})")).alias("pos")
    ).distinct()
    runs = cov.withColumn(
        "run_start",
        F.when(
            F.lag("pos").over(Window.partitionBy("doc_id").orderBy("pos"))
            == F.col("pos") - 1,
            0,
        ).otherwise(1),
    )
    cagg = runs.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_tokens"),
        F.sum("run_start").alias("n_spans"),
    )
    base = words.select("doc_id", F.size("ws").alias("n_tokens"))
    return base.join(cagg, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce("n_dup_tokens", F.lit(0)).cast("bigint").alias("n_dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ),
        ).alias("dup_fraction"),
    )


# --- e37: asymmetric containment (subsumption) pairs ---------------------
C_SNIP_MOD = 40      #: every 40th doc yields a snippet mutant
C_SNIP_LEN = 20      #: snippet = first 20 tokens
C_SNIP_OFFSET = 200_000
C_DF_CAP = 50        #: drop grams indexed by more docs (boilerplate guard)
C_THRESHOLD = 0.8    #: report pairs with containment >= this


#: DuckDB CTEs shared by the e37 and e37b oracles: snippet corpus,
#: DISTINCT {K}-gram shingles per doc and per-doc gram counts.
_DUCK_CONTAIN_PREFIX = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {C_SNIP_OFFSET} AS doc_id,
         array_to_string(
           list_filter(string_split(lower(text), ' '),
                       x -> length(x) > 0)[1:{C_SNIP_LEN}], ' ') AS text
  FROM documents WHERE doc_id % {C_SNIP_MOD} = 0
),
words AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS ws
  FROM corpus
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ws[j:j + {K - 1}], ' ') AS g
  FROM words, LATERAL (SELECT unnest(range(1, len(ws) - {K - 2})) AS j)
  WHERE len(ws) >= {K}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
"""

_E37_ORACLE = _DUCK_CONTAIN_PREFIX + f"""rare AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM grams
  ) WHERE df BETWEEN 2 AND {C_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_shared,
       CAST(sa.n_grams AS BIGINT) AS n_a,
       CAST(sb.n_grams AS BIGINT) AS n_b,
       ROUND(n_shared * 1.0 / LEAST(sa.n_grams, sb.n_grams), 6)
         AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_shared * 1.0 / LEAST(sa.n_grams, sb.n_grams) >= {C_THRESHOLD}
"""


@query("e37_containment_pairs", oracle=_E37_ORACLE)
def e37_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 asymmetric containment pairs — subsumption detection, the
    near-dup case symmetric Jaccard structurally misses: a short
    document contained in a long one (a quoted excerpt, a snippet page,
    a chunk re-crawled alone) has tiny Jaccard (|A∩B|/|A∪B| is diluted
    by the long side) but containment |A∩B|/min(|A|,|B|) ≈ 1. Broder's
    (1997) resemblance-vs-containment distinction; production corpora
    (RefinedWeb, FineWeb) run both. The fixture corpus is augmented
    with snippet mutants — the first {C_SNIP_LEN} tokens of every
    {C_SNIP_MOD}th doc — whose containment is 1.0 by construction while
    their Jaccard is far below any dedup threshold.

    Candidate generation is an inverted-index self-join on DISTINCT
    word {K}-gram shingles, restricted to grams with 2 ≤ df ≤
    {C_DF_CAP}: df<2 grams produce no pair, df>{C_DF_CAP} grams are
    boilerplate whose pair fan-out is quadratic in df (the LSH
    frequent-bucket cap idiom, dedup.py:PROD_MAX_BUCKET_SIZE). At
    100 TB the equivalent production tier is prefix filtering (index
    only each doc's (1−t)·|A|+1 globally-rarest shingles) over
    md5-hashed gram keys; the literal-text key keeps this oracle
    readable.

    Plan: one gram explode + distinct, one window on the gram key for
    df (the e36/e16/e19 one-exchange form), a capped self-equi-join on
    the gram, one pair aggregate, two bounded size joins (AQE-governed;
    sizes is per-doc, SF-scaled, never hinted)."""
    return containment_on(_snippet_corpus(spark, sf_dir))


def _snippet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The e37/e37b corpus: every document plus a snippet mutant (its
    first {C_SNIP_LEN} tokens, id + {C_SNIP_OFFSET}) of every
    {C_SNIP_MOD}th."""
    docs = _documents(spark, sf_dir)
    snippets = docs.filter(F.col("doc_id") % C_SNIP_MOD == 0).select(
        (F.col("doc_id") + C_SNIP_OFFSET).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(filter(split(lower(text), ' '),"
            f" x -> length(x) > 0), 1, {C_SNIP_LEN}))"
        ).alias("text"),
    )
    return docs.unionByName(snippets)


def _grams_sizes_rare(
    corpus: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared stage-1 of both containment cores: DISTINCT {K}-gram
    shingles per doc, per-doc gram counts, and the df-capped rare-gram
    index. Split out so the tier laws (tests/test_substring.py) can
    measure candidate-join volumes from the SAME expressions the cores
    execute — candidate ROW volume, not shuffle bytes, is the metric
    that distinguishes the e37 tiers (the full tier's Σ df² pair blow-up
    is map-side combined before its exchange, so bytes never see it)."""
    words = corpus.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), x -> length(x) > 0)").alias("ws"),
    )
    grams = (
        words.filter(F.expr(f"size(ws) >= {K}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {K - 1}),"
                    f" j -> concat_ws(' ', slice(ws, j, {K})))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    rare = grams.withColumn(
        "df", F.count("*").over(Window.partitionBy("g"))
    ).filter((F.col("df") >= 2) & (F.col("df") <= C_DF_CAP))
    return grams, sizes, rare


def containment_on(corpus: DataFrame) -> DataFrame:
    """e37's core over an arbitrary ``(doc_id, text)`` frame — split out
    so the curation funnel (e7d) and the containment laws can run it on
    staged/hand-built corpora."""
    _, sizes, rare = _grams_sizes_rare(corpus)
    a = rare.select(F.col("doc_id").alias("id_a"), "g")
    b = rare.select(F.col("doc_id").alias("id_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("n_b"))
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6),
        )
        .filter(
            F.col("n_shared") / F.least("n_a", "n_b") >= C_THRESHOLD
        )
    )
    return out.select(
        "id_a",
        "id_b",
        "n_shared",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "containment",
    )


@query("e36b_span_trim_production", oracle=_duck_span(hashed=True))
def e36b_span_trim_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36b — e36's docstring scale claim as a measured path: the gram
    key is the 60-bit md5-prefix BIGINT (functions/hashing.py) instead
    of the literal {K}-token text, so the one big exchange ships 8-byte
    keys instead of ~30-byte strings. Unlike the xxhash64 production
    tiers (e2g/e2m, rows-only), the md5 prefix is cross-engine — this
    tier keeps a full DuckDB oracle AND a tier-equality law against e36
    (identical output barring a 60-bit collision; none exist at fixture
    scale, and a collision only ever OVER-marks a span — conservative
    in a trim pass). Same plan shape as e36; measured exchange-byte
    delta recorded in SCALE.md."""
    return span_trim(_documents(spark, sf_dir), hashed=True)


@query(
    "e37b_containment_prefix_production",
    oracle=_DUCK_CONTAIN_PREFIX + f"""rare AS (
  SELECT doc_id, g, df FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM grams
  ) WHERE df BETWEEN 2 AND {C_DF_CAP}
),
ranked AS (
  SELECT r.doc_id, r.g,
         ROW_NUMBER() OVER (PARTITION BY r.doc_id ORDER BY r.df, r.g) AS rk,
         COUNT(*) OVER (PARTITION BY r.doc_id) AS n_rare,
         s.n_grams
  FROM rare r JOIN sizes s USING (doc_id)
),
prefix AS (
  SELECT doc_id, g FROM ranked
  WHERE rk <= n_rare - CAST(ceil({C_THRESHOLD} * n_grams) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT LEAST(p.doc_id, r.doc_id) AS id_a,
                  GREATEST(p.doc_id, r.doc_id) AS id_b
  FROM prefix p JOIN rare r ON p.g = r.g AND p.doc_id <> r.doc_id
),
ra AS (SELECT doc_id, list_sort(list(g)) AS gs FROM rare GROUP BY doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(ga.gs, gb.gs)) AS n_shared,
         CAST(sa.n_grams AS BIGINT) AS n_a,
         CAST(sb.n_grams AS BIGINT) AS n_b
  FROM cand c
  JOIN ra ga ON ga.doc_id = c.id_a
  JOIN ra gb ON gb.doc_id = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared, n_a, n_b,
       ROUND(n_shared * 1.0 / LEAST(n_a, n_b), 6) AS containment
FROM verified
WHERE n_shared * 1.0 / LEAST(n_a, n_b) >= {C_THRESHOLD}
""",
)
def e37b_containment_prefix_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37b — e37's docstring scale claim as a measured path: PREFIX
    FILTERING (Chaudhuri et al. SSJoin '06 / Bayardo et al. WWW'07).
    Only each document's rarest ``n_rare − ⌈t·n_grams⌉ + 1`` shingles
    are indexed for pair generation: if doc d is the smaller side of a
    qualifying pair then n_shared ≥ t·n_grams(d), and any subset of
    d's rare grams larger than n_rare − t·n_grams(d) must intersect the
    shared set — so joining every doc's prefix against the full rare
    index is LOSSLESS for the threshold (no false negatives by
    construction; pinned by the tier-equality law vs e37 in
    tests/test_substring.py). Candidates are then verified exactly via
    per-doc sorted rare-gram arrays and array_intersect.

    Docs whose rare-gram count is below ⌈t·n_grams⌉ index NOTHING (they
    cannot be the smaller side of a qualifying pair) — at fixture scale
    the prefix index is a fraction of the full rare index and the
    candidate pair set shrinks accordingly (measured in SCALE.md).
    Same rarest-first ordering both engines (df asc, gram text
    tiebreak); plan: the df window + one rank window, the prefix⋈rare
    equi-join, then AQE-governed verify joins (gram arrays are per-doc
    bounded)."""
    return containment_prefix_on(_snippet_corpus(spark, sf_dir))


def prefix_index_on(rare: DataFrame, sizes: DataFrame) -> DataFrame:
    """The SSJoin prefix index over a rare-gram frame: each doc's
    rarest ``n_rare − ⌈t·n_grams⌉ + 1`` shingles (df asc, gram-text
    tiebreak — the same ordering both engines). Split out so the tier
    law can count the candidate volumes the full and prefix joins
    would generate from identical inputs."""
    ranked = rare.join(sizes, "doc_id").select(
        "doc_id",
        "g",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "g"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_rare"),
        "n_grams",
    )
    return ranked.filter(
        F.col("rk")
        <= F.col("n_rare")
        - F.expr(f"CAST(ceil({C_THRESHOLD} * n_grams) AS BIGINT)")
        + 1
    ).select("doc_id", "g")


def containment_prefix_on(corpus: DataFrame) -> DataFrame:
    """e37b's SSJoin prefix-filter core over an arbitrary ``(doc_id,
    text)`` frame — split out (the :func:`containment_on` pattern) so
    the exchange-byte tier law (tests/test_substring.py, r11 verdict
    item 4) can run BOTH tiers on hand-built corpora: the prefix
    filter's candidate-row savings only exceed its rank-window
    overhead on dup-saturated/large corpora (the ≥18 MiB regime the
    e37c rule encodes via E37_PREFIX_MIN_BYTES), which no fixture-scale
    table exhibits."""
    _, sizes, rare = _grams_sizes_rare(corpus)
    prefix = prefix_index_on(rare, sizes)
    cand = (
        prefix.join(
            rare.select(F.col("doc_id").alias("rid"), "g"), "g"
        )
        .filter(F.col("doc_id") != F.col("rid"))
        .select(
            F.least("doc_id", "rid").alias("id_a"),
            F.greatest("doc_id", "rid").alias("id_b"),
        )
        .distinct()
    )
    ra = rare.groupBy("doc_id").agg(F.array_sort(F.collect_list("g")).alias("gs"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("n_b"))
    verified = (
        cand.join(ra.select(F.col("doc_id").alias("id_a"), F.col("gs").alias("ga")), "id_a")
        .join(ra.select(F.col("doc_id").alias("id_b"), F.col("gs").alias("gb")), "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_shared", F.size(F.array_intersect("ga", "gb")).cast("bigint"))
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.least("n_a", "n_b"), 6),
        )
        .filter(F.col("n_shared") / F.least("n_a", "n_b") >= C_THRESHOLD)
    )
    return verified.select(
        "id_a",
        "id_b",
        "n_shared",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "containment",
    )


# --- r9 tier-selection rule (r8 verdict item 3) --------------------------
#
# Both production tiers have MEASURED config-dependent crossovers
# (SCALE.md "tier-selection rule"): the right tier is a function of
# corpus scale, so the decision is encoded here as data, not taste.
# The proxy is the compressed size of the documents parquet — it tracks
# token volume (and therefore gram-occurrence exchange volume) linearly
# on every measured corpus.
#
# Measured anchors (local[32]/48g, interleaved; SCALE.md §e36b/§e37b +
# SF100_PROBE):
#   e36 text key vs e36b md5-int key —
#     0.57 MiB (sf0.1):  text 1.30 s  / md5 1.13 s   (noise-level)
#     5.9  MiB (sf1):    text 2.73 s  / md5 2.52 s   (noise-level)
#     57   MiB (sf10):   text 29.6 s  / md5 33.3 s   (text wins: md5+conv
#                        CPU grows linearly, sort advantage shrinks)
#     560  MiB (×1000):  text 448.7 s / md5 378.9 s  (md5 wins 16%: the
#                        exchange dominates and 8-byte keys cut bytes 15%)
#   → boundary pinned at the geometric midpoint of the two sf10/×1000
#     anchors (~180 MiB); below it the tiers are within ~13% either way,
#     so the boundary's exact placement is low-stakes by construction.
#   e37 full rare-index vs e37b prefix filter —
#     5.9  MiB (sf1):    full 3.81 s  / prefix 8.53 s  (full wins: the
#                        rank window overhead dwarfs the pair cut)
#     57   MiB (sf10):   full 26.8 s  / prefix 25.3 s  (crossover)
#     560  MiB (×1000):  full 905.3 s / prefix 276.0 s (prefix 3.3×: the
#                        5× smaller index feeds every downstream stage)
#   → boundary pinned at the geometric midpoint of sf1/sf10 (~18 MiB).
#
# On a NETWORK-BOUND cluster (the 100 TB deployment) the exchange-byte
# reduction is the robust effect and both boundaries move LEFT — these
# constants encode the measured single-box behavior, the conservative
# default.

E36_MD5_KEY_MIN_BYTES = 180 << 20  #: documents ≥ this → md5-int gram key
E37_PREFIX_MIN_BYTES = 18 << 20    #: documents ≥ this → prefix filtering


def corpus_parquet_bytes(sf_dir: str, table: str = "documents") -> int:
    """Compressed on-disk bytes of a table — file or directory layout.

    Size proxy caveats (r9 ADVICE #3): this measures the LOCAL
    filesystem only, and only the ``documents`` side of the corpus —
    a deliberate proxy (the snippets/query side scales with it on every
    fixture and in any real corpus the dedup target dominates). On a
    non-local ``sf_dir`` (object store URI, renamed layout) there is no
    local path to stat — return 0 so the auto tiers degrade to their
    canonical (small-corpus) plan instead of raising at plan-build;
    callers on a real cluster should pass table stats explicitly via
    ``choose_*_tier(known_bytes)``."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(p)
            for f in files
        )
    if not os.path.exists(p):
        return 0
    return os.path.getsize(p)


def choose_span_tier(corpus_bytes: int) -> str:
    """``'text'`` (e36) or ``'md5'`` (e36b) per the measured rule above."""
    return "md5" if corpus_bytes >= E36_MD5_KEY_MIN_BYTES else "text"


def choose_containment_tier(corpus_bytes: int) -> str:
    """``'full'`` (e37) or ``'prefix'`` (e37b) per the measured rule."""
    return "prefix" if corpus_bytes >= E37_PREFIX_MIN_BYTES else "full"


@query("e36c_span_trim_auto", oracle=_E36_ORACLE)
def e36c_span_trim_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36c — the tier decision as code: picks e36 (text gram key) or
    e36b (md5-int gram key) from the measured corpus-size rule
    (:func:`choose_span_tier`), so a caller gets the faster measured
    plan at any scale without knowing the tiers exist. Oracled with
    e36's oracle UNCHANGED: the tiers are row-identical by the
    tier-equality law, so the auto seat is oracle-checkable regardless
    of which plan it picks (tests assert the rule's choice at every
    measured anchor AND row-equality on the fixture)."""
    tier = choose_span_tier(corpus_parquet_bytes(sf_dir))
    if tier == "md5":
        return e36b_span_trim_production(spark, sf_dir)
    return e36_substring_span_trim(spark, sf_dir)


@query("e37c_containment_auto", oracle=_E37_ORACLE)
def e37c_containment_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37c — e37/e37b tier decision as code (see e36c; rule:
    :func:`choose_containment_tier`). Prefix filtering is lossless for
    the threshold, so both tiers emit identical pairs and e37's oracle
    checks the auto seat whichever plan it picks."""
    tier = choose_containment_tier(corpus_parquet_bytes(sf_dir))
    if tier == "prefix":
        return e37b_containment_prefix_production(spark, sf_dir)
    return e37_containment_pairs(spark, sf_dir)
