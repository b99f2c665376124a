"""Near-duplicate cluster resolution — connected components over the
MinHash-LSH candidate-pair graph (SURVEY.md §2.11 E2, the step after
candidate generation: pairs → clusters → one canonical survivor per
cluster; reference keeps first-seen per key, src/data_helper.py dedup
pass — here generalised to transitive near-dup groups).

Candidate pairs are edges of an undirected graph; a dedup "cluster" is a
connected component, its canonical doc the minimum doc_id. The Spark side
runs iterative min-label propagation (label(v) ← min over N(v) ∪ {v}),
which converges to the component minimum in O(diameter) rounds. LSH
near-dup graphs are shallow — components are small cliques/chains — so
the loop exits in 2–4 rounds here; at 100 TB the same contract would be
served by the large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond"), which converges in O(log n) rounds
with bounded per-round shuffle. Each round localCheckpoints to truncate
lineage (iterative plans otherwise grow without bound) and convergence is
detected by the monotone label sum (labels only ever decrease, so the sum
is a strictly decreasing fixpoint detector — one scalar per round on the
driver, not a row-level diff join).

The DuckDB oracle computes the same fixpoint declaratively with a
recursive CTE (reachability → MIN(root) per node), so the whole pipeline
— shingle hash, banding, bucket join, transitive closure — is
cross-engine bit-exact.

PRODUCTION RULE — verify edges before transitive closure. Closure
amplifies false positives catastrophically: one chance collision chains
two families forever. Measured on the sf10 boilerplate-stress replica
(char mode, capped candidates, 510k docs): raw candidates → ONE
453,809-doc component (89% of the corpus; a keep-one policy deletes
it); requiring ≥2 shared bands — the `n_shared_bands` column the e2*
pair tiers already emit for free — recovers the exact planted structure
(5,002 clusters, max 396, full coverage); ≥3 over-prunes (−7k docs).
Use band-count ≥2 as the zero-cost filter, signature-estimated or exact
Jaccard when the threshold needs calibrating — see SCALE.md "Cluster
resolution at sf10".

ONE CORE, THIN BINDINGS. Every seat here is band keys
(``dedup.minhash_band_keys``, whose arguments pick the hash tier and
shingle mode) → :func:`lsh_edges` → :func:`connected_components` → a
tail. ``lsh_edges`` varies along the two axes the seats differ on —
raw distinct candidates vs ``verified`` (≥2 shared bands), uncapped vs
``max_bucket_size=PROD_MAX_BUCKET_SIZE`` — and the DuckDB side mirrors
it with :func:`_duck_pairs` / :func:`_duck_components` over the same
two flags:

=====  ========  ======  =====================  ==============================
seat   verified  capped  hash tier              tail
=====  ========  ======  =====================  ==============================
e9     no        no      md5 (oracle)           :func:`canonical_clusters`
e9b    no        no      md5 (oracle)           triangle count (edges, no CC)
e28    no        no      md5 (oracle)           keep-longest survivor ledger
e9c    yes       no      md5 (oracle)           :func:`canonical_clusters`
e9d    yes       yes     md5 (oracle)           :func:`canonical_clusters`
o13    yes       no      md5 (oracle)           :func:`_split_by_cluster`
o13b   yes       yes     xxhash64 (rows-only)   :func:`_split_by_cluster`
=====  ========  ======  =====================  ==============================

The raw shape stays on e9/e9b/e28 because fixture-scale graphs have no
chance collisions; e9d is the production shape. The e2b/e2g/e2j/e2k/e2m
pair seats (dedup.py) stop before the graph, at ``count_shared_bands``,
and their oracles share one tail (``dedup._duck_pair_counts_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wx20222_bigdata_spark.operators.dedup import (
    LSH_BANDS_DUCK_CTES,
    PROD_MAX_BUCKET_SIZE,
    _corpus_with_mutants_spark,
    count_shared_bands,
    duck_band_join,
    lsh_candidate_pairs,
    minhash_band_keys,
)
from wx20222_bigdata_spark.registry import query


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Label each node of an undirected graph with the minimum node id in
    its connected component.

    ``edges`` needs columns (src, dst), one row per undirected edge (either
    orientation). Returns (node, label). Pure DataFrame iteration — no RDDs,
    no driver-side graph; per-round cost is one join + one groupBy, both
    partitioned on node id.

    The symmetrized edge frame is deliberately NOT deduplicated (r11):
    min-label propagation is idempotent over duplicate neighbor rows —
    ``min`` over a multiset equals ``min`` over its support, so duplicate
    edges cannot change the fixpoint, only add rows to the per-round join
    — while a ``distinct()`` here is a full exchange+sort of 2·|E| rows
    before the loop even starts (52M rows at sf10 — measured as the
    single largest avoidable stage). Every registered caller already
    passes a deduplicated edge set (the verify ``groupBy(id_a, id_b)``
    or an explicit ``.distinct()``), and the two union branches cannot
    collide with each other because pair edges are oriented
    ``id_a < id_b``. A caller with a heavily duplicated raw edge stream
    should dedup upstream, where the duplication structure is known.

    ``max_iter`` counts propagation rounds and the fused initialization
    below already performs round 1, so the effective minimum is one
    round; ``max_iter <= 0`` returns identity labels (node = label) to
    preserve the pre-r12 zero-rounds contract (r12 ADVICE).
    """
    if max_iter <= 0:
        return (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("label"))
        )
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .localCheckpoint(eager=True)
    )
    # Round 1 fused into initialization (r12): with labels initialized to
    # label(v) = v, the first propagation round reduces to
    # label(u) = min(u, min N(u)) — one groupBy over sym, no init
    # ``distinct`` exchange, no init sum job, no round-1 three-way join.
    # The label trajectory from here on is identical to the explicit
    # init + round-1 form, so the fixpoint (and every output) is
    # unchanged; the loop below continues from round 2.
    # Convergence detection rides the checkpoint job (r12): an
    # ``observe`` of sum(label) is attached to each iterate, so the
    # eager localCheckpoint that materializes the round ALSO emits the
    # monotone-sum fixpoint signal — no separate per-round aggregate
    # action re-scanning the checkpointed labels (verified: eager
    # localCheckpoint completes the observed metric; one driver action
    # per round instead of two, same sums, same trajectory).
    from pyspark.sql import Observation

    obs = Observation()
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("nmin"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("nmin")).alias("label"),
        )
        .observe(obs, F.sum("label").alias("s"))
        .localCheckpoint(eager=True)
    )
    prev_sum = obs.get["s"]
    for _ in range(max_iter - 1):
        lab_v = labels.select(
            F.col("node").alias("v"), F.col("label").alias("vlabel")
        )
        nmin = sym.join(lab_v, "v").groupBy("u").agg(
            F.min("vlabel").alias("nmin")
        )
        obs = Observation()
        labels = (
            labels.join(nmin.withColumnRenamed("u", "node"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
            .observe(obs, F.sum("label").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def lsh_edges(
    bands: DataFrame, *, verified: bool, max_bucket_size: int | None
) -> DataFrame:
    """Near-dup graph edges ``(src, dst)``, ``src < dst``, from band keys —
    the front half every cluster seat shares.

    ``verified=False`` keeps every distinct candidate pair (one edge per
    pair, however many bands it shares); ``verified=True`` keeps only the
    pairs sharing ≥2 bands — the verify-before-closure rule, whose
    ``count_shared_bands`` groupBy already yields one row per pair.
    ``max_bucket_size`` is passed to ``lsh_candidate_pairs``: ``None`` for
    the oracle twins, ``PROD_MAX_BUCKET_SIZE`` for the capped tiers."""
    pairs = lsh_candidate_pairs(bands, max_bucket_size=max_bucket_size)
    if verified:
        pairs = pairs.transform(count_shared_bands).filter(
            F.col("n_shared_bands") >= 2
        )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return edges if verified else edges.distinct()


def canonical_clusters(comp: DataFrame) -> DataFrame:
    """Shared e9/e9c/e9d tail: component labels ``(node, label)`` →
    ``(doc_id, cluster_id, cluster_size, is_canonical)``, cluster id = min
    doc_id of the component and its canonical survivor."""
    sizes = comp.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return comp.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def _duck_pairs(*, verified: bool, capped: bool) -> str:
    """DuckDB mirror of :func:`lsh_edges`: the band-key CTEs, e9d's
    window-count prune when ``capped``, then a ``pairs(id_a, id_b)`` CTE."""
    ctes, src = LSH_BANDS_DUCK_CTES, "bands"
    if capped:
        ctes += f""",
capped AS (
  SELECT doc_id, band, bucket_key FROM (
    SELECT doc_id, band, bucket_key,
           COUNT(*) OVER (PARTITION BY band, bucket_key) AS _bsz
    FROM bands
  ) WHERE _bsz <= {PROD_MAX_BUCKET_SIZE}
)"""
        src = "capped"
    if verified:
        body = f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
  {duck_band_join(src)}
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(DISTINCT a.band) >= 2"""
    else:
        body = f"""SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  {duck_band_join(src)}"""
    return f"""{ctes},
pairs AS (
  {body}
)"""


def _duck_components(*, verified: bool, capped: bool) -> str:
    """DuckDB mirror of ``connected_components(lsh_edges(...))``: a
    ``WITH RECURSIVE`` chain ending in ``comp(doc_id, cluster_id)`` — the
    same min-id fixpoint as recursive reachability → MIN(root)."""
    return f"""
WITH RECURSIVE {_duck_pairs(verified=verified, capped=capped)},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, root) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (
  SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
)"""


#: DuckDB mirror of :func:`canonical_clusters` over ``comp``.
_DUCK_CANONICAL = """
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM comp
"""


@query(
    "e9_dedup_clusters",
    oracle=_duck_components(verified=False, capped=False) + _DUCK_CANONICAL,
)
def e9_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 cluster resolution end to end: the e2b LSH candidate pairs over
    the seeded-mutant corpus, resolved to connected components. Output is
    one row per document that appears in any near-dup pair: its cluster id
    (= min doc_id in the component), the cluster size, and whether it is
    the canonical survivor. Downstream dedup keeps ``is_canonical`` rows."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus), verified=False, max_bucket_size=None
    )
    return canonical_clusters(connected_components(edges))


@query(
    "e9b_triangle_count",
    oracle=f"""
WITH {_duck_pairs(verified=False, capped=False)},
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
nodes AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
SELECT doc_id, COUNT(*) AS n_triangles FROM nodes GROUP BY doc_id
""",
)
def e9b_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation in the near-dup pair graph —
    the density signal that separates tight duplicate cliques from
    chance LSH collisions (a doc in many triangles is in a true
    duplicate cluster; a bridge edge has none).

    Canonical distributed triangle counting: edges are already oriented
    low→high (src < dst from the pair join), so wedges come from ONE
    self-join on the middle vertex and close with an equi-join back onto
    the edge set — never an all-pairs expansion; shuffle is bounded by
    wedge count. At web scale you'd first re-orient edges by degree
    (lowest-degree vertex first) to bound wedges by arboricity — same
    two-join plan, different orientation rule."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus), verified=False, max_bucket_size=None
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(e2, F.col("b2") == F.col("b"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )


@query(
    "e28_cluster_survivors",
    oracle=_duck_components(verified=False, capped=False)
    + """,
quality AS (
  SELECT comp.doc_id, cluster_id, length(corpus.text) AS n_chars
  FROM comp JOIN corpus ON comp.doc_id = corpus.doc_id
),
ranked AS (
  SELECT doc_id, cluster_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM quality
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS survivor_doc_id,
       CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS survivor_len,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
FROM ranked
GROUP BY cluster_id
""",
)
def e28_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28 quality-aware survivor selection — the dedup DECISION layer on
    top of e9's connected components: instead of the min-id convention,
    each near-dup cluster keeps its LONGEST member (ties → min doc_id),
    the policy real curation pipelines use (the longest version of a
    boilerplate family is usually the complete one; cf. RefinedWeb /
    C4's keep-longest rules). Emits a per-cluster ledger: survivor, its
    length, and how many docs / characters dedup removes — the numbers a
    100 TB curation run reports to its operators.

    Plan shape: e9's pair graph + label propagation, then ONE
    partitioned window over (cluster_id) — cluster populations are
    near-dup families (bounded), never the corpus. All-integer output;
    the oracle reuses e9's recursive-CTE reachability (landmine 15) with
    a quality-ranked window on top."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus), verified=False, max_bucket_size=None
    )
    comp = connected_components(edges)
    quality = comp.join(
        corpus.select("doc_id", F.length("text").alias("n_chars")),
        comp.node == F.col("doc_id"),
    ).select(
        "doc_id", F.col("label").alias("cluster_id"), "n_chars"
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    )
    ranked = quality.withColumn("rn", rn)
    return ranked.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("survivor_doc_id"),
        F.min(F.when(F.col("rn") == 1, F.col("n_chars")))
        .cast("bigint")
        .alias("survivor_len"),
        (F.count("*") - 1).cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("dropped_chars"),
    )


@query(
    "e9c_verified_clusters",
    oracle=_duck_components(verified=True, capped=False) + _DUCK_CANONICAL,
)
def e9c_verified_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 with the VERIFY-BEFORE-CLOSURE rule applied — the production
    shape of cluster dedup. Edges are candidate pairs that share ≥2 LSH
    bands (``n_shared_bands`` is a free byproduct of the pair groupBy),
    which kills chance single-band collisions before transitive closure
    can amplify them. Motivated by measurement, not theory: at the
    sf10 boilerplate stress, raw-candidate closure chained 453,809 docs
    (89% of the corpus) into ONE component, while this ≥2-band rule
    recovered the exact planted family structure (5,002 clusters,
    max 396, full coverage) — SCALE.md "Cluster resolution at sf10".
    Same output contract as e9: (doc_id, cluster_id, cluster_size,
    is_canonical), cluster id = min doc_id of the component."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus), verified=True, max_bucket_size=None
    )
    return canonical_clusters(connected_components(edges))


@query(
    "e9d_verified_clusters_capped",
    oracle=_duck_components(verified=True, capped=True) + _DUCK_CANONICAL,
)
def e9d_verified_clusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e9c with FREQUENT-BUCKET PRUNING in front of the verify join — the
    r10 verdict's top item. Building it exposed the real killer in e9c's
    138.8 s sf10 row: the phase decomposition (SCALE.md r11) showed the
    verify ``countDistinct(band)`` expand was 29.5 s of it and the CC
    loop only ~26 s — the ``count_shared_bands`` swap alone brought e9c
    to 52.8 s. What the cap adds is the regime the word-mode fixture
    never reaches: buckets larger than ``PROD_MAX_BUCKET_SIZE`` are
    dropped BEFORE the self-join (dedup.py:lsh_candidate_pairs), the
    guard the production LSH tiers (e2g/e2m, o13b) already use — at the
    char-mode sf10 stress ONE 17,727-doc bucket is 157M pairs through a
    single reducer, and at ×1000 saturation the uncapped join dies the
    way e35b did. Degenerate boilerplate buckets carry no discriminating
    signal and belong to the linear exact-dedup tier (e1/e34) anyway.
    Measured cost of the insurance at word-mode sf10: 57.0 vs 52.8 s
    (+8%, the window pre-count; both stamped, SCALING_CURVE.json).

    Unlike o13b (production xxhash64 → rows-only), this seat keeps the
    ORACLE hash tier, and the cap rule — a window count over
    (band, bucket_key) — is pure integer arithmetic on md5-derived keys,
    so DuckDB mirrors the capped join exactly: the whole capped pipeline
    (prune → verify ≥2 bands → transitive closure) is cross-engine
    bit-exact, a FULL oracle, not a weaker rows-only check. On any corpus
    whose buckets all sit below the cap (the sf* fixtures) the output is
    row-identical to e9c — the cap-inactive equality law in
    tests/test_clusters.py; the dup-saturated replica corpora where the
    tiers differ are covered by the sf10/×1000 scale rows in SCALE.md.
    Same output contract as e9/e9c: (doc_id, cluster_id, cluster_size,
    is_canonical), cluster id = min doc_id of the component."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus),
        verified=True,
        max_bucket_size=PROD_MAX_BUCKET_SIZE,
    )
    return canonical_clusters(connected_components(edges))


@query(
    "o13_cluster_aware_split",
    oracle=_duck_components(verified=True, capped=False)
    + """,
assigned AS (
  SELECT c.doc_id, COALESCE(k.cluster_id, c.doc_id) AS cluster_id
  FROM corpus c LEFT JOIN comp k USING (doc_id)
)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, cluster_id,
         CAST(concat('0x', substring(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
  FROM assigned
)
""",
)
def o13_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-dup CLUSTER id,
    not the document id. o10's per-document md5 split is reprocessing-
    stable, but near-duplicate documents hash independently — a doc and
    its mutant can land in train and test, leaking (near-)test content
    into training (the train/test-overlap failure measured by Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"). The production rule: every member of a connected near-dup
    cluster inherits the cluster representative's split, so no cluster
    ever straddles a split boundary.

    Composition, all prior-verified pieces: e2b's banded LSH candidates
    → e9c's verified (≥2-shared-band) edges → connected components →
    LEFT JOIN back onto the full corpus (docs in no pair are singleton
    clusters keyed by their own id) → o10's md5-prefix 90/5/5 bucket on
    the cluster key. Scale shape: the component labelling is the
    bounded-iteration e9 plan; the join back is a hash join on doc_id
    where the comp side holds only docs that appear in some candidate
    pair (≪ corpus at real dup rates); the split itself is a pure
    projection. Split proportions stay ~90/5/5 because cluster ids
    inherit the uniform md5 bucket distribution — each CLUSTER (not
    each doc) is the Bernoulli unit, the price of leakage safety."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus), verified=True, max_bucket_size=None
    )
    return _split_by_cluster(corpus, connected_components(edges))


def _split_by_cluster(corpus: DataFrame, comp: DataFrame) -> DataFrame:
    """Shared o13/o13b tail: LEFT JOIN component labels onto the corpus
    (docs in no pair are singleton clusters keyed by their own id), then
    o10's md5-prefix 90/5/5 bucket on the cluster key."""
    assigned = (
        corpus.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    from wx20222_bigdata_spark.functions.hashing import spark_md5_hash

    bucket = F.expr(f"{spark_md5_hash('CAST(cluster_id AS STRING)')} % 100")
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@query("o13b_cluster_split_production")
def o13b_cluster_split_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """o13's PRODUCTION tier — the measured version of its docstring's
    scale prose: candidate pairs come from the xxhash64 production hash
    (e2g's tier, ~3x cheaper per shingle than the cross-engine oracle
    fold) with PROD_MAX_BUCKET_SIZE frequent-bucket pruning applied
    BEFORE the self-join (the guard that keeps one degenerate
    boilerplate bucket from emitting B^2/2 pairs on a single reducer),
    then the same verified (>=2-shared-band) edges -> connected
    components -> md5-by-cluster split tail as o13.

    Rows-only by design (no xxhash64 in DuckDB — the e2g precedent);
    the compensating laws in tests/test_clusters.py pin the properties
    that matter: full-corpus coverage, one row per doc, NO cluster
    straddling a split boundary, and seeded mutants inheriting their
    source's split (the production hash recovers the same planted
    near-dup structure — e2g's recall law, re-asserted here end to
    end). Where the tiers can differ, by design: a pruned degenerate
    bucket may drop an edge the oracle tier kept, splitting a chance
    chain — acceptable at scale (such buckets carry no discriminating
    signal), and exactly why the cap is production-only."""
    corpus = _corpus_with_mutants_spark(spark, sf_dir)
    edges = lsh_edges(
        minhash_band_keys(corpus, production_hash=True),
        verified=True,
        max_bucket_size=PROD_MAX_BUCKET_SIZE,
    )
    return _split_by_cluster(corpus, connected_components(edges))
