"""Similarity search over `array<float>` embeddings (SURVEY.md §2.8).

- brute-force cosine top-k: the correctness baseline. JVM-side
  higher-order functions (`zip_with` + `aggregate`), no Python in the
  row path.
- IVF-style partitioned top-k (`similarity_topk_ivf`): the
  cell-restriction DEMONSTRATION — here the `label` column stands in
  for a cell assignment, and `similarity_recall_report` exists to
  show what that geometry-blind partition costs.  The PRODUCTION
  serving tier (k-means coarse quantizer, scalar-quantized and IVFADC
  codes, nprobe sweeps) lives in `operators/similarity_ann.py` since
  the round-17 split.  Candidate set drops from N to ~nprobe·N/cells;
  the join is an equi-join on the cell id, so it shuffles only
  matching cells instead of a full cross join.

Floating-point contract: elements are cast to double before any
arithmetic; similarities are rounded to 6 dp in both engines (the fold
order is fixed left-to-right in both, but rounding also guards the
final division).  Ranks use a unique (similarity DESC, neighbor ASC)
order so the top-k SET is deterministic.

DATA CONTRACT — nonzero norms (r12 review): every cosine here divides
by ||q||·||c|| unguarded, and under this build's default ANSI mode a
zero-norm vector (or zero-norm PREFIX in the matryoshka op) aborts the
query with DIVIDE_BY_ZERO rather than ranking quietly.  That is the
intended posture: cosine similarity is UNDEFINED for the zero vector,
and silently assigning it a rank would corrupt top-k results; the
corpus must be screened first.  `embedding_norm_stats` is the
enforcement profile (min/avg norm per label — a 0.0 min is the signal
to drop or re-embed those rows before any similarity op runs), and
vectors with empty arrays surface there via try_element_at instead of
crashing the profile itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import fastvec
from ..functions.vectors import dot, l2_norm
from ..functions.portable import pround
from ..functions.scale import plan_parallelism
from ..registry import register
from ..sources.catalog import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5

_DUCK_COS = """
  list_sum(list_transform(generate_series(1, len(q.embedding)),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(generate_series(1, len(q.embedding)),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
   * sqrt(list_sum(list_transform(generate_series(1, len(c.embedding)),
           i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
"""


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(({_DUCK_COS}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {_DUCK_COS} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rnk <= {TOP_K}
    """,
    doc="Brute-force cosine top-k (k=5) for 10 query vectors — exact ANN "
        "baseline. The bounded query set ships in the scoring kernel's "
        "closure (r17: the vectorized bit-identical form of the old "
        "broadcast nested loop); the candidate side is streamed map-only, "
        "never shuffled before the k-bounded rank.",
    tags=("similarity",),
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # candidate side arrives as one small parquet split; spread it so
    # the probe runs on every core.  The N_QUERIES query vectors are a
    # bounded collect shipped to the scoring kernel's closure
    # (optimization r17: the crossJoin(broadcast(q)) + dot/norm HOFs
    # paid an interpreted lambda per element; the kernel computes the
    # SAME left-to-right folds vectorized, bit-identically).  Norms are
    # still computed once per SIDE inside the kernel, not per pair.
    e = e.repartition(plan_parallelism(spark), "vec_id")
    # query vectors read driver-side from the parquet input (a collect
    # here would shuffle the whole repartitioned table to fetch 10 rows)
    qrows = fastvec.read_vectors_driver(sf_dir, N_QUERIES)
    sims = fastvec.query_sims(e, qrows, id_col="vec_id", vec_col="embedding")
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            pround("raw_sim", 6).alias("cos_sim"),
            "rnk",
        )
    )


@register(
    "similarity_topk_ivf",
    oracle=f"""
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(({_DUCK_COS}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {_DUCK_COS} DESC, c.vec_id ASC) AS rnk
      FROM embeddings q
      JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rnk <= {TOP_K}
    """,
    doc="IVF-style ANN: search only the query's cell (label = cell id; at "
        "scale: sampled k-means centroids + nProbe fan-out). Equi-join on "
        "the cell id replaces the cross join — candidates drop ~10×.  "
        "Recall against the exact ranking is REPORTED by the registered "
        "similarity_recall_report (low on this corpus — the synthetic "
        "labels are not cosine-clustered, which is exactly what the "
        "report exists to surface); the quantized variant's recall "
        "vs this plan is gated in test_quality.",
    tags=("similarity", "ann"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    e = e.repartition(plan_parallelism(spark), "vec_id")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    sim = dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("raw_sim"), F.asc("neighbor_id"))
    return (
        c.join(
            F.broadcast(q),
            (F.col("c_label") == F.col("q_label")) & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("raw_sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", pround("raw_sim", 6).alias("cos_sim"), "rnk")
    )


def _hyperplanes(n_planes: int = 8, dims: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 — the
    same constants are embedded in the Spark expressions and the DuckDB
    oracle, so the sign-bit computation is engine-portable."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dims):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(round(h / 0xFFFFFFFF - 0.5, 6))
        planes.append(row)
    return planes


_PLANES = _hyperplanes()


def _duck_plane_literal(row: list[float]) -> str:
    return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in row) + "]"


_DUCK_BUCKET_EXPR = " + ".join(
    f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
    f"i -> CAST(embedding[i] AS DOUBLE) * ({_duck_plane_literal(row)})[i])) > 0 "
    f"THEN {2 ** p} ELSE 0 END)"
    for p, row in enumerate(_PLANES)
)


@register(
    "similarity_lsh_buckets",
    oracle=f"""
    SELECT vec_id, CAST({_DUCK_BUCKET_EXPR} AS BIGINT) AS bucket
    FROM embeddings
    """,
    doc="Random-hyperplane LSH (SimHash-for-vectors): 8 deterministic "
        "hyperplanes → sign bits → 256 buckets.  The scale path for "
        "cosine ANN: candidates come from equal (or Hamming-adjacent) "
        "buckets, turning the cross join into an equi-join. Bucket "
        "assignment is map-only, value-checked against the oracle.",
    tags=("similarity", "ann", "lsh"),
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    bucket = None
    for p, row in enumerate(_PLANES):
        # shared guarded dot (r12): dimension mismatch fails loudly
        # instead of silently bucketing everything to 0
        dp = _plane_dot(F.col("embedding"), row)
        term = F.when(dp > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return e.select("vec_id", bucket.cast("bigint").alias("bucket"))


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    SELECT q.vec_id AS vec_a, c.vec_id AS vec_b,
           floor(({_DUCK_COS}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    WHERE {_DUCK_COS} >= 0.45
    """,
    doc="Embedding-cosine near-dup pairs (threshold 0.45): the exact "
        "all-pairs ground truth the LSH buckets approximate. Quadratic by "
        "construction — at 100 TB this runs ONLY within LSH buckets or "
        "IVF cells (see similarity_lsh_buckets); kept exact here as the "
        "recall baseline, like dedup_ngram_jaccard for MinHash.",
    tags=("similarity", "dedup"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    e = e.repartition(plan_parallelism(spark), "vec_id")
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("e_a"),
        l2_norm(F.col("embedding")).alias("n_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("e_b"),
        l2_norm(F.col("embedding")).alias("n_b"),
    )
    sim = dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("raw_sim", sim)
        .filter(F.col("raw_sim") >= 0.45)
        .select("vec_a", "vec_b", pround("raw_sim", 6).alias("cos_sim"))
    )


# Banded hyperplane LSH for the near-dup pipeline (OR-amplification).
# 32 deterministic planes = 8 bands x 4 sign bits: a pair is a candidate
# iff it matches in ANY band — the same band/bucket shape as
# dedup_minhash_lsh, tuned for the cosine threshold in play.  At the
# fixture's deliberately-low 0.45 threshold (p = 1 - acos(s)/pi ~ 0.65)
# this recalls ~0.77-0.93 of true pairs while scanning ~0.41 of all
# pairs; at a production threshold of 0.7+ the identical shape prunes
# ~10x.  Parameters are constants so the DuckDB oracle embeds the same
# plane literals.
_NB_BANDS = 8
_NB_ROWS = 4
_NB_PLANES = _hyperplanes(_NB_BANDS * _NB_ROWS)  # first 8 rows == _PLANES


def _plane_dot(emb: F.Column, row: list[float]) -> F.Column:
    """Plane·embedding dot with a LOUD dimension guard (r12 review
    fix): the hyperplanes are generated for a fixed length, and
    zip_with pads a shorter/longer side with NULL — one NULL poisons
    the whole fold, every sign test reads false, and EVERY vector
    silently lands in bucket 0, degenerating LSH to a single bucket
    (the capped candidate join then becomes all-pairs with no error).
    assert_true in the fold's start value can't be pruned: a
    wrong-dimension corpus now fails with an actionable message."""
    plane = F.array(*[F.lit(x) for x in row])
    ok = F.assert_true(
        F.size(emb) == len(row),
        F.lit(
            f"LSH hyperplanes are {len(row)}-dim but the embedding column "
            "has a different length; regenerate _hyperplanes(dims=...) "
            "for this corpus"
        ),
    )
    return F.aggregate(
        F.zip_with(emb, plane, lambda x, y: x.cast("double") * y),
        F.when(ok.isNull(), F.lit(0.0)),
        lambda acc, x: acc + x,
    )


def _duck_band_bucket(band: int) -> str:
    terms = []
    for r in range(_NB_ROWS):
        row = _NB_PLANES[band * _NB_ROWS + r]
        dp = (
            f"list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({_duck_plane_literal(row)})[i]))"
        )
        terms.append(f"(CASE WHEN {dp} > 0 THEN {2 ** r} ELSE 0 END)")
    return " + ".join(terms)


_DUCK_NB_BANDS = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band_id, {_duck_band_bucket(b)} AS bucket FROM embeddings"
    for b in range(_NB_BANDS)
)


@register(
    "embedding_near_dup_bucketed",
    oracle=f"""
    WITH bands AS (
      {_DUCK_NB_BANDS}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           floor(({_DUCK_COS}) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM cand
    JOIN embeddings q ON q.vec_id = vec_a
    JOIN embeddings c ON c.vec_id = vec_b
    WHERE {_DUCK_COS} >= 0.45
    """,
    doc="The production-shaped near-dup plan end-to-end: banded hyperplane "
        "LSH (8 bands x 4 sign bits) -> candidate pairs from any matching "
        "band bucket -> exact within-candidate cosine >= 0.45.  Replaces "
        "embedding_near_dup_pairs' O(n^2) join with a band-bucket equi-join "
        "+ a join-back on vec_id: every stage is linear or equi-partitioned, "
        "so the plan survives 100 TB.  Recall vs the exact baseline is "
        "gated in tests/test_quality.py.",
    tags=("similarity", "dedup", "lsh"),
)
def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    e = e.repartition(plan_parallelism(spark), "vec_id")
    # slim (vec_id, band_id, bucket) table, materialized once: it feeds
    # both sides of the candidate self-join.  The 32 plane-dot folds
    # are the expensive part — since optimization r17 they run in the
    # vectorized bit-identical kernel (same left-to-right folds, same
    # loud dimension guard) instead of 32 interpreted HOFs + explode.
    # (localCheckpoint, not persist — see dedup)
    bands = fastvec.plane_band_buckets(
        e, _NB_PLANES, _NB_BANDS, _NB_ROWS
    ).localCheckpoint(eager=True)
    a = bands.alias("a")
    b_ = bands.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # join the full vectors back by key (equi-join on vec_id — at scale
    # both sides co-partition; AQE broadcasts the small side here)
    emb = e.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("norm"))
    qa = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("e_a"),
        F.col("norm").alias("n_a"),
    )
    qb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("e_b"),
        F.col("norm").alias("n_b"),
    )
    sim = dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .withColumn("raw_sim", sim)
        .filter(F.col("raw_sim") >= 0.45)
        .select("vec_a", "vec_b", pround("raw_sim", 6).alias("cos_sim"))
    )


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           floor((avg(sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))))) * 10000.0 + 0.5) / 10000.0
             AS avg_l2_norm,
           floor((min(CAST(embedding[1] AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS min_first_dim,
           floor((max(CAST(embedding[1] AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS max_first_dim
    FROM embeddings
    GROUP BY label
    """,
    doc="Per-cell embedding statistics (norm distribution, first-dim range) "
        "— the sanity profile a vector pipeline runs before indexing.",
    tags=("similarity", "agg"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        pround(F.avg(l2_norm(F.col("embedding"))), 4).alias("avg_l2_norm"),
        # try_element_at (r12 review fix): a zero-length embedding made
        # plain element_at raise INVALID_ARRAY_INDEX under ANSI and kill
        # the sanity profile that should run BEFORE trusting the data;
        # DuckDB's embedding[1] already yields NULL there
        pround(F.min(F.try_element_at("embedding", F.lit(1)).cast("double")), 6).alias("min_first_dim"),
        pround(F.max(F.try_element_at("embedding", F.lit(1)).cast("double")), 6).alias("max_first_dim"),
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH el AS (
      SELECT gs.j AS dim, CAST(embedding[gs.j] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) gs
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n_values,
           floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS mean_val,
           floor(min(x) * 1000000.0 + 0.5) / 1000000.0 AS min_val,
           floor(max(x) * 1000000.0 + 0.5) / 1000000.0 AS max_val
    FROM el GROUP BY dim
    """,
    doc="Per-dimension corpus statistics over the embedding column — "
        "what a vector pipeline computes to plan normalization / "
        "whitening / quantization ranges (the same min/max ranges "
        "embedding_scalar_quantize consumes). Scale shape: posexplode "
        "is map-side; the aggregate's shuffle is bounded by the "
        "embedding DIMENSION (not the corpus) after partial "
        "aggregation, so the reduce side is constant-size at any "
        "corpus scale.",
    tags=("similarity", "agg"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(F.posexplode(F.col("embedding")).alias("pos", "x")).select(
        (F.col("pos") + 1).alias("dim"), F.col("x").cast("double").alias("x")
    )
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        pround(F.avg("x"), 6).alias("mean_val"),
        pround(F.min("x"), 6).alias("min_val"),
        pround(F.max("x"), 6).alias("max_val"),
    )


@register(
    "embedding_label_centroids",
    oracle="""
    WITH el AS (
      SELECT label, gs.j AS dim, CAST(embedding[gs.j] AS DOUBLE) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) gs
    ), cent AS (
      SELECT label, dim,
             floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS c
      FROM el GROUP BY label, dim
    )
    SELECT CAST(a.label AS INTEGER) AS label_a,
           CAST(b.label AS INTEGER) AS label_b,
           floor(sum(a.c * b.c)
                 / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c)))
                 * 1000000.0 + 0.5) / 1000000.0 AS centroid_cosine
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
    doc="Per-label centroid computation + pairwise centroid cosine — "
        "the class-separation report a classifier-based quality "
        "filter (or clustering sanity check) reads before trusting "
        "label assignments.  Centroid components are rounded to 6dp "
        "in BOTH engines before the cosine so the cross-engine value "
        "contract survives float-summation order.  Scale shape: one "
        "corpus-sized aggregate whose reduce side is bounded by "
        "|labels| x dim (constant at any corpus size), checkpointed "
        "once, then a self-join + cosine over that constant-sized "
        "table — the corpus is scanned exactly once and never "
        "re-shuffled.",
    tags=("similarity", "agg"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select("label", (F.col("pos") + 1).alias("dim"), F.col("x").cast("double").alias("x"))
    cent = (
        el.groupBy("label", "dim")
        .agg(pround(F.avg("x"), 6).alias("c"))
        # consumed twice (both sides of the pair join) — materialize the
        # |labels| x dim rows once instead of re-scanning the corpus
        .localCheckpoint(eager=False)
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("dim").alias("dim_a"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("dim").alias("dim_b"), F.col("c").alias("cb")
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("dim_a") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            pround(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                6,
            ).alias("centroid_cosine")
        )
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            "centroid_cosine",
        )
    )


KNN_GRAPH_K = 3


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cell kNN edge list (label, src, dst, sim) — shared by the
    graph-stats and PageRank queries so the two can never disagree on
    the graph.  Lazily checkpointed: every consumer re-uses the k·N-row
    materialization instead of re-running the pair scan."""
    e = load_table(spark, sf_dir, "embeddings").repartition(
        plan_parallelism(spark), "vec_id"
    )
    q = e.select(
        "label",
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("label").alias("c_label"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    # measured r17: swapping this per-pair HOF for the Arrow kernel is
    # NOT a win — shipping both arrays per pair through the Python
    # boundary costs what the interpreted fold costs; the kernel swap
    # pays off only where a bounded side moves into the closure
    # (bruteforce/centroids) — so the HOF projection stays.
    sim = dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        q.join(c, (F.col("label") == F.col("c_label")) & (F.col("src") != F.col("dst")))
        .withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .select("label", "src", "dst", "sim")
        # consumed repeatedly (stats + reciprocity probe / PR rounds):
        # k·N rows, tiny next to the pair scan that produced them —
        # materialize once
        .localCheckpoint(eager=False)
    )



@register(
    "embedding_knn_graph_stats",
    oracle=f"""
    WITH edges AS (
      SELECT * FROM (
        SELECT q.label, q.vec_id AS src, c.vec_id AS dst, {_DUCK_COS} AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_DUCK_COS} DESC, c.vec_id ASC) AS rnk
        FROM embeddings q JOIN embeddings c
          ON c.label = q.label AND c.vec_id <> q.vec_id
      ) WHERE rnk <= {KNN_GRAPH_K}
    )
    SELECT CAST(e.label AS INTEGER) AS label,
           CAST(count(DISTINCT e.src) AS BIGINT)  AS n_nodes,
           CAST(count(*) AS BIGINT)               AS n_edges,
           floor(avg(e.sim) * 1000000.0 + 0.5) / 1000000.0 AS mean_knn_sim,
           CAST(count(*) FILTER (WHERE r.src IS NOT NULL) AS BIGINT)
             AS n_reciprocal
    FROM edges e LEFT JOIN edges r
      ON r.label = e.label AND r.src = e.dst AND r.dst = e.src
    GROUP BY e.label
    """,
    doc=f"k-NN graph construction (k={KNN_GRAPH_K}) + per-cell graph "
        f"stats — the primitive under graph-based semantic dedup "
        f"(SemDeDup-style: cluster, build the within-cell kNN graph, "
        f"drop near-duplicate components) and kNN-classifier quality "
        f"screens.  Edges are deterministic (sim DESC, neighbor ASC "
        f"tie-break); reciprocal-edge count measures how symmetric the "
        f"neighborhood structure is (mutual-kNN is the usual dedup "
        f"edge filter).  Scale shape: the pair scan is confined WITHIN "
        f"cells (equi-join on the cell id — N²/cells, the IVF "
        f"restriction, never all-pairs), top-k per node via one "
        f"window over the cell partition, and the reciprocity check "
        f"is a self-join of the EDGE set (k·N rows, k constant).",
    tags=("similarity", "ann", "agg"),
)
def embedding_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir)
    rev = edges.select(
        F.col("label").alias("r_label"),
        F.col("src").alias("r_src"),
        F.col("dst").alias("r_dst"),
    )
    marked = edges.join(
        rev,
        (F.col("r_label") == F.col("label"))
        & (F.col("r_src") == F.col("dst"))
        & (F.col("r_dst") == F.col("src")),
        "left",
    )
    return (
        marked.groupBy("label")
        .agg(
            F.countDistinct("src").alias("n_nodes"),
            F.count(F.lit(1)).alias("n_edges"),
            pround(F.avg("sim"), 6).alias("mean_knn_sim"),
            F.sum(F.when(F.col("r_src").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_reciprocal"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n_nodes",
            "n_edges",
            "mean_knn_sim",
            "n_reciprocal",
        )
    )


# SemDeDup keep/drop threshold.  Real text-embedding corpora use
# 0.95+; the synthetic fixture's within-cell cosines top out near
# 0.475 (gaussian cluster noise), so the registered query runs at a
# fixture-calibrated 0.30 to exercise both outcomes.  The threshold is
# a compile-time constant shared with the oracle.
SEMDEDUP_TAU = 0.30


@register(
    "semantic_dedup_keep_list",
    oracle=f"""
    WITH prev AS (
      SELECT q.vec_id AS vec_id, max({_DUCK_COS}) AS raw_max
      FROM embeddings q JOIN embeddings c
        ON c.label = q.label AND c.vec_id < q.vec_id
      GROUP BY q.vec_id
    )
    SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
           CAST(e.label AS INTEGER) AS label,
           coalesce(floor(p.raw_max * 1000000.0 + 0.5) / 1000000.0,
                    -1.0) AS max_prev_sim,
           coalesce(floor(p.raw_max * 1000000.0 + 0.5) / 1000000.0
                    >= {SEMDEDUP_TAU}, false) AS dropped
    FROM embeddings e LEFT JOIN prev p ON p.vec_id = e.vec_id
    """,
    doc=f"SemDeDup-style semantic dedup decision list (Abbas et al. "
        f"2023 shape): within each cluster cell, a vector is DROPPED "
        f"iff some earlier (lower vec_id) cell-mate has cosine >= "
        f"tau={SEMDEDUP_TAU}.  Earlier-wins gives a deterministic, "
        f"insertion-stable keep-list — re-running after appending docs "
        f"never flips an old decision, which is what makes the keep-list "
        f"joinable against downstream shards.  Scale shape: the pair "
        f"scan is confined within cells (equi-join on the cell id, "
        f"N^2/cells, never all-pairs), the per-vector max is ONE grouped "
        f"agg with map-side partial combine, and the join back to the "
        f"corpus is an equi-join on vec_id (sort-merge at scale; the "
        f"prev side is <= N rows of two columns).",
    tags=("similarity", "dedup"),
)
def semantic_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").repartition(
        plan_parallelism(spark), "vec_id"
    )
    q = e.select(
        "label",
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_norm"),
    )
    c = e.select(
        F.col("label").alias("c_label"),
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_norm"),
    )
    sim = dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))
    prev = (
        q.join(
            c,
            (F.col("label") == F.col("c_label")) & (F.col("c_id") < F.col("q_id")),
        )
        .withColumn("sim", sim)
        .groupBy("q_id")
        .agg(F.max("sim").alias("raw_max"))
    )
    rounded = pround("raw_max", 6)
    return (
        e.select("vec_id", "label")
        .join(prev, F.col("vec_id") == F.col("q_id"), "left")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("label").cast("int").alias("label"),
            F.coalesce(rounded, F.lit(-1.0)).alias("max_prev_sim"),
            F.coalesce(rounded >= F.lit(SEMDEDUP_TAU), F.lit(False)).alias("dropped"),
        )
    )


# PageRank over the within-cell kNN graph.  All arithmetic is EXACT
# integer fixed-point (ranks scaled by 1e12, damping 0.85 applied as
# (85*r) div (100*outdeg)): integer sums are associative, so the
# result is bit-identical regardless of either engine's aggregation
# order — the same exactness trick the revenue queries use with cents.
PAGERANK_SCALE = 10**12
PAGERANK_ITERS = 5


def _pagerank_oracle() -> str:
    # Every CTE is MATERIALIZED: each round reads the previous one
    # twice and DuckDB otherwise inlines every reference, so the rounds
    # re-ran the kNN self-join (28 s at sf0.001, 0.4 s materialized).
    prev = "r0"
    iters = []
    for i in range(1, PAGERANK_ITERS + 1):
        iters.append(f"""
    r{i} AS MATERIALIZED (
      SELECT p.label, p.vec_id,
             CAST((15 * {PAGERANK_SCALE}) // (100 * nc.n)
                  + coalesce(c.s, 0) AS BIGINT) AS r
      FROM {prev} p
      JOIN ncell nc ON nc.label = p.label
      LEFT JOIN (
        SELECT e.label, e.dst,
               CAST(sum((85 * p2.r) // (100 * d.k)) AS BIGINT) AS s
        FROM edges e
        JOIN {prev} p2 ON p2.label = e.label AND p2.vec_id = e.src
        JOIN deg d ON d.label = e.label AND d.src = e.src
        GROUP BY e.label, e.dst
      ) c ON c.label = p.label AND c.dst = p.vec_id
    )""")
        prev = f"r{i}"
    return f"""
    WITH edges AS MATERIALIZED (
      SELECT label, src, dst FROM (
        SELECT q.label, q.vec_id AS src, c.vec_id AS dst,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_DUCK_COS} DESC, c.vec_id ASC) AS rnk
        FROM embeddings q JOIN embeddings c
          ON c.label = q.label AND c.vec_id <> q.vec_id
      ) WHERE rnk <= {KNN_GRAPH_K}
    ),
    deg AS MATERIALIZED (
      SELECT label, src, CAST(count(*) AS BIGINT) AS k
      FROM edges GROUP BY label, src
    ),
    ncell AS MATERIALIZED (
      SELECT label, CAST(count(*) AS BIGINT) AS n FROM deg GROUP BY label
    ),
    r0 AS MATERIALIZED (
      SELECT d.label, d.src AS vec_id,
             CAST({PAGERANK_SCALE} // n.n AS BIGINT) AS r
      FROM deg d JOIN ncell n ON n.label = d.label
    ),{",".join(iters)}
    SELECT CAST(label AS INTEGER) AS label,
           CAST(vec_id AS BIGINT) AS vec_id,
           r AS rank_e12
    FROM {prev}
    """


@register(
    "embedding_pagerank_centrality",
    oracle=_pagerank_oracle(),
    doc=f"PageRank centrality over the within-cell kNN graph "
        f"(k={KNN_GRAPH_K}, damping 0.85, {PAGERANK_ITERS} power "
        f"iterations) — the graph-centrality signal used to pick the "
        f"canonical document inside a near-duplicate neighborhood "
        f"(highest-rank node = best-connected exemplar) and to weight "
        f"coreset sampling.  The iterative-algorithm showcase: Spark "
        f"runs a driver-side LOOP of DataFrame joins with an eager "
        f"localCheckpoint per round (lineage stays O(1); the edge "
        f"list, out-degrees, and cell sizes are materialized ONCE "
        f"before the loop, and every node has out-degree >= 1 by "
        f"construction so there is no dangling-mass term).  Arithmetic "
        f"is exact integer fixed-point (rank x 1e12; contribution = "
        f"(85*r) div (100*outdeg)) so both engines agree bit-for-bit "
        f"after {PAGERANK_ITERS} rounds — no fp summation-order drift.  "
        f"The oracle unrolls the {PAGERANK_ITERS} iterations as chained "
        f"CTEs over the SAME edge derivation the kNN-stats oracle "
        f"uses.  Scale shape: per round ONE co-partitioned edge-rank "
        f"join + ONE grouped sum on (label, dst) — state is k·N edge "
        f"rows and N rank rows, never corpus-sized; the pair scan that "
        f"builds the graph is cell-confined (the IVF restriction).",
    tags=("similarity", "graph", "iterative"),
)
def embedding_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        _knn_edges(spark, sf_dir)
        .select("label", "src", "dst")
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("label", "src").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    ncell = deg.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # (label, src, k, n): the loop's static node table — materialized once
    nodes = deg.join(F.broadcast(ncell), "label").localCheckpoint(eager=True)
    ew = (
        edges.join(nodes.select("label", "src", "k"), ["label", "src"])
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select(
        "label",
        F.col("src").alias("vec_id"),
        F.expr(f"CAST({PAGERANK_SCALE} div n AS BIGINT)").alias("r"),
    )
    base = F.expr(f"CAST((15 * {PAGERANK_SCALE}) div (100 * n) AS BIGINT)")
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ew.join(
                ranks.select("label", F.col("vec_id").alias("src"), "r"),
                ["label", "src"],
            )
            .select(
                "label",
                "dst",
                F.expr("CAST((85 * r) div (100 * k) AS BIGINT)").alias("c"),
            )
            .groupBy("label", "dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.select("label", F.col("src").alias("vec_id"), "n")
            .join(
                contrib.withColumnRenamed("dst", "vec_id"),
                ["label", "vec_id"],
                "left",
            )
            .select(
                "label",
                "vec_id",
                (base + F.coalesce(F.col("s"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
            # eager: truncate lineage so round R's plan does not replay
            # rounds 1..R-1 (the dedup_clusters CC-loop discipline)
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("label").cast("int").alias("label"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("r").alias("rank_e12"),
    )


@register(
    "embedding_knn_triangles",
    oracle=f"""
    WITH dedges AS (
      SELECT label, src, dst FROM (
        SELECT q.label, q.vec_id AS src, c.vec_id AS dst,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_DUCK_COS} DESC, c.vec_id ASC) AS rnk
        FROM embeddings q JOIN embeddings c
          ON c.label = q.label AND c.vec_id <> q.vec_id
      ) WHERE rnk <= {KNN_GRAPH_K}
    ), u AS (
      SELECT DISTINCT label, least(src, dst) AS a, greatest(src, dst) AS b
      FROM dedges
    ), deg AS (
      SELECT label, v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT label, a AS v FROM u UNION ALL SELECT label, b FROM u)
      GROUP BY label, v
    ), tri AS (
      SELECT e1.label, CAST(count(*) AS BIGINT) AS n_triangles
      FROM u e1
      JOIN u e2 ON e2.label = e1.label AND e2.a = e1.b
      JOIN u e3 ON e3.label = e1.label AND e3.a = e1.a AND e3.b = e2.b
      GROUP BY e1.label
    )
    SELECT d.label,
           CAST(count(*) AS BIGINT)                    AS n_nodes,
           CAST(sum(d.d) / 2 AS BIGINT)                AS n_edges,
           CAST(coalesce(any_value(t.n_triangles), 0) AS BIGINT) AS n_triangles,
           CASE WHEN sum(d.d * (d.d - 1) / 2) > 0 THEN
             floor(3.0 * coalesce(any_value(t.n_triangles), 0)
                   / sum(d.d * (d.d - 1) / 2)
                   * 1000000.0 + 0.5) / 1000000.0
           ELSE 0.0 END                                AS clustering_coeff
    FROM deg d LEFT JOIN tri t ON t.label = d.label
    GROUP BY d.label
    """,
    doc=f"Triangle count + global clustering coefficient per kNN cell "
        f"(k={KNN_GRAPH_K}, undirected edge set): 3×triangles / "
        f"wedges, the transitivity measure that separates a tight "
        f"near-duplicate clique (coefficient → 1) from a chain of "
        f"merely-adjacent points (→ 0) — the signal SemDeDup-style "
        f"graph dedup uses to decide whether a neighborhood is one "
        f"duplicate cluster or a thread of distinct documents.  "
        f"Scale shape: the canonical a<b edge-ordering triangle join "
        f"(e1.b=e2.a, close with e3=(e1.a, e2.b)) counts each "
        f"triangle EXACTLY once and keeps every join equi-keyed "
        f"within the cell; the edge set is k·N rows so the two-hop "
        f"join is bounded by degree, never corpus-sized; wedges come "
        f"from the degree table.  All-integer counts, one rounded "
        f"division.",
    tags=("similarity", "graph", "agg"),
)
def embedding_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir).select("label", "src", "dst")
    u = (
        edges.select(
            "label",
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        u.select("label", F.col("a").alias("v"))
        .unionByName(u.select("label", F.col("b").alias("v")))
        .groupBy("label", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1 = u.select("label", F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = u.select(F.col("label").alias("l2"), F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = u.select(F.col("label").alias("l3"), F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, (F.col("l2") == F.col("label")) & (F.col("y2") == F.col("y")))
        .join(
            e3,
            (F.col("l3") == F.col("label"))
            & (F.col("x3") == F.col("x"))
            & (F.col("z3") == F.col("z")),
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    wedges = F.sum(F.col("d") * (F.col("d") - 1) / 2)
    return (
        deg.join(F.broadcast(tri), "label", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (F.sum("d") / 2).cast("bigint").alias("n_edges"),
            F.coalesce(F.first("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            # wedge guard (r12 review fix): a cell whose kNN graph has
            # all degrees <= 1 (e.g. 2 vectors picking each other) has
            # ZERO wedges, and the ratio raised DIVIDE_BY_ZERO under
            # this build's default ANSI mode, killing every label's row
            F.when(
                wedges > 0,
                pround(
                    F.lit(3.0)
                    * F.coalesce(F.first("n_triangles"), F.lit(0))
                    / wedges,
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-source BFS over the kNN graph (round 9): hop distance from a
# deterministic seed set — the reachability primitive behind
# diversity-aware coreset expansion ("how far is every vector from the
# already-curated exemplars?") and duplicate-blast-radius analysis.
# Exact: hop counts are integers, edges are the shared deterministic
# _knn_edges list, and the driver-side loop is the pagerank pattern
# (eager localCheckpoint per round, plans stay flat).
# ---------------------------------------------------------------------------

_BFS_SEED_MOD = 29   # seeds = vec_id % 29 == 0 (deterministic, ~3%)
_BFS_MAX_HOPS = 4


@register(
    "embedding_knn_bfs_hops",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT src, dst FROM (
        SELECT q.vec_id AS src, c.vec_id AS dst,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_DUCK_COS} DESC, c.vec_id ASC) AS rnk
        FROM embeddings q JOIN embeddings c
          ON c.label = q.label AND c.vec_id <> q.vec_id
      ) WHERE rnk <= {KNN_GRAPH_K}
    ), und AS (
      SELECT src, dst FROM edges
      UNION
      SELECT dst AS src, src AS dst FROM edges
    ), reach AS (
      SELECT vec_id AS node, 0 AS d FROM embeddings
      WHERE vec_id % {_BFS_SEED_MOD} = 0
      UNION
      SELECT u.dst AS node, r.d + 1 AS d
      FROM reach r JOIN und u ON u.src = r.node
      WHERE r.d < {_BFS_MAX_HOPS}
    ), dist AS (
      SELECT node, min(d) AS d FROM reach GROUP BY node
    )
    SELECT CAST(e.label AS INTEGER) AS label,
           CAST(coalesce(dist.d, -1) AS INTEGER) AS hops,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM embeddings e LEFT JOIN dist ON dist.node = e.vec_id
    GROUP BY label, hops
    """,
    doc=f"Multi-source BFS over the undirected within-cell kNN graph "
        f"(k={KNN_GRAPH_K}): minimum hop distance (cap {_BFS_MAX_HOPS}) "
        f"from the deterministic seed set vec_id % {_BFS_SEED_MOD} == 0, "
        "reported as per-(label, hops) node counts with -1 = unreached "
        "— the reachability layer of graph-based curation (coreset "
        "expansion radius, duplicate blast radius).  Scale shape: the "
        "edge list is the shared checkpointed _knn_edges "
        "materialization (k·N rows); each BFS round is ONE frontier→"
        "edge equi-join + distinct + anti-join against the visited "
        "set, eagerly checkpointed so round plans never deepen "
        "(the PageRank loop contract); rounds are bounded by the hop "
        "cap, never data-dependent.  All arithmetic is integer-exact; "
        "the oracle is a recursive CTE over the same edge SQL.",
    tags=("similarity", "ann", "graph"),
)
def embedding_knn_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _knn_edges(spark, sf_dir).select("src", "dst")
    und = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = load_table(spark, sf_dir, "embeddings").select("label", "vec_id")
    dist = (
        nodes.filter(F.col("vec_id") % _BFS_SEED_MOD == 0)
        .select("vec_id")
        .withColumn("d", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for h in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(und, frontier["vec_id"] == und["src"])
            .select(und["dst"].alias("vec_id"))
            .distinct()
            .join(dist, "vec_id", "left_anti")
            .withColumn("d", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return (
        nodes.join(dist, "vec_id", "left")
        .select(
            F.col("label").cast("int").alias("label"),
            F.coalesce("d", F.lit(-1)).cast("int").alias("hops"),
        )
        .groupBy("label", "hops")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset (round 9): farthest-point selection — the
# classic diversity-maximizing coreset / active-learning picker
# (Sener & Savarese 2018 shape): start from the lowest vec_id, then
# repeatedly add the vector whose best similarity to the selected set
# is LOWEST.  Greedy selection is inherently sequential in k; each
# round is one map-only coverage update + a TakeOrdered(1) argmin, so
# the cost is k corpus passes — the standard k-center cost model, and
# every pass is embarrassingly parallel.  Exact: per-pair cosine is a
# fixed-order fold (bit-identical in both engines — the property every
# similarity ranking here already relies on), coverage is a running
# greatest() of such values, and the argmin has a (cov, vec_id) total
# order, so the selection SEQUENCE matches the unrolled-CTE oracle
# exactly.  Each round collects ONE row (the chosen exemplar) — k
# bounded collects, the selection output itself.
# ---------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    # every CTE is MATERIALIZED: each link of the chain reads the one
    # before it twice, so DuckDB's inlining re-evaluated it 2^k times
    cos = _DUCK_COS
    ctes = [
        "s0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1)",
        "p0 AS MATERIALIZED (SELECT vec_id FROM s0)",
        f"cov1 AS MATERIALIZED (SELECT q.vec_id, q.embedding, ({cos}) AS cov "
        f"FROM embeddings q CROSS JOIN s0 c)",
    ]
    for i in range(1, k):
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT vec_id, embedding, cov FROM cov{i} "
            f"WHERE vec_id NOT IN (SELECT vec_id FROM p{i - 1}) "
            f"ORDER BY cov ASC, vec_id ASC LIMIT 1)"
        )
        if i < k - 1:
            ctes.append(
                f"p{i} AS MATERIALIZED (SELECT vec_id FROM p{i - 1} "
                f"UNION SELECT vec_id FROM s{i})"
            )
            ctes.append(
                f"cov{i + 1} AS MATERIALIZED (SELECT q.vec_id, q.embedding, "
                f"greatest(q.cov, ({cos})) AS cov "
                f"FROM cov{i} q CROSS JOIN s{i} c)"
            )
    union = " UNION ALL ".join(
        ["SELECT 0 AS rank, vec_id, -2.0 AS coverage_at_pick FROM s0"]
        + [
            f"SELECT {i} AS rank, vec_id, "
            f"floor(cov * 1000000.0 + 0.5) / 1000000.0 AS coverage_at_pick "
            f"FROM s{i}"
            for i in range(1, k)
        ]
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT CAST(rank AS INTEGER) AS rank, "
        f"CAST(vec_id AS BIGINT) AS vec_id, coverage_at_pick "
        f"FROM ({union}) ORDER BY rank"
    )


@register(
    "embedding_kcenter_coreset",
    oracle=_kcenter_oracle(_KCENTER_K),
    doc=f"k-center greedy (farthest-point) coreset selection, "
        f"k={_KCENTER_K}: rank-ordered exemplars with the coverage "
        "(best cosine to the already-selected set) each pick had at "
        "selection time (-2.0 sentinel for the seed).  The "
        "diversity-maximizing sampler for curation/active-learning — "
        "complements dataset_weighted_sample (importance) and "
        "semantic_dedup_keep_list (redundancy removal).  Scale: k "
        "map-only corpus passes + k TakeOrdered(1) argmins, coverage "
        "carried forward via eager localCheckpoint so round plans "
        "never deepen; the selected exemplar (1 row/round) is the "
        "only driver traffic.  2-approximation of the optimal "
        "k-center cover — the classical guarantee.",
    tags=("similarity", "curation", "sampling"),
)
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = emb.orderBy("vec_id").limit(1).collect()[0]

    def lit_vec(values):
        return F.array(*[F.lit(float(x)) for x in values])

    def round6(x: float) -> float:
        import math

        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    picks = [(0, int(first.vec_id), -2.0)]
    picked_ids = [int(first.vec_id)]
    cov = emb.select(
        "vec_id",
        "embedding",
        cosine_similarity(F.col("embedding"), lit_vec(first.embedding)).alias("cov"),
    ).localCheckpoint(eager=True)
    for i in range(1, _KCENTER_K):
        cand = (
            cov.filter(~F.col("vec_id").isin(picked_ids))
            .orderBy(F.asc("cov"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append((i, int(cand.vec_id), round6(float(cand.cov))))
        picked_ids.append(int(cand.vec_id))
        if i < _KCENTER_K - 1:
            cov = cov.select(
                "vec_id",
                "embedding",
                F.greatest(
                    "cov",
                    cosine_similarity(F.col("embedding"), lit_vec(cand.embedding)),
                ).alias("cov"),
            ).localCheckpoint(eager=True)
    schema = StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField("vec_id", LongType(), False),
            StructField("coverage_at_pick", DoubleType(), False),
        ]
    )
    return spark.createDataFrame(picks, schema)


# ---------------------------------------------------------------------------
# Recall report (round 9): the IVF index's recall@k against the exact
# brute-force ranking, as a REGISTERED query — quality metrics for an
# approximate index belong in the same oracle-checked surface as the
# index itself (the pytest recall gates assert a floor; this reports
# the number).  Both rankings and the comparison are recomputed
# independently in the oracle by composing the two queries' own
# oracle SQL as CTEs, so the report can never drift from what the
# registered queries actually return.
# ---------------------------------------------------------------------------

from ..registry import _REGISTRY as _REG  # noqa: E402  (intra-module reuse)


@register(
    "similarity_recall_report",
    oracle=f"""
    WITH bf AS ({_REG["similarity_topk_bruteforce"].oracle}),
    ivf AS ({_REG["similarity_topk_ivf"].oracle}),
    hits AS (
      SELECT bf.query_id,
             CAST(count(ivf.neighbor_id) AS BIGINT) AS n_hits
      FROM bf LEFT JOIN ivf
        ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT CAST({TOP_K} AS INTEGER)            AS k,
           CAST(count(*) AS BIGINT)            AS n_queries,
           floor(avg(n_hits * 1.0 / {TOP_K}) * 1000000.0 + 0.5) / 1000000.0
                                               AS mean_recall,
           floor(min(n_hits * 1.0 / {TOP_K}) * 1000000.0 + 0.5) / 1000000.0
                                               AS min_recall
    FROM hits
    """,
    doc=f"recall@{TOP_K} of the IVF (cell-confined) index against the "
        "exact brute-force ranking over the same query set — the "
        "quality report an ANN deployment publishes next to its "
        "latency numbers, registered so the metric is oracle-checked "
        "like any other query (the oracle composes the two queries' "
        "own SQL, so the report cannot drift from what they return).  "
        "On this corpus the number is LOW (~0.1): the synthetic label "
        "partition is not cosine-clustered, so cell-confined search "
        "misses most global neighbors — the operational signal to "
        "re-cluster cells (k-means centroids) or raise nProbe, which "
        "is precisely the decision this report feeds.  "
        "Scale: both rankings are the registered queries' plans "
        "(broadcast query side / cell-confined candidates); the "
        "comparison is a join on the k·|queries|-row result sets.",
    tags=("similarity", "ann", "quality"),
)
def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_neighbor")
    )
    ivf = similarity_topk_ivf(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    hits = (
        bf.join(
            ivf,
            (bf.query_id == ivf.query_id)
            & (F.col("bf_neighbor") == F.col("ivf_neighbor")),
            "left",
        )
        .select(bf.query_id, "ivf_neighbor")
        .groupBy("query_id")
        .agg(F.count("ivf_neighbor").cast("bigint").alias("n_hits"))
    )
    recall = F.col("n_hits") * F.lit(1.0) / F.lit(TOP_K)
    return hits.agg(
        F.lit(TOP_K).cast("int").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        pround(F.avg(recall), 6).alias("mean_recall"),
        pround(F.min(recall), 6).alias("min_recall"),
    )


# ---------------------------------------------------------------------------
# Embedding dimension correlation (redundancy screen over co-moment partials)
# ---------------------------------------------------------------------------

# quantization scale for exact cross-engine co-moments: 1e-4ths keep
# per-term products (~1e9) small enough that int64 sums survive ~1e9
# rows; a raw float X^T X is summation-order-dependent across engines
_DIMC_SCALE = 10_000
_DIMC_TOPK = 20

_DIMC_PARTIAL_SCHEMA = (
    "di int, dj int, n bigint, sx bigint, sy bigint, "
    "sxx bigint, syy bigint, sxy bigint"
)


def _dimc_partials(pdfs):
    """Per-partition co-moment partials over the quantized embedding
    matrix: one numpy X^T X per Arrow batch, emitted as one row per
    dimension pair (i <= j would double storage for no reader; i < j
    plus the two diagonals carried on each pair row keeps the merge a
    plain SUM).  Mergeable-summary shape (same contract as the
    Misra-Gries summarizer in text.py): output size is d*(d-1)/2 rows
    per BATCH, independent of row count."""
    import numpy as np
    import pandas as pd

    for pdf in pdfs:
        if pdf.empty:
            continue
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(x * _DIMC_SCALE + 0.5).astype(np.int64)
        g = q.T @ q
        s = q.sum(axis=0)
        d = q.shape[1]
        iu, ju = np.triu_indices(d, k=1)
        yield pd.DataFrame(
            {
                "di": (iu + 1).astype("int32"),
                "dj": (ju + 1).astype("int32"),
                "n": np.full(iu.size, len(pdf), dtype=np.int64),
                "sx": s[iu],
                "sy": s[ju],
                "sxx": g[iu, iu],
                "syy": g[ju, ju],
                "sxy": g[iu, ju],
            }
        )


@register(
    "embedding_dim_correlation",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, gs.j AS i,
             CAST(floor(CAST(embedding[gs.j] AS DOUBLE) * {_DIMC_SCALE}.0
                        + 0.5) AS BIGINT) AS xq
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) gs
    ), pairs AS (
      SELECT a.i AS di, b.i AS dj,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.xq) AS BIGINT) AS sx,
             CAST(sum(b.xq) AS BIGINT) AS sy,
             CAST(sum(a.xq * a.xq) AS BIGINT) AS sxx,
             CAST(sum(b.xq * b.xq) AS BIGINT) AS syy,
             CAST(sum(a.xq * b.xq) AS BIGINT) AS sxy
      FROM pts a JOIN pts b ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY 1, 2
    )
    SELECT CAST(di AS INTEGER) AS dim_i, CAST(dj AS INTEGER) AS dim_j, n,
           floor(((n * 1.0 * sxy - sx * 1.0 * sy)
                  / sqrt((n * 1.0 * sxx - sx * 1.0 * sx)
                         * (n * 1.0 * syy - sy * 1.0 * sy)))
                 * 1000000.0 + 0.5) / 1000000.0 AS dim_corr
    FROM pairs
    WHERE (n * 1.0 * sxx - sx * 1.0 * sx) > 0
      AND (n * 1.0 * syy - sy * 1.0 * sy) > 0
    ORDER BY abs(floor(((n * 1.0 * sxy - sx * 1.0 * sy)
                  / sqrt((n * 1.0 * sxx - sx * 1.0 * sx)
                         * (n * 1.0 * syy - sy * 1.0 * sy)))
                 * 1000000.0 + 0.5) / 1000000.0) DESC, di, dj
    LIMIT {_DIMC_TOPK}
    """,
    doc="Top-20 most-correlated embedding dimension PAIRS — the "
        "redundancy screen before storing or indexing a vector column "
        "at corpus scale (highly correlated dims mean wasted bytes and "
        "a cheaper PCA/quantization win; embedding_dim_stats profiles "
        "dims in isolation, this catches pairwise structure).  Exact "
        "cross-engine arithmetic: values quantized to int64 1e-4ths, "
        "co-moments summed as integers, Pearson per pair as ONE "
        "identical scalar double tree; ranking uses the 6-dp ROUNDED "
        "value with (dim_i, dim_j) tie-break so the LIMIT cut is a "
        "total order in both engines.  Scale shape: the co-moment "
        "matrix is computed as per-Arrow-batch numpy X^T X partials "
        "inside mapInPandas (vectorized, no 4096x row explode), each "
        "batch emitting d(d-1)/2 = 2016 mergeable rows regardless of "
        "row count; the only shuffle moves partials (batches x 2016 "
        "rows) to a SUM — the same mergeable-summary contract as the "
        "Misra-Gries heavy-hitter pass.  int64 headroom: per-term "
        "q_i*q_j <= ~1e9 keeps pair sums safe to ~1e9 rows; past that "
        "switch the partial sums to decimal(38,0) "
        "(warehouse.py:203 pattern).  Reference scope: ancestors for "
        "the embeddings extension tier (SURVEY.md §2.8), not the "
        "reference pipeline.",
    tags=("embeddings", "stats"),
)
def embedding_dim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(_dimc_partials, schema=_DIMC_PARTIAL_SCHEMA)
    pairs = partials.groupBy("di", "dj").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxx").cast("bigint").alias("sxx"),
        F.sum("syy").cast("bigint").alias("syy"),
        F.sum("sxy").cast("bigint").alias("sxy"),
    )
    one = F.lit(1.0)
    varx = F.col("n") * one * F.col("sxx") - F.col("sx") * one * F.col("sx")
    vary = F.col("n") * one * F.col("syy") - F.col("sy") * one * F.col("sy")
    cov = F.col("n") * one * F.col("sxy") - F.col("sx") * one * F.col("sy")
    scored = (
        pairs.filter((varx > 0) & (vary > 0))
        .select(
            F.col("di").cast("int").alias("dim_i"),
            F.col("dj").cast("int").alias("dim_j"),
            "n",
            pround(cov / F.sqrt(varx * vary), 6).alias("dim_corr"),
        )
    )
    return scored.orderBy(
        F.abs(F.col("dim_corr")).desc(), "dim_i", "dim_j"
    ).limit(_DIMC_TOPK)


# ---------------------------------------------------------------------------
# Simplified silhouette by label (cluster-validity metric)
# ---------------------------------------------------------------------------

# same 1e-4 quantization as the dim-correlation screen: all dots and
# norms become exact int64, so the per-point silhouette is one
# deterministic double tree and the per-label MEAN is a sum of
# 1e6-quantized ints (no float fold order anywhere)
_SIL_SCALE = 10_000


@register(
    "embedding_silhouette_by_label",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, label, gs.j AS dim,
             CAST(floor(CAST(embedding[gs.j] AS DOUBLE) * {_SIL_SCALE}.0
                        + 0.5) AS BIGINT) AS xq
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) gs
    ), cent AS (
      SELECT label AS clabel, dim, CAST(sum(xq) AS BIGINT) AS s
      FROM pts GROUP BY 1, 2
    ), cnorm AS (
      SELECT clabel, CAST(sum(s * s) AS BIGINT) AS ns2 FROM cent GROUP BY 1
    ), pnorm AS (
      SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS nx2 FROM pts GROUP BY 1
    ), dots AS (
      SELECT p.vec_id, p.label, c.clabel,
             CAST(sum(p.xq * c.s) AS BIGINT) AS dp
      FROM pts p JOIN cent c ON c.dim = p.dim
      GROUP BY 1, 2, 3
    ), dists AS (
      SELECT d.vec_id, d.label, d.clabel,
             1.0 - d.dp / (sqrt(pn.nx2) * sqrt(cn.ns2)) AS dist
      FROM dots d
      JOIN pnorm pn ON pn.vec_id = d.vec_id
      JOIN cnorm cn ON cn.clabel = d.clabel
    ), ab AS (
      SELECT vec_id, label,
             max(CASE WHEN clabel = label THEN dist END) AS a,
             min(CASE WHEN clabel <> label THEN dist END) AS b
      FROM dists GROUP BY 1, 2
    ), sil AS (
      SELECT label,
             CAST(floor(CASE WHEN greatest(a, b) > 0.0
                             THEN (b - a) / greatest(a, b)
                             ELSE 0.0 END * 1000000.0 + 0.5) AS BIGINT)
               AS s_ppm
      FROM ab
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(count(*) AS BIGINT) AS n_points,
           floor(sum(s_ppm) * 1.0 / (count(*) * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_silhouette,
           CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM sil GROUP BY label
    """,
    doc="Simplified (centroid-based) silhouette per label — the "
        "cluster-VALIDITY metric that closes the clustering tier: "
        "kmeans_assign produces assignments, label_centroids the "
        "prototypes, the recall report measures the index, and this "
        "measures whether the labels are geometrically real at all.  "
        "Per point: a = cosine distance to its own label centroid, b = "
        "distance to the nearest OTHER centroid, s = (b-a)/max(a,b); "
        "n_negative counts points closer to a foreign centroid — the "
        "direct misassignment census.  On this corpus the means hover "
        "near 0 (the synthetic labels are not cosine-clustered — "
        "consistent with the recall report's finding, and exactly the "
        "signal that says re-cluster before SemDeDup-style per-label "
        "work).  EXACT ARITHMETIC: embeddings quantized to 1e-4 int64, "
        "centroids kept as integer SUM vectors (never float means), so "
        "dot products and both norms are exact ints; each distance/"
        "silhouette is one identical double tree, and per-label means "
        "sum 1e6-quantized ints (no float fold order).  Scale shape: "
        "one explode-agg to |labels| x dim centroid sums; the "
        "point-centroid distance pass is ONE equi-join on dim (Spark "
        "side: broadcastable |labels| x dim table) followed by a "
        "(point, label) partial agg — at 100 TB the centroids "
        "broadcast and the whole pass is map-side via zip_with "
        "(documented swap); output |labels| rows.  int64 headroom: "
        "dot <= d * xq * n*xq ~ 1e14 at 5k rows/label, overflows past "
        "~3e8 rows per label — decimal(38,0) swap documented.",
    tags=("embeddings", "similarity", "quality"),
)
def embedding_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _SIL_SCALE + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    # EAGER checkpoints: `pts` feeds three stages and `cent` two, which
    # AQE runs concurrently.  A lazy checkpoint is cut from its lineage
    # when the first job over it ends; a sibling task still computing it
    # then reports metrics of a plan the driver has already collected
    # ("non-existent accumulator" errors once a GC runs in between).
    pts = pts.localCheckpoint(eager=True)
    cent = (
        pts.groupBy(F.col("label").alias("clabel"), "dim")
        .agg(F.sum("xq").cast("bigint").alias("s"))
        .localCheckpoint(eager=True)
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ns2")
    )
    pnorm = pts.groupBy("vec_id").agg(
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("nx2")
    )
    dots = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("xq") * F.col("s")).cast("bigint").alias("dp"))
    )
    dists = (
        dots.join(pnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            (
                F.lit(1.0)
                - F.col("dp") / (F.sqrt(F.col("nx2")) * F.sqrt(F.col("ns2")))
            ).alias("dist"),
        )
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias("b"),
    )
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0.0,
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
    ).otherwise(F.lit(0.0))
    sil = ab.select(
        "label",
        F.floor(s * 1_000_000.0 + F.lit(0.5)).cast("bigint").alias("s_ppm"),
    )
    one = F.lit(1.0)
    return sil.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        pround(
            F.sum("s_ppm") * one / (F.count(F.lit(1)) * F.lit(1_000_000.0)), 6
        ).alias("mean_silhouette"),
        F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_negative"),
    )


# ---------------------------------------------------------------------------
# Effective dimensionality (participation ratio over per-dim variances)
# ---------------------------------------------------------------------------

# per-dim variances are ~1e16 in quantized units; floor-scale them to
# int64-squarable magnitude before the cross-dim folds (defined
# contract; relative loss ~4e-9)
_ED_VSCALE = 100_000_000


@register(
    "embedding_effective_dims",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, gs.j AS dim,
             CAST(floor(CAST(embedding[gs.j] AS DOUBLE) * {_SIL_SCALE}.0
                        + 0.5) AS BIGINT) AS xq
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) gs
    ), per_dim AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xq) AS BIGINT) AS s,
             CAST(sum(xq * xq) AS BIGINT) AS ss
      FROM pts GROUP BY dim
    ), vq AS (
      SELECT dim, (n * ss - s * s) // {_ED_VSCALE} AS v FROM per_dim
    ), folded AS (
      SELECT CAST(count(*) AS BIGINT) AS d,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(v * v) AS BIGINT) AS svv
      FROM vq WHERE v > 0
    )
    SELECT CAST(d AS INTEGER) AS n_dims_active,
           CASE WHEN svv > 0 THEN
             floor((sv * 1.0 * sv) / svv * 1000000.0 + 0.5) / 1000000.0
           ELSE 0.0 END AS participation_ratio,
           CASE WHEN svv > 0 THEN
             floor((sv * 1.0 * sv) / svv / d * 1000000.0 + 0.5) / 1000000.0
           ELSE 0.0 END AS pr_fraction
    FROM folded
    """,
    doc="Effective dimensionality of the embedding space via the "
        "PARTICIPATION RATIO over per-dimension variances: PR = "
        "(sum v_d)^2 / sum v_d^2 — d when variance spreads evenly, "
        "1 when one axis carries everything — the eigendecomposition-"
        "free capacity estimate (diagonal variances only; the full-"
        "covariance refinement is what embedding_dim_correlation's "
        "co-moments feed).  PR far below d means the vector column "
        "wastes storage and ANN work on dead axes — quantize or "
        "project before indexing; pr_fraction = PR/d is the "
        "scale-free headline.  Exactness: per-dim variances n*ss - "
        "s^2 are exact int64 on 1e-4-quantized values, floor-scaled "
        "once (div 1e8, relative loss ~4e-9) so BOTH cross-dim folds "
        "are order-free integer sums; the ratio is one identical "
        "scalar double tree.  Scale shape: one explode-agg to d rows "
        "(partial map-side combine), a 1-row fold; output 1 row.",
    tags=("embeddings", "stats"),
)
def embedding_effective_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        F.posexplode(F.col("embedding")).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _SIL_SCALE + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    per_dim = pts.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xq").cast("bigint").alias("s"),
        F.sum(F.col("xq") * F.col("xq")).cast("bigint").alias("ss"),
    )
    vq = per_dim.select(
        F.expr(f"(n * ss - s * s) div {_ED_VSCALE}L").alias("v")
    ).filter(F.col("v") > 0)
    folded = vq.agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("svv"),
    )
    one = F.lit(1.0)
    pr = (F.col("sv") * one * F.col("sv")) / F.col("svv")
    # degenerate guard (r12 review fix): constant (or sub-quantization-
    # spread) embeddings leave NO dimension past the v > 0 cut — d=0,
    # svv=0 — and the ratio raised DIVIDE_BY_ZERO under this build's
    # default ANSI mode; report n_dims_active=0 with 0.0 ratios instead
    return folded.select(
        F.col("d").cast("int").alias("n_dims_active"),
        F.when(F.col("svv") > 0, pround(pr, 6)).otherwise(F.lit(0.0)).alias(
            "participation_ratio"
        ),
        F.when(F.col("svv") > 0, pround(pr / F.col("d"), 6))
        .otherwise(F.lit(0.0))
        .alias("pr_fraction"),
    )


RP_K = 8  # target dimensionality of the random sign projection
# LCG constants for the deterministic +/-1 sign matrix s(i, j)
_RP_A, _RP_B, _RP_M = 1103515245, 12345, 65536


@register(
    "embedding_random_projection_distortion",
    oracle=f"""
    WITH x AS (
      SELECT e.vec_id, gs.j,
             CAST(floor(CAST(e.embedding[gs.j] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS x_e6
      FROM embeddings e,
           LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS j) gs
    ), signs AS (
      SELECT i.i, j.j,
             CAST(1 - 2 * (((j.j * {_RP_A} + i.i * {_RP_B}) // {_RP_M}) % 2)
                  AS BIGINT) AS s
      FROM (SELECT unnest(generate_series(1, {RP_K})) AS i) i
      CROSS JOIN (SELECT DISTINCT j FROM x) j
    ), y AS (
      SELECT x.vec_id, s.i, CAST(sum(s.s * x.x_e6) AS BIGINT) AS y_e6
      FROM x JOIN signs s USING (j)
      GROUP BY x.vec_id, s.i
    ), d2y AS (
      SELECT a.vec_id,
             CAST(sum((a.y_e6 - b.y_e6) * (a.y_e6 - b.y_e6)) AS BIGINT) AS dy
      FROM y a JOIN y b ON b.vec_id = a.vec_id + 1 AND b.i = a.i
      GROUP BY a.vec_id
    ), d2x AS (
      SELECT a.vec_id,
             CAST(sum((a.x_e6 - b.x_e6) * (a.x_e6 - b.x_e6)) AS BIGINT) AS dx
      FROM x a JOIN x b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
      GROUP BY a.vec_id
    )
    SELECT CAST((y.dy * 20) // ({RP_K} * x.dx) AS INTEGER) AS distortion_bucket,
           floor(((y.dy * 20) // ({RP_K} * x.dx)) / 20.0 * 1000000.0 + 0.5)
             / 1000000.0 AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM d2y y JOIN d2x x USING (vec_id)
    WHERE x.dx > 0
    GROUP BY 1, 2
    """,
    doc=f"Johnson-Lindenstrauss sign-projection distortion audit: "
        f"embeddings are projected 64 -> {RP_K} dims with a "
        f"DETERMINISTIC Achlioptas-style +/-1 matrix (sign from an LCG "
        f"on (i, j), no stored matrix, reproducible on any executor), "
        f"and the squared-distance distortion "
        f"||y_a - y_b||^2 / (k/d-normalized ||x_a - x_b||^2) is "
        f"histogrammed over the LINEAR pair sample (vec_id, vec_id+1) "
        f"— the cheap pre-flight check before swapping full-dim "
        f"distances for projected ones in ANN candidate generation.  "
        f"Exactness: coordinates are fixed to e6 integers FIRST, so "
        f"projections and both squared distances are order-free int64 "
        f"sums, and the bucket is integer floor-division "
        f"((dy*20) div (k*dx)) — no float enters until the printed "
        f"bucket_lo label.  Scale shape: posexplode is map-side; the "
        f"projection is a broadcast join against the {RP_K}x64-row "
        f"sign table + ONE shuffle keyed (vec_id, i); pairs are "
        f"consecutive-id (linear, never quadratic); int64 headroom: "
        f"|y_e6| <= d*1e6 so the squared diff stays under ~2e16 at "
        f"d=64, ~1e5x below the int64 ceiling.",
    tags=("similarity", "embedding", "approx"),
)
def embedding_random_projection_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("j0", "xv"),
    ).select(
        "vec_id",
        (F.col("j0") + 1).alias("j"),
        F.floor(F.col("xv").cast("double") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("x_e6"),
    )
    x = x.localCheckpoint(eager=False)
    dims = x.select("j").distinct()
    ks = spark.range(1, RP_K + 1).select(F.col("id").cast("bigint").alias("i"))
    s = (
        dims.crossJoin(F.broadcast(ks))
        .select(
            "i",
            "j",
            (
                F.lit(1)
                - F.lit(2)
                * (
                    F.floor(
                        (
                            F.col("j").cast("bigint") * F.lit(_RP_A)
                            + F.col("i").cast("bigint") * F.lit(_RP_B)
                        )
                        / F.lit(_RP_M)
                    ).cast("bigint")
                    % F.lit(2)
                )
            )
            .cast("bigint")
            .alias("s"),
        )
    )
    y = (
        x.join(F.broadcast(s), "j")
        .groupBy("vec_id", "i")
        .agg(F.sum(F.col("s") * F.col("x_e6")).cast("bigint").alias("y_e6"))
    )
    yb = y.select((F.col("vec_id") - 1).alias("vec_id"), "i", F.col("y_e6").alias("y_b"))
    d2y = (
        y.join(yb, ["vec_id", "i"])
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("y_e6") - F.col("y_b")) * (F.col("y_e6") - F.col("y_b")))
            .cast("bigint")
            .alias("dy")
        )
    )
    xb = x.select((F.col("vec_id") - 1).alias("vec_id"), "j", F.col("x_e6").alias("x_b"))
    d2x = (
        x.join(xb, ["vec_id", "j"])
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("x_e6") - F.col("x_b")) * (F.col("x_e6") - F.col("x_b")))
            .cast("bigint")
            .alias("dx")
        )
    )
    bucket = F.expr(f"(dy * 20) div ({RP_K} * dx)")
    return (
        d2y.join(d2x, "vec_id")
        .filter(F.col("dx") > 0)
        .groupBy(
            bucket.cast("int").alias("distortion_bucket"),
            pround(bucket / F.lit(20.0), 6).alias("bucket_lo"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# --- round 11: matryoshka (prefix-dim) retrieval quality ---------------------

MRL_PREFIXES = (8, 16, 32)

_DUCK_COS_PREFIX = """
  list_sum(list_transform(generate_series(1, p.dims),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(generate_series(1, p.dims),
           i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
   * sqrt(list_sum(list_transform(generate_series(1, p.dims),
           i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
"""


@register(
    "embedding_matryoshka_prefix_recall",
    # composes the registered brute-force query's own SQL as ground
    # truth (the recall-report idiom), resolved at decoration time —
    # similarity_topk_bruteforce registers earlier in this module
    oracle=f"""
    WITH bf AS ({_REG["similarity_topk_bruteforce"].oracle}),
    p AS (SELECT CAST(unnest([{", ".join(str(p) for p in MRL_PREFIXES)}]) AS INTEGER) AS dims),
    pre AS (
      SELECT * FROM (
        SELECT p.dims, q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.dims, q.vec_id
                                  ORDER BY {_DUCK_COS_PREFIX} DESC, c.vec_id ASC)
                 AS rnk
        FROM p CROSS JOIN embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {TOP_K}
    ),
    hits AS (
      SELECT pd.dims, bf.query_id,
             CAST(count(pre.neighbor_id) AS BIGINT) AS n_hits
      FROM (SELECT DISTINCT dims FROM p) pd
      CROSS JOIN bf
      LEFT JOIN pre ON pre.dims = pd.dims
                   AND pre.query_id = bf.query_id
                   AND pre.neighbor_id = bf.neighbor_id
      GROUP BY pd.dims, bf.query_id
    )
    SELECT dims AS prefix_dims,
           CAST(count(*) AS BIGINT) AS n_queries,
           floor(avg(n_hits * 1.0 / {TOP_K}) * 1000000.0 + 0.5) / 1000000.0
             AS mean_recall,
           floor(min(n_hits * 1.0 / {TOP_K}) * 1000000.0 + 0.5) / 1000000.0
             AS min_recall
    FROM hits
    GROUP BY dims
    """,
    doc=f"Matryoshka-representation evaluation: recall@{TOP_K} of cosine "
        f"top-k computed on only the FIRST p dims (p in {MRL_PREFIXES}) "
        "against the full-dim exact ranking — the published MRL "
        "(Kusupati et al. 2022) deployment question 'how few prefix "
        "dims can the first-stage retriever keep?', answered as an "
        "oracle-checked table.  Truncation is array slice(), no "
        "re-embedding; the oracle composes the registered brute-force "
        "query's own SQL for ground truth so the baseline cannot "
        "drift.  Scale shape: the prefix rankings reuse the "
        "broadcast-query-side nested-loop shape (candidates streamed, "
        "never materialized as pairs), one ranking per prefix over the "
        "SAME scan via the dims explode; the recall join touches only "
        "k·|queries|·|prefixes| rows.  At 100 TB the decision this "
        "feeds — store/scan 8 of 64 dims in the first stage — is an "
        "8× scan-bytes reduction on the retrieval hot path.",
    tags=("similarity", "ann", "quality"),
)
def embedding_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    e = e.repartition(plan_parallelism(spark), "vec_id")
    prefixes = F.array(*[F.lit(p) for p in MRL_PREFIXES])
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(prefixes).alias("dims"),
            F.col("embedding").alias("q_emb"),
        )
        .select(
            "query_id",
            "dims",
            F.slice(F.col("q_emb"), 1, F.col("dims")).alias("q_emb"),
        )
        .withColumn("q_norm", l2_norm(F.col("q_emb")))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    sim = dot(F.col("q_pre"), F.col("c_pre")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("dims", "query_id").orderBy(
        F.desc("raw_sim"), F.asc("neighbor_id")
    )
    pre = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("c_pre", F.slice(F.col("c_emb"), 1, F.col("dims")))
        .withColumn("q_pre", F.col("q_emb"))
        .withColumn("c_norm", l2_norm(F.col("c_pre")))
        .withColumn("raw_sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("dims", "query_id", "neighbor_id")
    )
    bf = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_neighbor")
    )
    dims_dim = spark.createDataFrame([(p,) for p in MRL_PREFIXES], "dims int")
    hits = (
        bf.crossJoin(F.broadcast(dims_dim))
        .join(
            pre,
            (bf.query_id == pre.query_id)
            & (F.col("bf_neighbor") == pre.neighbor_id)
            & (dims_dim.dims == pre.dims),
            "left",
        )
        .groupBy(dims_dim.dims.alias("dims"), bf.query_id)
        .agg(F.count(pre.neighbor_id).cast("bigint").alias("n_hits"))
    )
    return hits.groupBy(F.col("dims").cast("int").alias("prefix_dims")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        pround(F.avg(F.col("n_hits") * F.lit(1.0) / F.lit(TOP_K)), 6).alias(
            "mean_recall"
        ),
        pround(F.min(F.col("n_hits") * F.lit(1.0) / F.lit(TOP_K)), 6).alias(
            "min_recall"
        ),
    )
