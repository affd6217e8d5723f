"""Corpus-curation operators — the training-data pipeline tier beyond
dedup (SURVEY.md §2.8 extension surface): benchmark-contamination
scanning, incremental (batch-vs-corpus) dedup, deterministic k-means
over embeddings, character-entropy gibberish scoring, and global
quality binning.

Scale notes (the 100 TB plans):

- contamination: the eval set is tiny next to the corpus (benchmarks
  are KBs; corpora are TBs) — its distinct n-grams broadcast, so the
  corpus side is ONE map-side semi-join + one partial-agg groupBy.
- incremental dedup: the NEW batch is tiny next to the corpus — the
  batch fingerprints broadcast and the corpus scan stays map-only;
  only matched corpus rows (bounded by batch size) reach a shuffle.
- k-means: centroids (k×dims doubles) broadcast each iteration; per
  iteration cost is one map-side assignment pass + one (cluster, dim)
  partial agg — the canonical distributed Lloyd step.  Iterations are
  unrolled (k and rounds are compile-time constants here), matching
  what a driver loop would generate at scale.
- entropy / deciles: map-only feature extraction; the decile pass
  reuses functions/scale.global_ntile (range-partitioned exact ranks,
  no unpartitioned data window).

Portability contract: identical float expressions evaluated in the
same order in both engines (double math over exact integer or float32
inputs), `portable.pround` floor-rounding on every emitted float, and
centroid coordinates rounded to 9 decimals BEFORE distances are taken
so cross-engine summation-order noise (~1e-15) cannot reach the
rounded outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import pround
from ..functions.scale import bounded_window_key
from ..functions.textfns import bigram_pairs, normalize_text, shingles, tokens
from . import _kmeans as _km
from ..registry import register
from ..sources.catalog import load_table
from .dedup import _DUCK_TOKENS, _documents_parallel


def _top_token_share(tk: F.Column) -> F.Column:
    """Share of the document taken by its most frequent token.

    Max token frequency == longest equal run in the sorted token array:
    array_sort (O(n log n)) + ONE linear aggregate() fold with
    constant-size state. Replaces the earlier
    transform(array_distinct, d -> size(filter(toks, == d))) nest,
    whose O(distinct × n_tokens) per-row cost blows up on long
    documents at corpus scale. Still map-only: no token explode, no
    shuffle. The null initial `prev` can never equal a real token, so
    the first element always starts a run of 1."""
    max_freq = F.aggregate(
        F.array_sort(tk),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    return F.when(F.size(tk) == 0, F.lit(0.0)).otherwise(
        max_freq.cast("double") / F.size(tk)
    )

# deterministic splits (pure arithmetic on doc_id — reproducible at any
# scale, mirrored verbatim in the oracles)
EVAL_MOD = 97     # doc_id % 97 == 0  -> the held-out "benchmark" set
BATCH_MOD = 10    # doc_id % 10 == 0  -> the "newly arrived" batch
CONTAM_NGRAM = 5  # n-gram size for contamination overlap
KMEANS_K = 4      # initial centroids = vec_id < KMEANS_K
CENTROID_DECIMALS = 9

# DuckDB 5-gram fragment (same shape as dedup's 3-gram one)
_DUCK_5GRAMS = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_DUCK_TOKENS}) - {CONTAM_NGRAM - 1}, 0)), "
    f"i -> array_to_string({_DUCK_TOKENS}[i:i+{CONTAM_NGRAM - 1}], ' ')))"
)


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

@register(
    "benchmark_contamination",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest({_DUCK_5GRAMS}) AS g FROM documents
    ), eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {EVAL_MOD} = 0
    ), corpus AS (
      SELECT doc_id FROM documents WHERE doc_id % {EVAL_MOD} <> 0
    ), sizes AS (
      SELECT doc_id, count(*) AS n_grams FROM grams
      WHERE doc_id % {EVAL_MOD} <> 0 GROUP BY doc_id
    ), shared AS (
      SELECT gr.doc_id, count(*) AS n_shared
      FROM grams gr JOIN eval_grams e USING (g)
      WHERE gr.doc_id % {EVAL_MOD} <> 0 GROUP BY gr.doc_id
    )
    SELECT c.doc_id,
           coalesce(s.n_grams, 0)  AS n_grams,
           coalesce(sh.n_shared, 0) AS n_shared,
           CASE WHEN coalesce(s.n_grams, 0) > 0
                THEN floor((CAST(coalesce(sh.n_shared, 0) AS DOUBLE) / s.n_grams) * 10000.0 + 0.5) / 10000.0
                ELSE 0.0 END AS contamination_ratio,
           (coalesce(s.n_grams, 0) > 0 AND
            CAST(coalesce(sh.n_shared, 0) AS DOUBLE) / s.n_grams >= 0.3) AS is_contaminated
    FROM corpus c
    LEFT JOIN sizes  s  ON s.doc_id  = c.doc_id
    LEFT JOIN shared sh ON sh.doc_id = c.doc_id
    """,
    doc=f"Benchmark-contamination scan: for every corpus document, the "
        f"share of its distinct {CONTAM_NGRAM}-gram shingles that also appear in a "
        f"held-out eval set (doc_id % {EVAL_MOD} == 0). The eval-side gram set is "
        "DISTINCT + broadcast (eval sets are tiny at any corpus scale), so "
        "the corpus pass is one map-side inner join + one partial-agg "
        "groupBy — no corpus-sized shuffle. The decontamination pass every "
        "training pipeline runs before training.",
    tags=("curation", "text"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents_parallel(spark, sf_dir)
    toks = docs.select(
        "doc_id", tokens(normalize_text(F.col("text"))).alias("tk")
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("tk"), n=CONTAM_NGRAM))).alias("g"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("g").distinct()
    corpus_grams = grams.filter(~is_eval)
    sizes = corpus_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    shared = (
        corpus_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    corpus = docs.filter(~is_eval).select("doc_id")
    ratio = F.col("n_shared").cast("double") / F.col("n_grams")
    return (
        corpus.join(sizes, "doc_id", "left")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.when(F.col("n_grams") > 0, pround(ratio, 4))
            .otherwise(F.lit(0.0))
            .alias("contamination_ratio"),
            ((F.col("n_grams") > 0) & (ratio >= 0.3)).alias("is_contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup (batch vs corpus)
# ---------------------------------------------------------------------------

@register(
    "dedup_incremental_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint
      FROM documents
    ), batch AS (
      SELECT * FROM fp WHERE doc_id % {BATCH_MOD} = 0
    ), corpus_match AS (
      SELECT fingerprint, min(doc_id) AS match_doc
      FROM fp WHERE doc_id % {BATCH_MOD} <> 0 GROUP BY fingerprint
    )
    SELECT b.doc_id, b.fingerprint,
           CASE WHEN m.match_doc IS NULL THEN 'fresh' ELSE 'duplicate' END AS status,
           m.match_doc
    FROM batch b LEFT JOIN corpus_match m USING (fingerprint)
    """,
    doc=f"Incremental exact dedup: classify a NEW batch (doc_id % {BATCH_MOD} == 0) "
        "against the existing corpus by normalized-text fingerprint. The "
        "batch fingerprints broadcast, so the corpus scan is map-only and "
        "only corpus rows matching the batch (bounded by batch size) reach "
        "the min-doc aggregation — the production shape for continuous "
        "ingestion, where re-shuffling the full corpus per batch would be "
        "the scale-killer.",
    tags=("curation", "dedup"),
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fingerprint"),
    )
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    batch = fp.filter(is_batch)
    corpus = fp.filter(~is_batch)
    # corpus-side: map-only semi-filter against the broadcast batch set,
    # THEN aggregate — the agg input is at most |batch| distinct keys
    batch_keys = batch.select("fingerprint").distinct()
    corpus_match = (
        corpus.join(F.broadcast(batch_keys), "fingerprint")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("match_doc"))
    )
    return batch.join(F.broadcast(corpus_match), "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.when(F.col("match_doc").isNull(), F.lit("fresh"))
        .otherwise(F.lit("duplicate"))
        .alias("status"),
        "match_doc",
    )


# ---------------------------------------------------------------------------
# deterministic k-means over embeddings (one unrolled Lloyd round) —
# machinery shared with the ANN coarse quantizer via operators/_kmeans
# (round-17 move; the registering queries, constants and oracle text
# stay HERE, byte-identical, so nothing about this tier's contract
# changed — test_quality pins the generated CTE chain against the
# shared generator)
# ---------------------------------------------------------------------------

_dist2 = _km.dist2
_assign = _km.assign


def _kmeans_final_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, dist2) after the shared one-Lloyd-round k-means —
    the Spark twin of _KMEANS_SQL_CTES, reused by both the assignment
    query and cluster_topic_terms.  Delegates to operators/_kmeans with
    this module's (KMEANS_K, CENTROID_DECIMALS) geometry."""
    return _km.final_assign(spark, sf_dir, KMEANS_K, CENTROID_DECIMALS)


# the deterministic one-Lloyd-round k-means CTE chain, shared between
# the assignment query's oracle and the cluster-topic oracle so the
# two can never disagree about what "the clustering" is
_KMEANS_SQL_CTES = _km.sql_ctes(KMEANS_K, CENTROID_DECIMALS)


@register(
    "embedding_kmeans_assign",
    oracle=f"""{_KMEANS_SQL_CTES}
    SELECT vec_id,
           CAST(cid AS INTEGER) AS cluster,
           floor(dist2 * 1000000.0 + 0.5) / 1000000.0 AS dist2
    FROM (
      SELECT vec_id, cid, dist2,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
      FROM d2
    ) WHERE rn = 1
    """,
    doc=f"Deterministic k-means (k={KMEANS_K}) over the embedding corpus: init "
        f"centroids = vec_id < {KMEANS_K}, one full Lloyd round (assign → "
        "recenter → reassign), squared-L2. Centroids broadcast, assignment "
        "is a map-side pass, recentering is one (cluster, dim) partial "
        "agg — per-iteration cost linear in corpus size with NO "
        "corpus-sized shuffle; the driver-loop form at 100 TB generates "
        "exactly this per round. Centroid coords round to "
        f"{CENTROID_DECIMALS} decimals before distances so cross-engine "
        "float-sum noise can't flip assignments (clusters/semantic-dedup "
        "tier, SemDedup-style).",
    tags=("curation", "similarity"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    a2 = _kmeans_final_assign(spark, sf_dir)
    return a2.select(
        "vec_id",
        F.col("cid").cast("int").alias("cluster"),
        pround(F.col("dist2"), 6).alias("dist2"),
    )


# ---------------------------------------------------------------------------
# character entropy (gibberish / low-quality signal)
# ---------------------------------------------------------------------------

@register(
    "text_char_entropy",
    oracle="""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS t
      FROM documents
    ), chars AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t)), i -> t[i])) AS ch
      FROM norm
    ), counts AS (
      SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_chars_norm,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           floor((ln(CAST(sum(cnt) AS DOUBLE)) - sum(cnt * ln(CAST(cnt AS DOUBLE))) / sum(cnt))
                 * 1000000.0 + 0.5) / 1000000.0 AS entropy
    FROM counts GROUP BY doc_id
    """,
    doc="Per-document Shannon character entropy over normalized text — "
        "the cheap gibberish/boilerplate detector (near-zero entropy = "
        "repeated filler; natural text sits in a narrow band). Uses the "
        "algebraic form H = ln(n) − Σc·ln(c)/n so the per-character pass "
        "is a plain two-level hash agg — no per-row division by a "
        "group total, no window. Map + one partial-agg shuffle.",
    tags=("curation", "text"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents_parallel(spark, sf_dir)
    norm = docs.select("doc_id", normalize_text(F.col("text")).alias("t"))
    # split("") is the LINEAR char explode (one pass, code-point safe;
    # empirically ['a','b','c'] with no trailing empty) — r12 review
    # fix, twice over: the old transform(sequence(1, length)) +
    # per-index substr was O(n^2) per document (each substr rescans to
    # byte offset i), and an EMPTY normalized doc made sequence(1, 0)
    # descend to [1, 0], fabricating two phantom ''-chars the oracle
    # (empty generate_series, doc absent) never emits.  The length
    # filter matches the oracle: zero-char docs have no entropy row.
    chars = norm.filter(F.length("t") > 0).select(
        "doc_id",
        F.explode(F.split("t", "")).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    n = F.sum("cnt")
    sum_clnc = F.sum(F.col("cnt") * F.log(F.col("cnt").cast("double")))
    return counts.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_chars_norm"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        pround(F.log(n.cast("double")) - sum_clnc / n, 6).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# scalar quantization of embeddings (ANN memory compression)
# ---------------------------------------------------------------------------

@register(
    "embedding_scalar_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), el AS (
      SELECT vec_id, gs.j, v[gs.j] AS x
      FROM e, LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS j) gs
    ), dims AS (
      SELECT j, min(x) AS mn, max(x) AS mx FROM el GROUP BY j
    ), q AS (
      SELECT el.vec_id, el.j, el.x, d.mn, d.mx,
             CAST(CASE WHEN d.mx > d.mn
                  THEN least(floor((el.x - d.mn) / (d.mx - d.mn) * 255.0), 255.0)
                  ELSE 0.0 END AS INTEGER) AS qv
      FROM el JOIN dims d USING (j)
    ), deq AS (
      SELECT vec_id, j, qv,
             (x - (mn + (qv + 0.5) * (mx - mn) / 255.0))
             * (x - (mn + (qv + 0.5) * (mx - mn) / 255.0)) AS err2
      FROM q
    )
    SELECT vec_id,
           string_agg(qv, ',' ORDER BY j) AS codes,
           floor(sum(err2) * 1000000.0 + 0.5) / 1000000.0 AS sq_error
    FROM deq GROUP BY vec_id
    """,
    doc="Uint8 scalar quantization of the embedding corpus: per-dimension "
        "global min/max (an agg down to dims-many rows — constant-size at "
        "any corpus scale) broadcasts back, then the quantize+error pass "
        "is map-only. 4x memory compression for the ANN tier; codes are "
        "emitted comma-joined (the driver canonicalizer rejects raw "
        "arrays) with the midpoint-dequantization squared error. min/max "
        "are exact corpus values (no float summation), so codes are "
        "bit-deterministic across engines.",
    tags=("curation", "similarity"),
)
def embedding_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    el = emb.select("vec_id", F.posexplode("v").alias("j", "x"))
    dims = el.groupBy("j").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    scale = (F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255.0
    qv = (
        F.when(F.col("mx") > F.col("mn"), F.least(F.floor(scale), F.lit(255.0)))
        .otherwise(F.lit(0.0))
        .cast("int")
    )
    q = el.join(F.broadcast(dims), "j").select("vec_id", "j", "x", "mn", "mx", qv.alias("qv"))
    deq = F.col("mn") + (F.col("qv") + F.lit(0.5)) * (F.col("mx") - F.col("mn")) / 255.0
    err2 = (F.col("x") - deq) * (F.col("x") - deq)
    per_el = q.select("vec_id", "j", "qv", err2.alias("err2"))
    return per_el.groupBy("vec_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "qv"))),
                lambda s: s["qv"].cast("string"),
            ),
        ).alias("codes"),
        pround(F.sum("err2"), 6).alias("sq_error"),
    )


# ---------------------------------------------------------------------------
# round 15: product quantization (the PQ rung of the compression ladder)
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces (64-dim embeddings -> 8 x 8-dim subvectors)
PQ_SUBDIM = 8
PQ_K = 4        # codebook entries per subspace (seed rows vec_id < PQ_K)


@register(
    "embedding_product_quantization",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sub AS (
      SELECT vec_id, gs.m,
             list_slice(v, gs.m * {PQ_SUBDIM} + 1, gs.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
      FROM e, LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) gs
    ), cent AS (
      SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < {PQ_K}
    ), d AS (
      SELECT s.vec_id, s.m, c.k,
             list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
                                     j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j])))
               AS dist2
      FROM sub s JOIN cent c USING (m)
    ), best AS (
      SELECT vec_id, m, k, dist2 FROM (
        SELECT vec_id, m, k, dist2,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, k) AS rn
        FROM d
      ) WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS pq_codes,
           CAST(sum(CAST(floor(dist2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sq_error_e6
    FROM best GROUP BY vec_id
    """,
    doc=f"Product quantization (Jégou et al. 2011): the embedding is "
        f"split into {PQ_M} subvectors of {PQ_SUBDIM} dims; each "
        f"subvector is coded as its nearest entry in a per-subspace "
        f"{PQ_K}-entry codebook (seeded from rows vec_id < {PQ_K}, the "
        f"same deterministic-seed protocol as embedding_kmeans_assign) "
        f"— log2({PQ_K})x{PQ_M} bits per vector, the memory rung "
        f"BETWEEN uint8 scalar quantization and raw floats that IVF-PQ "
        f"ANN serving uses.  Emits the per-vector code word plus the "
        f"reconstruction error.  Scale shape: the codebook is "
        f"{PQ_M}x{PQ_K} rows — genuinely constant-size, so ITS "
        f"broadcast is justified (unlike a vocab table); the "
        f"subvector explode is map-side ({PQ_M} rows per vector), the "
        f"argmin is one min-of-struct partial agg, and nothing else "
        f"shuffles more than |vectors|x{PQ_M} rows.  Per-subspace "
        f"dist2 values are identical IEEE doubles in both engines "
        f"(left-to-right fold, the kmeans precedent) and are quantized "
        f"to 1e-6 int64 BEFORE the per-vector sum, so the emitted "
        f"error is an exact integer.",
    tags=("curation", "similarity"),
)
def embedding_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    sub = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        "v",
    ).select(
        "vec_id",
        "m",
        F.slice(F.col("v"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
    )
    cent = sub.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("k"), F.col("sv").alias("cv")
    )
    # the codebook is PQ_M x PQ_K rows — constant-size by construction,
    # so the broadcast hint is justified here (contrast the unhinted
    # vocab joins in cluster_topic_terms / documents_dsir_weights)
    d = sub.join(F.broadcast(cent), "m").select(
        "vec_id", "m", "k", _dist2(F.col("sv"), F.col("cv")).alias("dist2")
    )
    best = d.groupBy("vec_id", "m").agg(F.min(F.struct("dist2", "k")).alias("b"))
    per_sub = best.select(
        "vec_id",
        "m",
        F.col("b.k").alias("k"),
        F.floor(F.col("b.dist2") * 1e6 + 0.5).cast("bigint").alias("err_e6"),
    )
    return per_sub.groupBy("vec_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "k"))),
                lambda s: s["k"].cast("string"),
            ),
        ).alias("pq_codes"),
        F.sum("err_e6").cast("bigint").alias("sq_error_e6"),
    )


# ---------------------------------------------------------------------------
# TF-IDF document keywords
# ---------------------------------------------------------------------------

TFIDF_TOP = 5


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df,
           floor(score * 1000000.0 + 0.5) / 1000000.0 AS tfidf,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= {TFIDF_TOP}
    """,
    doc=f"Per-document top-{TFIDF_TOP} keywords by tf-idf (idf = ln(N/df), "
        "ties broken by term). The document-fingerprinting / topic-signal "
        "pass of a curation pipeline. Three partial-agg shuffles — "
        "(doc,term) tf, term df, and the per-doc top-k window partitioned "
        "by doc_id — plus a broadcast of the 1-row corpus count; nothing "
        "corpus-sized crosses the cluster twice.",
    tags=("curation", "text"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents_parallel(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            pround(F.col("score"), 6).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# global quality deciles (corpus curation binning)
# ---------------------------------------------------------------------------

# the scalar quality score: lexical diversity + stopword naturalness +
# saturating length credit.  Fixed double expression evaluated in the
# same order in both engines over exact integer inputs.
_SCORE_SQL = (
    "CASE WHEN n_tokens > 0 THEN "
    "0.5 * (CAST(n_unique AS DOUBLE) / n_tokens) "
    "+ 0.3 * (CAST(n_stop AS DOUBLE) / n_tokens) "
    "+ 0.2 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) "
    "ELSE 0.0 END"
)


@register(
    "documents_quality_deciles",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_DUCK_TOKENS})) AS BIGINT) AS n_unique,
             CAST(len(list_filter({_DUCK_TOKENS}, t -> t IN ('the', 'a', 'and', 'of', 'to', 'is'))) AS BIGINT) AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, {_SCORE_SQL} AS score FROM feat
    )
    SELECT doc_id,
           floor(score * 1000000.0 + 0.5) / 1000000.0 AS quality_score,
           CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS decile
    FROM scored
    """,
    doc="Corpus curation binning: a scalar quality score (lexical "
        "diversity + stopword naturalness + saturating length credit) "
        "and its exact global decile. The decile comes from "
        "functions/scale.global_ntile — range-repartitioned exact ranks, "
        "NO unpartitioned data window — so the binning that decides "
        "sampling weights stays exact at corpus scale.",
    tags=("curation", "text"),
)
def documents_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import global_ntile

    d = load_table(spark, sf_dir, "documents")
    tk = tokens(normalize_text(F.col("text")))
    feat = d.select(
        "doc_id",
        F.size(tk).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(tk)).cast("bigint").alias("n_unique"),
        F.size(F.filter(tk, lambda t: t.isin("the", "a", "and", "of", "to", "is")))
        .cast("bigint")
        .alias("n_stop"),
    )
    scored = feat.select("doc_id", F.expr(_SCORE_SQL).alias("score"))
    tiled = global_ntile(scored, 10, [F.desc("score"), F.asc("doc_id")], "decile")
    return tiled.select(
        "doc_id",
        pround(F.col("score"), 6).alias("quality_score"),
        F.col("decile").cast("int").alias("decile"),
    )


# ---------------------------------------------------------------------------
# repetition filters (Gopher-style rules)
# ---------------------------------------------------------------------------


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, source, toks,
             list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                            i -> array_to_string(toks[i:i+2], ' ')) AS g3
      FROM feat
    ), r AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_max(list_transform(list_distinct(toks),
                           d -> len(list_filter(toks, t -> t = d)))) AS DOUBLE)
                       / len(toks) END AS top_raw,
             CASE WHEN len(g3) = 0 THEN 0.0
                  ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                       / len(g3) END AS dup_raw
      FROM g
    )
    SELECT doc_id, source, n_tokens,
           floor(top_raw * 10000.0 + 0.5) / 10000.0 AS top_token_share,
           floor(dup_raw * 10000.0 + 0.5) / 10000.0 AS dup_3gram_ratio,
           (floor(top_raw * 10000.0 + 0.5) / 10000.0 <= 0.2
            AND floor(dup_raw * 10000.0 + 0.5) / 10000.0 <= 0.18) AS passes_repetition
    FROM r
    """,
    doc="Gopher-style repetition rules: most-frequent-token share and "
        "duplicate-3-gram fraction per document, plus the boolean filter "
        "gate. Map-only — all work is JVM array expressions inside one "
        "projection; at corpus scale this is a single scan with zero "
        "shuffles. The max-frequency term is array_sort + one linear "
        "aggregate() pass over the sorted tokens (longest equal run), so "
        "the per-row cost is O(n_tokens log n_tokens) — safe for long "
        "documents, unlike a distinct×tokens nested HOF.",
    tags=("curation", "text"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents_parallel(spark, sf_dir)
    t = d.select(
        "doc_id", "source", tokens(normalize_text(F.col("text"))).alias("toks")
    )
    # toks materialized as a column FIRST; every expression below binds
    # the column reference (computed once per row) instead of inlining
    # the tokenizer subtree per use (the HOF-recompute trap).
    t = t.select("doc_id", "source", "toks", shingles(F.col("toks"), n=3).alias("g3"))
    tk, g3 = F.col("toks"), F.col("g3")
    top_raw = _top_token_share(tk)
    dup_raw = F.when(F.size(g3) == 0, F.lit(0.0)).otherwise(
        (F.size(g3) - F.size(F.array_distinct(g3))).cast("double") / F.size(g3)
    )
    r = t.select(
        "doc_id",
        "source",
        F.size(tk).cast("bigint").alias("n_tokens"),
        top_raw.alias("top_raw"),
        dup_raw.alias("dup_raw"),
    )
    top, dup = pround(F.col("top_raw"), 4), pround(F.col("dup_raw"), 4)
    return r.select(
        "doc_id",
        "source",
        "n_tokens",
        top.alias("top_token_share"),
        dup.alias("dup_3gram_ratio"),
        ((top <= 0.2) & (dup <= 0.18)).alias("passes_repetition"),
    )


# ---------------------------------------------------------------------------
# vocabulary coverage (tokenizer / OOV planning)
# ---------------------------------------------------------------------------


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS token FROM documents
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_occ FROM toks GROUP BY token
    ), total AS (
      SELECT CAST(sum(n_occ) AS BIGINT) AS total_occ FROM counts
    ), ranked AS (
      SELECT token, n_occ,
             row_number() OVER (ORDER BY n_occ DESC, token) AS rank,
             CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_occ
      FROM counts
    )
    SELECT rank, token, n_occ,
           floor((CAST(cum_occ AS DOUBLE) / total_occ) * 1000000.0 + 0.5) / 1000000.0
             AS cum_share
    FROM ranked, total
    WHERE rank <= 50
    """,
    doc="Corpus vocabulary coverage curve: top-50 tokens by occurrence "
        "with cumulative share of all token occurrences — the "
        "tokenizer-planning / OOV-rate report. Scale shape: one explode + "
        "one hash-agg (vocab-sized output), bounded top-k "
        "(TakeOrderedAndProject — no global sort of the vocab), then a "
        "window over exactly 50 rows (constant-size at any corpus scale) "
        "and a broadcast of the 1-row total.",
    tags=("curation", "text"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents_parallel(spark, sf_dir)
    toks = d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("token"))
    # counts feeds BOTH the scalar total and the top-k branch; it is
    # vocab-sized (tiny next to the corpus), so a lazy localCheckpoint
    # makes the corpus scan + token agg run ONCE instead of per-branch
    counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("n_occ").cast("bigint").alias("total_occ"))
    # bounded top-k first (50 rows), THEN the running-sum window: the
    # prefix of a running sum equals the running sum of the prefix under
    # the same total order, so the window only ever sees 50 rows.
    top = counts.orderBy(F.desc("n_occ"), F.asc("token")).limit(50)
    order = Window.partitionBy(bounded_window_key("token")).orderBy(
        F.desc("n_occ"), F.asc("token")
    )
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.select(
        "token",
        "n_occ",
        F.row_number().over(order).alias("rank"),
        F.sum("n_occ").over(cum).cast("bigint").alias("cum_occ"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "token",
        "n_occ",
        pround(F.col("cum_occ").cast("double") / F.col("total_occ"), 6).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------


@register(
    "events_value_outliers_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(any_value(d.med) * 10000.0 + 0.5) / 10000.0 AS median_value,
           floor(any_value(m.mad) * 10000.0 + 0.5) / 10000.0 AS mad_value,
           CAST(count(*) FILTER (WHERE d.adev > CAST(4.4478 AS DOUBLE) * m.mad)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    doc="Robust per-type outlier detection: exact median + median "
        "absolute deviation, outliers = |v - med| > 3*1.4826*MAD (the "
        "constant is pre-multiplied to 4.4478 so both engines parse ONE "
        "identical double literal — a 3.0*1.4826 product would "
        "constant-fold in DECIMAL in DuckDB and double in Spark). "
        "Three scans of events (median, MAD, fence count), each "
        "map-side with 5-row broadcast stat joins — the inherent shape "
        "of exact nested-median statistics. Spark's exact `percentile` is a "
        "partial-aggregatable counts-map whose memory is bounded by "
        "DISTINCT values per group (2-decimal charges here → bounded); "
        "for unbounded-cardinality value domains switch to "
        "percentile_approx.",
    tags=("curation", "events"),
)
def events_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.first("med"), 4).alias("median_value"),
            pround(F.first("mad"), 4).alias("mad_value"),
            F.sum(
                F.when(F.col("adev") > F.lit(4.4478) * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# curation funnel (capstone: the tiers composed end-to-end)
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    """The whole curation pipeline as ONE value-checked report, composed
    from the same SQL fragments the individual oracles use (cluster CTEs
    from dedup_clusters, gates from text_quality_score /
    text_repetition_stats) so every stage stays in lockstep with its
    standalone operator.  Its own CTEs are MATERIALIZED: DuckDB
    otherwise inlines every reference, and `agg` alone is read five
    times, so the whole chain ran once per reference."""
    from .dedup import _DUCK_SIGS, MAX_BUCKET_SIZE

    pct = lambda n: f"floor(CAST({n} AS DOUBLE) / n0 * 1000000.0 + 0.5) / 1000000.0"  # noqa: E731
    return f"""
    WITH RECURSIVE {_DUCK_SIGS},
    bucket_sizes AS MATERIALIZED (
      SELECT band_id, bucket, count(*) AS n FROM bands GROUP BY band_id, bucket
    ), capped AS MATERIALIZED (
      SELECT b.doc_id, b.band_id, b.bucket
      FROM bands b JOIN bucket_sizes s USING (band_id, bucket)
      WHERE s.n <= {MAX_BUCKET_SIZE}
    ), pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), edges AS MATERIALIZED (
      SELECT doc_a, doc_b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ), reach(src, dst) AS (
      SELECT DISTINCT doc_a, doc_a FROM edges
      UNION
      SELECT r.src, e.doc_b FROM reach r JOIN edges e ON e.doc_a = r.dst
    ), drops AS MATERIALIZED (
      SELECT src AS doc_id FROM reach GROUP BY src HAVING src <> min(dst)
    ), fp AS MATERIALIZED (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint
      FROM documents
    ), p1 AS MATERIALIZED (
      SELECT doc_id, (doc_id = min(doc_id) OVER (PARTITION BY fingerprint)) AS pass1
      FROM fp
    ), feat AS MATERIALIZED (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), g AS MATERIALIZED (
      SELECT doc_id, toks,
             list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                            i -> array_to_string(toks[i:i+2], ' ')) AS g3
      FROM feat
    ), gates AS MATERIALIZED (
      SELECT doc_id,
             (len(toks) >= 20
              AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.2) AS pass3,
             ((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE floor((CAST(list_max(list_transform(list_distinct(toks),
                             d -> len(list_filter(toks, t -> t = d)))) AS DOUBLE)
                         / len(toks)) * 10000.0 + 0.5) / 10000.0 END) <= 0.2
              AND (CASE WHEN len(g3) = 0 THEN 0.0
                        ELSE floor((CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                             / len(g3)) * 10000.0 + 0.5) / 10000.0 END) <= 0.18) AS pass4
      FROM g
    ), flags AS MATERIALIZED (
      SELECT d.doc_id, p1.pass1, (dr.doc_id IS NULL) AS pass2, ga.pass3, ga.pass4
      FROM documents d
      JOIN p1 ON p1.doc_id = d.doc_id
      LEFT JOIN drops dr ON dr.doc_id = d.doc_id
      JOIN gates ga ON ga.doc_id = d.doc_id
    ), agg AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE pass1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE pass1 AND pass2) AS BIGINT) AS n2,
             CAST(count(*) FILTER (WHERE pass1 AND pass2 AND pass3) AS BIGINT) AS n3,
             CAST(count(*) FILTER (WHERE pass1 AND pass2 AND pass3 AND pass4) AS BIGINT) AS n4
      FROM flags
    )
    SELECT 0 AS stage_idx, 'total' AS stage, n0 AS n_docs, {pct('n0')} AS pct_of_total FROM agg
    UNION ALL SELECT 1, 'exact_dedup', n1, {pct('n1')} FROM agg
    UNION ALL SELECT 2, 'near_dup', n2, {pct('n2')} FROM agg
    UNION ALL SELECT 3, 'quality_gate', n3, {pct('n3')} FROM agg
    UNION ALL SELECT 4, 'repetition_gate', n4, {pct('n4')} FROM agg
    """


@register(
    "curation_funnel_report",
    oracle=_funnel_oracle(),
    doc="Capstone: the curation pipeline end-to-end as a survivorship "
        "funnel — total docs, after exact dedup (min doc_id per "
        "normalized-text md5), after near-dup cluster resolution (drop "
        "non-canonical LSH cluster members), after the quality gate, "
        "after the repetition gate — each stage cumulative, with share "
        "of corpus. Gate predicates reuse the standalone operators' "
        "exact semantics (and the oracle reuses their SQL fragments). "
        "Scale shape: one map-side gate projection, one fingerprint "
        "window shuffle, one hash join against the (corpus-bounded) "
        "drop set, and a single-row aggregate unpivoted to 5 rows — "
        "plus the iterative cluster resolution it composes.",
    tags=("curation", "pipeline"),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_ops import dedup_clusters

    d = _documents_parallel(spark, sf_dir)
    t = d.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    t = t.select(
        "doc_id",
        F.md5(F.col("norm").cast("binary")).alias("fingerprint"),
        tokens(F.col("norm")).alias("toks"),
    )
    t = t.select("doc_id", "fingerprint", "toks", shingles(F.col("toks"), n=3).alias("g3"))
    tk, g3 = F.col("toks"), F.col("g3")
    quality = (F.size(tk) >= 20) & (
        F.size(F.array_distinct(tk)).cast("double") / F.size(tk) >= 0.2
    )
    top_raw = _top_token_share(tk)
    dup_raw = F.when(F.size(g3) == 0, F.lit(0.0)).otherwise(
        (F.size(g3) - F.size(F.array_distinct(g3))).cast("double") / F.size(g3)
    )
    repetition = (pround(top_raw, 4) <= 0.2) & (pround(dup_raw, 4) <= 0.18)
    wfp = Window.partitionBy("fingerprint")
    flags = t.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(wfp)).alias("pass1"),
        quality.alias("pass3"),
        repetition.alias("pass4"),
    )
    drops = (
        dedup_clusters(spark, sf_dir)
        .filter(~F.col("is_canonical"))
        .select("doc_id", F.lit(True).alias("_dropped"))
    )
    flags = flags.join(drops, "doc_id", "left").withColumn(
        "pass2", F.col("_dropped").isNull()
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.col("pass1").cast("long")).alias("n1"),
        F.sum((F.col("pass1") & F.col("pass2")).cast("long")).alias("n2"),
        F.sum(
            (F.col("pass1") & F.col("pass2") & F.col("pass3")).cast("long")
        ).alias("n3"),
        F.sum(
            (F.col("pass1") & F.col("pass2") & F.col("pass3") & F.col("pass4")).cast(
                "long"
            )
        ).alias("n4"),
    )
    agg = agg.select(
        "*",
        *[
            pround(F.col(f"n{i}").cast("double") / F.col("n0"), 6).alias(f"pct{i}")
            for i in range(5)
        ],
    )
    return agg.select(
        F.expr(
            "stack(5, 0, 'total', n0, pct0, 1, 'exact_dedup', n1, pct1, "
            "2, 'near_dup', n2, pct2, 3, 'quality_gate', n3, pct3, "
            "4, 'repetition_gate', n4, pct4) "
            "as (stage_idx, stage, n_docs, pct_of_total)"
        )
    )


# ---------------------------------------------------------------------------
# lexicon sentiment (PAPERS.md: sentiment at scale — the lexicon tier)
# ---------------------------------------------------------------------------

# fixed polarity lexicon over the corpus vocabulary; the SIGN of the
# net count decides the label (integer comparison — no float threshold
# to flip cross-engine)
_POS_WORDS = ("fast", "big", "value", "merge")
_NEG_WORDS = ("slow", "small", "dup", "stream")


@register(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source, {_DUCK_TOKENS} AS toks FROM documents
    ), counts AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, t -> t IN {_POS_WORDS!r})) AS BIGINT) AS n_pos,
             CAST(len(list_filter(toks, t -> t IN {_NEG_WORDS!r})) AS BIGINT) AS n_neg
      FROM feat
    )
    SELECT doc_id, source, n_tokens, n_pos, n_neg,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE floor((CAST(n_pos - n_neg AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
                     / 10000.0 END AS polarity,
           CASE WHEN n_pos > n_neg THEN 'positive'
                WHEN n_pos < n_neg THEN 'negative'
                ELSE 'neutral' END AS label
    FROM counts
    """,
    doc="Lexicon sentiment at corpus scale (PAPERS.md sentiment-at-scale "
        "tier): positive/negative token counts against a fixed polarity "
        "lexicon, normalized polarity score, and a label decided by the "
        "SIGN of the integer net count — no float threshold that could "
        "flip cross-engine. Map-only single scan; the lexicon is a "
        "compile-time constant (broadcast-free).",
    tags=("curation", "text"),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents_parallel(spark, sf_dir)
    t = d.select(
        "doc_id", "source", tokens(normalize_text(F.col("text"))).alias("toks")
    )
    tk = F.col("toks")
    counts = t.select(
        "doc_id",
        "source",
        F.size(tk).cast("bigint").alias("n_tokens"),
        F.size(F.filter(tk, lambda x: x.isin(*_POS_WORDS))).cast("bigint").alias("n_pos"),
        F.size(F.filter(tk, lambda x: x.isin(*_NEG_WORDS))).cast("bigint").alias("n_neg"),
    )
    net = F.col("n_pos") - F.col("n_neg")
    return counts.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_pos",
        "n_neg",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(pround(net.cast("double") / F.col("n_tokens"), 4))
        .alias("polarity"),
        F.when(F.col("n_pos") > F.col("n_neg"), "positive")
        .when(F.col("n_pos") < F.col("n_neg"), "negative")
        .otherwise("neutral")
        .alias("label"),
    )


@register(
    "dataset_quality_expectations",
    oracle="""
    WITH li AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                  AS BIGINT) AS qty_range,
             CAST(count(*) FILTER (WHERE l_discount > 0.05)
                  AS BIGINT) AS disc_policy
      FROM lineitem
    ), o AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (WHERE c.c_custkey IS NULL)
                  AS BIGINT) AS cust_orphans,
             CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F'))
                  AS BIGINT) AS status_enum
      FROM orders LEFT JOIN customer c ON c.c_custkey = o_custkey
    ), ev AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (WHERE value < 0) AS BIGINT) AS value_neg,
             CAST(count(*) FILTER (WHERE user_id IS NULL)
                  AS BIGINT) AS user_null
      FROM events
    ), d AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) FILTER (WHERE text IS NULL OR length(text) = 0)
                  AS BIGINT) AS text_empty,
             CAST(count(*) FILTER (WHERE n_chars <> length(text))
                  AS BIGINT) AS nchars_drift
      FROM documents
    )
    SELECT * FROM (
      SELECT 'lineitem' AS table_name, 'quantity_in_1_50' AS check_name,
             n_rows, qty_range AS n_violations, qty_range = 0 AS pass
      FROM li
      UNION ALL
      SELECT 'lineitem', 'discount_le_5pct', n_rows, disc_policy,
             disc_policy = 0 FROM li
      UNION ALL
      SELECT 'orders', 'custkey_references_customer', n_rows, cust_orphans,
             cust_orphans = 0 FROM o
      UNION ALL
      SELECT 'orders', 'status_in_open_closed', n_rows, status_enum,
             status_enum = 0 FROM o
      UNION ALL
      SELECT 'events', 'value_non_negative', n_rows, value_neg,
             value_neg = 0 FROM ev
      UNION ALL
      SELECT 'events', 'user_id_not_null', n_rows, user_null,
             user_null = 0 FROM ev
      UNION ALL
      SELECT 'documents', 'text_not_empty', n_rows, text_empty,
             text_empty = 0 FROM d
      UNION ALL
      SELECT 'documents', 'n_chars_matches_text', n_rows, nchars_drift,
             nchars_drift = 0 FROM d
    )
    """,
    doc="Schema/data expectations audit (the Great-Expectations-style "
        "gate a pipeline runs on every snapshot before training): range "
        "checks, enum membership, null checks, referential integrity "
        "(orders→customer as a broadcast left join counting orphans), "
        "and a stored-vs-derived consistency check — emitted as one "
        "(table, check, n_rows, n_violations, pass) report.  The "
        "deliberately-tight discount-policy and status-enum checks FAIL "
        "on this corpus, so both outcomes are exercised and hashed.  "
        "Scale shape: ALL checks for a table fold into ONE conditional-"
        "count aggregate over a single scan (map-side combine, no row "
        "explosion), then the |checks|-row report is assembled from the "
        "four 1-row summaries — at 100 TB this costs one pass per "
        "table, the floor for any audit.",
    tags=("curation", "quality"),
)
def dataset_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    d = load_table(spark, sf_dir, "documents")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    li_s = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "qty_range"
        ),
        cnt(F.col("l_discount") > 0.05).alias("disc_policy"),
    )
    o_s = (
        o.join(
            c.select("c_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            cnt(F.col("c_custkey").isNull()).alias("cust_orphans"),
            cnt(~F.col("o_orderstatus").isin("O", "F")).alias("status_enum"),
        )
    )
    ev_s = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt(F.col("value") < 0).alias("value_neg"),
        cnt(F.col("user_id").isNull()).alias("user_null"),
    )
    d_s = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        cnt(F.col("text").isNull() | (F.length("text") == 0)).alias("text_empty"),
        cnt(F.col("n_chars") != F.length("text")).alias("nchars_drift"),
    )

    def report(summary, table, checks):
        rows = None
        for check_name, viol_col in checks:
            r = summary.select(
                F.lit(table).alias("table_name"),
                F.lit(check_name).alias("check_name"),
                F.col("n_rows"),
                F.col(viol_col).alias("n_violations"),
                (F.col(viol_col) == 0).alias("pass"),
            )
            rows = r if rows is None else rows.unionAll(r)
        return rows

    li_r = report(
        li_s.localCheckpoint(eager=False),
        "lineitem",
        [("quantity_in_1_50", "qty_range"), ("discount_le_5pct", "disc_policy")],
    )
    o_r = report(
        o_s.localCheckpoint(eager=False),
        "orders",
        [
            ("custkey_references_customer", "cust_orphans"),
            ("status_in_open_closed", "status_enum"),
        ],
    )
    ev_r = report(
        ev_s.localCheckpoint(eager=False),
        "events",
        [("value_non_negative", "value_neg"), ("user_id_not_null", "user_null")],
    )
    d_r = report(
        d_s.localCheckpoint(eager=False),
        "documents",
        [("text_not_empty", "text_empty"), ("n_chars_matches_text", "nchars_drift")],
    )
    return li_r.unionAll(o_r).unionAll(ev_r).unionAll(d_r)


TOPIC_TOP_K = 5


@register(
    "cluster_topic_terms",
    oracle=f"""{_KMEANS_SQL_CTES}, assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        FROM d2
      ) WHERE rn = 1
    ), tok AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
    ), df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY token
    ), ndocs AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM documents
    ), ct AS (
      SELECT a.cid AS cluster, t.token, CAST(count(*) AS BIGINT) AS n
      FROM tok t JOIN assign a ON a.vec_id = t.doc_id
      GROUP BY a.cid, t.token
    ), scored AS (
      SELECT ct.cluster, ct.token, ct.n,
             ct.n * ln(nd.n * 1.0 / df.df) AS raw_score
      FROM ct JOIN df USING (token) CROSS JOIN ndocs nd
    )
    SELECT CAST(cluster AS INTEGER) AS cluster, token, n,
           floor(raw_score * 1000000.0 + 0.5) / 1000000.0 AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY cluster
                                   ORDER BY raw_score DESC, token ASC) AS rnk
      FROM scored
    ) WHERE rnk <= {TOPIC_TOP_K}
    """,
    doc=f"Cluster topic labeling — the step after semantic clustering "
        f"that makes the clusters HUMAN-auditable: per k-means cluster "
        f"(the SAME shared one-Lloyd-round clustering as "
        f"embedding_kmeans_assign, CTEs shared so the two queries can "
        f"never disagree), the top-{TOPIC_TOP_K} tokens by cluster-"
        f"tf x idf.  Joins the embedding-space structure to the text "
        f"space through vec_id = doc_id.  Scale shape: token explode is "
        f"map-side; the (cluster, token) aggregate partial-combines; "
        f"document frequency is a |vocab|-row table joined back on "
        f"token WITHOUT a broadcast hint — at web scale the vocabulary "
        f"(Heaps' law: ~1e7-1e8 tokens at 100 TB) is multi-GB, so the "
        f"join must be allowed to degrade to a shuffle; AQE still "
        f"picks broadcast when the measured size is small (VERDICT "
        f"r14 weak item).  The top-k window partitions by cluster.  "
        f"Scores multiply exact "
        f"integer counts by ln of an exact ratio, so raw ordering is "
        f"engine-identical before the rounded emit.",
    tags=("curation", "similarity", "text"),
)
def cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = _kmeans_final_assign(spark, sf_dir).select(
        "vec_id", F.col("cid").alias("cluster")
    )
    d = _documents_parallel(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("token")
    )
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_total"))
    ct = (
        tok.join(assign, tok.doc_id == assign.vec_id)
        .groupBy("cluster", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        # no broadcast hint on df: it is |vocab|-rows (unbounded in the
        # corpus), so the hint must come from AQE's measured size, not
        # from code — a forced broadcast OOMs at web-scale vocabularies.
        ct.join(df, "token")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "raw_score",
            F.col("n") * F.log(F.col("n_total") * F.lit(1.0) / F.col("df")),
        )
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("raw_score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPIC_TOP_K)
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "token",
            "n",
            pround("raw_score", 6).alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


KS_DRIFT_THRESHOLD = 0.15


@register(
    "documents_ks_drift_by_source",
    oracle=f"""
    WITH counts AS (
      SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ), grid AS (
      SELECT s.source, x.n_chars
      FROM (SELECT DISTINCT source FROM counts) s
      CROSS JOIN (SELECT DISTINCT n_chars FROM counts) x
    ), cum AS (
      SELECT g.source, g.n_chars,
             CAST(sum(coalesce(c.c, 0)) OVER (
               PARTITION BY g.source ORDER BY g.n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_s
      FROM grid g LEFT JOIN counts c
        ON c.source = g.source AND c.n_chars = g.n_chars
    ), gcum AS (
      SELECT n_chars,
             CAST(sum(c) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_g
      FROM (SELECT n_chars, sum(c) AS c FROM counts GROUP BY n_chars)
    ), totals AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM counts GROUP BY source
    ), gtotal AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_g FROM counts
    )
    SELECT cum.source,
           t.n_s AS n_docs,
           floor(max(abs(
             CAST(cum.cum_s AS DOUBLE) / t.n_s
             - CAST(g.cum_g - cum.cum_s AS DOUBLE) / (gt.n_g - t.n_s)
           )) * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
           max(abs(
             CAST(cum.cum_s AS DOUBLE) / t.n_s
             - CAST(g.cum_g - cum.cum_s AS DOUBLE) / (gt.n_g - t.n_s)
           )) > {KS_DRIFT_THRESHOLD} AS drift_flag
    FROM cum
    JOIN gcum g ON g.n_chars = cum.n_chars
    JOIN totals t ON t.source = cum.source
    CROSS JOIN gtotal gt
    WHERE gt.n_g > t.n_s
    GROUP BY cum.source, t.n_s
    """,
    doc=f"Two-sample Kolmogorov-Smirnov drift screen: for every source, "
        f"the KS statistic between ITS document-length distribution and "
        f"the rest of the corpus (sup over observed lengths of the "
        f"empirical-CDF gap), flagged at {KS_DRIFT_THRESHOLD} — the "
        f"standard detector for a source whose content shifted between "
        f"corpus versions (scraper broke, boilerplate changed) before "
        f"retraining on it.  Scale shape: the corpus collapses to "
        f"(source, length) counts in ONE shuffle with map-side combine; "
        f"everything after runs on the |sources| x |distinct lengths| "
        f"grid (cross join of two tiny dims, running-sum windows "
        f"partitioned by source) — the corpus is scanned once and no "
        f"per-document data crosses a second shuffle.  The rest-of-"
        f"corpus CDF is derived by subtraction (cum_g - cum_s), so no "
        f"second pass per source exists.  Exact integer cumulative "
        f"counts; ONE double division pair per grid cell, rounded 6dp.",
    tags=("curation", "drift", "stats"),
)
def documents_ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    sources = counts.select("source").distinct()
    xs = counts.select("n_chars").distinct()
    grid = sources.crossJoin(F.broadcast(xs))
    w_s = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(counts, ["source", "n_chars"], "left")
        .withColumn("cum_s", F.sum(F.coalesce("c", F.lit(0))).over(w_s).cast("bigint"))
        .select("source", "n_chars", "cum_s")
    )
    # bounded unpartitioned window: |distinct lengths| rows only
    w_g = Window.partitionBy(bounded_window_key("n_chars")).orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gcum = (
        counts.groupBy("n_chars")
        .agg(F.sum("c").alias("c"))
        .withColumn("cum_g", F.sum("c").over(w_g).cast("bigint"))
        .select("n_chars", "cum_g")
    )
    totals = counts.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    gtotal = counts.agg(F.sum("c").cast("bigint").alias("n_g"))
    gap = F.abs(
        F.col("cum_s").cast("double") / F.col("n_s")
        - (F.col("cum_g") - F.col("cum_s")).cast("double")
        / (F.col("n_g") - F.col("n_s"))
    )
    return (
        cum.join(F.broadcast(gcum), "n_chars")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(gtotal))
        # degenerate-source guard (r12 review fix): a source holding
        # 100% of the corpus has an EMPTY rest-of-corpus complement —
        # its n_g - n_s = 0 denominator raised DIVIDE_BY_ZERO under
        # this build's default ANSI mode (NaN drift flags under
        # non-ANSI).  No two-sample statistic exists for it; skip it.
        .filter(F.col("n_g") > F.col("n_s"))
        .groupBy("source", F.col("n_s").alias("n_docs"))
        .agg(
            pround(F.max(gap), 6).alias("ks_stat"),
            (F.max(gap) > F.lit(KS_DRIFT_THRESHOLD)).alias("drift_flag"),
        )
    )


# ---------------------------------------------------------------------------
# Batch twin of the streaming corpus-ingest job (streaming/jobs.py
# run_corpus_ingest_job) — same scoring + gate + dedup expressions, so
# the live stream and this backfill can never disagree on what enters
# the corpus.  Registered so the shared expressions have a tracked
# bench row (round-8 verdict item 8).
# ---------------------------------------------------------------------------

from .text import (  # noqa: E402  (late import: registry loads text first)
    _QC_BIAS,
    _QC_C_DISTINCT,
    _QC_C_NTOKENS,
    _QC_W_DISTINCT,
    _QC_W_NTOKENS,
    quality_features,
    quality_prob,
)


@register(
    "corpus_ingest_batch",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
               AS fingerprint,
             len({_DUCK_TOKENS}) AS n_tokens,
             CASE WHEN len({_DUCK_TOKENS}) = 0 THEN 0.0
                  ELSE len(list_distinct({_DUCK_TOKENS})) * 1.0
                       / len({_DUCK_TOKENS}) END AS distinct_ratio
      FROM documents
    ), scored AS (
      SELECT doc_id, source, fingerprint, n_tokens,
             floor(1.0 / (1.0 + exp(-({_QC_BIAS}
                 + {_QC_W_DISTINCT} * (distinct_ratio - {_QC_C_DISTINCT})
                 + {_QC_W_NTOKENS} * (n_tokens - {_QC_C_NTOKENS}))))
               * 1000000.0 + 0.5) / 1000000.0 AS p
      FROM feats
    ), gated AS (
      SELECT * FROM scored WHERE p >= 0.5
    ), winners AS (
      SELECT * FROM gated
      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    ), in_stats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) FILTER (WHERE p >= 0.5) AS BIGINT) AS n_quality_pass
      FROM scored GROUP BY source
    ), kept AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
             floor(avg(p) * 1000000.0 + 0.5) / 1000000.0 AS avg_quality
      FROM winners GROUP BY source
    )
    SELECT i.source, i.n_docs, i.n_quality_pass,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT)      AS n_kept,
           CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept,
           COALESCE(k.avg_quality, -1.0)              AS avg_quality
    FROM in_stats i LEFT JOIN kept k USING (source)
    """,
    doc="Batch twin of streaming/jobs.py run_corpus_ingest_job: the "
        "SAME quality_prob gate (operators.text, rounded decision so no "
        "doc sits on a cross-engine boundary) and the SAME md5-of-"
        "normalized-text fingerprint dedup (min-doc_id winner, exactly "
        "dedup_exact's keep rule), rolled up per source: input docs, "
        "quality passes, surviving corpus docs/tokens, mean kept "
        "quality (-1.0 sentinel when a source keeps nothing).  Scale: "
        "scoring is map-only column math fused into the scan; the "
        "dedup is ONE fingerprint-keyed shuffle with min_by partial "
        "aggregation (never a window over the corpus); the per-source "
        "rollups shuffle |sources| groups.  The scored relation feeds "
        "both the gate and the input stats — two scan passes, same "
        "dual-consumer shape as the job's two sinks.",
    tags=("curation", "dedup", "text"),
)
def corpus_ingest_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok, dratio = quality_features(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fingerprint"),
        n_tok.alias("n_tokens"),
        pround(quality_prob(dratio, n_tok), 6).alias("p"),
    )
    in_stats = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("p") >= 0.5, 1)).cast("bigint").alias("n_quality_pass"),
    )
    winners = (
        scored.filter(F.col("p") >= 0.5)
        .groupBy("fingerprint")
        .agg(F.min_by(F.struct("source", "n_tokens", "p"), "doc_id").alias("w"))
        .select("w.*")
    )
    kept = winners.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        pround(F.avg("p"), 6).alias("avg_quality"),
    )
    return in_stats.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "n_quality_pass",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("tokens_kept", F.lit(0)).cast("bigint").alias("tokens_kept"),
        F.coalesce("avg_quality", F.lit(-1.0)).alias("avg_quality"),
    )



# ---------------------------------------------------------------------------
# Winsorized statistics (round 9): clamp the value distribution at
# exact p05/p95 before computing moments — the outlier-capping
# normalization a training pipeline applies to telemetry/reward
# columns so a handful of extreme values cannot dominate a loss or a
# normalization constant.  Complements events_value_outliers_mad
# (detection) with the standard REMEDIATION.  Spark's exact
# `percentile` and DuckDB's `quantile_cont` are bit-identical on the
# same double multiset (verified repo-wide), so the clamp bounds —
# and therefore every clamped value — match exactly cross-engine.
# ---------------------------------------------------------------------------


@register(
    "events_value_winsorized_stats",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi,
             CAST(count(*) AS BIGINT)   AS n
      FROM events GROUP BY event_type
    ), clamped AS (
      SELECT e.event_type,
             e.value,
             CASE WHEN e.value < b.lo THEN b.lo
                  WHEN e.value > b.hi THEN b.hi
                  ELSE e.value END AS wvalue,
             e.value < b.lo OR e.value > b.hi AS is_clamped,
             b.lo, b.hi, b.n
      FROM events e JOIN bounds b USING (event_type)
    )
    SELECT event_type,
           any_value(n)                                           AS n_rows,
           CAST(sum(CASE WHEN is_clamped THEN 1 ELSE 0 END)
                AS BIGINT)                                        AS n_clamped,
           floor(any_value(lo) * 1000000.0 + 0.5) / 1000000.0     AS p05,
           floor(any_value(hi) * 1000000.0 + 0.5) / 1000000.0     AS p95,
           floor(avg(value) * 1000000.0 + 0.5) / 1000000.0        AS mean_raw,
           floor(avg(wvalue) * 1000000.0 + 0.5) / 1000000.0       AS mean_winsorized
    FROM clamped GROUP BY event_type
    """,
    doc="Winsorization at exact p05/p95 per event type: clamp bounds "
        "from the exact percentile (bit-identical Spark "
        "percentile/DuckDB quantile_cont on the same multiset), the "
        "clamped-row count, and mean before vs after — the outlier "
        "remediation beside the MAD detector.  Scale shape: exact "
        "per-group percentile is one sort-based agg on the "
        "(event_type)-keyed shuffle; the clamp pass re-joins the "
        "|event_types|-row bounds BROADCAST against the fact scan "
        "(map-only), then one partial-agg rollup.  At 100 TB swap the "
        "exact percentile for approx_percentile with the recorded "
        "error bound (the stats_percentiles_approx_bound pattern) — "
        "the clamp join shape is unchanged.",
    tags=("curation", "events", "stats"),
)
def events_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = e.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    c = e.join(F.broadcast(bounds), "event_type")
    wvalue = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    clamped = c.select(
        "event_type",
        "value",
        wvalue.alias("wvalue"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "is_clamped"
        ),
        "lo",
        "hi",
        "n",
    )
    return clamped.groupBy("event_type").agg(
        F.any_value("n").alias("n_rows"),
        F.sum(F.when(F.col("is_clamped"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped"),
        pround(F.any_value("lo"), 6).alias("p05"),
        pround(F.any_value("hi"), 6).alias("p95"),
        pround(F.avg("value"), 6).alias("mean_raw"),
        pround(F.avg("wvalue"), 6).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# Column profiler (discovery-side data quality, one pass over the table)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "orders_column_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               coalesce(CAST(min({c}) AS VARCHAR), '(all null)') AS min_value,
               coalesce(CAST(max({c}) AS VARCHAR), '(all null)') AS max_value
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
    doc="One-pass column profiler over the orders table: per column, "
        "null count, exact distinct cardinality, and min/max rendered "
        "as strings — the DISCOVERY side of data quality "
        "(dataset_quality_expectations CHECKS declared invariants; "
        "this is where those invariants come from when onboarding an "
        "unknown 100 TB feed).  TWO aggregation passes (optimization "
        "r17): the multi-column exact COUNT(DISTINCT) rides Spark's "
        "Expand rewrite with long-only buffers so it stays a "
        "HashAggregate (|cols|+1-way row replication map-side, then "
        "one partially-aggregated shuffle — the documented cost of "
        "exactness; swap approx_count_distinct in and the Expand "
        "disappears when ±2% suffices at 100 TB), while null counts "
        "and min/max — whose STRING buffers would otherwise force the "
        "whole expanded table through Sort + SortAggregate — run as a "
        "keyless single-pass agg recombined by a broadcast cross "
        "join.  The 1-row wide result is exploded to per-column rows "
        "JVM-side.  min/max are computed on native types "
        "(lexicographic string min would mis-profile numerics) "
        "and cast to strings only for output — bigint/2-dp-double/"
        "wall-time-ntz renderings are engine-identical; all-NULL "
        "columns fold to a '(all null)' sentinel in both engines "
        "(NULL output would break the harness sort).",
    tags=("curation", "profiling"),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # TWO aggregation passes instead of one (optimization r17).  Mixing
    # min/max over STRING columns into the same agg as the multi-column
    # exact COUNT(DISTINCT) forced the distinct Expand rewrite into a
    # SortAggregate — string agg buffers are not hash-mutable — i.e. a
    # full 7-key SORT of the |cols|+1-way expanded table (7·N wide rows;
    # measured 5.6 s at sf0.1, and at 100 TB that sort IS the job).
    # Split, the distinct pass keeps long-only buffers and stays a
    # HashAggregate over the Expand, and the null/min/max pass is a
    # plain keyless single-pass agg (no Expand, no sort); the two 1-row
    # results recombine with a broadcast cross join.  Results identical.
    dist_aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    mm_aggs = []
    for c in _PROFILE_COLS:
        dist_aggs.append(
            F.count_distinct(F.col(c)).cast("bigint").alias(f"dist__{c}")
        )
        mm_aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"null__{c}"),
                F.coalesce(F.min(c).cast("string"), F.lit("(all null)")).alias(
                    f"min__{c}"
                ),
                F.coalesce(F.max(c).cast("string"), F.lit("(all null)")).alias(
                    f"max__{c}"
                ),
            ]
        )
    wide = o.agg(*dist_aggs).crossJoin(F.broadcast(o.agg(*mm_aggs)))
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"null__{c}").alias("n_null"),
                F.col(f"dist__{c}").alias("n_distinct"),
                F.col(f"min__{c}").alias("min_value"),
                F.col(f"max__{c}").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select("n_rows", F.explode(per_col).alias("p")).select(
        "p.column_name",
        "n_rows",
        "p.n_null",
        "p.n_distinct",
        "p.min_value",
        "p.max_value",
    )


# ---------------------------------------------------------------------------
# Cross-source quality-score calibration (per-source decile curves)
# ---------------------------------------------------------------------------


@register(
    "documents_quality_calibration",
    oracle=f"""
    WITH sc AS (
      SELECT source, doc_id,
             CAST(len(list_distinct({_DUCK_TOKENS})) * 1000000
                  // len({_DUCK_TOKENS}) AS BIGINT) AS score_ppm
      FROM documents WHERE len({_DUCK_TOKENS}) > 0
    ), dec AS (
      SELECT source, score_ppm,
             ntile(10) OVER (PARTITION BY source
                             ORDER BY score_ppm, doc_id) AS decile
      FROM sc
    )
    SELECT source, CAST(decile AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(score_ppm) AS BIGINT) AS min_ppm,
           CAST(max(score_ppm) AS BIGINT) AS max_ppm,
           floor(sum(score_ppm) * 1.0 / (count(*) * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_unique_ratio
    FROM dec GROUP BY source, decile
    """,
    doc="Cross-source score CALIBRATION curves: each document's lexical-"
        "diversity score (unique-token ratio, held as an exact ppm "
        "integer via int64 floor-division — no float enters until the "
        "final mean) is cut into WITHIN-SOURCE deciles, and each "
        "(source, decile) cell reports its population and score range. "
        "Reading across sources exposes the mixing-policy trap a "
        "single global threshold hides: when source A's 9th decile "
        "scores below source B's 2nd, one corpus-wide cutoff keeps B's "
        "junk and drops A's best — the argument for per-source "
        "quantile gates (documents_quality_deciles is the GLOBAL "
        "complement on the composite score).  ntile(10) over the "
        "(score_ppm, doc_id) total order is identically defined in "
        "both engines (earlier buckets take the remainder), so the "
        "decile cut is bit-reproducible.  Scale shape: one map-side "
        "tokenize pass, one source-keyed window (the decile rank), one "
        "grouped agg to |sources| x 10 rows; a pathologically dominant "
        "source turns the keyed window into the range-repartitioned "
        "two-pass ntile (functions/scale.global_ntile applied per "
        "source) — same rewrite the global decile op already uses.",
    tags=("curation", "text", "quality"),
)
def documents_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(normalize_text(F.col("text")))
    sc = (
        d.select(
            "source",
            "doc_id",
            F.size(tk).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(tk)).cast("bigint").alias("n_unique"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "source",
            "doc_id",
            F.expr("n_unique * 1000000L div n_tokens").alias("score_ppm"),
        )
    )
    w = Window.partitionBy("source").orderBy("score_ppm", "doc_id")
    dec = sc.select("source", "score_ppm", F.ntile(10).over(w).alias("decile"))
    return dec.groupBy("source", F.col("decile").cast("int").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("score_ppm").cast("bigint").alias("min_ppm"),
        F.max("score_ppm").cast("bigint").alias("max_ppm"),
        pround(
            F.sum("score_ppm") * F.lit(1.0)
            / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
            6,
        ).alias("mean_unique_ratio"),
    )
