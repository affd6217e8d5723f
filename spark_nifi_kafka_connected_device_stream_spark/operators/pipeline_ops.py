"""Training-data pipeline operators beyond dedup/similarity
(SURVEY.md §2.8 spirit): deterministic dataset mixing, sequence
packing, and near-dup cluster resolution.

These are the ops between "raw corpus" and "training shards":
- `dataset_mix_sample`: reproducible weighted subsampling per source
  via content hashing — no rand(), so every run (and every engine)
  selects the same rows.  Oracle-checked.
- `pack_sequences`: greedy next-fit packing of documents into
  fixed-token-budget bins, per source partition (the sequence-packing
  step before tokenizer sharding).  Inherently order-dependent →
  rows-only + property tests.
- `dedup_clusters`: connected components over near-dup candidate
  pairs (min-label propagation to fixpoint) picking one canonical doc
  per cluster — what turns pairwise dedup output into delete lists.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import duck_u32, pround, spark_u32
from ..functions.scale import bounded_window_key, int64_headroom_guard
from ..functions.textfns import DUCK_TOKENS, normalize_text, tokens
from ..registry import register
from ..sources.catalog import load_table

# per-source sampling rates for the mix (sum of corpus shares the mix
# targets; any missing source keeps rate 1.0)
MIX_RATES = {"src0": 0.9, "src1": 0.7, "src2": 0.5, "src3": 0.3, "src4": 0.1}

# 16-bit uniform from the md5 of the doc id: value/65536 ~ U[0,1)
_DUCK_U16 = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) "
        f"* {16 ** (3 - i)}"
        for i in range(4)
    )
    + ")"
)


@register(
    "dataset_mix_sample",
    oracle=f"""
    SELECT source,
           count(*) AS n_sampled,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM documents
    WHERE {_DUCK_U16} / 65536.0 < CASE source
        WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.7 WHEN 'src2' THEN 0.5
        WHEN 'src3' THEN 0.3 WHEN 'src4' THEN 0.1 ELSE 1.0 END
    GROUP BY source
    """,
    doc="Deterministic dataset mixing: per-source weighted subsample "
        "selected by hashing the doc id into U[0,1) (md5 16-bit prefix) — "
        "reproducible across runs, engines, and cluster sizes, unlike "
        "rand()-based sampling. Map-only + one count shuffle.",
    tags=("pipeline", "sampling"),
)
def dataset_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u16 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10).cast(
        "bigint"
    )
    rate = None
    for src, r in MIX_RATES.items():
        rate = (rate.when if rate is not None else F.when)(F.col("source") == src, F.lit(r))
    rate = rate.otherwise(F.lit(1.0))
    return (
        d.filter((u16 / 65536.0) < rate)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


_PACK_SCHEMA = "source string, bin_id bigint, doc_id bigint, n_tokens bigint"
TOKEN_BUDGET = 512


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy next-fit packing in doc_id order (deterministic)."""
    pdf = pdf.sort_values("doc_id")
    bins, current, used = [], 0, 0
    for _, row in pdf.iterrows():
        n = int(row["n_tokens"])
        if used > 0 and used + n > TOKEN_BUDGET:
            current += 1
            used = 0
        bins.append((row["source"], current, int(row["doc_id"]), n))
        used += n
    return pd.DataFrame(bins, columns=["source", "bin_id", "doc_id", "n_tokens"])


def _pack_sequences_oracle() -> str:
    """The greedy next-fit recurrence in ANSI SQL: row_number orders the
    docs per source exactly as `_pack_group` does, then a recursive CTE
    threads the (bin_id, used-tokens) state one rn step per iteration —
    the same sequential dependency the Pandas loop has, so the
    previously rows-only query becomes value-checked (same upgrade
    `dedup_clusters` got)."""
    from .dedup import _DUCK_TOKENS

    return f"""
    WITH RECURSIVE feat AS (
      SELECT source, doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), step AS (
      SELECT source, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS used
      FROM feat WHERE rn = 1
      UNION ALL
      SELECT f.source, f.doc_id, f.n_tokens, f.rn,
             CASE WHEN s.used > 0 AND s.used + f.n_tokens > {TOKEN_BUDGET}
                  THEN s.bin_id + 1 ELSE s.bin_id END,
             CASE WHEN s.used > 0 AND s.used + f.n_tokens > {TOKEN_BUDGET}
                  THEN f.n_tokens ELSE s.used + f.n_tokens END
      FROM step s JOIN feat f ON f.source = s.source AND f.rn = s.rn + 1
    )
    SELECT source, bin_id, doc_id, n_tokens FROM step
    """


@register(
    "pack_sequences",
    oracle=_pack_sequences_oracle(),
    doc=f"Sequence packing: greedy next-fit of documents into "
        f"{TOKEN_BUDGET}-token bins per source (applyInPandas per group, "
        f"deterministic doc_id order). The packing step before writing "
        f"training shards; per-group sequential by nature, parallel across "
        f"groups — at scale, salt the group key to bound group size.",
    tags=("pipeline", "udf"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_tokens = d.select(
        "source",
        "doc_id",
        F.size(tokens(normalize_text(F.col("text")))).cast("bigint").alias("n_tokens"),
    )
    return with_tokens.groupBy("source").applyInPandas(_pack_group, schema=_PACK_SCHEMA)


def _dedup_clusters_oracle() -> str:
    """Connected components in ANSI SQL: transitive closure via a
    recursive CTE over the SAME capped LSH pairs the Spark side uses
    (SQL fragments imported from operators.dedup so the two stay in
    lockstep), then cluster_id = min reachable node.  Set-semantics
    UNION makes the recursion terminate and the result deterministic,
    so the driver can value-check what was previously rows-only.  Its
    own CTEs are MATERIALIZED: DuckDB otherwise inlines every reference,
    and the LSH chain ran once per reference (24 s at sf0.001, 2 s
    materialized)."""
    from .dedup import _DUCK_SIGS, MAX_BUCKET_SIZE

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
    )
    SELECT src AS doc_id,
           min(dst) AS cluster_id,
           (src = min(dst)) AS is_canonical
    FROM reach GROUP BY src
    """


@register(
    "dedup_clusters",
    oracle=_dedup_clusters_oracle(),
    doc="Near-dup cluster resolution: connected components over the "
        "MinHash-LSH candidate pairs via min-label propagation iterated to "
        "fixpoint (the DataFrame form of large-scale CC; converges in "
        "O(diameter) joins — near-dup clusters are tiny, so 2-4 rounds; "
        "the 10-round bound covers diameter <= 10, far beyond observed). "
        "Output: doc_id → canonical (minimum) doc of its cluster, keep "
        "flag for the canonical member. Value-checked against a DuckDB "
        "recursive-CTE transitive closure over the identical capped pairs.",
    tags=("pipeline", "dedup"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)  # (doc_a < doc_b)
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()  # reused every iteration; cut the LSH lineage
    # labels start as self; propagate min over neighbors until stable
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    # iterate UNTIL CONVERGED (r12 review fix): a fixed 10-round loop
    # silently returned un-converged labels for any component whose
    # diameter exceeds 10 — one true cluster split into two ids, two
    # is_canonical rows, a kept duplicate — while the oracle computes
    # the full transitive closure.  Convergence is already detected;
    # the round cap is now only a safety valve that FAILS LOUDLY
    # (consistent with the repo's loud-failure posture) instead of
    # shipping wrong labels.  Min-label propagation converges in
    # <= diameter rounds; 64 covers any plausible near-dup chain, and
    # the doubling rewrite is the documented escape hatch past it.
    max_rounds, converged = 64, False
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        nl = F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                nl.alias("label"),
                # convergence flag computed IN the round (optimization
                # r17): labels only decrease, so "some row changed" ==
                # "new != old" — the old exceptAll check re-shuffled
                # both label frames every round just to learn that
                (nl != F.col("label")).alias("_changed"),
            )
            # iterative algorithms must truncate lineage per round, or the
            # unrolled join tree grows unbounded (66 shuffles at 10 rounds).
            # eager=True (made explicit per ADVICE r12) materializes the
            # round's labels HERE, so the convergence probe and the next
            # round's join both read checkpointed blocks — per-round cost
            # is constant in round number, plan depth is O(1).
            .localCheckpoint(eager=True)
        )
        if new_labels.filter(F.col("_changed")).isEmpty():
            labels = new_labels.drop("_changed")
            converged = True
            break
        labels = new_labels.drop("_changed")
    if not converged:
        raise RuntimeError(
            "dedup_clusters: min-label propagation did not converge in "
            f"{max_rounds} rounds — a connected component has diameter "
            f"> {max_rounds}; switch to pointer-doubling (label = "
            "label-of-label per round, O(log diameter)) for this corpus"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


def _cluster_stats_oracle() -> str:
    """Cluster-size accounting over the same transitive closure the
    dedup_clusters oracle computes — grouped by cluster size, with the
    same MATERIALIZED CTEs."""
    from .dedup import _DUCK_SIGS, MAX_BUCKET_SIZE

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
    ), members AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    ), csize AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM members GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_droppable
    FROM csize GROUP BY cluster_size
    """


@register(
    "dedup_cluster_stats",
    oracle=_cluster_stats_oracle(),
    doc="Dedup accounting: near-dup cluster size histogram with the "
        "droppable-document count per size bucket — what an operator "
        "reads to predict corpus shrinkage before committing a delete "
        "list. One groupBy over the cluster labels (cluster count is "
        "bounded by corpus size; the histogram is tiny) on top of the "
        "iterative CC resolution.",
    tags=("pipeline", "dedup"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = dedup_clusters(spark, sf_dir)
    csize = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - F.lit(1))).alias("n_droppable"),
    )


# fixed-size overlapping token chunks: the context-window chunking step
# between cleaning and tokenizer sharding.  64-token chunks, stride 48
# (16-token overlap) — small enough that sf0.001 docs produce multi-
# chunk output, and the arithmetic is scale-free.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _chunk_oracle() -> str:
    from .dedup import _DUCK_TOKENS

    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    return f"""
    WITH feat AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM feat WHERE len(toks) > 0
    ), chunks AS (
      SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN n <= {c} THEN 0
                    ELSE CAST(ceil((n - {c}) / {s}.0) AS BIGINT) END)) AS cid
      FROM sized
    )
    SELECT doc_id,
           CAST(cid AS INTEGER) AS chunk_id,
           CAST(len(toks[cid * {s} + 1 : cid * {s} + {c}]) AS BIGINT) AS n_tokens,
           array_to_string(toks[cid * {s} + 1 : cid * {s} + {c}], ' ') AS chunk_text
    FROM chunks
    """


@register(
    "text_chunk_documents",
    oracle=_chunk_oracle(),
    doc=f"Context-window chunking: split each document into "
        f"{CHUNK_TOKENS}-token chunks with a {CHUNK_TOKENS - CHUNK_STRIDE}-"
        f"token overlap (stride {CHUNK_STRIDE}), the step that turns "
        f"cleaned documents into model-sized training rows. Map-only: "
        f"tokenize, explode a per-doc chunk-index sequence, slice the "
        f"token array — one scan, zero shuffles, output rows bounded by "
        f"total-tokens/stride. The final chunk may be short; empty docs "
        f"produce no chunks.",
    tags=("pipeline", "text"),
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", tokens(normalize_text(F.col("text"))).alias("toks")
    ).withColumn("n", F.size("toks"))
    t = t.filter(F.col("n") > 0).withColumn(
        "n_chunks",
        F.when(F.col("n") <= c, F.lit(1)).otherwise(
            F.ceil((F.col("n") - F.lit(c)) / F.lit(float(s))).cast("int") + 1
        ),
    )
    e = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    ctoks = F.slice(F.col("toks"), F.col("chunk_id") * s + 1, c)
    return e.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(ctoks).cast("bigint").alias("n_tokens"),
        F.array_join(ctoks, " ").alias("chunk_text"),
    )


@register(
    "dataset_split_assign",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source, {_DUCK_U16} % 100 AS bucket FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM assigned GROUP BY source, split
    """,
    doc="Deterministic 80/10/10 train/val/test assignment: doc_id "
        "md5-hashed into a 0-99 bucket — stable across runs, engines, "
        "cluster sizes, and INSERTIONS (a new doc never flips an "
        "existing doc's split, unlike rand() or row_number slicing). "
        "The per-(source, split) count report is the leakage audit a "
        "pipeline runs before training.  Map-only + one tiny "
        "aggregate shuffle.",
    tags=("pipeline", "sampling"),
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10
    ).cast("bigint")
    split = (
        F.when(u16 % 100 < 80, F.lit("train"))
        .when(u16 % 100 < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("doc_id", "source", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# Token budget for the planned training run and the sampling
# temperature.  T=2 (weight ∝ share^(1/T) = sqrt(share), renormalized)
# is the standard temperature-based mix that upsamples small sources
# without letting any source dominate (mT5/XLM-R style).  Both are
# compile-time constants shared with the oracle.
MIX_TOKEN_BUDGET = 10_000_000
MIX_TEMPERATURE = 2.0


@register(
    "dataset_token_budget_plan",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split(trim(regexp_replace(
                 lower(text), ' +', ' ', 'g')), ' '), t -> t <> ''))) AS BIGINT)
               AS avail_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(avail_tokens) AS total_tokens FROM per_source
    ), weighted AS (
      SELECT p.source, p.avail_tokens,
             p.avail_tokens * 1.0 / t.total_tokens AS share,
             sqrt(p.avail_tokens * 1.0 / t.total_tokens) AS w
      FROM per_source p CROSS JOIN tot t
    ), wsum AS (
      SELECT sum(w) AS sum_w FROM weighted
    )
    SELECT w.source,
           w.avail_tokens,
           floor(w.share * 1000000.0 + 0.5) / 1000000.0 AS share,
           floor((w.w / s.sum_w) * 1000000.0 + 0.5) / 1000000.0
             AS mix_weight,
           CAST(floor({MIX_TOKEN_BUDGET} * (w.w / s.sum_w) + 0.5) AS BIGINT)
             AS target_tokens,
           floor(({MIX_TOKEN_BUDGET} * (w.w / s.sum_w) / w.avail_tokens)
                 * 1000000.0 + 0.5) / 1000000.0 AS epochs
    FROM weighted w CROSS JOIN wsum s
    """,
    doc=f"Training-mix planning: per-source token inventory -> "
        f"temperature-T={MIX_TEMPERATURE} sampling weights (w ∝ "
        f"share^(1/T), renormalized — the mT5-style upsampling of small "
        f"sources) -> target token allocation against a "
        f"{MIX_TOKEN_BUDGET:,}-token budget and the implied epochs-per-"
        f"source (epochs > 1 flags sources the run will repeat).  "
        f"Plan shape: ONE corpus scan with map-side token counting "
        f"into a |sources|-row aggregate; the two renormalization "
        f"passes are crossJoins against 1-row broadcast totals — at "
        f"100 TB everything after the first aggregate touches only "
        f"|sources| rows.",
    tags=("pipeline", "sampling"),
)
def dataset_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(F.size(tokens(normalize_text(F.col("text")))))
        .cast("bigint")
        .alias("avail_tokens")
    )
    # the two renormalizations run as unpartitioned windows over the
    # per-source aggregate — PROVABLY BOUNDED input (|sources| rows:
    # 20 here, thousands at worst in production), so the single-
    # partition window is safe and the whole plan is ONE job with one
    # corpus shuffle, instead of the checkpoint-per-consumer chain
    w_all = Window.partitionBy(bounded_window_key("source"))
    total = F.sum("avail_tokens").over(w_all)
    share = F.col("avail_tokens") * F.lit(1.0) / total
    weighted = per_source.select(
        "source",
        "avail_tokens",
        share.alias("share"),
        F.sqrt(share).alias("w"),
    )
    norm_w = F.col("w") / F.sum("w").over(w_all)
    return weighted.select(
        "source",
        "avail_tokens",
        pround("share", 6).alias("share"),
        pround(norm_w, 6).alias("mix_weight"),
        F.floor(F.lit(MIX_TOKEN_BUDGET) * norm_w + F.lit(0.5))
        .cast("bigint")
        .alias("target_tokens"),
        pround(F.lit(MIX_TOKEN_BUDGET) * norm_w / F.col("avail_tokens"), 6).alias(
            "epochs"
        ),
    )


# 32-bit uniform from the md5 of the doc id — the SHARED cross-engine
# primitive (r12 review fix: this module carried a byte-identical
# private copy of functions/portable.duck_u32, which a future fix to
# the shared pair would silently miss); +1 below keeps it in
# [1, 2^32] so the priority division never sees zero.
_DUCK_U32 = duck_u32("CAST(doc_id AS VARCHAR)")

WEIGHTED_SAMPLE_K = 100


@register(
    "dataset_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars, priority FROM (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             CAST((CAST(n_chars AS BIGINT) * 4294967296)
                  // ({_DUCK_U32} + 1) AS BIGINT) AS priority,
             row_number() OVER (
               ORDER BY (CAST(n_chars AS BIGINT) * 4294967296)
                        // ({_DUCK_U32} + 1) DESC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= {WEIGHTED_SAMPLE_K}
    """,
    doc=f"Weight-proportional sampling without replacement (priority / "
        f"sequential-Poisson sampling, the distributed analogue of the "
        f"Efraimidis-Spirakis reservoir): each doc gets priority = "
        f"weight / u with u ~ U(0,1] hashed deterministically from its "
        f"id, and the global top-{WEIGHTED_SAMPLE_K} by priority IS the "
        f"weighted sample — longer docs (weight = n_chars) "
        f"proportionally more likely, yet fully reproducible across "
        f"runs, engines, and cluster sizes.  The arithmetic is EXACT "
        f"integer (weight * 2^32 div u32) — no float pow/log whose "
        f"last-ulp could differ between libms and flip a rank at the "
        f"selection boundary.  Scale shape: priority is map-only "
        f"column math; the global top-k is TakeOrdered (per-partition "
        f"top-k then a k-row driver merge) — no full sort, no single-"
        f"partition window, the same shape as sort_topk_global.",
    tags=("pipeline", "sampling"),
)
def dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u32 = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    prio = F.expr(
        "CAST((CAST(n_chars AS BIGINT) * 4294967296) div u32v AS BIGINT)"
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            u32.alias("u32v"),
        )
        .select("doc_id", "source", "n_chars", prio.alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
    )


# Morton interleave as portable SQL: bits are disjoint, so plain
# addition replaces bitwise OR and the expression runs anywhere.
def _duck_zkey(xcol: str, ycol: str, bits: int = 8) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({xcol} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({ycol} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


@register(
    "lineitem_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx,
             {_duck_zkey("(l_partkey % 256)", "(l_suppkey % 256)")} AS zkey
      FROM lineitem
    )
    SELECT CAST(zkey >> 10 AS BIGINT)  AS zbucket,
           CAST(count(*) AS BIGINT)    AS n_rows,
           CAST(min(px) AS BIGINT)     AS min_part,
           CAST(max(px) AS BIGINT)     AS max_part,
           CAST(min(sx) AS BIGINT)     AS min_supp,
           CAST(max(sx) AS BIGINT)     AS max_supp
    FROM keyed GROUP BY zbucket
    """,
    doc="Z-order (Morton) clustering-key layout report over lineitem: "
        "interleave the low 8 bits of the part and supplier bucket "
        "ids, then summarize each run of 1024 consecutive codes (a "
        "row-group stand-in).  The min/max columns PROVE the locality "
        "property the layout exists for: every bucket confines BOTH "
        "dimensions to an aligned 32-value range (asserted in "
        "test_scale_primitives), so a parquet file sorted by zkey "
        "prunes row groups for predicates on EITHER key — the "
        "multi-dimension data-skipping layout (Delta/Iceberg OPTIMIZE "
        "ZORDER) as a plain column expression.  Scale shape: the key "
        "is map-only JVM bit math fused into the scan; the report is "
        "ONE grouped agg on a 64-value key.  At 100 TB the real write "
        "is df.repartitionByRange(zkey).sortWithinPartitions(zkey) — "
        "this query is the audit that the layout holds.",
    tags=("pipeline", "layout", "scale"),
)
def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
    ).withColumn("zkey", zorder_key([F.col("px"), F.col("sx")]))
    return (
        keyed.groupBy(
            F.shiftright("zkey", 10).cast("bigint").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("px").cast("bigint").alias("min_part"),
            F.max("px").cast("bigint").alias("max_part"),
            F.min("sx").cast("bigint").alias("min_supp"),
            F.max("sx").cast("bigint").alias("max_supp"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-split leakage audit (round 9): dataset_split_assign hashes
# doc_id, so documents with identical content can legally land in
# different splits — exactly the eval contamination a dedup stage
# exists to prevent.  This measures what slipped through: for each
# (ref → eval) split pair in the train < val < test hierarchy, how
# many shared HEAD fingerprints (md5 of the first 8 normalized
# tokens — the shared-opening/boilerplate near-dup signal; whole-doc
# md5 has near-zero collisions on this corpus, see dedup_exact) the
# eval split shares with the ref split, and how many eval documents
# that taints.
# ---------------------------------------------------------------------------


@register(
    "split_leakage_report",
    oracle=f"""
    WITH assigned AS (
      SELECT md5(array_to_string(list_filter(string_split(trim(
               regexp_replace(lower(text), ' +', ' ', 'g')), ' '),
               t -> t <> '')[1:8], ' ')) AS fingerprint,
             CASE WHEN {_DUCK_U16} % 100 < 80 THEN 0
                  WHEN {_DUCK_U16} % 100 < 90 THEN 1
                  ELSE 2 END AS split_rank
      FROM documents
    ), fps AS (
      SELECT fingerprint, split_rank, CAST(count(*) AS BIGINT) AS n_docs
      FROM assigned GROUP BY fingerprint, split_rank
    )
    SELECT CASE e.split_rank WHEN 1 THEN 'val' ELSE 'test' END AS eval_split,
           CASE r.split_rank WHEN 0 THEN 'train' ELSE 'val' END AS ref_split,
           CAST(count(*) AS BIGINT)        AS n_shared_fingerprints,
           CAST(sum(e.n_docs) AS BIGINT)   AS n_contaminated_eval_docs
    FROM fps e JOIN fps r
      ON r.fingerprint = e.fingerprint AND r.split_rank < e.split_rank
    GROUP BY eval_split, ref_split
    """,
    doc="Cross-split contamination audit over dataset_split_assign's "
        "EXACT assignment (same md5-bucket hash) and an 8-token HEAD "
        "fingerprint (shared-opening near-dup): per (ref → eval) pair "
        "in the train < val "
        "< test hierarchy, the count of shared fingerprints and of "
        "tainted eval documents — the number the eval-dedup stage must "
        "drive to zero before a benchmark score means anything.  "
        "Scale: one map-only scan computes fingerprint + split, one "
        "partial-agg shuffle to (fingerprint, split) granularity, then "
        "a self equi-join on fingerprint whose per-key width is "
        "bounded by 3 splits; the report collapses to ≤3 rows.",
    tags=("pipeline", "dedup", "curation"),
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10
    ).cast("bigint")
    rank = (
        F.when(u16 % 100 < 80, F.lit(0))
        .when(u16 % 100 < 90, F.lit(1))
        .otherwise(F.lit(2))
    )
    fps = (
        d.select(
            F.md5(
                F.array_join(
                    F.slice(tokens(normalize_text(F.col("text"))), 1, 8), " "
                ).cast("binary")
            ).alias("fingerprint"),
            rank.alias("split_rank"),
        )
        .groupBy("fingerprint", "split_rank")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    e = fps.alias("e")
    r = fps.alias("r")
    name = lambda c: (  # noqa: E731
        F.when(c == 0, F.lit("train")).when(c == 1, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        e.join(
            r,
            (F.col("r.fingerprint") == F.col("e.fingerprint"))
            & (F.col("r.split_rank") < F.col("e.split_rank")),
        )
        .groupBy(
            name(F.col("e.split_rank")).alias("eval_split"),
            name(F.col("r.split_rank")).alias("ref_split"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_fingerprints"),
            F.sum("e.n_docs").cast("bigint").alias("n_contaminated_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# round 11: per-epoch deterministic shuffle plan
# ---------------------------------------------------------------------------

_EPOCHS = 4
_EPOCH_SHARDS = 64





@register(
    "dataset_epoch_shuffle_plan",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, e.e,
             {duck_u32("'ep' || CAST(e.e AS VARCHAR) || '_' || CAST(doc_id AS VARCHAR)")}
               % {_EPOCH_SHARDS} AS shard
      FROM documents
      CROSS JOIN (SELECT CAST(unnest(generate_series(0, {_EPOCHS - 1})) AS INTEGER) AS e) e
    ), s0 AS (
      SELECT doc_id, shard AS shard0 FROM s WHERE e = 0
    ), loads AS (
      SELECT e, shard, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY e, shard
    ), per_epoch AS (
      SELECT e, CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS shards_used,
             CAST(min(c) AS BIGINT) AS min_load,
             CAST(max(c) AS BIGINT) AS max_load,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM loads GROUP BY e
    ), coin AS (
      SELECT s.e, CAST(sum(CASE WHEN s.shard = s0.shard0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_same
      FROM s JOIN s0 USING (doc_id) GROUP BY s.e
    )
    SELECT p.e AS epoch, p.n_docs, p.shards_used, p.min_load, p.max_load,
           floor((p.max_load * {_EPOCH_SHARDS}.0 / p.n_docs) * 1000000.0 + 0.5)
             / 1000000.0 AS imbalance,
           floor(({_EPOCH_SHARDS}.0 / p.n_docs * p.sum_c2 - p.n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2_uniformity,
           floor((c.n_same * 1.0 / p.n_docs) * 1000000.0 + 0.5) / 1000000.0
             AS same_shard_as_epoch0
    FROM per_epoch p JOIN coin c ON c.e = p.e
    """,
    doc=f"Deterministic per-epoch shuffle plan: every document's shard "
        f"for epochs 0..{_EPOCHS - 1} is md5(epoch, doc_id) mod "
        f"{_EPOCH_SHARDS} — the hash-reshuffle that gives each training "
        "epoch a fresh data order WITHOUT materializing a permutation "
        "(resumable mid-epoch from (epoch, shard) alone; the "
        "tf.data/torchdata seed-per-epoch idiom as a table).  The plan "
        "is AUDITED, not assumed: per epoch, shard-load min/max, "
        "imbalance = max_load/(n/shards), the chi-square uniformity "
        "statistic (shards/n * sum(c^2) - n, exact-int inputs), and "
        "the share of docs landing on their epoch-0 shard (must sit "
        f"near 1/{_EPOCH_SHARDS} — epochs genuinely decorrelate, the "
        "thing a broken seed silently fails at).  Scale shape: the "
        f"{_EPOCHS}-fold epoch explode is map-side, one "
        f"(epoch, shard) partial agg to {_EPOCHS}x{_EPOCH_SHARDS} "
        "cells; the epoch-0 coincidence join is per-doc but "
        "hash-equi-partitioned on doc_id.",
    tags=("pipeline", "curation"),
)
def dataset_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    s = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_EPOCHS - 1))).alias("e"),
    ).select(
        "doc_id",
        F.col("e").cast("int").alias("e"),
        F.pmod(
            spark_u32(
                F.concat(
                    F.lit("ep"),
                    F.col("e").cast("string"),
                    F.lit("_"),
                    F.col("doc_id").cast("string"),
                )
            ),
            F.lit(_EPOCH_SHARDS),
        ).alias("shard"),
    ).localCheckpoint(eager=False)
    s0 = s.filter(F.col("e") == 0).select("doc_id", F.col("shard").alias("shard0"))
    loads = s.groupBy("e", "shard").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per_epoch = loads.groupBy("e").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("shards_used"),
        F.min("c").cast("bigint").alias("min_load"),
        F.max("c").cast("bigint").alias("max_load"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    coin = (
        s.join(s0, "doc_id")
        .groupBy("e")
        .agg(
            F.sum((F.col("shard") == F.col("shard0")).cast("bigint"))
            .cast("bigint")
            .alias("n_same")
        )
    )
    return (
        per_epoch.join(coin, "e")
        .select(
            F.col("e").alias("epoch"),
            "n_docs",
            "shards_used",
            "min_load",
            "max_load",
            pround(
                F.col("max_load") * F.lit(float(_EPOCH_SHARDS)) / F.col("n_docs"), 6
            ).alias("imbalance"),
            pround(
                F.lit(float(_EPOCH_SHARDS)) / F.col("n_docs") * F.col("sum_c2")
                - F.col("n_docs"),
                6,
            ).alias("chi2_uniformity"),
            pround(F.col("n_same") * F.lit(1.0) / F.col("n_docs"), 6).alias(
                "same_shard_as_epoch0"
            ),
        )
    )


# ---------------------------------------------------------------------------
# round 11: Horvitz-Thompson estimator audit for the sampling tier
# ---------------------------------------------------------------------------

# inclusion scale: pi_i = min(1, n_chars / _HT_SCALE) — size-biased
# Poisson sampling (longer docs likelier), one exact-integer constant
_HT_SCALE = 2000
_TWO_33 = 8_589_934_592  # 2^33

# DuckDB twins of the tokenizer (the canonical functions.textfns
# fragment — r12 review fix, same alias-not-copy rationale as
# _DUCK_U32) and the op's md5 uniform
_HT_DUCK_TOKENS = DUCK_TOKENS

_HT_DUCK_U32 = duck_u32("'ht_' || CAST(doc_id AS VARCHAR)")


@register(
    "dataset_ht_estimator_check",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(n_chars AS BIGINT) AS chars,
             CAST(len({_HT_DUCK_TOKENS}) AS BIGINT) AS toks,
             {_HT_DUCK_U32} AS u32
      FROM documents
    ), marked AS (
      SELECT *,
             (chars >= {_HT_SCALE}
              OR (2 * u32 + 1) * {_HT_SCALE} < chars * {_TWO_33}) AS sampled
      FROM base
    ), est AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_population,
        CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        CAST(sum(toks) AS BIGINT) AS true_total_tokens,
        CAST(sum(CASE WHEN sampled THEN
              CASE WHEN chars >= {_HT_SCALE} THEN toks * 1000000
                   ELSE (toks * {_HT_SCALE} * 1000000) // chars END
             ELSE 0 END) AS BIGINT) AS ht_e6,
        CAST(sum(CASE WHEN sampled AND chars < {_HT_SCALE} THEN
              (toks * toks * {_HT_SCALE} * ({_HT_SCALE} - chars) * 1000)
                // (chars * chars)
             ELSE 0 END) AS BIGINT) AS var_e3
      FROM marked
    )
    SELECT n_population, n_sampled, true_total_tokens,
           floor((ht_e6 * 1.0 / 1000000.0) * 100.0 + 0.5) / 100.0
             AS ht_estimate,
           floor(((ht_e6 * 1.0 / 1000000.0 - true_total_tokens)
                  / true_total_tokens) * 1000000.0 + 0.5) / 1000000.0
             AS rel_error,
           floor(sqrt(var_e3 * 1.0 / 1000.0) * 100.0 + 0.5) / 100.0 AS ht_se,
           abs(ht_e6 * 1.0 / 1000000.0 - true_total_tokens)
             <= 2.0 * sqrt(var_e3 * 1.0 / 1000.0) AS within_2se
    FROM est
    """,
    doc="Horvitz-Thompson estimator audit for the sampling tier: docs "
        "enter a Poisson sample with size-proportional inclusion "
        "pi = min(1, n_chars/2000) (deterministic md5 uniform, the "
        "sampler idiom), and the sampled docs' token counts are "
        "inverse-probability weighted to estimate the CORPUS total "
        "tokens — the unbiasedness check every weighted-sampling "
        "pipeline owes its consumers, plus the HT variance estimate "
        "sum(t_i^2 (1-pi_i)/pi_i^2) and a within-2-SE verdict.  Every "
        "sum is quantized to exact integers BEFORE aggregation "
        "(tokens*scale*1e6 div chars), so both engines sum identical "
        "int64 terms in any order — the inclusion test itself is the "
        "exact cross-multiplication (2u+1)*scale < chars*2^33, no "
        "float ever compared.  At 100 TB this is how you audit a "
        "sampled dry-run against the full-corpus number it predicts.  "
        "Scale shape: map-only marking + one 1-row aggregate.",
    tags=("pipeline", "sampling", "stats"),
)
def dataset_ht_estimator_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u32 = spark_u32(F.concat(F.lit("ht_"), F.col("doc_id").cast("string")))
    base = d.select(
        F.col("n_chars").cast("bigint").alias("chars"),
        F.size(tokens(normalize_text(F.col("text")))).cast("bigint").alias("toks"),
        u32.alias("u32"),
    )
    sampled = (F.col("chars") >= _HT_SCALE) | (
        (2 * F.col("u32") + 1) * _HT_SCALE < F.col("chars") * F.lit(_TWO_33)
    )
    ht_term = F.when(
        sampled,
        F.when(
            F.col("chars") >= _HT_SCALE, F.col("toks") * F.lit(1_000_000)
        ).otherwise(
            F.expr(f"(toks * {_HT_SCALE} * 1000000) div chars")
        ),
    ).otherwise(F.lit(0))
    var_term = F.when(
        sampled & (F.col("chars") < _HT_SCALE),
        F.expr(
            f"(toks * toks * {_HT_SCALE} * ({_HT_SCALE} - chars) * 1000) "
            "div (chars * chars)"
        ),
    ).otherwise(F.lit(0))
    est = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_population"),
        F.sum(sampled.cast("bigint")).cast("bigint").alias("n_sampled"),
        F.sum("toks").cast("bigint").alias("true_total_tokens"),
        F.sum(ht_term).cast("bigint").alias("ht_e6"),
        F.sum(var_term).cast("bigint").alias("var_e3"),
        # map-side-combinable inputs for the headroom guard below
        F.max(F.abs(ht_term)).cast("bigint").alias("_max_ht"),
        F.max(F.abs(var_term)).cast("bigint").alias("_max_var"),
    )
    ht = F.col("ht_e6") * F.lit(1.0) / F.lit(1_000_000.0)
    se = F.sqrt(F.col("var_e3") * F.lit(1.0) / F.lit(1000.0))
    # int64 headroom (r12 review fix): sum(toks * 1e6) crosses 2^63 at
    # ~9.2e12 corpus tokens — inside the op's own claimed 100 TB
    # operating point — and ANSI aborts mid-aggregate depending on
    # partial-sum order.  The guard turns the bound into a loud
    # deterministic failure naming the decimal(38,0) escape hatch.
    ht_guarded = int64_headroom_guard(
        ht, F.col("_max_ht"), F.col("n_population"),
        "dataset_ht_estimator_check ht_e6 sum",
    )
    se = int64_headroom_guard(
        se, F.col("_max_var"), F.col("n_population"),
        "dataset_ht_estimator_check var_e3 sum",
    )
    return est.select(
        "n_population",
        "n_sampled",
        "true_total_tokens",
        pround(ht_guarded, 2).alias("ht_estimate"),
        pround(
            (ht - F.col("true_total_tokens")) / F.col("true_total_tokens"), 6
        ).alias("rel_error"),
        pround(se, 2).alias("ht_se"),
        (F.abs(ht - F.col("true_total_tokens")) <= F.lit(2.0) * se).alias(
            "within_2se"
        ),
    )

