"""Deduplication operators (SURVEY.md §2.8 — mandated extension surface).

Large-scale training-data dedup over the `documents` table:

- exact dedup         — normalized-text fingerprint groupBy (hash agg)
- n-gram Jaccard      — exact shingle-overlap similarity, inverted-index
                        join (only pairs sharing ≥1 shingle materialize)
- MinHash + LSH       — the 100 TB path: 12 permutations → 4 bands × 3
                        rows; candidate pairs via band-bucket equi-join
- SimHash             — 32-bit signature per doc, near-dups collide

Portability contract: all hashing derives from `md5` hex (identical in
Spark / DuckDB / Python); MinHash permutations are affine maps
`(a·h32 + b) mod p` over the 32-bit md5 prefix — exact integer
arithmetic both engines reproduce bit-for-bit — so every operator here
has an exact DuckDB oracle, value-checked, not just row-counted.

Scale notes: nothing here does an all-pairs cross join.  The Jaccard
join is inverted-index-pruned AND document-frequency-capped: shingles
appearing in more than MAX_SHINGLE_DF documents (stopword-like
boilerplate) are dropped before the self-join, bounding any one
shingle's contribution to df² pairs.  MinHash-LSH band buckets larger
than MAX_BUCKET_SIZE are likewise dropped before the bucket self-join
(a bucket that hot is mass-duplicated boilerplate; exact dedup handles
it far cheaper).  Both caps are mirrored verbatim in the DuckDB
oracles, so the operators stay value-checked WITH the caps in the
plan.  At the test SFs the organic maxima (df 25, bucket ≲ 10 at
sf0.1) sit far below the caps, so the caps only fire on genuinely
pathological keys — `tests/test_quality.py` proves they fire on
synthetic hot-key corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import DUCK_TOKENS, normalize_text, shingles, tokens
from ..functions.portable import pround
from ..functions.scale import bounded_window_key, plan_parallelism
from ..registry import register
from ..sources.catalog import load_table

N_PERM = 12
BAND_ROWS = 3
N_BANDS = N_PERM // BAND_ROWS  # 4 bands of 3 rows → s-curve threshold ≈ 0.63

# Hot-key frequency caps (see module docstring).  Both are far above the
# organic maxima at the test SFs, so they bound the worst case without
# changing results on non-pathological data.
MAX_SHINGLE_DF = 64     # drop shingles present in > this many documents
MAX_BUCKET_SIZE = 64    # drop LSH band-buckets holding > this many docs

# DuckDB-side building blocks (mirror functions/textfns.py exactly)
_DUCK_TOKENS = DUCK_TOKENS  # canonical fragment from functions.textfns (r12)
_DUCK_SHINGLES = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_DUCK_TOKENS}) - 2, 0)), "
    f"i -> array_to_string({_DUCK_TOKENS}[i:i+2], ' ')))"
)


def _documents_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the cluster BEFORE the explode-heavy
    work.  A small parquet file arrives as one input split, but the
    shingle explosion multiplies rows ~100×: repartition first so the
    hashing runs on every core (the classic 'small input, heavy
    per-row compute' repartition)."""
    d = load_table(spark, sf_dir, "documents")
    return d.repartition(plan_parallelism(spark), "doc_id")


def shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded distinct 3-word shingles of a documents
    DataFrame (injectable for tests).

    Tokens are bound to a column before `shingles()` — its transform
    lambda slices the token array per element, and a lambda over an
    expression subtree re-evaluates the subtree per element (same trap
    as text_winnowing_fingerprints; column attributes evaluate once)."""
    toks = docs.select("doc_id", tokens(normalize_text(F.col("text"))).alias("tk"))
    return toks.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("tk")))).alias("shingle")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(_documents_parallel(spark, sf_dir))


def cap_shingle_df(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds `max_df`.

    The hot set (shingles above the cap) is by construction tiny — it is
    broadcast and removed with a left-anti join, so the mitigation itself
    adds no extra shuffle of the big table beyond the df aggregation.
    A shingle with df = d contributes O(d²) candidate pairs to the
    inverted-index self-join; capping df bounds any single shingle's
    contribution to MAX_SHINGLE_DF² regardless of corpus size."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def cap_hot_buckets(
    bands: DataFrame, max_size: int = MAX_BUCKET_SIZE, distinct: bool = False
) -> DataFrame:
    """Drop LSH band-buckets holding more than `max_size` documents.

    A bucket of size n yields n·(n-1)/2 candidate pairs; one
    mass-duplicated boilerplate bucket at 100 TB would otherwise emit
    billions of pairs through the self-join.  Docs that hot are exact or
    near-exact duplicates — `dedup_exact` already catches them at hash
    cost.  The hot-bucket set is tiny → broadcast left-anti join.

    `distinct=True` counts DISTINCT doc_ids instead of rows (round-16
    review): the fuzzy signature STORE can legitimately hold duplicate
    rows after a crash-interrupted compaction, and raw row counts
    would push buckets with > max_size/2 genuine docs over the cap —
    silently dropping them from every future probe.  Batch callers
    keep the row count (their bands are unique per (doc, band) by
    construction, and the distinct agg would add a shuffle to every
    registered dedup plan for no semantic change)."""
    n = F.countDistinct("doc_id") if distinct else F.count("*")
    hot = (
        bands.groupBy("band_id", "bucket")
        .agg(n.alias("n"))
        .filter(F.col("n") > max_size)
        .select("band_id", "bucket")
    )
    return bands.join(F.broadcast(hot), ["band_id", "bucket"], "left_anti")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint,
           (doc_id = min(doc_id) OVER (PARTITION BY fingerprint)) AS is_kept,
           count(*) OVER (PARTITION BY fingerprint) AS group_size
    FROM fp
    """,
    doc="Exact dedup by normalized-text fingerprint: hash-groupBy keeps the "
        "min doc_id per group. At 100 TB this is one shuffle on a 32-char "
        "key — the cheapest dedup tier, always run before fuzzy tiers.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5(normalize_text(F.col("text")).cast("binary")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id",
        "fingerprint",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_kept"),
        F.count("*").over(w).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact fuzzy-dedup ground truth)
# ---------------------------------------------------------------------------

@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shing0 AS MATERIALIZED (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), freq AS (
      SELECT shingle, count(*) AS df FROM shing0 GROUP BY shingle
    ), shing AS MATERIALIZED (
      SELECT s.doc_id, s.shingle FROM shing0 s JOIN freq USING (shingle)
      WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor((n_common / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n + sb.n - n_common) >= 0.8
    """,
    doc="Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.8) via "
        "inverted-index self-join — only pairs sharing ≥1 shingle are "
        "materialized (11.5k of 125k possible pairs at sf0.01), with a "
        f"document-frequency cap (df > {MAX_SHINGLE_DF} dropped, mirrored "
        "in the oracle) bounding hot-shingle blowup. Ground truth for the "
        "MinHash recall test.",
    tags=("dedup",),
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, shingle_df: DataFrame | None = None
) -> DataFrame:
    # Materialize the RAW shingle table once (localCheckpoint),
    # BEFORE the df cap: the cap itself needs two reads of the shingles
    # (the df aggregation + the anti-join probe), and checkpointing after
    # the cap would run the tokenize+shingle explosion — the expensive
    # part — twice.  From the checkpointed blocks, the cap's df agg and
    # the three downstream consumers (sizes + both join sides) are all
    # cheap re-scans; the broadcast anti-join is map-only.
    # localCheckpoint (not persist) so the blocks are reclaimed by the
    # ContextCleaner when the result is dropped — the driver runs ~90
    # queries in one session and an unreleased persist() accumulates
    # across all of them.  Lazy (eager=False): the df aggregation job
    # materializes it as a side effect instead of a dedicated serial
    # barrier job — though with AQE on (the engine default) the call
    # still runs any shuffle map stages below it as a job.  At 100 TB
    # the equivalent is materializing the inverted index to parquet
    # once and reusing it across dedup tiers.
    sh = cap_shingle_df(
        shingle_df
        if shingle_df is not None
        else _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", pround(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH shing0 AS MATERIALIZED (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), freq AS (
      SELECT shingle, count(*) AS df FROM shing0 GROUP BY shingle
    ), shing AS MATERIALIZED (
      SELECT s.doc_id, s.shingle FROM shing0 s JOIN freq USING (shingle)
      WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           floor((CAST(n_common AS DOUBLE) / sa.n) * 10000.0 + 0.5) / 10000.0 AS containment_a,
           floor((CAST(n_common AS DOUBLE) / sb.n) * 10000.0 + 0.5) / 10000.0 AS containment_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / sa.n >= 0.9
       OR CAST(n_common AS DOUBLE) / sb.n >= 0.9
    """,
    doc="Asymmetric shingle containment |A∩B|/|A| (threshold 0.9 on "
        "either side): catches SUB-document duplication — quotes, "
        "templated wrappers, one doc embedded in another — that "
        "symmetric Jaccard misses when the containing doc is much "
        "larger. Same df-capped inverted-index plan as "
        "dedup_ngram_jaccard; only the final arithmetic differs.",
    tags=("dedup",),
)
def dedup_containment(
    spark: SparkSession, sf_dir: str, shingle_df: DataFrame | None = None
) -> DataFrame:
    sh = cap_shingle_df(
        shingle_df
        if shingle_df is not None
        else _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    ca = F.col("n_common").cast("double") / F.col("sa.n")
    cb = F.col("n_common").cast("double") / F.col("sb.n")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter((ca >= 0.9) | (cb >= 0.9))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            pround(ca, 4).alias("containment_a"),
            pround(cb, 4).alias("containment_b"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------

# affine permutation constants (deterministic; odd multipliers) over a
# 32-bit base hash, mod a prime just under 2^32 — products stay < 2^63
_MH_PRIME = 4294967291
_MH_COEFFS = [(2 * i * i + 2 * i + 1, 7919 * (i + 1)) for i in range(N_PERM)]


def _minhash_signatures(
    spark: SparkSession, sf_dir: str, shingle_df: DataFrame | None = None
) -> DataFrame:
    """(doc_id, s0..s11): min over shingles of affine permutations of a
    single 32-bit md5-prefix hash — ONE md5 per (doc, shingle), twelve
    multiply-mods, and no 12× row explosion before the shuffle (the
    previous seed-cross-join pushed N_PERM× rows through the exchange).
    `shingle_df` lets a composing report inject ONE shared
    (checkpointed) shingle table instead of re-exploding the corpus.
    """
    sh = shingle_df if shingle_df is not None else _doc_shingles(spark, sf_dir)
    h32 = F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 8), 16, 10).cast("bigint")
    hashed = sh.select("doc_id", h32.alias("h"))
    aggs = [
        F.min((F.col("h") * a + b) % _MH_PRIME).alias(f"s{i}")
        for i, (a, b) in enumerate(_MH_COEFFS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def _band_expr(band: int) -> F.Column:
    cols = [F.col(f"s{band * BAND_ROWS + r}") for r in range(BAND_ROWS)]
    return F.md5(F.concat_ws(",", *cols).cast("binary"))


# 32-bit value of the first 8 hex digits of md5(shingle), digit-wise
_DUCK_H32 = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(shingle), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

_DUCK_SIGS = f"""
    shing AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), hashed AS (
      SELECT doc_id, {_DUCK_H32} AS h FROM shing
    ), sigs AS (
      SELECT doc_id,
             {", ".join(f"min((h * {a} + {b}) % {_MH_PRIME}) AS s{i}" for i, (a, b) in enumerate(_MH_COEFFS))}
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, band_id, md5(band_key) AS bucket FROM (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            f"concat_ws(',', {', '.join(f's{b * BAND_ROWS + r}' for r in range(BAND_ROWS))}) AS band_key "
            f"FROM sigs"
            for b in range(N_BANDS)
        )}
      )
    )
"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_SIGS},
    bucket_sizes AS MATERIALIZED (
      SELECT band_id, bucket, count(*) AS n FROM bands GROUP BY band_id, bucket
    ), capped AS MATERIALIZED (
      SELECT b.doc_id, b.band_id, b.bucket
      FROM bands b JOIN bucket_sizes s USING (band_id, bucket)
      WHERE s.n <= {MAX_BUCKET_SIZE}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH candidate pairs: 12 portable-md5 permutations, 4 bands "
        "× 3 rows (s-curve threshold ≈ 0.63), pairs sharing any band bucket. "
        "THE fuzzy-dedup plan that survives 100 TB: cost is O(docs×perms) + "
        "a band-bucket equi-join with hot buckets frequency-capped "
        f"(> {MAX_BUCKET_SIZE} docs dropped, mirrored in the oracle) so no "
        "bucket contributes more than MAX_BUCKET_SIZE² pairs. Recall vs "
        "exact Jaccard asserted in tests.",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, shingle_df: DataFrame | None = None
) -> DataFrame:
    # Checkpoint the SIGNATURE table, not the exploded band table: sigs
    # is the top of the expensive subtree (shingle explosion + 12
    # min-aggs) at one row per doc — 4× smaller than bands — and the
    # band derivation below it is four md5-of-concat projections the
    # consumers re-derive for free.  Lazy (eager=False): the first job
    # that touches it (the hot-bucket agg) materializes it as a side
    # effect, so there is no dedicated barrier job for the final stage
    # — that barrier was ~1s of the round-2 bench regression.  With
    # AQE on (the engine default) the call still runs the min-agg's
    # shuffle map stage as a job.  localCheckpoint (not persist):
    # blocks are GC-reclaimed after the driver drops the result (see
    # dedup_ngram_jaccard for the rationale).
    sigs = _minhash_signatures(spark, sf_dir, shingle_df).localCheckpoint(
        eager=False
    )
    # single pass: explode one array of (band_id, bucket) structs rather
    # than a 4-way union that recomputes the signature subtree per band
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_expr(b).alias("bucket"))
            for b in range(N_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band_id", "bb.bucket"
    )
    capped = cap_hot_buckets(bands)
    a = capped.alias("a")
    b_ = capped.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_DUCK_SIGS}
    SELECT doc_id, s0, s3, s7, s11 FROM sigs
    """,
    doc="MinHash signature vectors themselves (4 of 12 components projected) "
        "— value-level check that the permutation hashing is exact.",
    tags=("dedup", "lsh"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signatures(spark, sf_dir).select("doc_id", "s0", "s3", "s7", "s11")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def _duck_simhash_sql() -> str:
    # bit b lives in hex digit b//4 (1-based substr), bit (3 - b%4) within it
    bit_cols = ", ".join(
        f"sum(CASE WHEN (CAST(floor((strpos('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1) "
        f"/ {2 ** (3 - b % 4)}) AS BIGINT) % 2) = 1 THEN 1 ELSE -1 END) AS w{b}"
        for b in range(_SIMHASH_BITS)
    )
    simhash = " + ".join(f"(CASE WHEN w{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(_SIMHASH_BITS))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), hashed AS (
      SELECT doc_id, md5(tok) AS h FROM toks
    ), bits AS (
      SELECT doc_id, {bit_cols} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM bits
    """


@register(
    "dedup_simhash",
    oracle=_duck_simhash_sql(),
    doc="32-bit SimHash per document: per-token md5, majority vote per bit "
        "position over all token occurrences. Near-dups land on equal (or "
        "Hamming-close) signatures; signature computation is one explode + "
        "one hash-agg — linear, shuffle only on doc_id.",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents_parallel(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("tok"))
    # one hex→int conversion per token; bit b of the 8-hex-digit prefix
    # is (v >> (31 - b)) & 1 (digit b//4 holds bit 3 - b%4; the oracle
    # does the same arithmetic digit-wise via strpos)
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("v"),
    )
    bit_aggs = []
    for b in range(_SIMHASH_BITS):
        bit = F.shiftright(F.col("v"), 31 - b).bitwiseAND(F.lit(1))
        bit_aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"w{b}"))
    bits = hashed.groupBy("doc_id").agg(*bit_aggs)
    simhash = None
    for b in range(_SIMHASH_BITS):
        term = F.when(F.col(f"w{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register(
    "text_shingle_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), firsts AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY shingle) AS first_doc
      FROM sh
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen_before,
           floor(CAST(sum(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
             AS seen_frac
    FROM firsts GROUP BY doc_id
    """,
    doc="Per-document shingle novelty: the fraction of each document's "
        "distinct 3-gram shingles already present in an EARLIER "
        "document (by doc_id — ingestion order).  The curation metric "
        "behind 'how much new content does this batch add' and the "
        "soft-dedup threshold between keep/drop — complements the "
        "pairwise Jaccard tiers by scoring docs against the whole "
        "preceding corpus, not a candidate pair.  Scale shape: "
        "min(doc_id) per shingle runs as a grouped AGGREGATE, not a "
        "shingle-partitioned window — partial map-side combine "
        "collapses a corpus-frequent shingle to one row per task, "
        "where a window would sort that shingle's entire occurrence "
        "list inside one un-splittable partition.  The exploded "
        "shingle table is checkpointed once (dedup-tier idiom) so "
        "the agg and the join-back probe share one tokenize pass; "
        "residual probe-side skew on hot shingles is AQE skew-join "
        "territory.  No candidate-pair explosion anywhere.",
    tags=("dedup", "text", "agg"),
)
def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    flagged = sh.join(firsts, "shingle").withColumn(
        "seen", (F.col("first_doc") < F.col("doc_id")).cast("int")
    )
    n_seen = F.sum("seen")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        n_seen.cast("bigint").alias("n_seen_before"),
        pround(n_seen.cast("double") / F.count(F.lit(1)), 6).alias("seen_frac"),
    )


@register(
    "source_ngram_overlap",
    oracle=f"""
    WITH src_sh AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
      )
    ), tot AS (
      SELECT source, count(*) AS n FROM src_sh GROUP BY source
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS shared
      FROM src_sh a JOIN src_sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b,
           CAST(p.shared AS BIGINT) AS n_shared,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           floor(CAST(p.shared AS DOUBLE) / (ta.n + tb.n - p.shared)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM pairs p
    JOIN tot ta ON ta.source = p.source_a
    JOIN tot tb ON tb.source = p.source_b
    """,
    doc="Cross-source shingle-overlap matrix: pairwise Jaccard between "
        "each source's distinct 3-gram shingle set — the train/test "
        "leakage diagnostic run at SOURCE granularity before choosing "
        "a dataset mix (complements benchmark_contamination, which "
        "checks one eval set against the corpus).  Scale shape: the "
        "(source, shingle) distinct aggregate is the one corpus-sized "
        "shuffle (map-side combine); the self-join's per-shingle blow-"
        "up is bounded by |sources|^2 — a constant — so no frequency "
        "cap is needed, unlike the doc-granular inverted index; the "
        "checkpointed distinct table feeds all three consumers "
        "(totals + both join sides) without re-tokenizing; totals "
        "broadcast (|sources| rows).",
    tags=("dedup", "text", "join"),
)
def source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents_parallel(spark, sf_dir)
    toks = docs.select("source", tokens(normalize_text(F.col("text"))).alias("tk"))
    src_sh = (
        toks.select(
            "source", F.explode(F.array_distinct(shingles(F.col("tk")))).alias("shingle")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    tot = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = src_sh.select(F.col("source").alias("source_a"), "shingle")
    b = src_sh.select(F.col("source").alias("source_b"), "shingle")
    pairs = (
        a.join(b, ["shingle"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            pround(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage (round 9): match dirty entity mentions against a
# canonical dictionary with BLOCKED edit distance — the entity-
# resolution primitive (dirty vendor names → master catalog) beside the
# document-level fuzzy dedup above.  Never all-pairs: candidates come
# from a (3-char-prefix, ±1 length) blocking join against the DISTINCT
# name dictionary, and levenshtein runs only inside blocks.
# ---------------------------------------------------------------------------

_LINK_MAX_DIST = 1


@register(
    "part_fuzzy_linkage_blocked",
    oracle=f"""
    WITH dict AS (
      SELECT DISTINCT p_name FROM part
    ), mentions AS (
      -- deterministic dirt: delete ONE character at position
      -- 4 + (p_partkey mod (len-3)) — past the 3-char block prefix,
      -- so the blocking key survives the corruption
      SELECT p_partkey,
             substr(p_name, 1, 3 + (p_partkey % (length(p_name) - 3)))
             || substr(p_name, 5 + (p_partkey % (length(p_name) - 3)))
               AS mention
      FROM part
    ), cand AS (
      SELECT m.p_partkey, m.mention, d.p_name AS matched_name,
             levenshtein(m.mention, d.p_name) AS distance
      FROM mentions m
      JOIN dict d
        ON substr(d.p_name, 1, 3) = substr(m.mention, 1, 3)
       AND abs(length(d.p_name) - length(m.mention)) <= 1
      WHERE levenshtein(m.mention, d.p_name) <= {_LINK_MAX_DIST}
    )
    SELECT p_partkey, mention, matched_name,
           CAST(distance AS INTEGER) AS distance,
           CAST(n_candidates AS BIGINT) AS n_candidates
    FROM (
      SELECT *,
             CAST(count(*) OVER (PARTITION BY p_partkey) AS BIGINT)
               AS n_candidates,
             row_number() OVER (PARTITION BY p_partkey
                                ORDER BY distance, matched_name) AS rn
      FROM cand
    ) WHERE rn = 1
    """,
    doc="Blocked fuzzy record linkage: every part name is "
        "deterministically corrupted by one character deletion (past "
        "the block prefix), then linked back to the DISTINCT canonical "
        "name dictionary via a (3-char prefix, ±1 length) blocking "
        f"equi-join + levenshtein ≤ {_LINK_MAX_DIST}, best match = "
        "(distance, name) minimum per mention.  The entity-resolution "
        "shape for 100 TB: the dictionary broadcasts (it is the "
        "distinct catalog, not the fact table), candidates are bounded "
        "per block so edit distance never runs all-pairs, and the "
        "best-match window partitions on the mention key with "
        "block-bounded partitions.  Exact: levenshtein is integer and "
        "identically defined in both engines; the winner has a "
        "(distance, name) total order.",
    tags=("dedup", "linkage"),
)
def part_fuzzy_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    dict_ = p.select("p_name").distinct()
    cut = 3 + F.col("p_partkey") % (F.length("p_name") - 3)
    mentions = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name").substr(F.lit(1), cut),
            F.col("p_name").substr(cut + 2, F.length("p_name")),
        ).alias("mention"),
    )
    cand = (
        mentions.join(
            F.broadcast(dict_),
            (F.substring(F.col("p_name"), 1, 3) == F.substring(F.col("mention"), 1, 3))
            & (
                F.abs(F.length("p_name") - F.length("mention")) <= 1
            ),
        )
        .withColumn("distance", F.levenshtein("mention", "p_name"))
        .filter(F.col("distance") <= _LINK_MAX_DIST)
        .select(
            "p_partkey",
            "mention",
            F.col("p_name").alias("matched_name"),
            F.col("distance").cast("int").alias("distance"),
        )
    )
    wp = Window.partitionBy("p_partkey")
    wr = wp.orderBy("distance", "matched_name")
    return (
        cand.withColumn("n_candidates", F.count(F.lit(1)).over(wp).cast("bigint"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "mention", "matched_name", "distance", "n_candidates")
    )


# ---------------------------------------------------------------------------
# survivorship policy (quality-based canonical selection)
# ---------------------------------------------------------------------------

@register(
    "dedup_survivorship_policy",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint
      FROM documents
    ), ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY fingerprint
                                ORDER BY n_chars DESC, doc_id) AS rk,
             min(doc_id) OVER (PARTITION BY fingerprint) AS naive_id
      FROM fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE rk > 1) AS BIGINT) AS n_dropped,
           CAST(count(*) FILTER (WHERE rk = 1 AND doc_id <> naive_id) AS BIGINT)
             AS n_policy_swaps
    FROM ranked GROUP BY source
    """,
    doc="Survivorship policy for exact-duplicate clusters: instead of "
        "dedup_exact's keep-min-doc_id, keep the LONGEST member "
        "(n_chars desc, doc_id tiebreak) — the keep-richest-record rule "
        "real curation pipelines apply when near-identical crawls differ "
        "in truncation.  Reports per-source kept/dropped counts plus "
        "n_policy_swaps: clusters whose survivor changed vs the naive "
        "min-id rule, i.e. the audit of what the policy actually did.  "
        "Scale shape: one shuffle on the 32-char fingerprint; both "
        "window frames are per-cluster (bounded by duplicate-group "
        "size, never global); the per-source rollup is a map-side-"
        "partial agg over |sources| keys.",
    tags=("dedup", "curation"),
)
def dedup_survivorship_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("fingerprint"),
    )
    wc = Window.partitionBy("fingerprint")
    wo = wc.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    ranked = fp.select(
        "doc_id",
        "source",
        F.row_number().over(wo).alias("rk"),
        F.min("doc_id").over(wc).alias("naive_id"),
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("rk") == 1).cast("bigint").alias("n_kept"),
        F.count_if(F.col("rk") > 1).cast("bigint").alias("n_dropped"),
        F.count_if((F.col("rk") == 1) & (F.col("doc_id") != F.col("naive_id")))
        .cast("bigint")
        .alias("n_policy_swaps"),
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (the third blocking paradigm)
# ---------------------------------------------------------------------------

@register(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             substr(trim(regexp_replace(lower(text), ' +', ' ', 'g')), 1, 40) AS k
      FROM documents
    ), ranked AS (
      SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(b.rn - a.rn AS BIGINT) AS neighbor_offset,
           CAST(levenshtein(a.k, b.k) AS BIGINT) AS distance
    FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 3
    WHERE levenshtein(a.k, b.k) <= 10
    """,
    doc="Sorted-neighborhood dedup blocking: the THIRD blocking "
        "paradigm beside hash blocks (part_fuzzy_linkage_blocked) and "
        "LSH bands (dedup_minhash_lsh).  Docs are globally sorted by "
        "their normalized 40-char prefix; each doc is compared only "
        "with its next 3 neighbors in that order (levenshtein on the "
        "prefix, <= 10 emits a candidate pair).  Sorted-neighborhood "
        "catches prefix-similar near-dups that hash blocks split and "
        "that MinHash needs many bands to pair, at exactly w*N "
        "comparisons.  Scale shape: the global order comes from "
        "functions/scale.global_row_number (range-repartitioned "
        "parallel sort + broadcast count offsets — NO unpartitioned "
        "data window); the neighbor pairing is an integer equi-join on "
        "rank (rn + offset = rn), |docs| x w rows; levenshtein runs "
        "on 40-char keys, constant cost per pair.",
    tags=("dedup",),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import global_row_number

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.substring(normalize_text(F.col("text")), 1, 40).alias("k")
    )
    # consumed twice (both join sides) — materialize the ranked rows
    # once instead of re-running the range sort + offset join
    ranked = global_row_number(
        keyed, [F.col("k"), F.col("doc_id")], "rn"
    ).localCheckpoint(eager=False)
    a = ranked.select(
        F.col("doc_id").alias("doc_id_a"), F.col("k").alias("ka"), F.col("rn").alias("rna")
    ).withColumn("neighbor_offset", F.explode(F.sequence(F.lit(1), F.lit(3))))
    b = ranked.select(
        F.col("doc_id").alias("doc_id_b"), F.col("k").alias("kb"), F.col("rn").alias("rnb")
    )
    return (
        a.join(b, F.col("rna") + F.col("neighbor_offset") == F.col("rnb"))
        .withColumn("distance", F.levenshtein("ka", "kb").cast("bigint"))
        .filter(F.col("distance") <= 10)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.col("neighbor_offset").cast("bigint").alias("neighbor_offset"),
            "distance",
        )
    )


# ---------------------------------------------------------------------------
# substring-level exact dedup (the fourth dedup granularity)
# ---------------------------------------------------------------------------

SUBSTR_WIN = 40     # window length (chars, over normalized text)
SUBSTR_STRIDE = 10  # window stride


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS k
      FROM documents
    ), offs AS (
      SELECT doc_id, k,
             unnest(generate_series(1, length(k) - {SUBSTR_WIN - 1},
                                    {SUBSTR_STRIDE})) AS i
      FROM d WHERE length(k) >= {SUBSTR_WIN}
    ), w AS (
      SELECT doc_id, substr(k, CAST(i AS INTEGER), {SUBSTR_WIN}) AS wkey
      FROM offs
    ), pk AS (
      SELECT wkey, count(DISTINCT doc_id) AS n_docs FROM w GROUP BY 1
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (WHERE pk.n_docs > 1) AS BIGINT)
             AS n_dup_windows,
           floor(CAST(count(*) FILTER (WHERE pk.n_docs > 1) AS DOUBLE)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_fraction
    FROM w JOIN pk USING (wkey)
    GROUP BY 1
    """,
    doc=f"Substring-level exact dedup: the FOURTH dedup granularity "
        "beside whole-doc fingerprints (dedup_exact), near-dup pairs "
        "(MinHash/SimHash) and clusters (dedup_clusters) — the "
        "training-data operator that finds VERBATIM PASSAGES repeated "
        "across otherwise-distinct documents (boilerplate headers, "
        "licence blocks, templated spans), which doc-level dedup "
        f"cannot see.  Each doc's normalized text is cut into "
        f"{SUBSTR_WIN}-char windows at stride {SUBSTR_STRIDE}; a "
        "window whose exact string occurs in >1 distinct doc is a "
        "duplicated span.  Output: per doc, total windows, duplicated "
        "windows, and the duplicated-span fraction — the per-doc clip/"
        "drop signal.  Scale shape: window generation is a map-only "
        "sequence/explode/substring (JVM codegen, ~len/stride rows "
        "per doc); the per-window doc frequency is a two-stage "
        "distinct agg keyed on the window, and at test scale that "
        "(small, distinct-windows-sized) table BROADCASTS back onto "
        "the un-shuffled window stream — the raw window rows never "
        "shuffle for the join; when the distinct-window table outgrows "
        "the broadcast threshold the join degrades to sort-merge "
        "co-partitioned on the window key; the per-doc rollup is one "
        "grouped agg.  At production scale the "
        "window key is xxhash64(window) (8 bytes instead of "
        f"{SUBSTR_WIN} chars on the wire); the oracle keys on the "
        "exact string so both engines stay value-comparable.",
    tags=("dedup",),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("k")
    ).filter(F.length("k") >= SUBSTR_WIN)
    w = d.select(
        "doc_id",
        "k",
        F.explode(
            F.sequence(
                F.lit(1),
                F.length("k") - F.lit(SUBSTR_WIN - 1),
                F.lit(SUBSTR_STRIDE),
            )
        ).alias("off"),
    ).select(
        "doc_id",
        F.substring(F.col("k"), F.col("off"), F.lit(SUBSTR_WIN)).alias("wkey"),
    )
    pk = w.groupBy("wkey").agg(
        F.count_distinct(F.col("doc_id")).alias("n_docs")
    )
    dup = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("bigint")
    return (
        w.join(pk, "wkey")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            dup.alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            pround(
                F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
            ).alias("dup_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# AllPairs/PPJoin-style prefix-filtered Jaccard join (the exact SCALE path)
# ---------------------------------------------------------------------------

# Jaccard threshold as an exact rational (integer cross-multiplied
# predicates everywhere — a float `>= 0.8` is one ULP from flipping a
# boundary pair).  Matches dedup_ngram_jaccard's 0.8 so the two
# operators are value-comparable row-for-row.
PFX_T_NUM = 4
PFX_T_DEN = 5


@register(
    "dedup_allpairs_prefix",
    oracle=f"""
    WITH shing0 AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), freq AS (
      SELECT shingle, count(*) AS df FROM shing0 GROUP BY shingle
    ), shing AS (
      SELECT s.doc_id, s.shingle FROM shing0 s JOIN freq USING (shingle)
      WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           floor((n_common * 1.0 / (sa.n + sb.n - n_common)) * 10000.0 + 0.5)
             / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {PFX_T_DEN} * n_common >= {PFX_T_NUM} * (sa.n + sb.n - n_common)
    """,
    doc="Exact Jaccard-threshold self-join via AllPairs/PPJoin PREFIX "
        "FILTERING (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06) "
        "— the third member of the fuzzy-dedup family: "
        "dedup_ngram_jaccard is the quadratic-ish exact baseline "
        "(inverted-index join on EVERY shingle), dedup_minhash_lsh the "
        "approximate scale path (probabilistic recall), and this the "
        "EXACT scale path: order each df-capped shingle set "
        "rarest-first by global document frequency and join only on "
        "each doc's first |S| - ceil(t|S|) + 1 prefix shingles.  "
        "Losslessness: if J(A,B) >= t then |A∩B| >= ceil(t|A|), so the "
        "first common shingle in the global order sits within both "
        "prefixes — no candidate is missed, and the verification join "
        "computes exact overlaps, so the output EQUALS "
        "dedup_ngram_jaccard's pairs (asserted in tests).  The "
        "threshold and the prefix ceil() run in exact integer "
        "arithmetic ((4n+4) div 5 — float 0.8*n rounds UP at "
        "multiples of 5).  Scale shape: candidate generation joins "
        "ONLY prefix rows — the rarest ~20% of each set, exactly the "
        "low-df keys — so hot-shingle buckets never form; a "
        "(t|A| <= |B| <= |A|/t)-style length filter prunes candidates "
        "before verification; verification is two shingle-keyed "
        "equi-joins restricted to candidate pairs.  The oracle is the "
        "naive full inverted-index join — lossless means same rows.",
    tags=("dedup",),
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # same df-capped shingle base as dedup_ngram_jaccard; checkpointed
    # raw (pre-cap) for the same re-read economics
    sh = cap_shingle_df(
        _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(wdoc.orderBy(F.asc("df"), F.asc("shingle"))),
        )
        .withColumn("n", F.count(F.lit(1)).over(wdoc))
    )
    # prefix length |S| - ceil(t|S|) + 1, integer ceil
    pfx = ranked.filter(
        F.col("rn")
        <= F.col("n")
        - F.expr(f"({PFX_T_NUM} * n + {PFX_T_DEN - 1}) div {PFX_T_DEN}")
        + F.lit(1)
    ).select("doc_id", "shingle", "n")
    a = pfx.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("na")
    )
    b = pfx.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("nb")
    )
    cand = (
        a.join(b, ["shingle"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: t|A| <= |B| and t|B| <= |A| (integer form)
            & (PFX_T_DEN * F.col("nb") >= PFX_T_NUM * F.col("na"))
            & (PFX_T_DEN * F.col("na") >= PFX_T_NUM * F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    tb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("sna"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("snb"))
    union_sz = F.col("sna") + F.col("snb") - F.col("n_common")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(PFX_T_DEN * F.col("n_common") >= PFX_T_NUM * union_sz)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            pround(F.col("n_common") * F.lit(1.0) / union_sz, 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall/precision report (the dedup twin of similarity_recall_report)
# ---------------------------------------------------------------------------

from ..registry import _REGISTRY as _REG  # noqa: E402  (intra-module reuse)


# The oracle's two composed CTEs are MATERIALIZED: each is read twice
# (its count and the hit join), which DuckDB otherwise inlines.
@register(
    "dedup_lsh_recall_report",
    oracle=f"""
    WITH truth AS MATERIALIZED ({_REG["dedup_ngram_jaccard"].oracle}),
    cand AS MATERIALIZED ({_REG["dedup_minhash_lsh"].oracle}),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
    h AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hits
      FROM truth JOIN cand USING (doc_a, doc_b)
    )
    SELECT n_true_pairs, n_candidates, n_hits,
           CASE WHEN n_true_pairs > 0
                THEN floor(n_hits * 1.0 / n_true_pairs * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE -1.0 END AS recall,
           CASE WHEN n_candidates > 0
                THEN floor(n_hits * 1.0 / n_candidates * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE -1.0 END AS candidate_precision
    FROM t, c, h
    """,
    doc="Recall and candidate precision of the MinHash-LSH banding "
        "scheme against the exact Jaccard>=0.8 ground truth — the "
        "quality report a production dedup deployment publishes next "
        "to its pair counts, registered so the metric is oracle-checked "
        "like any other query (the oracle composes the two registered "
        "queries' own SQL as CTEs, so the report can never drift from "
        "what they return; same contract as similarity_recall_report "
        "on the ANN tier).  The 4x3 banding's s-curve puts ~94.3% "
        "expected recall at J = 0.8 (1-(1-0.8^3)^4 = 1-0.488^4 — the "
        "same arithmetic test_quality.py pins as a ~5.6% miss rate; "
        "r12 review fixed the doc's earlier ~97% misquote of its own "
        "formula), so a LOW number "
        "here is the operational signal that the permutation count or "
        "band shape no longer matches the corpus, BEFORE silently "
        "under-deduplicating a training set; candidate precision "
        "tracks wasted verification work (pairs the bands emit that "
        "exact verification rejects).  Scale shape: both pair sets are "
        "the registered queries' own plans (df-capped inverted index / "
        "bucket-capped band join); the comparison is one equi-join on "
        "the two pair sets plus three 1-row aggregates broadcast into "
        "a single output row.  Zero-denominator guard emits -1.0 "
        "sentinels identically in both engines (NULL would break the "
        "harness sort).",
    tags=("dedup", "lsh", "quality"),
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE shared checkpointed shingle table feeds BOTH arms (r12 review
    # fix: each arm built its own tokenize+shingle-explode subtree —
    # the most expensive stage in the file ran twice for one report row)
    shared = _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    truth = dedup_ngram_jaccard(spark, sf_dir, shingle_df=shared).select(
        "doc_a", "doc_b"
    )
    cand = dedup_minhash_lsh(spark, sf_dir, shingle_df=shared)
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    c = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    h = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    out = t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(h))
    one = F.lit(1.0)
    return out.select(
        "n_true_pairs",
        "n_candidates",
        "n_hits",
        F.when(
            F.col("n_true_pairs") > 0,
            pround(F.col("n_hits") * one / F.col("n_true_pairs"), 6),
        )
        .otherwise(F.lit(-1.0))
        .alias("recall"),
        F.when(
            F.col("n_candidates") > 0,
            pround(F.col("n_hits") * one / F.col("n_candidates"), 6),
        )
        .otherwise(F.lit(-1.0))
        .alias("candidate_precision"),
    )


# ---------------------------------------------------------------------------
# Threshold sensitivity curve (pick the Jaccard cutoff from ONE pass)
# ---------------------------------------------------------------------------


@register(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH shing0 AS (
      SELECT doc_id, unnest({_DUCK_SHINGLES}) AS shingle FROM documents
    ), freq AS (
      SELECT shingle, count(*) AS df FROM shing0 GROUP BY shingle
    ), shing AS (
      SELECT s.doc_id, s.shingle FROM shing0 s JOIN freq USING (shingle)
      WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shing GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS nc
      FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), buckets AS (
      SELECT nc * 20 // (sa.n + sb.n - nc) AS b20
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE nc * 20 // (sa.n + sb.n - nc) >= 10
    ), hist AS (
      SELECT b20, CAST(count(*) AS BIGINT) AS c FROM buckets GROUP BY b20
    )
    SELECT CAST(b20 * 5 AS INTEGER) AS threshold_pct,
           CAST(sum(c) OVER (ORDER BY b20 DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT)
             AS n_pairs_at_or_above
    FROM hist
    """,
    doc="Dedup threshold SENSITIVITY curve: how many near-dup pairs "
        "survive at every Jaccard cutoff from 0.50 to 1.00 in 0.05 "
        "steps, from ONE inverted-index pass — the chart that chooses "
        "the threshold BEFORE committing a corpus-wide dedup run "
        "(dedup_ngram_jaccard bakes in 0.8; a cliff between 0.75 and "
        "0.80 here means that choice is load-bearing and deserves "
        "review).  PURE INTEGER BUCKETING: a pair's bucket is "
        "(20*|intersection|) div |union| — floor division on exact "
        "counts, so a pair at exactly 4/5 lands in bucket 16 in both "
        "engines with no float boundary anywhere; the cumulative "
        "at-or-above counts run over <= 11 bucket rows.  Scale shape: "
        "identical to the exact-baseline dedup (df-capped inverted "
        "index, pair agg); the only additions are one integer division "
        "and an 11-row window — at production scale you run this on "
        "the LSH candidate set instead (same SQL shape) to tune the "
        "verify threshold.",
    tags=("dedup", "quality"),
)
def dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str, shingle_df: DataFrame | None = None
) -> DataFrame:
    from pyspark.sql import Window

    sh = cap_shingle_df(
        shingle_df
        if shingle_df is not None
        else _doc_shingles(spark, sf_dir).localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nc"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    # NO broadcast hint on the sizes joins (r12 review fix): sizes is
    # one row PER DOCUMENT — unbounded at corpus scale — and a forced
    # broadcast overrides autoBroadcastJoinThreshold into a driver OOM
    # at exactly the 100 TB operating point this op's doc claims; the
    # sibling dedup ops join the identical table hint-free and let AQE
    # pick the strategy from measured sizes
    hist = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.expr("nc * 20L div (na + nb - nc)").alias("b20"),
        )
        .filter(F.col("b20") >= 10)
        .groupBy("b20")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy(bounded_window_key("b20")).orderBy(F.desc("b20")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        (F.col("b20") * 5).cast("int").alias("threshold_pct"),
        F.sum("c").over(w).cast("bigint").alias("n_pairs_at_or_above"),
    )


# ---------------------------------------------------------------------------
# round 12: fuzzy-tier coverage audit (which docs the fuzzy tiers CANNOT see)
# ---------------------------------------------------------------------------


@register(
    "dedup_short_doc_coverage",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
             CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                  AS BIGINT) AS n_chars
      FROM documents
    ), tiers AS (
      SELECT 'shingle_3gram' AS tier, 3 AS min_unit,
             CAST(sum(CASE WHEN n_tokens < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_below,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM feat
      UNION ALL
      SELECT 'substring_window', {SUBSTR_WIN},
             CAST(sum(CASE WHEN n_chars < {SUBSTR_WIN} THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(count(*) AS BIGINT)
      FROM feat
    )
    SELECT tier, CAST(min_unit AS INTEGER) AS min_unit, n_docs_below, n_docs,
           floor((n_docs_below * 1.0 / n_docs) * 1000000.0 + 0.5) / 1000000.0
             AS share_below
    FROM tiers
    """,
    doc=f"Fuzzy-tier COVERAGE audit (r12 review finding made "
        f"measurable): every fuzzy dedup tier has a minimum analysis "
        f"unit below which a document produces NO signal — <3 tokens "
        f"yields zero 3-gram shingles (no MinHash signature, no LSH "
        f"bucket, no Jaccard pair, no novelty row), <{SUBSTR_WIN} "
        f"normalized chars yields zero substring windows — and such "
        f"docs silently pass every fuzzy screen (only byte-identical "
        f"copies are caught, by dedup_exact).  A pipeline that treats "
        f"'no dup signal' as 'unique' would keep unbounded short-doc "
        f"spam; this report tells the curator how large that blind "
        f"spot IS per tier, the number that decides whether to add a "
        f"dedicated short-doc rule (exact dedup + a length gate is the "
        f"standard answer).  Scale shape: one map-side feature pass, "
        f"two-branch aggregate to 2 rows; no joins, no windows.",
    tags=("dedup", "audit"),
)
def dedup_short_doc_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    feat = d.select(
        F.size(tokens(norm)).cast("bigint").alias("n_tokens"),
        F.length(norm).cast("bigint").alias("n_chars"),
    ).localCheckpoint(eager=False)

    def tier(name, min_unit, below_col):
        agg = feat.agg(
            F.sum(F.when(below_col, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_below"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        return agg.select(
            F.lit(name).alias("tier"),
            F.lit(min_unit).cast("int").alias("min_unit"),
            "n_docs_below",
            "n_docs",
        )

    tiers = tier("shingle_3gram", 3, F.col("n_tokens") < 3).unionByName(
        tier("substring_window", SUBSTR_WIN, F.col("n_chars") < SUBSTR_WIN)
    )
    return tiers.select(
        "tier",
        "min_unit",
        "n_docs_below",
        "n_docs",
        pround(F.col("n_docs_below") * F.lit(1.0) / F.col("n_docs"), 6).alias(
            "share_below"
        ),
    )


# ---------------------------------------------------------------------------
# round 15: incremental MinHash-LSH assignment (continuous-ingest dedup)
# ---------------------------------------------------------------------------

_INCR_MOD = 10          # doc_id % 10 == 0 -> the "newly arrived" batch
                        # (same split contract as curation.BATCH_MOD)
_INCR_MIN_MATCHES = 8   # >= 8 of 12 equal signature components
                        # (estimated Jaccard >= 2/3, above the 0.63
                        # band/row s-curve threshold)


@register(
    "dedup_incremental_minhash_assign",
    oracle=f"""
    WITH {_DUCK_SIGS},
    existing AS (
      SELECT doc_id, band_id, bucket FROM bands WHERE doc_id % {_INCR_MOD} <> 0
    ), newdocs AS (
      SELECT doc_id, band_id, bucket FROM bands WHERE doc_id % {_INCR_MOD} = 0
    ), bucket_sizes AS (
      SELECT band_id, bucket, count(*) AS n FROM existing GROUP BY band_id, bucket
    ), capped AS (
      SELECT e.doc_id, e.band_id, e.bucket
      FROM existing e JOIN bucket_sizes s USING (band_id, bucket)
      WHERE s.n <= {MAX_BUCKET_SIZE}
    ), cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS ex_id
      FROM newdocs n JOIN capped c
        ON n.band_id = c.band_id AND n.bucket = c.bucket
    ), scored AS (
      SELECT cand.new_id, cand.ex_id,
             {" + ".join(f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(N_PERM))}
               AS n_sig_matches
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.new_id
      JOIN sigs sb ON sb.doc_id = cand.ex_id
    ), best AS (
      SELECT new_id, ex_id, n_sig_matches, n_candidates FROM (
        SELECT new_id, ex_id, n_sig_matches,
               row_number() OVER (
                 PARTITION BY new_id ORDER BY n_sig_matches DESC, ex_id ASC
               ) AS rn,
               CAST(count(*) OVER (PARTITION BY new_id) AS BIGINT)
                 AS n_candidates
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(b.n_candidates, 0) AS n_candidates,
           coalesce(b.ex_id, -1) AS best_match_id,
           CAST(coalesce(b.n_sig_matches, 0) AS BIGINT) AS n_sig_matches,
           coalesce(b.n_sig_matches, 0) >= {_INCR_MIN_MATCHES} AS assigned_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_INCR_MOD} = 0) d
    LEFT JOIN best b ON b.new_id = d.doc_id
    """,
    doc=f"Incremental fuzzy dedup — the continuous-ingest counterpart "
        f"of dedup_minhash_lsh (and the fuzzy sibling of "
        f"dedup_incremental_exact): each NEWLY-ARRIVED document "
        f"(doc_id % {_INCR_MOD} == 0, the registry's standard batch "
        f"split) probes the EXISTING corpus's LSH band buckets; its "
        f"best candidate is scored by equal minhash components "
        f"(estimated Jaccard in exact twelfths — no float), and it is "
        f"declared a duplicate at >= {_INCR_MIN_MATCHES}/12.  At 100 TB "
        f"this is the shape that makes growing-corpus dedup tractable: "
        f"the batch joins bucket-to-bucket against the (pre-computed, "
        f"storable) band table instead of re-running pair generation "
        f"over the whole corpus — per-batch cost is "
        f"O(batch x bands + collisions), with hot buckets capped at "
        f"{MAX_BUCKET_SIZE} on the existing side so a boilerplate "
        f"bucket cannot fan a single new doc into millions of "
        f"candidates.  ONE signature pass covers both sides; unmatched "
        f"new docs emit sentinel -1 (left join, no NULL numerics).",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_minhash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sigs = _minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), _band_expr(b).alias("bucket"))
            for b in range(N_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band_id", "bb.bucket"
    )
    is_new = F.col("doc_id") % _INCR_MOD == 0
    existing = bands.filter(~is_new)
    newdocs = bands.filter(is_new)
    capped = cap_hot_buckets(existing)
    cand = (
        newdocs.alias("n")
        .join(
            capped.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("ex_id"))
        .distinct()
    )
    matches = sum(
        F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
        for i in range(N_PERM)
    )
    scored = (
        cand.join(sigs.alias("a"), F.col("a.doc_id") == F.col("new_id"))
        .join(sigs.alias("b"), F.col("b.doc_id") == F.col("ex_id"))
        .select("new_id", "ex_id", matches.alias("n_sig_matches"))
    )
    w_rank = Window.partitionBy("new_id").orderBy(
        F.desc("n_sig_matches"), F.asc("ex_id")
    )
    w_all = Window.partitionBy("new_id")
    best = (
        scored.select(
            "new_id",
            "ex_id",
            "n_sig_matches",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_candidates"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    new_ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % _INCR_MOD == 0)
    )
    return new_ids.join(best, new_ids.doc_id == best.new_id, "left").select(
        "doc_id",
        F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.col("ex_id"), F.lit(-1)).alias("best_match_id"),
        F.coalesce(F.col("n_sig_matches"), F.lit(0)).cast("bigint").alias("n_sig_matches"),
        (F.coalesce(F.col("n_sig_matches"), F.lit(0)) >= _INCR_MIN_MATCHES).alias("assigned_dup"),
    )
