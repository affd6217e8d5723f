"""Text-analysis operators over `documents` (SURVEY.md §2.8).

Language ID (stopword-marker heuristic), quality scoring, token
counting (whitespace + regex word classes), and document
fingerprinting.  All expressions are built-in `pyspark.sql.functions`
(JVM-side, codegen'd) — at 100 TB these run as a single scan with
map-side-only work, no shuffle except the final aggregations.

Every operator has an exact DuckDB oracle; regexes are restricted to
character-class patterns that mean the same thing in Java regex (Spark)
and RE2 (DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import DUCK_TOKENS, bigram_pairs, normalize_text, tokens
from ..functions.portable import duck_u32, pround, spark_u32
from ..functions.scale import plan_parallelism
from ..registry import register
from ..sources.catalog import load_table

_DUCK_TOKENS = DUCK_TOKENS  # canonical fragment from functions.textfns (r12)

# marker stopwords per language — deterministic heuristic (the synthetic
# corpus is English-ish for all lang labels, so the *guess* is what is
# checked, not agreement with the lang column)
_MARKERS = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


@register(
    "text_language_id",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             count(*) AS n_tokens,
             {", ".join(
                 f"count(*) FILTER (WHERE tok IN ({', '.join(repr(w) for w in ws)})) AS hits_{lg}"
                 for lg, ws in _MARKERS.items()
             )}
      FROM toks GROUP BY doc_id, lang
    ), full_hits AS (
      SELECT d.doc_id, d.lang,
             CAST(coalesce(h.n_tokens, 0) AS BIGINT) AS n_tokens,
             {", ".join(
                 f"coalesce(h.hits_{lg}, 0) AS hits_{lg}"
                 for lg in _MARKERS
             )}
      FROM documents d LEFT JOIN hits h
        ON h.doc_id = d.doc_id AND h.lang = d.lang
    )
    SELECT doc_id, lang AS lang_label, n_tokens,
           CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
                WHEN hits_en >= greatest(hits_de, hits_fr, hits_es) THEN 'en'
                WHEN hits_de >= greatest(hits_fr, hits_es) THEN 'de'
                WHEN hits_fr >= hits_es THEN 'fr'
                ELSE 'es' END AS lang_guess
    FROM full_hits
    """,
    doc="Stopword-marker language ID: token-set hits against per-language "
        "marker lists, argmax with deterministic tie order. Linear scan + "
        "one hash-agg on doc_id, left-joined back to the corpus so a "
        "zero-token document is CLASSIFIED as 'und' rather than silently "
        "dropped from the output (r12 review fix: explode emits no rows "
        "for an empty token array, which made the canonical 'und' case "
        "unreachable and shrank the confusion-matrix denominator).",
    tags=("text",),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(tokens(normalize_text(F.col("text")))).alias("tok"))
    aggs = [F.count("*").alias("n_tokens")] + [
        F.sum(F.when(F.col("tok").isin(*ws), 1).otherwise(0)).alias(f"hits_{lg}")
        for lg, ws in _MARKERS.items()
    ]
    hits = toks.groupBy("doc_id", "lang").agg(*aggs)
    full_hits = d.select("doc_id", "lang").join(
        hits, ["doc_id", "lang"], "left"
    ).select(
        "doc_id",
        "lang",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        *[
            F.coalesce(f"hits_{lg}", F.lit(0)).alias(f"hits_{lg}")
            for lg in _MARKERS
        ],
    )
    others = lambda *cols: F.greatest(*[F.col(c) for c in cols])  # noqa: E731
    guess = (
        F.when(F.greatest(F.col("hits_en"), F.col("hits_de"), F.col("hits_fr"), F.col("hits_es")) == 0, "und")
        .when(F.col("hits_en") >= others("hits_de", "hits_fr", "hits_es"), "en")
        .when(F.col("hits_de") >= others("hits_fr", "hits_es"), "de")
        .when(F.col("hits_fr") >= F.col("hits_es"), "fr")
        .otherwise("es")
    )
    return full_hits.select("doc_id", F.col("lang").alias("lang_label"), "n_tokens", guess.alias("lang_guess"))


@register(
    "text_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(length(text) AS BIGINT) AS n_chars_raw,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform({_DUCK_TOKENS},
                                                   t -> len(t))), 0)
                  AS BIGINT) AS tok_chars,
             CAST(len(list_filter({_DUCK_TOKENS}, t -> t IN ('the', 'a', 'and', 'of', 'to', 'is'))) AS BIGINT)
               AS n_stopwords,
             CAST(len(list_distinct({_DUCK_TOKENS})) AS BIGINT) AS n_unique_tokens
      FROM documents
    )
    SELECT doc_id, source, n_chars_raw, n_tokens, n_stopwords, n_unique_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE
             floor((CAST(tok_chars AS DOUBLE) / n_tokens) * 10000.0 + 0.5) / 10000.0 END AS avg_token_len,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE
             floor((CAST(n_stopwords AS DOUBLE) / n_tokens) * 10000.0 + 0.5) / 10000.0 END AS stopword_ratio,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE
             floor((CAST(n_unique_tokens AS DOUBLE) / n_tokens) * 10000.0 + 0.5) / 10000.0 END AS unique_ratio,
           (n_tokens >= 20 AND
            CASE WHEN n_tokens = 0 THEN 0.0
                 ELSE CAST(n_unique_tokens AS DOUBLE) / n_tokens END >= 0.2)
             AS passes_quality
    FROM feat
    """,
    doc="Per-document quality features (length, stopword ratio, lexical "
        "diversity) + a boolean gate — the pre-training filter shape "
        "(Gopher/C4-style rules). Map-only: no shuffle at all.  r12 "
        "review fixes: avg_token_len is the TRUE mean token length "
        "(per-token char sum / token count — the raw-text-length "
        "numerator counted separators and overstated it by ~1, "
        "unboundedly for space runs, miscalibrating any 3-10 "
        "mean-word-length rule applied to it); and every ratio guards "
        "n_tokens = 0 (the quality_features precedent) so an empty "
        "document scores 0.0 instead of aborting the job under this "
        "build's default ANSI mode.",
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_tokens = d.select(
        "doc_id",
        "source",
        F.length("text").cast("bigint").alias("n_chars_raw"),
        tokens(normalize_text(F.col("text"))).alias("tk"),
    )
    tk = F.col("tk")
    stop = F.filter(tk, lambda t: t.isin("the", "a", "and", "of", "to", "is"))
    tok_chars = F.aggregate(
        F.transform(tk, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    feat = with_tokens.select(
        "doc_id",
        "source",
        "n_chars_raw",
        F.size(tk).cast("bigint").alias("n_tokens"),
        tok_chars.alias("tok_chars"),
        F.size(stop).cast("bigint").alias("n_stopwords"),
        F.size(F.array_distinct(tk)).cast("bigint").alias("n_unique_tokens"),
    )

    def ratio(num):
        return F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
            num.cast("double") / F.col("n_tokens")
        )

    return feat.select(
        "doc_id",
        "source",
        "n_chars_raw",
        "n_tokens",
        "n_stopwords",
        "n_unique_tokens",
        pround(ratio(F.col("tok_chars")), 4).alias("avg_token_len"),
        pround(ratio(F.col("n_stopwords")), 4).alias("stopword_ratio"),
        pround(ratio(F.col("n_unique_tokens")), 4).alias("unique_ratio"),
        (
            (F.col("n_tokens") >= 20)
            & (ratio(F.col("n_unique_tokens")) >= 0.2)
        ).alias("passes_quality"),
    )


@register(
    "text_token_stats",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len({_DUCK_TOKENS})) AS BIGINT) AS total_ws_tokens,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS total_word_tokens,
           CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)        AS total_number_tokens,
           floor((avg(CAST(len({_DUCK_TOKENS}) AS BIGINT))) * 10000.0 + 0.5) / 10000.0 AS avg_tokens_per_doc
    FROM documents
    GROUP BY source
    """,
    doc="Token counting two ways — whitespace tokens and BPE-ish regex word "
        "classes ([a-z]+ / [0-9]+ runs) — aggregated per source. The "
        "token-budget accounting pass of a training-data pipeline.",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(normalize_text(F.col("text")))
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    nums = F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
    per_doc = d.select(
        "source",
        F.size(tk).cast("bigint").alias("ws_tokens"),
        F.size(words).cast("bigint").alias("word_tokens"),
        F.size(nums).cast("bigint").alias("number_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("word_tokens").alias("total_word_tokens"),
        F.sum("number_tokens").alias("total_number_tokens"),
        pround(F.avg("ws_tokens"), 4).alias("avg_tokens_per_doc"),
    )


@register(
    "text_token_positions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents WHERE doc_id < 20
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok
    FROM toks, unnest(generate_series(1, len(tk))) AS u(i)
    """,
    doc="Positional token explode (posexplode; oracle via indexed unnest) "
        "— the order-preserving flatten used for n-gram/window features.",
    tags=("text",),
)
def text_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    toks = d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("tk"))
    return toks.select("doc_id", F.posexplode("tk").alias("pos", "tok")).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "tok"
    )


@register(
    "stratified_sample_per_source",
    oracle="""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
    doc="Deterministic stratified sampling: exactly 20 docs per source, "
        "chosen by hash order (reproducible across engines/cluster sizes, "
        "unlike TABLESAMPLE). The per-class eval-set carve-out pattern.",
    tags=("pipeline", "sampling"),
)
def stratified_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.asc(F.md5(F.col("doc_id").cast("string").cast("binary"))), F.asc("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id")
    )


_WINNOW_W = 4  # winnowing window over consecutive shingle hashes


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_transform(
               list_transform(generate_series(1, greatest(len({_DUCK_TOKENS}) - 2, 0)),
                              i -> array_to_string({_DUCK_TOKENS}[i:i+2], ' ')),
               s -> md5(s)) AS hashes
      FROM documents
    )
    SELECT doc_id,
           array_to_string(CASE
             WHEN len(hashes) >= {_WINNOW_W} THEN
               list_sort(list_distinct(list_transform(
                 generate_series(1, len(hashes) - {_WINNOW_W - 1}),
                 i -> list_aggregate(hashes[i:i+{_WINNOW_W - 1}], 'min'))))
             WHEN len(hashes) > 0 THEN [list_aggregate(hashes, 'min')]
             ELSE CAST([] AS VARCHAR[])
           END, ',') AS fingerprints
    FROM sh
    """,
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): "
        "rolling window of w=4 over ordered shingle hashes, min per "
        "window, dedup — the guaranteed-overlap-detection fingerprint "
        "scheme. Entirely JVM-side higher-order functions; fingerprint "
        "count is ~n/w per doc regardless of scale.",
    tags=("text", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import shingles

    d = load_table(spark, sf_dir, "documents")
    # materialize each stage as a real column: a higher-order-function
    # lambda that references an expression SUBTREE re-evaluates it per
    # array element (measured 380s vs 3s at sf0.1); referencing a bound
    # column attribute evaluates it once per row
    w = _WINNOW_W
    # small single-file input, ~100 md5s per row: spread across cores
    # before the compute (same repartition rationale as dedup.py)
    d = d.repartition(plan_parallelism(spark), "doc_id")
    hashed = d.select(
        "doc_id",
        F.transform(
            shingles(tokens(normalize_text(F.col("text")))), lambda s: F.md5(s.cast("binary"))
        ).alias("hashes"),
    )
    n = F.size(F.col("hashes"))
    windowed = hashed.select(
        "doc_id",
        "hashes",
        F.when(
            n >= w,
            F.transform(
                F.sequence(F.lit(0), n - w),
                lambda i: F.array_min(F.slice(F.col("hashes"), i + 1, w)),
            ),
        )
        .when(n > 0, F.array(F.array_min(F.col("hashes"))))
        .otherwise(F.array().cast("array<string>"))
        .alias("windows"),
    )
    # serialized to a ','-joined string: the driver canonicalizer hashes
    # rows via pandas and raw list cells are unhashable (same contract
    # as array_collect_ops)
    return windowed.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(F.col("windows"))), ",").alias(
            "fingerprints"
        ),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint,
           substr(md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))), 1, 4) AS shard_key,
           CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    """,
    doc="Content fingerprint (md5 of normalized text) + a 4-hex-char shard "
        "key — the partition-by-content primitive used to co-locate "
        "duplicates before a dedup shuffle at scale.",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    fp = F.md5(norm.cast("binary"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


# corpus-frequent n-grams: C4-style boilerplate detection thresholds
# (1% of the 500-doc corpus — yields ~100-200 qualifying 3-grams on the
# synthetic fixtures at every SF, so the top-100 report is never empty)
BOILERPLATE_MIN_DF = 5
BOILERPLATE_TOP = 100


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i:i+2], ' '))) AS g3
      FROM feat
    ), e AS (
      SELECT doc_id, unnest(g3) AS ngram FROM g
    ), c AS (
      SELECT ngram, CAST(count(*) AS BIGINT) AS doc_freq FROM e GROUP BY ngram
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    )
    SELECT ngram, doc_freq,
           floor((CAST(doc_freq AS DOUBLE) / n_docs) * 1000000.0 + 0.5)
             / 1000000.0 AS df_share
    FROM c, tot
    WHERE doc_freq >= {BOILERPLATE_MIN_DF}
    ORDER BY doc_freq DESC, ngram
    LIMIT {BOILERPLATE_TOP}
    """,
    doc=f"C4-style boilerplate detection: 3-gram shingles appearing in "
        f"≥{BOILERPLATE_MIN_DF} distinct documents, ranked by document "
        f"frequency (top {BOILERPLATE_TOP}, ngram tie-break) — the "
        f"corpus-frequent-span report that feeds boilerplate stripping. "
        f"Scale shape: per-doc DISTINCT shingles computed JVM-side "
        f"(array_distinct, map-only) so a span repeated within one doc "
        f"counts once; one shuffle on the shingle key with partial "
        f"aggregation; the corpus-size side is a broadcast single-row "
        f"aggregate; bounded output via TakeOrderedAndProject.",
    tags=("text", "curation"),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _doc_shingles = repartition-then-tokenize-then-explode with the
    # token array BOUND to a column between steps: nesting tokens()
    # inside shingles() re-evaluates the tokenizer per shingle element
    # (HOF-recompute trap, 10s vs <1s at sf0.1), and the explode's
    # inferred not-empty filter then inlines that whole subtree into
    # the pre-repartition scan task — reuse the dedup tier's shared,
    # already-defused building block instead
    from .dedup import _doc_shingles

    counts = (
        _doc_shingles(spark, sf_dir)
        .groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
        .filter(F.col("doc_freq") >= BOILERPLATE_MIN_DF)
    )
    total = (
        load_table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "ngram",
            "doc_freq",
            pround(F.col("doc_freq").cast("double") / F.col("n_docs"), 6).alias(
                "df_share"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), "ngram")
        .limit(BOILERPLATE_TOP)
    )


@register(
    "text_token_freq_spectrum",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), counts AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    )
    SELECT CAST(c AS BIGINT) AS tok_count,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(c * count(*) AS BIGINT) AS total_occurrences
    FROM counts GROUP BY c
    """,
    doc="Token frequency-of-frequencies spectrum (the Zipf/Good-Turing "
        "curve): how many distinct tokens occur exactly c times, and "
        "the total corpus mass at each count.  What a vocabulary/BPE "
        "pipeline reads to pick min-count cutoffs and estimate "
        "singleton (hapax) mass at corpus scale.  Scale shape: the "
        "vocab aggregate is the one big shuffle (partial map-side "
        "combine); the spectrum re-aggregate runs over distinct COUNT "
        "values — a set whose size grows ~log with the corpus, so the "
        "second exchange is constant-sized for practical purposes.",
    tags=("text", "agg"),
)
def text_token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(
        plan_parallelism(spark), "doc_id"
    )
    toks = d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("c").agg(
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        (F.col("c") * F.count(F.lit(1))).alias("total_occurrences"),
    ).select(
        F.col("c").alias("tok_count"), "n_distinct_tokens", "total_occurrences"
    )


BPE_TOP = 50


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    ), p AS (
      SELECT substr(tok, i, 2) AS pair, freq
      FROM w, unnest(generate_series(1, len(tok) - 1)) AS u(i)
      WHERE len(tok) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT {BPE_TOP}
    """,
    doc=f"One round of the BPE-training inner loop: adjacent symbol-pair "
        f"counts weighted by word frequency, top {BPE_TOP} (the argmax "
        f"pair is the next merge).  THE scale property of BPE training: "
        f"after the one corpus-sized vocab aggregate (map-side combine), "
        f"every subsequent merge round runs over the VOCAB table "
        f"(|vocab| ~ 1e6-1e8 rows), never re-scanning the corpus — pair "
        f"explode and re-count here are vocab-bounded, and the top pair "
        f"compiles to TakeOrderedAndProject.  Iterating merges = "
        f"re-running this shape on a re-segmented vocab.",
    tags=("text", "agg"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(
        plan_parallelism(spark), "doc_id"
    )
    vocab = (
        d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Spark's sequence(1, n) yields a DESCENDING [1,0] when n=0, so
    # single-char tokens must be excluded, not relied on to explode empty
    pairs = (
        vocab.filter(F.length("tok") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.col("tok").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_TOP)
    )


HH_K = 64  # heavy-hitter threshold divisor: report tokens with freq > total/HH_K


def mg_partition_summaries(pdfs, k: int = HH_K):
    """Mergeable Misra-Gries(k) summary over one partition's Arrow
    batches — module-level so the no-false-negative guarantee is tested
    against THIS function (tests/test_quality.py), not a copy.  Yields
    the surviving candidate tokens; any token with partition frequency
    > n_partition/k is guaranteed to survive (the MG bound)."""
    import pandas as pd

    counters = pd.Series(dtype="int64")
    for pdf in pdfs:
        batch = pdf["tok"].value_counts()
        counters = counters.add(batch, fill_value=0)
        if len(counters) > k:
            # MG merge: subtract the (K+1)-th largest count from all,
            # drop non-positive — keeps the undercount bound additive
            cut = counters.nlargest(k + 1).iloc[-1]
            counters = counters - cut
            counters = counters[counters > 0]
    yield pd.DataFrame({"tok": counters.index.astype(str)})


@register(
    "text_token_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), c AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ), t AS (
      SELECT count(*) AS total FROM toks
    )
    SELECT c.tok,
           CAST(c.n AS BIGINT) AS n_occurrences,
           floor(CAST(c.n AS DOUBLE) / t.total * 1000000.0 + 0.5) / 1000000.0
             AS share
    FROM c, t
    WHERE c.n * {HH_K} > t.total
    """,
    doc="Exact heavy hitters via a two-pass Misra-Gries sketch: pass 1 "
        "runs a mergeable MG(64) summary PER PARTITION inside "
        "mapInPandas — bounded state (64 counters), zero shuffle — "
        "whose union provably contains every token with global "
        "frequency > total/64 (if freq(x)·64 > total then by "
        "pigeonhole some partition has freq_p(x)·64 > n_p, and "
        "MG(64) never evicts such a key).  Pass 2 exactly recounts "
        "ONLY the candidate set (broadcast semi-filter, map-side) and "
        "applies the true threshold, so the RESULT is exact and "
        "oracle-checkable — the sketch is pure pruning.  The 100 TB "
        "win: the full token shuffle (|vocab|-sized) is replaced by a "
        "shuffle over ≤ 64·n_partitions candidate keys.  Sketch "
        "merging is vectorized: value_counts per Arrow batch, then "
        "counter-level MG merge (subtract the (K+1)-th count, drop "
        "non-positive) — no per-token Python loop.",
    tags=("text", "sketch", "agg"),
)
def text_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(
        plan_parallelism(spark), "doc_id"
    )
    toks = d.select(
        F.explode(tokens(normalize_text(F.col("text")))).alias("tok")
    ).localCheckpoint(eager=False)

    candidates = toks.mapInPandas(mg_partition_summaries, "tok string").distinct()
    counted = (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * HH_K > F.col("total"))
        .select(
            "tok",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            pround(
                F.col("n_occurrences").cast("double") / F.col("total"), 6
            ).alias("share"),
        )
    )


# Fixed-weight logistic quality model (the fastText-classifier proxy
# stage of a curation pipeline: CCNet / GPT-3-style "quality
# classifier" filtering, run here with interpretable hand-set weights
# so the scoring is exactly reproducible in any engine).  Weights are
# compile-time constants shared with the oracle; features are centered
# near the corpus means so both keep/drop classes occur.
_QC_W_DISTINCT = 4.0   # distinct-token ratio (vocab richness)
_QC_W_NTOKENS = 0.03   # document length in tokens
_QC_C_DISTINCT = 0.5   # centering constants
_QC_C_NTOKENS = 54.0
_QC_BIAS = -0.2


def quality_prob(distinct_ratio: F.Column, n_tokens: F.Column) -> F.Column:
    """The classifier's scoring function as a reusable column expression
    (shared by the batch operator and the streaming corpus-ingest job in
    streaming/jobs.py, so the two stages can never drift)."""
    z = (
        F.lit(_QC_BIAS)
        + F.lit(_QC_W_DISTINCT) * (distinct_ratio - F.lit(_QC_C_DISTINCT))
        + F.lit(_QC_W_NTOKENS) * (n_tokens - F.lit(_QC_C_NTOKENS))
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_features(text_col: F.Column):
    """(n_tokens, distinct_ratio) feature columns from raw text.

    A zero-token document scores distinct_ratio 0.0 (not NULL — Spark's
    non-ANSI x/0 would yield NULL, crash the parity harness's row sort,
    and make the streaming gate silently DROP empty docs instead of
    scoring them into the reject class)."""
    tk = tokens(normalize_text(text_col))
    n = F.size(tk)
    ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(tk)) * F.lit(1.0) / n
    )
    return (n, ratio)


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len({_DUCK_TOKENS}) AS n_tokens,
             CASE WHEN len({_DUCK_TOKENS}) = 0 THEN 0.0
                  ELSE len(list_distinct({_DUCK_TOKENS})) * 1.0
                       / len({_DUCK_TOKENS}) END AS distinct_ratio
      FROM documents
    ), scored AS (
      SELECT doc_id, n_tokens, distinct_ratio,
             1.0 / (1.0 + exp(-({_QC_BIAS}
                 + {_QC_W_DISTINCT} * (distinct_ratio - {_QC_C_DISTINCT})
                 + {_QC_W_NTOKENS} * (n_tokens - {_QC_C_NTOKENS})))) AS p
      FROM feats
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           floor(distinct_ratio * 1000000.0 + 0.5) / 1000000.0
             AS distinct_ratio,
           floor(p * 1000000.0 + 0.5) / 1000000.0 AS quality_prob,
           floor(p * 1000000.0 + 0.5) / 1000000.0 >= 0.5 AS keep
    FROM scored
    """,
    doc="Model-based quality filtering (the classifier stage after the "
        "rule-based text_quality_score gates): a fixed-weight logistic "
        "model over vocabulary richness and document length emits a "
        "keep probability per document.  Stands in for the fastText / "
        "linear quality classifiers of CCNet- and GPT-3-style pipelines "
        "with the inference expressed as pure JVM-side column math — "
        "map-only, zero shuffle, whole-stage-codegen'd; at 100 TB this "
        "is a single pass fused into the scan.  The decision compares "
        "the ROUNDED probability in both engines so no document sits on "
        "a cross-engine rounding boundary.",
    tags=("text", "curation"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok, dratio = quality_features(F.col("text"))
    feats = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        dratio.alias("distinct_ratio"),
    )
    p = quality_prob(F.col("distinct_ratio"), F.col("n_tokens"))
    return feats.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        pround("distinct_ratio", 6).alias("distinct_ratio"),
        pround(p, 6).alias("quality_prob"),
        (pround(p, 6) >= F.lit(0.5)).alias("keep"),
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             {", ".join(
                 f"count(*) FILTER (WHERE tok IN ({', '.join(repr(w) for w in ws)})) AS hits_{lg}"
                 for lg, ws in _MARKERS.items()
             )}
      FROM toks GROUP BY doc_id, lang
    ), guessed AS (
      SELECT lang AS lang_label,
             CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und'
                  WHEN hits_en >= greatest(hits_de, hits_fr, hits_es) THEN 'en'
                  WHEN hits_de >= greatest(hits_fr, hits_es) THEN 'de'
                  WHEN hits_fr >= hits_es THEN 'fr'
                  ELSE 'es' END AS lang_guess
      FROM hits
    )
    SELECT lang_label, lang_guess,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY lang_label)
                 * 1000000.0 + 0.5) / 1000000.0 AS label_share
    FROM guessed GROUP BY lang_label, lang_guess
    """,
    doc="Classifier-evaluation confusion matrix for the language-ID "
        "heuristic against the corpus's ground-truth lang column: per "
        "(true, predicted) pair, doc count and the share of the true "
        "label it represents (the diagonal shares ARE per-class "
        "recall) — the QA readout run before trusting any model-based "
        "curation gate, here exercised on the one labeled signal the "
        "fixtures carry.  Scale shape: same single doc-id hash-agg as "
        "text_language_id, then a |langs|^2-row matrix aggregate; the "
        "share window runs over that bounded matrix, never the "
        "corpus.  Exact integer counts; one rounded division.",
    tags=("text", "evaluation"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per_doc = text_language_id(spark, sf_dir)
    w = Window.partitionBy("lang_label")
    return (
        per_doc.groupBy("lang_label", "lang_guess")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .withColumn(
            "label_share",
            pround(
                F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w), 6
            ),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining (round 9): which adjacent word pairs co-occur far
# more often than their unigram frequencies predict — the phrase-
# detection stage (word2vec-style "new_york" phrasing, collocation
# dictionaries) of a text pipeline.  Lift instead of PMI: the PMI log
# is monotone in lift, so the RANKING is identical while the score
# stays exact rational arithmetic (integer counts + one double
# division) — no cross-engine transcendental.
# ---------------------------------------------------------------------------

_COLL_MIN_SUPPORT = 20   # min bigram occurrences; kills one-off noise
_COLL_TOP = 50


@register(
    "text_collocation_lift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
    ), bg AS (
      SELECT tk[gs.i] AS w1, tk[gs.i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) gs
    ), uni AS (
      SELECT tk[gs.i] AS w
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) gs
    ), uni_counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), totals AS (
      SELECT CAST(sum(c) AS BIGINT) AS t_tokens,
             CAST(count(*) AS BIGINT) AS v FROM uni_counts
    ), bg_counts AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      FROM bg GROUP BY w1, w2
      HAVING count(*) >= {_COLL_MIN_SUPPORT}
    ), b_total AS (
      SELECT CAST(count(*) AS BIGINT) AS t_bigrams FROM bg
    )
    SELECT w1, w2, c_ab,
           floor((CAST(c_ab AS DOUBLE) * t.t_tokens / b.t_bigrams
                  * t.t_tokens / u1.c / u2.c)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM bg_counts
    JOIN uni_counts u1 ON u1.w = w1
    JOIN uni_counts u2 ON u2.w = w2
    CROSS JOIN totals t CROSS JOIN b_total b
    ORDER BY lift DESC, w1, w2
    LIMIT {_COLL_TOP}
    """,
    doc="Top collocations by lift = P(w1,w2) / (P(w1)·P(w2)) over "
        "adjacent-token bigrams, min support "
        f"{_COLL_MIN_SUPPORT}, top {_COLL_TOP} with a (rounded lift, "
        "w1, w2) total order so the result SET is unique cross-engine. "
        "The score is exact rational math over integer counts — the "
        "PMI log is monotone in lift so the ranking matches PMI's "
        "without a transcendental.  Scale: bigram/unigram counts are "
        "partial-agg shuffles on term keys (the vocabulary, not the "
        "corpus); totals broadcast as 1-row aggregates; the final "
        "top-k is TakeOrdered over |vocab²∩support| candidates, never "
        "a global sort of the corpus.",
    tags=("text", "curation"),
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # shared guarded pair expression + checkpointed token table: the
    # hand-rolled transform(sequence(1, size-1)) crashed under ANSI on
    # any doc with <2 tokens (Spark's sequence(1, 0) DESCENDS), and the
    # tokenize subtree was re-evaluated independently by the bg and
    # uni branches — r12 review fixes
    tk = docs.select(
        tokens(normalize_text(F.col("text"))).alias("tk")
    ).localCheckpoint(eager=False)
    bg = tk.select(F.explode(bigram_pairs(F.col("tk"))).alias("b")).select(
        "b.w1", "b.w2"
    )
    uni = tk.select(F.explode("tk").alias("w"))
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    totals = uni_counts.agg(
        F.sum("c").cast("bigint").alias("t_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    bg_counts = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= _COLL_MIN_SUPPORT)
    )
    b_total = bg.agg(F.count(F.lit(1)).cast("bigint").alias("t_bigrams"))
    u1 = uni_counts.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni_counts.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    lift = pround(
        F.col("c_ab").cast("double")
        * F.col("t_tokens") / F.col("t_bigrams")
        * F.col("t_tokens") / F.col("c1") / F.col("c2"),
        6,
    )
    return (
        bg_counts.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(b_total))
        .select("w1", "w2", "c_ab", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(_COLL_TOP)
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (round 9): the classic sparse-retrieval scorer
# a RAG / retrieval pipeline runs next to dense similarity search (the
# similarity.* tier is the dense half).  Constants are pre-folded to
# single literals in BOTH engines (2.2 = k1+1, 0.25 = 1-b, both exact
# doubles) so no cross-engine constant folding can diverge; the ln()
# idf takes an identical exact-rational argument in both engines (the
# text_bigram_logprob precedent).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_K1P1 = 2.2    # k1 + 1, pre-folded
_BM25_1MB = 0.25    # 1 - b (b = 0.75), pre-folded
_BM25_B = 0.75
_BM25_TOP = 50


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl
    ), tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tk) AS w FROM toks)
      WHERE w IN {tuple(_BM25_TERMS)}
      GROUP BY doc_id, w
    ), df AS (
      SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
    ), scored AS (
      SELECT tf.doc_id,
             ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * ((tf.tf * CAST({_BM25_K1P1} AS DOUBLE))
                / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
                   * (CAST({_BM25_1MB} AS DOUBLE)
                      + CAST({_BM25_B} AS DOUBLE)
                        * (dl.dl / (CAST(s.t_tokens AS DOUBLE) / s.n_docs)))))
               AS term_score
      FROM tf
      JOIN df USING (w)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           floor(sum(term_score) * 1000000.0 + 0.5) / 1000000.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOP}
    """,
    doc=f"BM25 (k1={_BM25_K1}, b={_BM25_B}) retrieval for the fixed "
        f"query {_BM25_TERMS!r}: top {_BM25_TOP} documents by "
        "ln-idf-weighted, length-normalized term frequency — the "
        "sparse-retrieval half of a RAG stack beside the similarity_* "
        "dense tier.  Scale: the token stream is filtered to the query "
        "terms BEFORE any shuffle (tf is |matching docs|×|terms|), df "
        "and the corpus stats broadcast as tiny aggregates, doc length "
        "joins tf co-partitioned on doc_id, and the final ranking is "
        "TakeOrdered with a (score, doc_id) total order — never a "
        "global sort.  All idf/normalization inputs are exact "
        "integers, constants pre-folded to single exact-double "
        "literals in both engines.",
    tags=("text", "similarity"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", tokens(normalize_text(F.col("text"))).alias("tk"))
    dl = tk.select("doc_id", F.size("tk").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("t_tokens"),
    )
    tf = (
        tk.select("doc_id", F.explode("tk").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = (F.col("tf") * F.lit(_BM25_K1P1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(_BM25_1MB)
            + F.lit(_BM25_B)
            * (F.col("dl") / (F.col("t_tokens").cast("double") / F.col("n_docs")))
        )
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).alias("term_score"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(pround(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOP)
    )


ZIPF_RANKS = 100
ZIPF_MIN_RANKS = 10


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), counts AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    ), ranked AS (
      SELECT source, c,
             row_number() OVER (PARTITION BY source
                                ORDER BY c DESC, tok ASC) AS r
      FROM counts
    ), fit AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
             regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))) AS slope_raw,
             regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE)))    AS r2_raw
      FROM ranked WHERE r <= {ZIPF_RANKS}
      GROUP BY source HAVING count(*) >= {ZIPF_MIN_RANKS}
    )
    SELECT source, n_ranks,
           floor(slope_raw * 1000000.0 + 0.5) / 1000000.0 AS zipf_slope,
           floor(r2_raw * 1000000.0 + 0.5) / 1000000.0    AS zipf_r2
    FROM fit
    """,
    doc=f"Zipf's-law fit per source: least-squares slope of ln(freq) on "
        f"ln(rank) over the top {ZIPF_RANKS} tokens (natural text sits "
        f"near −1; templated/boilerplate-heavy or synthetic sources "
        f"drift shallow, keyword-stuffed spam drifts steep) with the "
        f"fit R² as the linearity check — a corpus-health fingerprint "
        f"a mixing pipeline reads per source.  Scale shape: ONE "
        f"corpus-sized (source, token) vocab aggregate with map-side "
        f"combine, a source-keyed top-{ZIPF_RANKS} rank window over "
        f"vocab rows, then regr_* co-moment folds on ≤{ZIPF_RANKS} "
        f"points per source.  ln/regr in double with pround(6) — "
        f"sub-ULP libm variance vanishes at 6 decimals.",
    tags=("text", "stats", "curation"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").repartition(
        plan_parallelism(spark), "doc_id"
    )
    toks = d.select(
        "source", F.explode(tokens(normalize_text(F.col("text")))).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    ranked = (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= ZIPF_RANKS)
        .select(
            "source",
            F.log(F.col("c").cast("double")).alias("ln_c"),
            F.log(F.col("r").cast("double")).alias("ln_r"),
        )
    )
    fit = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.regr_slope("ln_c", "ln_r").alias("slope_raw"),
        F.regr_r2("ln_c", "ln_r").alias("r2_raw"),
    ).where(F.col("n_ranks") >= ZIPF_MIN_RANKS)
    return fit.select(
        "source",
        "n_ranks",
        pround(F.col("slope_raw"), 6).alias("zipf_slope"),
        pround(F.col("r2_raw"), 6).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth fit (per-doc points, per-source residuals)
# ---------------------------------------------------------------------------

# log-point quantization scale: ln(tokens) is held as an int64 in 1e-4
# units so every sum in the OLS fit and the per-source residual means
# is an exact integer — order-independent, so both engines agree
# bit-for-bit (a raw double sum is summation-order-dependent, and the
# ULP leak multiplies through exp() into the ratio's 6th decimal).
# 1e-4 (not 1e-6) keeps n*sum(xi^2) inside int64 to ~1e5 docs.
_HEAPS_SCALE = 10_000


@register(
    "documents_heaps_law",
    oracle=f"""
    WITH pts AS (
      SELECT source,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS nd,
             CAST(floor(ln(CAST(len({_DUCK_TOKENS}) AS DOUBLE))
                        * {_HEAPS_SCALE}.0 + 0.5) AS BIGINT) AS xi,
             CAST(floor(ln(CAST(len(list_distinct({_DUCK_TOKENS})) AS DOUBLE))
                        * {_HEAPS_SCALE}.0 + 0.5) AS BIGINT) AS yi
      FROM documents WHERE len({_DUCK_TOKENS}) > 0
    ), fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
             CAST(sum(xi * xi) AS BIGINT) AS sxx,
             CAST(sum(xi * yi) AS BIGINT) AS sxy
      FROM pts
    ), src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nd) AS BIGINT) AS n_tokens,
             CAST(sum(xi) AS BIGINT) AS gx, CAST(sum(yi) AS BIGINT) AS gy
      FROM pts GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           floor(((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                 * 1000000.0 + 0.5) / 1000000.0 AS heaps_beta,
           floor(exp((gy
                      - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)) * gx
                      - n_docs * ((sy - ((n * sxy - sx * sy) * 1.0
                                         / (n * sxx - sx * sx)) * sx) / n))
                     / (n_docs * {_HEAPS_SCALE}.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS geo_vocab_ratio
    FROM src CROSS JOIN fit
    WHERE n * sxx - sx * sx > 0
    """,
    doc="Heaps'-law vocabulary-growth audit: V = k*N^beta fitted by "
        "log-log least squares over one (tokens, distinct tokens) "
        "point PER DOCUMENT, then scored PER SOURCE as the geometric "
        "mean of observed/fitted vocab — the cross-document complement "
        "to text_zipf_fit's within-source rank-frequency slope.  "
        "Natural text grows sublinearly (Heaps, Information Retrieval "
        "1978; beta ~ 0.5-0.8); a source whose docs sit far ABOVE the "
        "corpus fit (ratio >> 1) is minting junk tokens (mojibake, "
        "IDs, hashes), far BELOW is templated/repetitive — both are "
        "mixing-policy signals a curation pipeline reads per source.  "
        "EXACT ARITHMETIC SHAPE: log points are quantized to int64 "
        "1e-4ths, so the OLS co-moments AND the per-source residual "
        "means are sums of integers (order-independent across "
        "engines); beta and each source's mean residual are then "
        "identical scalar trees on exact ints — deterministic IEEE — "
        "and the geometric mean needs NO per-doc float sum: "
        "mean(yi - beta*xi - lnk) = (Gy - beta*Gx - c*lnk)/c from the "
        "integer source sums alone.  Scale shape: one map-side "
        "tokenize pass, one grouped agg to |sources| rows plus a "
        "5-number 1-row fold broadcast back — no window, no join "
        "bigger than |sources|.  int64 headroom: n*sum(xi*xi) "
        "overflows past ~1e5 docs — switch the co-moment sums to "
        "decimal(38,0) (warehouse.py:203 pattern) at corpus scale.",
    tags=("text", "stats", "curation"),
)
def documents_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scale = F.lit(float(_HEAPS_SCALE))
    tk = tokens(normalize_text(F.col("text")))
    pts = (
        d.select(
            "source",
            F.size(tk).cast("bigint").alias("nd"),
            F.size(F.array_distinct(tk)).cast("bigint").alias("vd"),
        )
        .filter(F.col("nd") > 0)
        .select(
            "source",
            "nd",
            F.floor(F.log(F.col("nd").cast("double")) * scale + F.lit(0.5))
            .cast("bigint")
            .alias("xi"),
            F.floor(F.log(F.col("vd").cast("double")) * scale + F.lit(0.5))
            .cast("bigint")
            .alias("yi"),
        )
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("bigint").alias("sxy"),
    )
    src = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nd").cast("bigint").alias("n_tokens"),
        F.sum("xi").cast("bigint").alias("gx"),
        F.sum("yi").cast("bigint").alias("gy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(
        1.0
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    lnk_scaled = (F.col("sy") - beta * F.col("sx")) / F.col("n")
    geo = F.exp(
        (F.col("gy") - beta * F.col("gx") - F.col("n_docs") * lnk_scaled)
        / (F.col("n_docs") * scale)
    )
    return (
        src.crossJoin(F.broadcast(fit))
        # degenerate-variance guard (r12 review fix): if every doc has
        # the SAME token count, all xi are equal and n*sxx - sx^2 is
        # exactly 0 (integer co-moments make exact equality the rule,
        # not a float fluke) — no slope exists, and the division
        # aborted under this build's default ANSI mode.  The filter
        # runs BEFORE the projection's divisions (exact int predicate).
        .filter(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            pround(beta, 6).alias("heaps_beta"),
            pround(geo, 6).alias("geo_vocab_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# One-way ANOVA: document length across languages
# ---------------------------------------------------------------------------


@register(
    "documents_length_anova_by_lang",
    oracle="""
    WITH g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(ss) AS BIGINT) AS sst,
             CAST(sum(s * s * 100 // n) AS BIGINT) AS sgr_e2
      FROM g
    )
    SELECT CAST(k AS INTEGER) AS k_groups,
           nt AS n_docs,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(nt - k AS BIGINT) AS df_within,
           (sgr_e2 - st * st * 100 // nt) / 100.0 AS ss_between,
           (sst * 100 - sgr_e2) / 100.0 AS ss_within,
           floor((((sgr_e2 - st * st * 100 // nt) * 1.0) / (k - 1))
                 / (((sst * 100 - sgr_e2) * 1.0) / (nt - k))
                 * 1000000.0 + 0.5) / 1000000.0 AS f_stat
    FROM tot
    WHERE k > 1 AND nt > k AND sst * 100 - sgr_e2 > 0
    """,
    doc="One-way ANOVA of document length across languages — the "
        "k-group generalization the stats tier was missing next to the "
        "two-sample Welch t (events_abtest_purchase_rate), Mann-"
        "Whitney U, chi-square, and KS screens: does mean length "
        "differ across language subcorpora more than within-language "
        "variance explains?  A large F before mixing means length "
        "caps/packing budgets need per-language tuning.  Classical "
        "decomposition SS_between = sum(S_g^2/n_g) - S^2/N, SS_within "
        "= sum(x^2) - sum(S_g^2/n_g) from per-group (n, sum, sum-of-"
        "squares).  EXACT ARITHMETIC SHAPE: a float sum of the k "
        "S_g^2/n_g terms would be fold-order-dependent across engines "
        "(the perplexity-buckets lesson), so each group term is floor-"
        "quantized to int64 CENTS (s*s*100 div n) and the cross-group "
        "sum, both SS terms, and the F ratio are then integer "
        "arithmetic plus one identical scalar double tree — the "
        "statistic is DEFINED on cents-quantized group terms (bias "
        "<= 0.01 per group, irrelevant at F scale) in exchange for "
        "bit-reproducibility.  Scale shape: one partial-agg shuffle "
        "to |langs| rows, then a 1-row fold; output 1 row.  int64 "
        "headroom: s*s*100 overflows past ~1e8 chars per language "
        "group (~3e5 docs at 300 chars); switch s/ss/sgr_e2 to "
        "decimal(38,0) past that (warehouse.py:203 pattern).",
    tags=("text", "stats"),
)
def documents_length_anova_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.sum(F.expr("s * s * 100L div n")).cast("bigint").alias("sgr_e2"),
    )
    one = F.lit(1.0)
    ssb_e2 = F.col("sgr_e2") - F.expr("st * st * 100L div nt")
    ssw_e2 = F.col("sst") * 100 - F.col("sgr_e2")
    # undefined-F guard (r12 review fix): k=1 (single language) zeroes
    # df_between, nt=k (one doc per language) zeroes df_within, and
    # zero within-group variance zeroes the denominator — each raised
    # DIVIDE_BY_ZERO under this build's default ANSI mode instead of
    # yielding "no test exists".  Exact integer predicate, filtered
    # BEFORE the projection's divisions; same WHERE in the oracle.
    tot = tot.filter(
        (F.col("k") > 1) & (F.col("nt") > F.col("k")) & (ssw_e2 > 0)
    )
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nt").alias("n_docs"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("nt") - F.col("k")).cast("bigint").alias("df_within"),
        (ssb_e2 / F.lit(100.0)).alias("ss_between"),
        (ssw_e2 / F.lit(100.0)).alias("ss_within"),
        pround(
            ((ssb_e2 * one) / (F.col("k") - 1))
            / ((ssw_e2 * one) / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity of the source mix per language
# ---------------------------------------------------------------------------


@register(
    "documents_source_simpson_diversity",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), a AS (
      SELECT lang,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n * (n - 1)) AS BIGINT) AS num
      FROM c GROUP BY lang
    )
    SELECT lang, nt AS n_docs, k AS n_sources,
           floor(num * 1.0 / (nt * (nt - 1.0)) * 1000000.0 + 0.5)
             / 1000000.0 AS simpson_lambda,
           CASE WHEN num > 0
                THEN floor((nt * (nt - 1.0)) / num * 1000000.0 + 0.5)
                     / 1000000.0
                ELSE -1.0 END AS effective_sources
    FROM a WHERE nt > 1
    """,
    doc="Simpson diversity of the SOURCE mix within each language "
        "subcorpus: unbiased Simpson concentration lambda = "
        "sum(n_i(n_i-1))/(N(N-1)) — the probability two random docs of "
        "a language share a source — and its reciprocal, the EFFECTIVE "
        "number of sources (Hill number of order 2).  The diversity "
        "audit behind mixing policy: a language whose effective-source "
        "count collapses toward 1 is a single-crawl monoculture "
        "however many sources nominally contribute, the "
        "domain-overfit / dedup-blind-spot warning "
        "documents_source_lang_mutual_info's PMI cells refine.  "
        "UNLIKE entropy-based diversity this needs NO logarithm: the "
        "statistic is an exact integer rational (int64 sums of "
        "n_i(n_i-1)) with one identical scalar double tree per row — "
        "no cross-libm ln() risk at all.  Scale shape: one partial-agg "
        "shuffle to |langs| x |sources| cells, re-aggregated to "
        "|langs| rows; single-doc languages are excluded by the same "
        "N > 1 predicate in both engines (the estimator is undefined), "
        "and all-one-source languages emit the -1.0 sentinel instead "
        "of a NULL reciprocal.  int64 headroom: n_i^2 overflows past "
        "~3e9 docs per (lang, source) cell — decimal(38,0) swap "
        "documented (warehouse.py:203 pattern).",
    tags=("text", "stats", "curation"),
)
def documents_source_simpson_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = c.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("num"),
    )
    one = F.lit(1.0)
    lam = F.col("num") * one / (F.col("nt") * (F.col("nt") - one))
    return a.filter(F.col("nt") > 1).select(
        "lang",
        F.col("nt").alias("n_docs"),
        F.col("k").alias("n_sources"),
        pround(lam, 6).alias("simpson_lambda"),
        F.when(
            F.col("num") > 0,
            pround((F.col("nt") * (F.col("nt") - one)) / F.col("num"), 6),
        )
        .otherwise(F.lit(-1.0))
        .alias("effective_sources"),
    )


# ---------------------------------------------------------------------------
# Tukey HSD post-hoc pairs (which languages actually differ)
# ---------------------------------------------------------------------------

# studentized-range 95% critical values q(k, df=inf) BY group count,
# each pre-rounded to one literal shared by both engines (the
# chi-square constant-pinning pattern).  SELECTED by the observed k —
# r12 review fix: the old single k=5 literal broke the family-wise
# error guarantee whenever the language cardinality differed (k=4
# wants 3.633, k=6 wants 4.030); past k=8 the largest value is used
# and the docstring flags the approximation.
_TUKEY_Q_BY_K = {2: 2.772, 3: 3.314, 4: 3.633, 5: 3.858, 6: 4.030, 7: 4.170, 8: 4.286}
_TUKEY_Q_SQL = (
    "CASE k "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in sorted(_TUKEY_Q_BY_K.items()))
    + " ELSE 4.286 END"
)


@register(
    "documents_length_tukey_pairs",
    oracle=f"""
    WITH g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(ss) AS BIGINT) AS sst,
             CAST(sum(s * s * 100 // n) AS BIGINT) AS sgr_e2
      FROM g
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b, a.n AS n_a, b.n AS n_b,
           floor(abs(a.s * 1.0 / a.n - b.s * 1.0 / b.n) * 10000.0 + 0.5)
             / 10000.0 AS mean_diff,
           floor(({_TUKEY_Q_SQL})
                 * sqrt(((sst * 100 - sgr_e2) / 100.0 / (nt - k))
                        / 2.0 * (1.0 / a.n + 1.0 / b.n))
                 * 10000.0 + 0.5) / 10000.0 AS hsd,
           CAST(CASE WHEN abs(a.s * 1.0 / a.n - b.s * 1.0 / b.n)
                       > ({_TUKEY_Q_SQL})
                         * sqrt(((sst * 100 - sgr_e2) / 100.0
                                 / (nt - k))
                                / 2.0 * (1.0 / a.n + 1.0 / b.n))
                THEN 1 ELSE 0 END AS INTEGER) AS significant
    FROM g a JOIN g b ON a.lang < b.lang CROSS JOIN tot
    """,
    doc="Tukey HSD post-hoc pairs after documents_length_anova_by_lang: "
        "the ANOVA F says SOME language's mean length differs; this "
        "says WHICH pairs, with the studentized-range honest-"
        "significant-difference correction for testing all k(k-1)/2 "
        "comparisons at once (pairwise t-tests at 5% would inflate the "
        "family error toward 40% at k=5).  Unbalanced groups use the "
        "Tukey-Kramer SE sqrt(MSW/2*(1/n_a+1/n_b)); the 95% critical "
        "value q(k, df=inf) is SELECTED by the observed group count "
        "from pinned pre-rounded literals (k=2..8; the largest is used "
        "past 8 — slightly conservative there) shared by both engines "
        "(the chi2-critical-value pattern — an in-engine inverse-CDF "
        "would not be cross-libm exact; r12 review fix: a single k=5 "
        "literal broke the family-wise guarantee at any other "
        "cardinality).  MSW reuses the ANOVA's cents-quantized "
        "integer decomposition, so means, SE, HSD, and even the "
        "significance COMPARISON are identical scalar double trees on "
        "exact int64 inputs.  Scale shape: the same one-shuffle "
        "per-lang aggregate, a k x k self-join on |langs| rows, a "
        "1-row broadcast total; output k(k-1)/2 rows.",
    tags=("text", "stats"),
)
def documents_length_tukey_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("ss"),
    ).localCheckpoint(eager=False)
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.sum(F.expr("s * s * 100L div n")).cast("bigint").alias("sgr_e2"),
    )
    a = g.select(
        F.col("lang").alias("lang_a"), F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    b = g.select(
        F.col("lang").alias("lang_b"), F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    one = F.lit(1.0)
    msw = (
        (F.col("sst") * 100 - F.col("sgr_e2")) / F.lit(100.0) / (F.col("nt") - F.col("k"))
    )
    diff = F.abs(F.col("s_a") * one / F.col("n_a") - F.col("s_b") * one / F.col("n_b"))
    q = F.lit(None).cast("double")
    for kk, v in sorted(_TUKEY_Q_BY_K.items(), reverse=True):
        q = F.when(F.col("k") == kk, F.lit(v)).otherwise(q)
    q = F.coalesce(q, F.lit(4.286))
    hsd = q * F.sqrt(
        msw / F.lit(2.0) * (one / F.col("n_a") + one / F.col("n_b"))
    )
    return (
        a.join(b, F.col("lang_a") < F.col("lang_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang_a",
            "lang_b",
            "n_a",
            "n_b",
            pround(diff, 4).alias("mean_diff"),
            pround(hsd, 4).alias("hsd"),
            F.when(diff > hsd, 1).otherwise(0).cast("int").alias("significant"),
        )
    )


# ---------------------------------------------------------------------------
# Term burstiness (Church-Gale): which words clump into few documents
# ---------------------------------------------------------------------------

_TB_TOPK = 50
_TB_EXP_SCALE = 1_000_000  # exp(-cf/N) quantized (heaps/exp pattern)


@register(
    "text_term_burstiness",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents
    ), stats AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY w
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM documents
    )
    SELECT w AS term, cf, df,
           floor(cf * 1.0 / df * 1000000.0 + 0.5) / 1000000.0
             AS burstiness,
           floor((n * (1.0 - floor(exp(-(cf * 1.0 / n))
                                   * {_TB_EXP_SCALE}.0 + 0.5)
                           / {_TB_EXP_SCALE}.0))
                 * 1000000.0 + 0.5) / 1000000.0 AS poisson_expected_df
    FROM stats CROSS JOIN nd
    ORDER BY cf * 1.0 / df DESC, cf DESC, w
    LIMIT {_TB_TOPK}
    """,
    doc=f"Church-Gale term burstiness: the top-{_TB_TOPK} terms by "
        "occurrences-per-containing-document (cf/df) beside the "
        "document frequency a Poisson scatter of the same cf would "
        "predict, N(1-exp(-cf/N)).  A term whose df sits far UNDER "
        "the Poisson expectation clumps into few documents — "
        "topical/template vocabulary — while uniform function words "
        "track it; the screen feeds stopword policy and the "
        "boilerplate-ngram gate (a bursty high-cf term is boilerplate "
        "fuel, a uniform one is syntax).  Exactness: cf/df is an "
        "integer rational; the ordering key is the same exact ratio "
        "with (cf, term) tie-breaks so the LIMIT cut is a total "
        "order; exp(-cf/N) is evaluated on an identical double and "
        "1e-6-quantized before re-entering arithmetic (cross-libm exp "
        "differs by <= 1 ulp — a flip needs the true value within "
        "~1e-22 of a boundary).  Scale shape: one term-keyed "
        "partial-agg shuffle (cf + exact df per term), a 1-row corpus "
        f"count broadcast, TakeOrdered({_TB_TOPK}).",
    tags=("text", "stats", "curation"),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("w")
    )
    stats = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.count_distinct("doc_id").cast("bigint").alias("df"),
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    one = F.lit(1.0)
    ratio = F.col("cf") * one / F.col("df")
    expq = (
        F.floor(
            F.exp(-(F.col("cf") * one / F.col("n"))) * _TB_EXP_SCALE + F.lit(0.5)
        )
        / F.lit(float(_TB_EXP_SCALE))
    )
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            "cf",
            "df",
            pround(ratio, 6).alias("burstiness"),
            pround(F.col("n") * (one - expq), 6).alias("poisson_expected_df"),
            ratio.alias("_k"),
        )
        .orderBy(F.desc("_k"), F.desc("cf"), "term")
        .limit(_TB_TOPK)
        .drop("_k")
    )


LOGODDS_TOP = 5


@register(
    "text_token_fertility_by_lang",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len({_DUCK_TOKENS}) AS BIGINT)      AS n_tokens,
             CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS BIGINT) AS n_chars,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           floor((CAST(sum(n_chars) AS BIGINT) * 1.0 / CAST(sum(n_tokens) AS BIGINT)) * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token,
           floor((CAST(sum(n_bytes) AS BIGINT) * 1.0 / CAST(sum(n_tokens) AS BIGINT)) * 1000000.0 + 0.5) / 1000000.0 AS bytes_per_token,
           floor((CAST(sum(n_tokens) AS BIGINT) * 1.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS tokens_per_doc
    FROM per_doc
    GROUP BY lang
    HAVING sum(n_tokens) > 0
    """,
    doc="Tokenizer-fertility health metric by language: chars/token, "
        "bytes/token (the BPE-fertility proxy — languages whose bytes-"
        "per-token drifts high are under-served by the tokenizer and "
        "silently cost context budget), tokens/doc.  Scale shape: "
        "per-row token/char/byte counts computed map-side in one "
        "corpus scan, ONE partial-agg shuffle to |langs| cells; all "
        "sums exact int64, the three ratios are single double "
        "divisions of identical integers — bit-stable cross-engine.",
    tags=("text", "tokens"),
)
def text_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    per_doc = d.select(
        "lang",
        F.size(tokens(norm)).cast("bigint").alias("n_tokens"),
        F.length(norm).cast("bigint").alias("n_chars"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("n_bytes"),
    )
    # degenerate-group guard (r12 review fix): a lang whose docs all
    # tokenize to [] has sum(n_tokens)=0 and the per-token ratios
    # raised DIVIDE_BY_ZERO under this build's default ANSI mode,
    # aborting every other language's report — no fertility exists for
    # it, so it is filtered BEFORE the divisions are formed (a filter
    # after an agg that already divides would still evaluate the
    # division per group; the oracle's HAVING is safe because DuckDB
    # doubles divide-by-zero to inf rather than raising)
    sums = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("_sc"),
        F.sum("n_bytes").cast("bigint").alias("_sb"),
    )
    return sums.filter(F.col("total_tokens") > 0).select(
        "lang",
        "n_docs",
        "total_tokens",
        pround(F.col("_sc") * F.lit(1.0) / F.col("total_tokens"), 6).alias(
            "chars_per_token"
        ),
        pround(F.col("_sb") * F.lit(1.0) / F.col("total_tokens"), 6).alias(
            "bytes_per_token"
        ),
        pround(F.col("total_tokens") * F.lit(1.0) / F.col("n_docs"), 6).alias(
            "tokens_per_doc"
        ),
    )


@register(
    "source_logodds_terms",
    oracle=f"""
    WITH cell AS (
      SELECT source, unnest({_DUCK_TOKENS}) AS token FROM documents
    ), cnt AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS y
      FROM cell GROUP BY source, token
    ), src AS (
      SELECT source, CAST(sum(y) AS BIGINT) AS n_s FROM cnt GROUP BY source
    ), term AS (
      SELECT token, CAST(sum(y) AS BIGINT) AS c_i FROM cnt GROUP BY token
    ), tot AS (
      SELECT CAST(sum(y) AS BIGINT) AS n, CAST(count(DISTINCT token) AS BIGINT) AS v
      FROM cnt
    ), z AS (
      SELECT c.source, c.token,
             c.y AS y_si,
             (ln((c.y + 1.0) / (s.n_s + t2.v - c.y - 1.0))
              - ln((t.c_i - c.y + 1.0) / (t2.n - s.n_s + t2.v - (t.c_i - c.y) - 1.0)))
             / sqrt(1.0 / (c.y + 1.0) + 1.0 / (t.c_i - c.y + 1.0)) AS zval
      FROM cnt c JOIN src s USING (source) JOIN term t USING (token) CROSS JOIN tot t2
    )
    SELECT source, token, y_si,
           CAST(row_number() OVER (PARTITION BY source
                ORDER BY floor(zval * 10000.0 + 0.5) / 10000.0 DESC, token) AS INTEGER) AS rank,
           floor(zval * 10000.0 + 0.5) / 10000.0 AS z
    FROM z
    QUALIFY rank <= {LOGODDS_TOP}
    """,
    doc=f"Distinguishing terms per source via Monroe et al.'s "
        f"log-odds-ratio with an informative Dirichlet prior "
        f"(\"Fightin' Words\", flat prior a_i=1, a0=|V|): "
        f"z = [ln((y_si+1)/(n_s+V-y_si-1)) - ln((y_ri+1)/(n_r+V-y_ri-1))]"
        f" / sqrt(1/(y_si+1) + 1/(y_ri+1)) — unlike raw TF-IDF this "
        f"shrinks rare-term noise and surfaces what a source "
        f"over-uses RELATIVE to the rest of the corpus; top-{LOGODDS_TOP} "
        f"per source.  Scale shape: ONE corpus tokenize+agg to "
        f"(source, token) cells; term margins join back on token "
        f"(co-partitioned, vocab-sized — NOT broadcast: open-domain "
        f"vocab outgrows a broadcast at 100 TB), |sources|-row and "
        f"1-row margins broadcast; the top-k window partitions by "
        f"source.  Ranking and output use the SAME 4dp-rounded z so "
        f"cross-engine libm ULP drift cannot reorder ranks (ties "
        f"break on token).",
    tags=("text", "curation", "stats"),
)
def source_logodds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("source", F.explode(tokens(normalize_text(F.col("text")))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint(eager=False)
    )
    src = cnt.groupBy("source").agg(F.sum("y").cast("bigint").alias("n_s"))
    term = cnt.groupBy("token").agg(F.sum("y").cast("bigint").alias("c_i"))
    tot = cnt.agg(
        F.sum("y").cast("bigint").alias("n"),
        F.countDistinct("token").cast("bigint").alias("v"),
    )
    y, n_s, c_i, n, v = (F.col(c) for c in ("y", "n_s", "c_i", "n", "v"))
    y_r = c_i - y
    delta = F.log((y + F.lit(1.0)) / (n_s + v - y - F.lit(1.0))) - F.log(
        (y_r + F.lit(1.0)) / (n - n_s + v - y_r - F.lit(1.0))
    )
    zval = delta / F.sqrt(F.lit(1.0) / (y + F.lit(1.0)) + F.lit(1.0) / (y_r + F.lit(1.0)))
    z4 = pround(zval, 4)
    w = Window.partitionBy("source").orderBy(F.desc("z"), F.asc("token"))
    return (
        cnt.join(term, "token")  # vocab-sized: co-partitioned join, not broadcast
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", "token", F.col("y").alias("y_si"), z4.alias("z"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= LOGODDS_TOP)
        .select("source", "token", "y_si", "rank", "z")
    )


@register(
    "text_readability_flesch",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
               AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
               AS syllables
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(words) AS BIGINT)      AS total_words,
           floor((CAST(sum(words) AS BIGINT) * 1.0 / CAST(sum(sentences) AS BIGINT))
                 * 1000000.0 + 0.5) / 1000000.0 AS words_per_sentence,
           floor((CAST(sum(syllables) AS BIGINT) * 1.0 / CAST(sum(words) AS BIGINT))
                 * 1000000.0 + 0.5) / 1000000.0 AS syllables_per_word,
           floor((206.835
                  - 1.015 * (CAST(sum(words) AS BIGINT) * 1.0 / CAST(sum(sentences) AS BIGINT))
                  - 84.6 * (CAST(sum(syllables) AS BIGINT) * 1.0 / CAST(sum(words) AS BIGINT)))
                 * 10000.0 + 0.5) / 10000.0 AS flesch
    FROM per_doc
    GROUP BY lang
    HAVING sum(words) > 0
    """,
    doc="Flesch reading-ease by language — the classic readability "
        "feature of text-quality scoring, computed from corpus-level "
        "sums (not per-doc averages, which would weight short docs "
        "up): 206.835 - 1.015*(words/sentences) - 84.6*(syllables/"
        "words).  Syllables use the standard vowel-group proxy "
        "(non-overlapping [aeiou]+ runs — spaces break runs, so "
        "whole-text counting equals per-word counting); sentence "
        "count is [.!?]+ runs clamped to >= 1.  Scale shape: three "
        "regex/token counts per row map-side in ONE corpus scan, one "
        "partial-agg shuffle to |langs| cells; all sums exact int64, "
        "the formula is applied once per cell on identical integers — "
        "bit-stable cross-engine.",
    tags=("text", "curation"),
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(tokens(normalize_text(F.col("text")))).cast("bigint").alias("words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
        )
        .cast("bigint")
        .alias("sentences"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiou]+"), 0))
        .cast("bigint")
        .alias("syllables"),
    )
    # degenerate-group guard (r12 review fix): a lang whose docs are
    # all zero-token has sum(words)=0 and syllables_per_word raised
    # DIVIDE_BY_ZERO under this build's default ANSI mode — sum first,
    # filter, THEN divide (sentences is clamped >= 1 per doc, so only
    # the words denominator can vanish)
    sums = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("total_words"),
        F.sum("sentences").cast("bigint").alias("_ss"),
        F.sum("syllables").cast("bigint").alias("_sy"),
    )
    words_per_sentence = F.col("total_words") * F.lit(1.0) / F.col("_ss")
    syllables_per_word = F.col("_sy") * F.lit(1.0) / F.col("total_words")
    return sums.filter(F.col("total_words") > 0).select(
        "lang",
        "n_docs",
        "total_words",
        pround(words_per_sentence, 6).alias("words_per_sentence"),
        pround(syllables_per_word, 6).alias("syllables_per_word"),
        pround(
            F.lit(206.835)
            - F.lit(1.015) * words_per_sentence
            - F.lit(84.6) * syllables_per_word,
            4,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# round 11: feature-hashing (hashing-trick) collision audit
# ---------------------------------------------------------------------------

_FH_BUCKETS = 16_384  # 2^14, a typical hashing-trick feature width





@register(
    "text_hashing_trick_collisions",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
    ), vocab AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS occ,
             {duck_u32("'fh_' || tok")} % {_FH_BUCKETS} AS bucket
      FROM tok GROUP BY tok
    ), buckets AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(sum(occ) AS BIGINT) AS n_occ
      FROM vocab GROUP BY bucket
    )
    SELECT CAST({_FH_BUCKETS} AS BIGINT)   AS n_buckets,
           CAST(sum(n_terms) AS BIGINT)    AS vocab_size,
           CAST(count(*) AS BIGINT)        AS buckets_used,
           CAST(sum(CASE WHEN n_terms > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS collision_buckets,
           CAST(max(n_terms) AS BIGINT)    AS max_bucket_terms,
           CAST(sum(CASE WHEN n_terms > 1 THEN n_terms ELSE 0 END) AS BIGINT)
             AS colliding_terms,
           floor((sum(CASE WHEN n_terms > 1 THEN n_occ ELSE 0 END) * 1.0
                  / sum(n_occ)) * 1000000.0 + 0.5) / 1000000.0
             AS colliding_occurrence_share
    FROM buckets
    """,
    doc=f"Feature-hashing collision audit: the corpus vocabulary hashed "
        f"into {_FH_BUCKETS} buckets (the hashing trick that replaces a "
        "vocabulary dictionary in linear models / CountSketch "
        "featurizers), reporting how many buckets collide, the worst "
        "bucket, and — the number that actually matters for model "
        "quality — the share of token OCCURRENCES whose bucket is "
        "shared with another term (a collision on two rare terms is "
        "harmless; on two frequent ones it aliases features).  The "
        "bucket hash is the md5-derived u32 both engines compute "
        "identically; at deploy time the same audit runs with the "
        "production hash to size the width.  Scale shape: one "
        "token-key partial agg (vocab-sized output), one bucket agg "
        f"(≤{_FH_BUCKETS} cells), 1-row report — all exact integers "
        "plus one exact share division.",
    tags=("text", "profiling"),
)
def text_hashing_trick_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(plan_parallelism(spark), "doc_id")
    tok = docs.select(
        F.explode(tokens(normalize_text(F.col("text")))).alias("tok")
    )
    u32 = spark_u32(F.concat(F.lit("fh_"), F.col("tok")))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    vocab = vocab.select(
        "occ", F.pmod(u32, F.lit(_FH_BUCKETS)).alias("bucket")
    )
    buckets = vocab.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("occ").cast("bigint").alias("n_occ"),
    )
    coll = F.col("n_terms") > 1
    return buckets.agg(
        F.lit(_FH_BUCKETS).cast("bigint").alias("n_buckets"),
        F.sum("n_terms").cast("bigint").alias("vocab_size"),
        F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
        F.sum(coll.cast("bigint")).cast("bigint").alias("collision_buckets"),
        F.max("n_terms").cast("bigint").alias("max_bucket_terms"),
        F.sum(F.when(coll, F.col("n_terms")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("colliding_terms"),
        pround(
            F.sum(F.when(coll, F.col("n_occ")).otherwise(F.lit(0)))
            * F.lit(1.0)
            / F.sum("n_occ"),
            6,
        ).alias("colliding_occurrence_share"),
    )


# ---------------------------------------------------------------------------
# round 11: Gopher quality rules as a per-rule attribution audit
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "a", "and", "of", "to", "is")
_GOPHER_RULES = (
    "word_count_50_100k",
    "mean_word_len_3_10",
    "alpha_words_80pct",
    "min_2_stopwords",
    "ellipsis_lines_30pct",
)


@register(
    "documents_gopher_rules_audit",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok,
             CAST(list_sum(list_transform({_DUCK_TOKENS}, t -> length(t)))
                  AS BIGINT) AS tok_chars,
             CAST(len(list_filter({_DUCK_TOKENS},
                                  t -> regexp_matches(t, '[a-z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_distinct(list_filter({_DUCK_TOKENS},
                  t -> t IN ('the', 'a', 'and', 'of', 'to', 'is'))))
                  AS BIGINT) AS n_stop_distinct,
             CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             CAST(len(list_filter(string_split(text, chr(10)),
                                  l -> ends_with(l, '...')))
                  AS BIGINT) AS n_ellipsis
      FROM documents
    ), flags AS (
      SELECT doc_id,
             NOT (n_tok >= 50 AND n_tok <= 100000)        AS f1,
             NOT (tok_chars >= 3 * n_tok
                  AND tok_chars <= 10 * n_tok)            AS f2,
             NOT (5 * n_alpha >= 4 * n_tok)               AS f3,
             NOT (n_stop_distinct >= 2)                   AS f4,
             (10 * n_ellipsis > 3 * n_lines)              AS f5
      FROM feat
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM flags
    ), ex AS (
      SELECT rules.rule, rules.fail,
             (CASE WHEN f1 THEN 1 ELSE 0 END + CASE WHEN f2 THEN 1 ELSE 0 END
              + CASE WHEN f3 THEN 1 ELSE 0 END + CASE WHEN f4 THEN 1 ELSE 0 END
              + CASE WHEN f5 THEN 1 ELSE 0 END) AS n_failed
      FROM flags,
      LATERAL (VALUES ('{_GOPHER_RULES[0]}', f1), ('{_GOPHER_RULES[1]}', f2),
                      ('{_GOPHER_RULES[2]}', f3), ('{_GOPHER_RULES[3]}', f4),
                      ('{_GOPHER_RULES[4]}', f5)) rules(rule, fail)
    )
    SELECT rule,
           CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
           floor((sum(CASE WHEN fail THEN 1 ELSE 0 END) * 1.0 / t.n_docs)
                 * 1000000.0 + 0.5) / 1000000.0 AS fail_share,
           CAST(sum(CASE WHEN fail AND n_failed = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail_only
    FROM ex CROSS JOIN tot t
    GROUP BY rule, t.n_docs
    """,
    doc="The published Gopher quality rules (Rae et al. 2021 §A1.1) as "
        "a RULE-ATTRIBUTION audit, not just a pass/fail gate: per rule "
        "— word count in [50, 100k], mean word length in [3, 10], "
        "≥80% of words containing an alphabetic character, ≥2 distinct "
        "required stopwords, ≤30% of lines ending in ellipsis — how "
        "many documents fail it, the failure share, and how many fail "
        "ONLY that rule (the marginal kill count that tells a curation "
        "team which threshold to tune; a rule whose failures are all "
        "covered by other rules is free to tighten).  Bounds compare "
        "as cross-multiplied exact integers (3 ≤ chars/words ≤ 10 "
        "becomes 3·words ≤ chars ≤ 10·words), so no ratio ever "
        "touches a float.  Scale shape: map-only feature extraction "
        "(one pass over text, all five flags from one token fold), a "
        "5-way rule explode of the per-doc flag vector, one partial "
        "agg to 5 rule cells.",
    tags=("text", "quality", "curation"),
)
def documents_gopher_rules_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(plan_parallelism(spark), "doc_id")
    tk = tokens(normalize_text(F.col("text")))
    lines = F.split(F.col("text"), "\n")
    feat = docs.select(
        F.size(tk).cast("bigint").alias("n_tok"),
        F.aggregate(
            F.transform(tk, lambda t: F.length(t)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("tok_chars"),
        F.size(F.filter(tk, lambda t: t.rlike("[a-z]"))).cast("bigint").alias(
            "n_alpha"
        ),
        F.size(
            F.array_distinct(
                F.filter(tk, lambda t: t.isin(*_GOPHER_STOPS))
            )
        )
        .cast("bigint")
        .alias("n_stop_distinct"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(lines, lambda l: l.endswith("...")))
        .cast("bigint")
        .alias("n_ellipsis"),
    )
    flags = feat.select(
        (~((F.col("n_tok") >= 50) & (F.col("n_tok") <= 100000))).alias("f1"),
        (
            ~(
                (F.col("tok_chars") >= 3 * F.col("n_tok"))
                & (F.col("tok_chars") <= 10 * F.col("n_tok"))
            )
        ).alias("f2"),
        (~(5 * F.col("n_alpha") >= 4 * F.col("n_tok"))).alias("f3"),
        (~(F.col("n_stop_distinct") >= 2)).alias("f4"),
        (10 * F.col("n_ellipsis") > 3 * F.col("n_lines")).alias("f5"),
    )
    n_failed = sum(
        F.col(f).cast("int") for f in ("f1", "f2", "f3", "f4", "f5")
    )
    rule_arr = F.array(
        *[
            F.struct(F.lit(rule).alias("rule"), F.col(flag).alias("fail"))
            for rule, flag in zip(_GOPHER_RULES, ("f1", "f2", "f3", "f4", "f5"))
        ]
    )
    ex = flags.select(
        n_failed.alias("n_failed"), F.explode(rule_arr).alias("r")
    ).select("n_failed", F.col("r.rule").alias("rule"), F.col("r.fail").alias("fail"))
    tot = flags.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        ex.groupBy("rule")
        .agg(
            F.sum(F.col("fail").cast("bigint")).cast("bigint").alias("n_fail"),
            F.sum((F.col("fail") & (F.col("n_failed") == 1)).cast("bigint"))
            .cast("bigint")
            .alias("n_fail_only"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "rule",
            "n_fail",
            pround(F.col("n_fail") * F.lit(1.0) / F.col("n_docs"), 6).alias(
                "fail_share"
            ),
            "n_fail_only",
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-loop training (round 16, VERDICT r15 item 6): the bounded-
# iteration trainer on top of text_bpe_pair_counts' one-round shape.
# ---------------------------------------------------------------------------

# Stopping contract (round 17, VERDICT r16 item 5): train until the
# piece vocabulary reaches BPE_VOCAB_TARGET distinct symbols, the
# pair supply exhausts, or BPE_MERGES rounds have run — whichever
# comes first.  The target is the tokenizer-deployment knob (a vocab
# SIZE is what one actually specifies); the round bound exists because
# the oracle is a mechanically UNROLLED CTE chain whose depth must be
# fixed at registration, so both engines stop on the identical triple
# condition.  A merge round can also REMOVE pieces (a fully-absorbed
# symbol disappears), so the piece count is measured from the live
# vocab each round, never inferred from the merge count.  36 against
# the fixture's 24-character alphabet yields a ~20-30-round merge
# table (depth varies with SF — the point of a data-driven stop).
BPE_MERGES = 32  # unroll bound (bounded driver loop, 1-row collect each)
BPE_VOCAB_TARGET = 36
BPE_PIECES_TOP = 32


def _bpe_oracle_prefix() -> str:
    """The DuckDB twin of the K-round merge loop, UNROLLED: recursive
    CTEs cannot aggregate over their own recursive term (the argmax
    that picks each merge), so each round is four chained CTEs —
    pair counts from v{k-1}, the argmax merge m{k} (guarded by the
    vocab-target predicate — the round is a no-op once v{k-1} already
    holds >= BPE_VOCAB_TARGET distinct pieces), its halt fallback
    mm{k} (a sentinel no-op merge when m{k} is empty — pair supply
    exhausted OR target reached — so a halted vocab propagates
    UNCHANGED through the remaining rounds instead of collapsing the
    CROSS JOIN to empty; the Spark loop breaks at the same triple
    condition and the final union filters the sentinels out), and the
    re-segmented vocab v{k}.  Every
    per-round CTE is MATERIALIZED: each is referenced 2-3 times, and
    DuckDB's default inlining would re-evaluate the whole upstream
    chain per reference — exponential in the round count (found as a
    >10-min hang at sf0.001; materialized it is 0.08 s).  Mechanical
    generation keeps the SQL in lockstep with the Spark loop."""
    parts = [
        f"""
    WITH v0 AS (
      SELECT CAST(count(*) AS BIGINT) AS freq,
             regexp_replace(tok, '(.)', '<\\1>', 'g') AS enc
      FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
      GROUP BY tok
    )"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(f"""
    , p{k} AS MATERIALIZED (
      SELECT syms[g.i] AS left_sym, syms[g.i + 1] AS right_sym,
             CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (SELECT freq,
                   string_split(substr(enc, 2, length(enc) - 2), '><') AS syms
            FROM v{k - 1}) t,
           LATERAL (SELECT unnest(generate_series(1, len(t.syms) - 1)) AS i) g(i)
      GROUP BY 1, 2
    ), m{k} AS MATERIALIZED (
      SELECT left_sym, right_sym, pair_count
      FROM p{k}
      WHERE (SELECT count(DISTINCT piece) FROM (
               SELECT unnest(string_split(substr(enc, 2, length(enc) - 2),
                                          '><')) AS piece
               FROM v{k - 1})) < {BPE_VOCAB_TARGET}
      ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
    ), mm{k} AS MATERIALIZED (
      SELECT * FROM m{k}
      UNION ALL
      SELECT '', '', CAST(0 AS BIGINT)
      WHERE NOT EXISTS (SELECT 1 FROM m{k})
    ), v{k} AS MATERIALIZED (
      SELECT freq,
             replace(enc, '<' || m.left_sym || '><' || m.right_sym || '>',
                          '<' || m.left_sym || m.right_sym || '>') AS enc
      FROM v{k - 1} CROSS JOIN mm{k} m
    )""")
    return "".join(parts)


def _bpe_oracle_merges() -> str:
    """Full trainer oracle: the CTE prefix + one UNION ALL arm per
    round's real (non-sentinel) merge row."""
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, left_sym, right_sym, pair_count FROM m{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return _bpe_oracle_prefix() + "\n    " + unions


def _bpe_oracle_pieces() -> str:
    """Full segment-apply oracle: the SAME CTE prefix + the final
    vocab's piece-count aggregation.  Composed from explicit parts —
    not string surgery on the trainer SQL (round-16 review: the old
    split-on-'UNION ALL' survived the mm{k} CTE only by an
    indentation coincidence)."""
    return _bpe_oracle_prefix() + f"""
    SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count
    FROM (SELECT freq, unnest(string_split(substr(enc, 2, length(enc) - 2),
                                           '><')) AS piece
          FROM v{BPE_MERGES})
    GROUP BY piece
    ORDER BY piece_count DESC, piece
    LIMIT {BPE_PIECES_TOP}
    """


def _bpe_initial_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(freq, enc) vocab with the marker-encoded character segmentation
    — the ONE corpus-sized aggregate of the whole BPE pipeline; lazily
    localCheckpointed so the merge rounds never re-scan text.

    DATA CONTRACT: tokens must not contain the marker characters
    '<' / '>' — the entire encoding (boundary-safe replaces, the
    sentinel no-op pattern '<><>') relies on them appearing only as
    markers.  The corpus fixtures are lowercase-letter tokens; a
    general deployment would map the two characters to private-use
    codepoints at ingest."""
    d = load_table(spark, sf_dir, "documents").repartition(
        plan_parallelism(spark), "doc_id"
    )
    return (
        d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", F.regexp_replace("tok", "(.)", "<$1>").alias("enc"))
        .localCheckpoint(eager=False)
    )


def _bpe_merge_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The shared merge loop (round-16 review: ONE implementation, so
    the trainer's merge table and the apply query's segmentation can
    never drift).  Returns (merges, final vocab) — merges as (rank,
    left, right, count) tuples collected one row per round, the final
    vocab still distributed.

    Stop = the triple condition mirrored by the oracle's per-round
    guard: piece vocab at BPE_VOCAB_TARGET, pair supply exhausted, or
    BPE_MERGES rounds.  Each round makes ONE 1-row driver round-trip:
    the live piece count (measured, because merges can also absorb
    pieces) left-joined with the pair argmax rides a single job.

    Memoized in the session memo (`catalog.session_memo`) per corpus
    dir: three registered queries consume this loop, and a multi-query
    session would otherwise re-train the identical merge table per
    consumer.  The entry stores the corpus listing fingerprint, so an
    in-session fixture rewrite re-trains instead of serving stale
    merges."""
    from ..sources.catalog import listing_fingerprint, session_memo

    memo = session_memo(spark)
    key = ("bpe", os.path.abspath(sf_dir))
    fp = listing_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    hit = memo.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    cur = _bpe_initial_vocab(spark, sf_dir)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, BPE_MERGES + 1):
        syms = F.split(F.col("enc").substr(F.lit(2), F.length("enc") - 2), "><")
        pair_arr = F.transform(
            F.sequence(F.lit(1), F.size(F.col("syms")) - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("l"),
                F.element_at(F.col("syms"), i + 1).alias("r"),
            ),
        )
        n_pieces = (
            cur.select(syms.alias("syms"))
            .select(F.explode("syms").alias("piece"))
            .agg(F.count_distinct("piece").alias("n_pieces"))
        )
        top = (
            cur.select("freq", syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select("freq", F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"))
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(1)
        )
        # 1-row x 1-row left join: piece count + argmax in ONE job, so
        # the vocab-target stop costs no extra driver round-trip
        row = n_pieces.join(top, F.lit(True), "left").collect()[0]
        if row["n_pieces"] >= BPE_VOCAB_TARGET:
            break  # target reached: the oracle's guard empties m{k}
        if row["left_sym"] is None:
            break  # vocab fully merged: the oracle's sentinel rounds
        l, r, c = row["left_sym"], row["right_sym"], int(row["pair_count"])
        merges.append((rank, l, r, c))
        cur = cur.select(
            "freq",
            F.replace(
                F.col("enc"), F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>")
            ).alias("enc"),
        )
        if rank % 8 == 0:
            # truncate the replace-chain lineage: without this, round k
            # re-executes k string replaces from the checkpointed vocab
            # per job — O(K^2) work and a K-deep plan by the last round
            cur = cur.localCheckpoint(eager=False)
    # lazily checkpoint the FINAL vocab too, so every memo consumer
    # shares one materialization instead of replaying the tail rounds
    cur = cur.localCheckpoint(eager=False)
    memo[key] = (fp, (merges, cur))
    return merges, cur


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle_merges(),
    doc=f"Distributed BPE training (Sennrich et al. 2016) to a vocab "
        f"TARGET of {BPE_VOCAB_TARGET} pieces (the deployment knob; "
        f"round bound {BPE_MERGES}, pair exhaustion the third stop — "
        "both engines halt on the identical triple condition): words "
        "are symbol sequences (initially "
        "characters, '<a><b>...' marker encoding so multi-char symbols "
        "never false-match across boundaries); each round counts "
        "adjacent symbol pairs weighted by word frequency, picks the "
        "argmax (exact bigint counts, lexical tie-break — fully "
        "deterministic cross-engine), and rewrites every occurrence "
        "via one literal string replace (greedy leftmost non-overlap, "
        "identical semantics in both engines).  Emits the merge table "
        "— the missing step between text_bpe_pair_counts and a usable "
        "tokenizer.  THE scale property: the corpus is aggregated to "
        "the vocab ONCE (map-side combine, then a lazy localCheckpoint "
        "so later rounds never re-scan text); every round is "
        "vocab-bounded (|vocab| rows, ~1e6-1e8 at 100 TB), the argmax "
        "compiles to TakeOrderedAndProject, and the only driver "
        "traffic is ONE row per round (live piece count + chosen "
        "merge share a single job — the k-center bounded-collect "
        "precedent).  The merge table itself is "
        f"<= {BPE_MERGES} rows built driver-side from those collects "
        "(fewer when the vocab target or pair exhaustion halts the "
        "loop — the oracle's guarded argmax and sentinel fallback "
        "rounds mirror both breaks exactly).",
    tags=("text", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _final = _bpe_merge_loop(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, pair_count bigint"
    )


@register(
    "text_bpe_segment_apply",
    oracle=_bpe_oracle_pieces(),
    doc=f"The learned BPE tokenizer APPLIED: after the same "
        f"vocab-target-{BPE_VOCAB_TARGET} merge loop as "
        "text_bpe_train_merges (the literally shared _bpe_merge_loop "
        "— the two queries cannot drift), every word's final "
        "segmentation is exploded into "
        f"sub-word pieces and the top {BPE_PIECES_TOP} pieces by "
        "corpus frequency are emitted — the output-distribution check "
        "a tokenizer deployment runs before committing to a merge "
        "table.  Same scale shape as the trainer: corpus aggregated "
        "to the vocab once, every round and the final explode "
        "vocab-bounded, piece counts one partial agg + "
        "TakeOrderedAndProject.",
    tags=("text", "iterative"),
)
def text_bpe_segment_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, final_vocab = _bpe_merge_loop(spark, sf_dir)
    pieces = final_vocab.select(
        "freq",
        F.explode(
            F.split(F.col("enc").substr(F.lit(2), F.length("enc") - 2), "><")
        ).alias("piece"),
    )
    return (
        pieces.groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("piece_count"))
        .orderBy(F.desc("piece_count"), "piece")
        .limit(BPE_PIECES_TOP)
    )


@register(
    "text_bpe_compression_ratio",
    oracle=_bpe_oracle_prefix() + f"""
    , stats0 AS (
      SELECT CAST(sum(freq) AS BIGINT) AS n_words,
             CAST(sum(freq * len(string_split(substr(enc, 2, length(enc) - 2),
                                              '><'))) AS BIGINT) AS n_chars
      FROM v0
    ), statsK AS (
      SELECT CAST(sum(freq * len(string_split(substr(enc, 2, length(enc) - 2),
                                              '><'))) AS BIGINT) AS n_pieces
      FROM v{BPE_MERGES}
    )
    SELECT n_words, n_chars, n_pieces,
           floor(n_pieces * 1000000.0 / n_words + 0.5) / 1000000.0
             AS pieces_per_word,
           floor(n_chars * 1000000.0 / n_pieces + 0.5) / 1000000.0
             AS chars_per_piece
    FROM stats0 CROSS JOIN statsK
    """,
    doc=f"Tokenizer QA for the trained BPE (vocab target "
        f"{BPE_VOCAB_TARGET}): corpus-weighted word / character / "
        "piece totals plus the two ratios a tokenizer deployment "
        "actually budgets by — pieces-per-word (sequence-length "
        "inflation: what the context window pays) and "
        "chars-per-piece (compression: what each embedding row "
        "carries).  Composes the SAME shared merge loop and unrolled "
        "oracle chain as the trainer, so the ratios describe exactly "
        "the merge table text_bpe_train_merges emits.  Scale shape: "
        "both totals are vocab-bounded aggregates over the (freq, "
        "enc) table the loop already maintains — 1-row output, exact "
        "int64 totals, one mirrored rounded division each.",
    tags=("text", "iterative", "quality"),
)
def text_bpe_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, final_vocab = _bpe_merge_loop(spark, sf_dir)
    v0 = _bpe_initial_vocab(spark, sf_dir)
    npieces_col = F.size(
        F.split(F.col("enc").substr(F.lit(2), F.length("enc") - 2), "><")
    )
    stats0 = v0.agg(
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * npieces_col).cast("bigint").alias("n_chars"),
    )
    statsk = final_vocab.agg(
        F.sum(F.col("freq") * npieces_col).cast("bigint").alias("n_pieces")
    )
    return stats0.crossJoin(F.broadcast(statsk)).select(
        "n_words",
        "n_chars",
        "n_pieces",
        (
            F.floor(F.col("n_pieces") * F.lit(1000000.0) / F.col("n_words") + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("pieces_per_word"),
        (
            F.floor(F.col("n_chars") * F.lit(1000000.0) / F.col("n_pieces") + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("chars_per_piece"),
    )
