"""Vectorized EXACT-fold vector kernels (optimization round 17).

The similarity / ANN / k-means tier computes millions of fixed-order
double folds (dot products, squared distances) per query.  The
Catalyst higher-order functions (`aggregate(zip_with(...))`) that
expressed them are CodegenFallback — every element is an interpreted
lambda call — and profiling showed them dominating the whole family
(OPTIMIZATION_r17.md; e.g. the 16-cell k-means build
alone cost ~2.9 s/query at sf0.1).

These kernels move the SAME arithmetic into numpy inside
`mapInArrow` (guide §4.2: batch-native compute beats both interpreted
JVM expressions and row-at-a-time Python).  The contract that makes
the swap safe is BIT-IDENTITY, not approximate equality:

- elements are widened float32 -> float64 exactly as the JVM cast
  does (exact, no rounding),
- per-element products/squares are single IEEE-754 double ops —
  identical on both sides,
- the accumulation uses ``np.cumsum(..., axis=-1)`` and takes the last
  prefix: cumsum must produce every prefix, so it is a strict
  left-to-right sequential add — THE SAME float operation sequence as
  ``F.aggregate(prods, lit(0.0), acc + x)`` (0.0 + x0 == x0 exactly).

Verified empirically in tests/test_fastvec.py: 0 bit mismatches
against the HOF expressions over every fixture vector and every
within-cell pair (399k pairs at sf0.1).

Scale shape: each kernel is a map-only pass (no shuffle introduced or
removed by the swap itself); centroid/query/codebook closures are
k-row bounded tables (the documented bounded-collect class — at 100 TB
a coarse quantizer is fit driver-side and SHIPPED to the scan, which
is exactly what the closure does).  Batches stream through Arrow;
per-batch temporaries are O(batch x dims).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Left-to-right float64 dot along the last axis — bit-identical to
    the Catalyst fold `aggregate(zip_with(a, b, x*y), 0.0, acc+x)`."""
    prods = a * b
    if prods.shape[-1] == 0:
        return np.zeros(prods.shape[:-1], dtype=np.float64)
    return np.cumsum(prods, axis=-1)[..., -1]


def exact_dist2(v: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Left-to-right float64 squared L2 along the last axis — bit-identical
    to `aggregate(zip_with(v, c, (x-c)*(x-c)), 0.0, acc+x)`."""
    d = v - c
    sq = d * d
    if sq.shape[-1] == 0:
        return np.zeros(sq.shape[:-1], dtype=np.float64)
    return np.cumsum(sq, axis=-1)[..., -1]


def _matrix(col, n: int, dtype=np.float32) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list column; fails loud on
    ragged/null rows (outside the screened-corpus data contract, same
    posture as the ANSI zero-norm abort).

    The validation is PER-ROW (r17 advice): the old aggregate
    `len(flat) % n` check let compensating lengths (a 63-dim beside a
    65-dim row) or null list rows — which ListArray.flatten() silently
    drops — reshape cleanly, shifting every subsequent row's vector
    onto the wrong id.  `list_value_length` reads the offsets buffer,
    so the guard is O(n) ints, not a data pass.  NULL elements are
    rejected too: they convert to NaN, and NaN wins np.argmin, so a
    kernel would silently pick the poisoned column where the HOF fold
    NULL-poisoned only the offending row."""
    import pyarrow.compute as pc

    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    if col.null_count:
        raise ValueError(
            "fastvec: NULL embedding rows in batch — screen the corpus "
            "(embedding_dim_stats) before similarity ops"
        )
    lens = pc.list_value_length(col).to_numpy()
    if not (lens == lens[0]).all():
        raise ValueError(
            "fastvec: ragged embedding lengths in batch — screen the "
            "corpus (embedding_dim_stats) before similarity ops"
        )
    flat = col.flatten()
    if flat.null_count:
        raise ValueError(
            "fastvec: NULL embedding elements in batch — screen the "
            "corpus (embedding_dim_stats) before similarity ops"
        )
    return (
        np.asarray(flat, dtype=dtype).reshape(n, len(flat) // n).astype(np.float64)
    )


def scored_cells(
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id, cid, dist2) for EVERY (vector, centroid) pair — the
    vectorized, bit-identical replacement for
    ``emb.crossJoin(broadcast(cent)).select(id, cid, dist2(v, c))``.

    `cent_rows` is the collected k-row centroid table [(cid, coords)]
    — bounded by construction (k = IVF_NCELLS / KMEANS_K).  Map-only:
    each input row yields k output rows; no exchange."""
    cents = sorted(cent_rows, key=lambda r: r[0])
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([coords for _, coords in cents], dtype=np.float64)
    k = len(cids)
    id_field = emb.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for tb in batches:
            n = tb.num_rows
            if n == 0:
                continue
            ids = np.asarray(tb.column(id_col))
            vmat = _matrix(tb.column(vec_col), n, dtype=np.float64)
            # one vectorized pass per centroid keeps temporaries at
            # O(batch x dims) instead of O(batch x k x dims)
            d2 = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                d2[:, j] = exact_dist2(vmat, cmat[j])
            yield pa.record_batch(
                [
                    pa.array(np.repeat(ids, k)),
                    pa.array(np.tile(cids, n), pa.int64()),
                    pa.array(d2.reshape(-1), pa.float64()),
                ],
                names=[id_col, "cid", "dist2"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        kernel, f"{id_col} {id_field}, cid bigint, dist2 double"
    )


def query_sims(
    emb: DataFrame,
    query_rows: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dtype=np.float32,
) -> DataFrame:
    """(query_id, id, raw_sim) cosine of every corpus vector against
    each of the bounded query set — the vectorized, bit-identical
    replacement for ``corpus.crossJoin(broadcast(queries))`` + the
    dot/norm HOFs (query_id == id rows are NOT emitted, matching the
    `neighbor_id != query_id` filter).  Norms fold left-to-right per
    side exactly like `l2_norm`; the division matches
    `dot / (q_norm * c_norm)` operation-for-operation."""
    qs = sorted(query_rows, key=lambda r: r[0])
    qids = np.array([q for q, _ in qs], dtype=np.int64)
    qmat = np.array([coords for _, coords in qs], dtype=np.float64)
    qnorm = np.sqrt(exact_dot(qmat, qmat))
    nq = len(qids)
    id_field = emb.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for tb in batches:
            n = tb.num_rows
            if n == 0:
                continue
            ids = np.asarray(tb.column(id_col))
            vmat = _matrix(tb.column(vec_col), n, dtype=in_dtype)
            cnorm = np.sqrt(exact_dot(vmat, vmat))
            sims = np.empty((n, nq), dtype=np.float64)
            for j in range(nq):
                sims[:, j] = exact_dot(vmat, qmat[j]) / (qnorm[j] * cnorm)
            keep = np.repeat(ids, nq) != np.tile(qids, n)
            yield pa.record_batch(
                [
                    pa.array(np.tile(qids, n)[keep], pa.int64()),
                    pa.array(np.repeat(ids, nq)[keep]),
                    pa.array(sims.reshape(-1)[keep], pa.float64()),
                ],
                names=["query_id", id_col, "raw_sim"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        kernel, f"query_id bigint, {id_col} {id_field}, raw_sim double"
    )


def plane_band_buckets(
    emb: DataFrame,
    planes: list[list[float]],
    n_bands: int,
    n_rows: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band_id, bucket) banded hyperplane-LSH assignment — the
    vectorized, bit-identical form of the per-band `_plane_dot` HOF
    folds + explode.  Each plane dot is the same left-to-right float64
    fold; the sign test and the Σ 2^r bucket arithmetic are exact
    integer ops.  Fails loudly on a dimension mismatch (the same
    contract as `_plane_dot`'s assert_true guard: a padded fold would
    silently send every vector to bucket 0 and degenerate LSH to
    all-pairs)."""
    pmat = np.array(planes, dtype=np.float64)  # (n_bands*n_rows, dims)
    weights = np.array([2**r for r in range(n_rows)], dtype=np.int64)
    id_field = emb.schema[id_col].dataType.simpleString()
    dims = pmat.shape[1]

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for tb in batches:
            n = tb.num_rows
            if n == 0:
                continue
            vmat = _matrix(tb.column(vec_col), n, dtype=np.float32)
            if vmat.shape[1] != dims:
                raise ValueError(
                    f"LSH hyperplanes are {dims}-dim but the embedding "
                    f"column has length {vmat.shape[1]}; regenerate "
                    "_hyperplanes(dims=...) for this corpus"
                )
            ids = np.asarray(tb.column(id_col))
            # sign bit per (vector, plane), then per-band Σ 2^r
            signs = np.empty((n, len(pmat)), dtype=np.int64)
            for j in range(len(pmat)):
                signs[:, j] = exact_dot(vmat, pmat[j]) > 0
            buckets = signs.reshape(n, n_bands, n_rows) @ weights  # (n, n_bands)
            yield pa.record_batch(
                [
                    pa.array(np.repeat(ids, n_bands)),
                    pa.array(
                        np.tile(np.arange(n_bands, dtype=np.int32), n), pa.int32()
                    ),
                    pa.array(buckets.reshape(-1), pa.int64()),
                ],
                names=[id_col, "band_id", "bucket"],
            )

    return emb.select(id_col, vec_col).mapInArrow(
        kernel, f"{id_col} {id_field}, band_id int, bucket bigint"
    )


def nearest_cell(
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "v",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cid, dist2) of the NEAREST centroid per vector, ties to the
    lowest cid — bit-identical to ``scored_cells(...).groupBy(id).agg(
    min(struct(dist2, cid)))`` but MAP-ONLY: the per-vector argmin runs
    inside the kernel, so the crossJoin AND the aggregation exchange
    both disappear from the plan.  dist2 values are bit-identical to
    the HOF fold, and np.argmin over the cid-ascending score matrix
    returns the FIRST index achieving the minimum — exactly the
    min-of-struct (dist2, cid) tie rule.

    `keep_vec=True` passes the input vector column through unchanged
    (optimization r18): a consumer that needs (cid, v) — the Lloyd
    recenter — previously joined this output back to the corpus on the
    id, a corpus-sized self-join the pass-through makes unnecessary."""
    cents = sorted(cent_rows, key=lambda r: r[0])
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([coords for _, coords in cents], dtype=np.float64)
    k = len(cids)
    id_field = emb.schema[id_col].dataType.simpleString()
    vec_field = emb.schema[vec_col].dataType.simpleString()

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for tb in batches:
            n = tb.num_rows
            if n == 0:
                continue
            vmat = _matrix(tb.column(vec_col), n, dtype=np.float64)
            d2 = np.empty((n, k), dtype=np.float64)
            for j in range(k):
                d2[:, j] = exact_dist2(vmat, cmat[j])
            best = np.argmin(d2, axis=1)
            cols = [
                tb.column(id_col),
                pa.array(cids[best], pa.int64()),
                pa.array(d2[np.arange(n), best], pa.float64()),
            ]
            names = [id_col, "cid", "dist2"]
            if keep_vec:
                cols.append(tb.column(vec_col))
                names.append(vec_col)
            yield pa.record_batch(cols, names=names)

    schema = f"{id_col} {id_field}, cid bigint, dist2 double"
    if keep_vec:
        schema += f", {vec_col} {vec_field}"
    return emb.select(id_col, vec_col).mapInArrow(kernel, schema)


def nearest_code(
    sub: DataFrame,
    cent_rows: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    group_col: str = "m",
    vec_col: str = "sv",
) -> DataFrame:
    """(id, m, k) of the nearest codebook entry per (vector, subspace),
    ties to the lowest k — the map-only form of the PQ encode
    (``sub.join(broadcast(cent), "m")`` + dist2 HOF + min-of-struct):
    both the join and the (id, m) aggregation exchange disappear."""
    by_m: dict[int, tuple[list, list]] = {}
    for m, k, coords in cent_rows:
        by_m.setdefault(int(m), ([], []))
        by_m[int(m)][0].append(int(k))
        by_m[int(m)][1].append(coords)
    packed = {}
    for m, (ks, cs) in by_m.items():
        order = np.argsort(np.array(ks, dtype=np.int64), kind="stable")
        packed[m] = (
            np.array(ks, dtype=np.int64)[order],
            np.array(cs, dtype=np.float64)[order],
        )
    id_field = sub.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for tb in batches:
            n = tb.num_rows
            if n == 0:
                continue
            ids = np.asarray(tb.column(id_col))
            ms = np.asarray(tb.column(group_col))
            vmat = _matrix(tb.column(vec_col), n, dtype=np.float64)
            # unset rows fail LOUD (r17 advice): a subspace id absent
            # from the codebook — a partial/corrupt trained model dir on
            # the streaming path — must not emit uninitialized memory as
            # a PQ code (same posture as plane_band_buckets' dim guard)
            out_k = np.empty(n, dtype=np.int64)
            unset = np.ones(n, dtype=bool)
            for m, (ks, cmat) in packed.items():
                sel = np.nonzero(ms == m)[0]
                if len(sel) == 0:
                    continue
                vm = vmat[sel]
                sc = np.empty((len(sel), len(ks)), dtype=np.float64)
                for j in range(len(ks)):
                    sc[:, j] = exact_dist2(vm, cmat[j])
                out_k[sel] = ks[np.argmin(sc, axis=1)]
                unset[sel] = False
            if unset.any():
                missing = sorted({int(x) for x in np.unique(ms[unset])})
                raise ValueError(
                    f"fastvec.nearest_code: subspace ids {missing} have no "
                    "codebook entries — the codebook is partial or corrupt; "
                    "refusing to emit undefined PQ codes"
                )
            yield pa.record_batch(
                [
                    pa.array(ids),
                    pa.array(ms.astype(np.int32)),
                    pa.array(out_k, pa.int64()),
                ],
                names=[id_col, group_col, "k"],
            )

    return sub.select(id_col, group_col, vec_col).mapInArrow(
        kernel, f"{id_col} {id_field}, {group_col} int, k bigint"
    )


_COLLECT_BOUND = 65536  # far above any model table (k cells, M·K codes)


def collect_vectors(df: DataFrame, id_col: str, vec_col: str) -> list[tuple[int, list[float]]]:
    """Bounded collect of a k-row (id, vector) table for a kernel
    closure (centroids, query sets, codebooks).  Callers pass frames
    that are k-bounded BY CONSTRUCTION (k centroids, N_QUERIES query
    rows) — the documented bounded-collect class.  Enforced (r17
    advice): a caller that hands a corpus-sized frame — the signature
    accepts any DataFrame, and the streaming foreachBatch path collects
    per epoch — errors loudly instead of serializing the corpus onto
    the driver."""
    rows = df.select(id_col, vec_col).limit(_COLLECT_BOUND + 1).collect()
    if len(rows) > _COLLECT_BOUND:
        raise ValueError(
            f"fastvec.collect_vectors: frame exceeds the {_COLLECT_BOUND}-row "
            "bounded-collect class — kernel closures are for k-row model "
            "tables (centroids/codebooks/query sets), not corpus frames"
        )
    return [(row[0], list(row[1])) for row in rows]


def read_vectors_driver(
    sf_dir: str,
    max_id: int,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The k seed/query rows (`id < max_id`) read DRIVER-SIDE straight
    from the parquet input — the barrier-free form of the bounded
    collect (optimization r17).

    A `.collect()` of the same rows costs a full Spark job that
    SERIALIZES the driver (and, when the frame was repartitioned
    upstream, a shuffle of the whole table just to fetch k rows);
    measured, those barriers were the entire regression in the
    composed ANN queries.  This reads the same bytes from the same
    parquet path per invocation — nothing is cached or precomputed
    across runs — and widens float32 exactly like the Spark
    double-cast.  Scale posture: the read itself is bounded, not just
    the output (VERDICT r17 item 1): the `id < max_id` predicate is
    pushed into the parquet read as a dataset filter, so row groups
    whose id-column min/max statistics exclude the seed range are
    never decoded — the driver reads O(k) row groups of two columns,
    not the table.  The numpy re-filter below is belt-and-braces for
    a reader that returns whole row groups."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(
        path, columns=[id_col, vec_col], filters=[(id_col, "<", max_id)]
    )
    ids = t.column(id_col).to_numpy()
    keep = np.nonzero(ids < max_id)[0]
    vecs = t.column(vec_col)
    out = [
        (int(ids[i]), [float(x) for x in vecs[int(i)].as_py()]) for i in keep
    ]
    out.sort(key=lambda r: r[0])
    return out
