"""Skew and layout primitives for 100 TB operation.

- two-phase salted aggregation: when one group key holds a large share
  of all rows (hot key), a plain groupBy sends every row of that key
  to one reducer.  Salting splits the hot key across `n_salts` partial
  groups, then merges — bounded reducer input at the cost of a second
  (tiny) shuffle.
- salted broadcast-skew join is handled by AQE
  (`spark.sql.adaptive.skewJoin.enabled`, on in session.py); the
  explicit salt here is for aggregations, which AQE does not split.
- bucketed layout: `write_bucketed` persists a table pre-hashed on its
  join key so repeated joins on that key skip the exchange entirely
  (sources/warehouse.py owns plain partitioned layout).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


def bounded_window_key(*cols: Column | str) -> Column:
    """Constant partition key for windows over PROVABLY BOUNDED frames
    (threshold curves, per-partition offset tables, |days|-sized
    grids): always 0, so the window still runs in one task — which is
    the point, the input is metadata-sized — but the partition spec is
    non-empty, so WindowExec stops logging `WARN ... No Partition
    Defined`, a line that misreads as a scale bug in bench captures
    and drowns real warnings.

    Must be NON-FOLDABLE: Spark 4's EliminateWindowPartitions strips
    foldable partition keys (a bare `lit(0)` reverts to the warning),
    so derive 0 from a column: `hash(col) & 0`.  `hash` never returns
    null (null hashes to the seed), so every row — including null
    order keys — lands in the one partition and results are
    bit-identical to the unpartitioned spec.  Only use where the
    frame is bounded by construction; a corpus-sized window needs the
    global_* primitives below instead."""
    return F.hash(*[F.col(c) if isinstance(c, str) else c for c in cols]).bitwiseAND(
        F.lit(0)
    )


def plan_parallelism(df_or_spark) -> int:
    """Partition count for explicit repartitions, from session conf.

    `spark.sparkContext.defaultParallelism` is the natural choice but
    the SparkContext is unavailable under Spark Connect;
    `spark.sql.shuffle.partitions` is session conf (Connect-safe) and
    already sizes every other exchange in the plan, so explicit
    repartitions stay consistent with implicit ones."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def _ranged_with_offsets(
    df: DataFrame,
    order_cols: Sequence[Column],
    nparts: int,
    partial: Column,
    merge_fn: Callable[[Column], Column],
    zero: Column | None = None,
    totals: Sequence[tuple[str, Callable[[Column], Column]]] = (),
) -> DataFrame:
    """Shared scaffolding for the four `global_*` primitives below:
    range-repartition on the order key (parallel sort), stamp the
    physical partition id, compute `partial` per partition, turn the
    per-partition values into an EXCLUSIVE running `merge_fn` prefix
    (`_off` — what strictly-preceding partitions contribute), and join
    the broadcast offsets back.  The only unpartitioned window runs
    over `nparts` metadata rows, constant-size at any data scale.

    - `zero` replaces the NULL offset of the first partition (sums
      want 0; max wants NULL so `greatest` ignores it downstream).
    - `totals` adds all-partition reductions of the same per-partition
      values (name, fn) — ntile's `_total`, running_sum's
      `_grand_total` — for free from the same metadata rows.
    - the localCheckpoint is load-bearing: `part` feeds BOTH the
      offsets and the final output, and `_pid` must be IDENTICAL in
      both branches for correctness, not just cost — without the
      checkpoint that guarantee rests on physical exchange reuse,
      which silently degrades if spark.sql.exchange.reuse is off or
      AQE reshapes one branch.  Lazy (eager=False) defers the final
      stage to the offsets job, but it is not job-free: with AQE on
      (the engine default) the call itself runs the plan's shuffle
      map stages as a job (1 job for a groupBy input; 0 with AQE off).

    Callers must pass a total order in `order_cols` when row-level
    results depend on rank uniqueness (see each primitive's contract).
    """
    # fail LOUD on reserved-name collisions (round-16 review): an
    # input already carrying one of the internals — most commonly the
    # _grand_total a previous global_running_sum kept in ITS output —
    # would otherwise be silently clobbered or produce an ambiguous
    # duplicate downstream.  Chaining callers drop the helper columns
    # between passes.
    reserved = {"_pid", "_off", "_part"} | {name for name, _ in totals}
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(
            f"global_* primitive: input already carries reserved helper "
            f"column(s) {clash} — drop or rename them first (e.g. the "
            "_grand_total kept by a previous global_running_sum pass)"
        )
    part = (
        df.repartitionByRange(nparts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    per = part.groupBy("_pid").agg(partial.alias("_part"))
    running = (
        Window.partitionBy(bounded_window_key("_pid"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = merge_fn(F.col("_part")).over(running)
    if zero is not None:
        off = F.coalesce(off, zero)
    cols = [F.col("_pid"), off.alias("_off")]
    if totals:
        everything = (
            Window.partitionBy(bounded_window_key("_pid"))
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        for name, fn in totals:
            cols.append(fn(F.col("_part")).over(everything).alias(name))
    offsets = per.select(*cols)
    return part.join(F.broadcast(offsets), "_pid")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column | tuple[Column, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation with a random-ish salt derived from a
    stable row hash (deterministic — no rand(), so plans are
    replayable).  `aggs` maps output column name → DECOMPOSABLE
    aggregate as an explicit `(partial_expr, merge)` tuple with merge
    in {"sum", "min", "max"}.  Bare Columns are rejected outright: the
    merge CANNOT be inferred safely — on this Spark build
    F.count_distinct / F.sum_distinct repr identically to plain
    count()/sum() (`Column<'count(x)'>`), and the JVM expression tree
    is not introspectable from Python (and plan-string parsing breaks
    under Spark Connect), so a repr-based allowance would silently
    sum-merge DISTINCT partials across salt groups — overcounting with
    no error.  Note distinct aggregates are not salt-decomposable at
    all: use exact groupBy or approx_count_distinct for those.

    Usage:
        salted_agg(df, ["k"], {
            "n": (F.count(F.lit(1)), "sum"),
            "s": (F.sum("v"), "sum"),
            "lo": (F.min("v"), "min"),
            "hi": (F.max("v"), "max"),
        })
    """
    normalized: dict[str, tuple[Column, str]] = {}
    for name, spec in aggs.items():
        if isinstance(spec, tuple):
            expr, merge = spec
        else:
            raise ValueError(
                f"salted_agg: aggregate {name!r} is a bare Column; its merge "
                "function can't be inferred safely (count_distinct/sum_distinct "
                "are indistinguishable from count/sum by repr and would be "
                "silently overcounted). Pass the explicit (expr, merge) tuple, "
                "e.g. (F.count(F.lit(1)), 'sum') or (F.min('v'), 'min')"
            )
        if merge not in _MERGE_FNS:
            raise ValueError(f"salted_agg merge must be one of {sorted(_MERGE_FNS)}: {merge!r}")
        normalized[name] = (expr, merge)
    # pmod, NOT abs(hash)%n: F.hash returns IntegerType and under ANSI
    # mode (this build's default) abs(Integer.MIN_VALUE) raises
    # ARITHMETIC_OVERFLOW — a 2^-32-per-row landmine that WILL fire on
    # billion-row inputs.  pmod is total on the full int range.
    # Known limitation (documented, deterministic by design): the salt
    # hashes the ROW, so fully-duplicate rows under a hot key share a
    # salt and are not split — include a high-cardinality column
    # (event id, offset) in `df` when rows can repeat exactly.
    # MapType columns are excluded from the salt hash (round-16
    # review: F.hash rejects maps at analysis time, and an irrelevant
    # properties map must not break the whole aggregation); every
    # other type participates.
    hashable = [
        F.col(f.name)
        for f in df.schema.fields
        if not isinstance(f.dataType, T.MapType)
    ]
    if not hashable:
        raise ValueError(
            "salted_agg: no hashable (non-map) columns to derive the salt from"
        )
    salt = F.pmod(F.hash(*hashable), F.lit(n_salts)).alias("_salt")
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[expr.alias(f"_p_{name}") for name, (expr, _) in normalized.items()]
    )
    merged = [
        _MERGE_FNS[merge](F.col(f"_p_{name}")).alias(name)
        for name, (_, merge) in normalized.items()
    ]
    return phase1.groupBy(*keys).agg(*merged)


def global_ntile(
    df: DataFrame,
    n: int,
    order_cols: Sequence[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL `ntile(n) OVER (ORDER BY ...)` WITHOUT the single-task
    global sort an unpartitioned window forces.

    Plan (via `_ranged_with_offsets`): range-repartition on the order
    key (parallel sort), row_number WITHIN each range partition, then
    add broadcast per-partition offsets to get exact global ranks; the
    tile is pure arithmetic on the rank.  Matches SQL ntile bit-for-bit
    (first N%n tiles get the extra row) provided `order_cols` is a
    total order — callers must tie-break to uniqueness, or ranks (and
    thus tiles) are engine-dependent.
    """
    nparts = num_partitions or plan_parallelism(df)
    joined = _ranged_with_offsets(
        df,
        order_cols,
        nparts,
        partial=F.count(F.lit(1)),
        merge_fn=F.sum,
        zero=F.lit(0),
        totals=[("_total", F.sum)],
    )
    rn = F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols)) + F.col("_off")
    ranked = joined.withColumn("_rn", rn)
    # SQL ntile: with N rows, q = N div n, r = N mod n — the first r
    # tiles hold q+1 rows, the rest q.  All exact integer math via
    # `div`; CASE branches evaluate lazily, so the `div q` arm is never
    # reached when q = 0 (every row then satisfies _rn <= r·(q+1) = N).
    q = F.expr(f"_total div {n}")
    r = F.col("_total") % n
    tile = F.when(
        F.col("_rn") <= r * (q + 1),
        F.expr(f"(_rn - 1) div (_total div {n} + 1) + 1"),
    ).otherwise(
        F.expr(
            f"_total % {n} + (_rn - (_total % {n}) * (_total div {n} + 1) - 1)"
            f" div (_total div {n}) + 1"
        )
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop("_pid", "_off", "_total", "_rn")


def global_running_sum(
    df: DataFrame,
    order_cols: Sequence[Column],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global `SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)` without the single-task global sort an unpartitioned
    window forces — the running-sum sibling of `global_ntile`, same
    plan shape: range-repartition on the order key (parallel sort),
    within-partition running sum, then add broadcast per-partition SUM
    offsets.  The only unpartitioned window runs over num_partitions
    metadata rows.  Also emits `_grand_total` (the all-rows sum) since
    every Pareto/share consumer needs it and it falls out of the same
    offsets table for free.  `order_cols` must be a total order, and
    `value_col` SHOULD be an exact (integer/decimal) type — the
    per-partition re-association changes float summation order.
    """
    nparts = num_partitions or plan_parallelism(df)
    joined = _ranged_with_offsets(
        df,
        order_cols,
        nparts,
        partial=F.sum(value_col),
        merge_fn=F.sum,
        zero=F.lit(0),
        totals=[("_grand_total", F.sum)],
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined
        .withColumn(out_col, F.sum(value_col).over(w_in) + F.col("_off"))
        .drop("_pid", "_off")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist hash-bucketed (optionally sorted) layout so joins and
    aggregations on `bucket_col` read co-located buckets with NO
    exchange.  Requires a session catalog (in-memory default works;
    Hive for cross-session persistence)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def zorder_key(cols: Sequence[Column], bits: int = 8) -> Column:
    """Morton (Z-order) interleave of the low `bits` bits of each
    column — the multi-dimensional clustering key for data skipping.

    Sorting a table by this key before writing parquet makes row
    groups simultaneously tight in EVERY interleaved dimension (a
    bucket of 2^(n*b') consecutive codes confines each dimension to an
    aligned 2^b'-value range), so min/max row-group statistics prune
    scans filtered on ANY of the dimensions — the layout trick behind
    Delta/Iceberg OPTIMIZE ZORDER, here as a plain column expression
    (pure JVM bit math, codegen'd, map-only).  Columns must already be
    non-negative and < 2^bits (callers bucket/modulo them first)."""
    if len(cols) * bits > 63:
        # shift (bits-1)*n + (n-1) = n*bits - 1 must stay below the
        # int64 sign bit: hitting it makes half the codes negative
        # (sorting BEFORE all positives — locality silently broken) and
        # shifts >= 64 wrap mod 64 in the JVM, colliding with low bits
        raise ValueError(
            f"zorder_key: {len(cols)} cols x {bits} bits = "
            f"{len(cols) * bits} interleaved bits exceeds the 63 an "
            "int64 code can hold; reduce bits or split the key"
        )
    z = F.lit(0).cast("bigint")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global `row_number() OVER (ORDER BY ...)` without the
    single-task sort an unpartitioned window forces — the rank sibling
    of `global_ntile`, same plan shape: range-repartition on the order
    key (parallel sort), row_number WITHIN each range partition, then
    add broadcast per-partition count offsets.  The only unpartitioned
    window runs over num_partitions metadata rows.  `order_cols` must
    be a total order or ranks are engine-dependent."""
    nparts = num_partitions or plan_parallelism(df)
    joined = _ranged_with_offsets(
        df,
        order_cols,
        nparts,
        partial=F.count(F.lit(1)),
        merge_fn=F.sum,
        zero=F.lit(0),
    )
    rn = F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols)) + F.col("_off")
    return joined.withColumn(out_col, rn.cast("bigint")).drop("_pid", "_off")


def global_running_max(
    df: DataFrame,
    order_cols: Sequence[Column],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """Exact global `MAX(value) OVER (ORDER BY ...)` prefix scan
    without the single-task global sort — the running-MAX sibling of
    `global_running_sum`, same plan shape: range-repartition on the
    order key (parallel sort), within-partition prefix max, then merge
    a broadcast per-partition max offset (max is associative, so the
    cross-partition merge is `greatest`, and unlike the sum variant it
    is also safe on floats — max never reassociates a rounding).
    `exclusive=True` gives each row the max over STRICTLY PRECEDING
    rows (NULL for the global first row) — the skyline/dominance scan;
    `order_cols` must then be a total order (ties would see each other
    as predecessors non-deterministically).  The only unpartitioned
    window runs over num_partitions metadata rows."""
    nparts = num_partitions or plan_parallelism(df)
    # zero=None: the first partition's offset stays NULL so `greatest`
    # below ignores it (greatest skips NULLs unless all args are NULL)
    joined = _ranged_with_offsets(
        df,
        order_cols,
        nparts,
        partial=F.max(value_col),
        merge_fn=F.max,
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    return (
        joined
        .withColumn(
            out_col, F.greatest(F.max(value_col).over(w_in), F.col("_off"))
        )
        .drop("_pid", "_off")
    )


def int64_headroom_guard(
    result: Column, max_abs: Column, n_rows: Column, what: str
) -> Column:
    """Loud-failure guard for exact int64 fixed-point sums (PERF.md
    "Exact-integer headroom note").

    The fixed-point aggregates (q9's amount_e5, q11's value_e4) are
    exact only while the sum fits int64 — documented to hold through
    roughly SF 10k.  Non-ANSI Spark wraps a `sum(bigint)` overflow
    SILENTLY; ANSI mode (this build's default) raises only when some
    RUNNING partial sum overflows, which depends on row order and
    partitioning — the same data can pass on one cluster layout and
    die mid-job on another.  This turns the docstring bound into a
    deterministic runtime check computed from data statistics alone:
    `max_abs * n_rows < 9.0e18` (just under 2^63 ≈ 9.22e18) is a
    SUFFICIENT no-overflow condition — `|sum| <= max|term| * count` —
    evaluated in double so the check itself cannot overflow.  Both
    inputs come from the SAME partial aggregate as the sum (a max and
    a count are map-side-combinable), so the guard adds no shuffle and
    no extra pass.

    `result` is wrapped as `when(assert_true(ok).isNull(), result)`:
    assert_true returns NULL when the condition holds, so the value is
    unchanged on the happy path, the guard cannot be pruned away (it
    lives inside a projected column), and past the bound the query
    dies with an actionable message instead of emitting wrapped
    garbage.  The escape hatch past the bound is decimal(38,0)
    accumulation (the write_training_shards pattern)."""
    # NULL max_abs (a group with zero non-null terms) must PASS: Spark's
    # assert_true raises on a NULL condition exactly like false, which
    # would fail all-NULL groups that are nowhere near overflow
    ok = max_abs.isNull() | (
        max_abs.cast("double") * n_rows.cast("double") < F.lit(9.0e18)
    )
    msg = (
        f"{what}: int64 fixed-point headroom exceeded "
        "(max|term| * rows >= 9.0e18); switch the accumulator to "
        "decimal(38,0) — see the PERF.md headroom note"
    )
    return F.when(F.assert_true(ok, F.lit(msg)).isNull(), result)
