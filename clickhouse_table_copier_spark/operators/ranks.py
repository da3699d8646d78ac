"""Exact distributed ranking — global ntile without a global sort.

Factored out of ``queries_round4.q_equi_depth_deciles`` (the r4 verdict's
scale fix for ``ntile() OVER ()``) so any query needing exact global
quantile membership (RFM scoring, calibration deciles, …) reuses ONE
audited mechanism instead of re-inlining it:

1. a mergeable ``percentile_approx`` sketch picks ~``parts`` boundary
   values — the sketch only *partitions* rows, so its error never
   reaches the output;
2. rows bucket by boundary comparison (pure expression) and a window
   PARTITIONED BY bucket computes local ranks — ≈ n/parts rows per task
   instead of n through one;
3. per-bucket counts (≤ ``parts`` scalars, metadata-sized collect)
   become cumulative offsets: global rank = offset + local rank;
4. exact ntile arithmetic (the first n % k tiles get one extra row)
   maps ranks to tiles — bit-identical to ``ntile(k) OVER (ORDER BY
   value, tie)`` in DuckDB/ANSI engines.

``exact_global_ntile_multi`` ranks SEVERAL columns of the same frame in
one mechanism invocation: one action collects every dimension's sketch
bounds, one action collects every dimension's bucket counts, and the
bucketed frame is persisted so the driver round-trips never recompute
its lineage.  The single-column ``exact_global_ntile`` delegates to it.

Driver-cost ladder (rfm_segments: three quintiles over the per-customer
orders rollup, sf0.1 warm, local[32]):

- three chained single-column calls (6 actions, each later call
  re-running every earlier window): 4.1 s;
- fused actions but Column-object expression building + chained
  withColumn: 3.2 s — profiling showed the EXECUTORS were mostly idle:
  ~2.2 s was driver-side work (one Py4J round-trip per Column-API call,
  ~900 calls at parts=32, plus a full re-analysis of the growing plan
  per withColumn);
- this version — every expression assembled as ONE ``F.expr`` SQL
  string, one ``select`` per step: 1.5 s, of which ~1.0 s is the two
  metadata actions + three 150k-row window exchanges.

The lesson generalizes: in a driver loop that builds wide expression
lists, build SQL text, not Column trees — the JVM parses a 3 KB string
in microseconds, while 900 Py4J hops cost ~1 ms each regardless of
cluster size.

Reference parity: the Go reference executes no ranking at all
(database/database.go generates metadata SQL only); this is part of the
engine's analytics superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Frames persisted by this module's mechanisms. The returned DataFrames
# READ these caches lazily, so the module cannot unpersist them itself —
# the lifetime is caller-owned (round-8 ADVICE): a long-lived driver
# sweeping many queries should call release_caches() after each
# consumer's action (bench.py does, between timed queries) or the
# storage-memory pressure accumulates one cached frame per call.
_LIVE_CACHES: list[DataFrame] = []


def release_caches() -> None:
    """Unpersist every frame this module persisted since the last call.
    Safe to call at any time: consumers that already collected are done
    with the cache, and a consumer that re-executes afterwards simply
    recomputes the (cheap, pre-shuffle) lineage."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped: nothing to release


def _bucket_sql(value_col: str, bounds: list[float]) -> str:
    """Flat sum of IFs, not an aggregate/filter lambda: higher-order
    functions evaluate interpreted outside whole-stage codegen (SCALE.md,
    round-7 ladder).  ``repr(float)`` is the shortest round-tripping
    decimal, so the parsed double equals the collected bound exactly."""
    if not bounds:  # degenerate domain: every row in one bucket
        return "0"
    return "(" + " + ".join(
        f"if({value_col} > {b!r}D, 1, 0)" for b in bounds
    ) + ")"


def exact_global_ntile_multi(
    df: DataFrame,
    specs: list[tuple[str, str, int, str]],
    parts: int = 32,
) -> DataFrame:
    """Append one exact global-ntile column per ``(value_col, tie_col,
    n_tiles, out_col)`` spec, all ranked over the SAME input frame.

    Cost model: 2 driver actions total (bounds, counts) regardless of
    ``len(specs)`` — vs 2 per column when chaining the single-column
    form, where each later call also recomputes every earlier window.
    The BUCKETED frame is persisted: it is read by the counts action,
    the local-rank windows, and the consumer's action, and the persist
    is also the barrier that stops Catalyst collapsing the bucket CASE
    chains into every downstream expression (no CSE across branches —
    the collapsed counts aggregate measured 1.6 s vs 0.2 s against the
    materialized ints).  Each dimension still needs its own hash
    repartitioning for its window — inherent (different partitioning
    keys) — but all ``len(specs)`` windows execute inside the consumer's
    single job.  ``tie_col`` must make each order total (unique within
    equal values) or tile membership at tile boundaries is
    engine-dependent.

    Ranked columns must be NON-NULL: a NULL falls into bucket 0 (every
    ``if(v > b)`` comparison is false) and Spark's window ORDER BY ranks
    NULLS FIRST while ANSI/DuckDB ``ntile`` defaults NULLS LAST, so the
    bit-identical claim would silently break. The precondition is
    CHECKED, riding on the bounds action (zero extra jobs): a NULL in
    any spec's value column raises ``ValueError``."""
    pcts = ",".join(repr(i / parts) for i in range(1, parts))
    bounds_row = df.select(
        *[
            F.expr(
                f"percentile_approx({vcol}, array({pcts}), 1000)"
            ).alias(f"bs_{j}")
            for j, (vcol, _, _, _) in enumerate(specs)
        ],
        *[
            F.expr(f"sum(if({vcol} is null, 1, 0))").alias(f"nn_{j}")
            for j, (vcol, _, _, _) in enumerate(specs)
        ],
    ).collect()[0]  # metadata-sized: parts-1 scalars + 1 count per dim
    for j, (vcol, _, _, _) in enumerate(specs):
        if int(bounds_row[f"nn_{j}"] or 0):
            raise ValueError(
                f"exact_global_ntile: value column {vcol!r} has "
                f"{bounds_row[f'nn_{j}']} NULL rows — NULL rank order is "
                "engine-dependent (Spark NULLS FIRST vs ANSI ntile NULLS "
                "LAST); filter or coalesce them first"
            )
    dim_bounds = [
        sorted({float(b) for b in (bounds_row[f"bs_{j}"] or []) if b is not None})
        for j in range(len(specs))
    ]

    local = df.select(
        "*",
        *[
            F.expr(_bucket_sql(vcol, dim_bounds[j])).alias(f"__b_{j}")
            for j, (vcol, _, _, _) in enumerate(specs)
        ],
    ).persist()
    _LIVE_CACHES.append(local)  # caller-owned lifetime: see release_caches

    # one action: per-bucket counts as FLAT conditional sums packed into
    # one array per dimension — map-side-combinable to a single row, so
    # no row ever shuffles (an explode-into-(dim,bucket)-pairs
    # formulation measured 1.2 s: it multiplies the rows then hashes
    # them; grouped counts would shuffle too)
    cnt_row = local.select(
        *[
            F.expr(
                "array("
                + ",".join(
                    f"sum(if(__b_{j} = {b}, 1L, 0L))"
                    for b in range(len(dim_bounds[j]) + 1)
                )
                + ")"
            ).alias(f"c_{j}")
            for j in range(len(specs))
        ]
    ).collect()[0]

    tile_exprs = []
    for j, (vcol, tie_col, n_tiles, out_col) in enumerate(specs):
        counts = [int(c or 0) for c in cnt_row[f"c_{j}"]]
        off_list, acc = [], 0
        for c in counts:
            off_list.append(acc)
            acc += c
        n = acc
        # offset lookup via constant literal-array index, not a
        # parts-long CASE chain: the offset term is re-inlined wherever
        # rank appears (the tile expression uses rank twice), so chain
        # size would multiply through analysis and per-row cost
        rank = (
            f"(array({','.join(str(o) for o in off_list)})[__b_{j}]"
            f" + row_number() OVER"
            f" (PARTITION BY __b_{j} ORDER BY {vcol}, {tie_col}))"
        )
        s, r = n // n_tiles, n % n_tiles
        pivot = r * (s + 1)
        tile_exprs.append(
            F.expr(
                f"CAST(if({rank} <= {pivot},"
                f" ceil({rank} / {s + 1}),"
                f" {r} + ceil(({rank} - {pivot}) / {max(s, 1)})) AS INT)"
            ).alias(out_col)
        )
    keep = [c for c in local.columns if not c.startswith("__b_")]
    return local.select(*keep, *tile_exprs)


def exact_global_ntile(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    n_tiles: int,
    out_col: str,
    parts: int = 32,
) -> DataFrame:
    """Append ``out_col`` = exact ``ntile(n_tiles)`` of ``df`` rows under
    the total order ``(value_col, tie_col)``, without funneling rows
    through a single-task global sort.  Single-spec convenience wrapper
    over :func:`exact_global_ntile_multi`."""
    return exact_global_ntile_multi(
        df, [(value_col, tie_col, n_tiles, out_col)], parts=parts
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    quantiles: list[tuple[str, int, int]] = (
        ("p25", 1, 4),
        ("p50", 1, 2),
        ("p75", 3, 4),
    ),
    parts: int = 32,
) -> DataFrame:
    """EXACT lower weighted quantiles per group, never a global sort.

    For each group and each ``(label, num, den)`` the result value is the
    smallest ``v`` with ``den · Σ{w : value ≤ v} ≥ num · W`` (``W`` =
    group's total weight) — the standard lower weighted quantile, and
    every comparison is INTEGER (the quantile is a rational, weights are
    integers), so the answer is bit-identical to any ANSI engine's
    cumulative-window formulation with no float threshold anywhere.

    Mechanism = the exact_global_ntile design extended to weights:

    1. ties collapse exactly FIRST: one row per (group, value) with
       summed weight, persisted — every later step (bounds, counts,
       window) reads this one artifact, so the raw frame is scanned
       exactly once (bounds-then-collapse measured a second full input
       scan worth ~15% of the query);
    2. GLOBAL ``percentile_approx`` bounds over the collapsed values
       partition them into ~parts buckets (the sketch is unweighted —
       over distinct values — but bounds only *partition* rows, so
       neither sketch error nor the missing weights reaches the answer);
    3. per-(group, bucket) weight sums (≤ |groups|·parts rows) locate
       each quantile's target bucket and its exact in-bucket remaining
       target — computed INSIDE the final job (cumulative bucket window
       + broadcast), not via a third driver action;
    4. only rows in TARGET buckets (≤ |groups|·|quantiles| buckets) flow
       into the cumulative window, partitioned by (group, bucket) — the
       within-bucket scan is ≈ n/parts rows per task.

    Output: one row per group with one column per quantile label.
    Weights must be positive integers; ``group_col`` cardinality must be
    metadata-sized (the target-bucket frame is broadcast). Labels are
    spliced into SQL string literals and must not contain ``'``. The
    integer comparisons run in ``decimal(38,0)``, where a product
    ``num · W`` or ``den · W`` at or above ``10^38`` would overflow to
    NULL and silently drop a candidate bucket, so the input is rejected
    unless ``max(num, den)`` times the total weight of ALL rows (a bound
    on every group's ``W``) stays below ``10^38``.
    """
    from pyspark.sql import Window

    quoted = [label for label, _, _ in quantiles if "'" in label]
    if quoted:
        raise ValueError(f"weighted_quantiles: quantile labels must not contain \"'\": {quoted}")
    vw0 = (
        df.groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(F.sum(F.col(weight_col).cast("decimal(38,0)")).alias("w"))
        .persist()
    )
    _LIVE_CACHES.append(vw0)  # caller-owned lifetime: see release_caches
    pcts = ",".join(repr(i / parts) for i in range(1, parts))
    # precondition checks ride on the bounds action (zero extra jobs):
    # NULL values break cross-engine rank order, non-positive collapsed
    # weights break the integer threshold inequality, and a total weight
    # that overflows it (try_sum is NULL on overflow) drops buckets
    chk = vw0.select(
        F.expr(f"percentile_approx(v, array({pcts}), 1000)").alias("bs"),
        F.expr("sum(if(v is null, 1, 0))").alias("null_v"),
        F.expr("sum(if(w is null or w <= 0, 1, 0))").alias("bad_w"),
        F.expr("count(1)").alias("n"),
        F.expr("try_sum(w)").alias("total_w"),
    ).collect()[0]
    if int(chk["null_v"] or 0) or int(chk["bad_w"] or 0):
        raise ValueError(
            f"weighted_quantiles: {chk['null_v']} NULL values / "
            f"{chk['bad_w']} non-positive collapsed weights in "
            f"({value_col!r}, {weight_col!r}) — the exact integer "
            "threshold needs non-null values and positive weights"
        )
    scale = max(max(num, den) for _, num, den in quantiles)
    if chk["n"] and (chk["total_w"] is None or int(chk["total_w"]) * scale >= 10**38):
        raise ValueError(
            f"weighted_quantiles: total weight {chk['total_w']} of "
            f"{weight_col!r} times {scale} reaches decimal(38,0)'s 10^38 bound"
        )
    raw = chk["bs"]
    bounds = sorted({float(b) for b in (raw or []) if b is not None})

    # cheap flat-IF projection over the persisted collapse — re-evaluated
    # per consumer, never re-shuffled
    vw = vw0.select("g", "v", "w", F.expr(_bucket_sql("v", bounds)).alias("b"))

    # Target-bucket selection, DISTRIBUTED (r17): the per-(g, bucket)
    # weight sums used to be collect()ed and walked on the driver — a
    # third sequential action over the persisted collapse between the
    # bounds job and the final job (guide §2.4: fewer actions = fewer
    # scans).  The same integer inequality — smallest bucket with
    # den·(cum_before + bw) ≥ num·W — now evaluates inside the FINAL job
    # over the metadata-sized (g, bucket) aggregate, so the operator
    # runs exactly two jobs: bounds+guards, then the quantile query.
    wb = Window.partitionBy("g").orderBy("b")
    bw = (
        vw.groupBy("g", "b")
        .agg(F.sum("w").alias("bw"))
        .select(
            "g",
            "b",
            "bw",
            (
                F.sum("bw").over(
                    wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - F.col("bw")
            ).alias("cumb"),
            F.sum("bw").over(Window.partitionBy("g")).alias("tot"),
        )
    )
    q_structs = ", ".join(
        f"struct('{label}' AS label, {num} AS num, {den} AS den)"
        for label, num, den in quantiles
    )
    cand = bw.select(
        "g", "b", "bw", "cumb", "tot", F.expr(f"inline(array({q_structs}))")
    )
    # smallest qualifying bucket per (g, label); min over the struct is
    # min over b (cumb/num/den/tot are functions of (g, b, label)), and
    # num·W − den·cum_before is the exact in-bucket target, all integer
    # decimal arithmetic — identical to the former driver-side walk
    tgt = (
        cand.where(
            F.col("den").cast("decimal(38,0)") * (F.col("cumb") + F.col("bw"))
            >= F.col("num").cast("decimal(38,0)") * F.col("tot")
        )
        .groupBy("g", "label")
        .agg(F.min(F.struct("b", "cumb", "num", "den", "tot")).alias("m"))
        .select(
            "g",
            "label",
            F.col("m.b").alias("b"),
            (
                F.col("m.num").cast("decimal(38,0)") * F.col("m.tot")
                - F.col("m.den").cast("decimal(38,0)") * F.col("m.cumb")
            )
            .cast("decimal(38,0)")
            .alias("tgt"),
        )
    )

    # the window partitions by (g, label): two quantiles of one group
    # can share a target bucket, and the broadcast join duplicates those
    # rows once per label — a (g, b)-partitioned cumsum would mix the
    # duplicates and double-count
    wcum = Window.partitionBy("g", "label").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    den_expr = (
        "CASE "
        + " ".join(f"WHEN label = '{label}' THEN {den}" for label, _, den in quantiles)
        + " END"
    )
    vw_a, tgt_a = vw.alias("vw"), F.broadcast(tgt).alias("tgt")
    hits = vw_a.join(
        tgt_a,
        (F.col("vw.g") == F.col("tgt.g")) & (F.col("vw.b") == F.col("tgt.b")),
    ).select(
        F.col("vw.g").alias("g"),
        F.col("tgt.label").alias("label"),
        F.col("vw.v").alias("v"),
        F.col("vw.w").alias("w"),
        F.col("tgt.tgt").alias("tgt"),
    )
    # within-bucket exact cumulative weight; the first row meeting the
    # integer inequality is the quantile value
    hits = hits.select(
        "g", "label", "v", "tgt", F.sum("w").over(wcum).alias("cum")
    ).where(F.expr(den_expr).cast("decimal(38,0)") * F.col("cum") >= F.col("tgt"))
    per_label = hits.groupBy("g", "label").agg(F.min("v").alias("qv"))
    agg_cols = [
        F.max(F.when(F.col("label") == label, F.col("qv"))).alias(label)
        for label, _, _ in quantiles
    ]
    return per_label.groupBy(F.col("g").alias(group_col)).agg(*agg_cols)
