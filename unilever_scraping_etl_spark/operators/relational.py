"""Relational operator builders the reference implies but Spark lacks as
single calls (SURVEY.md §2.3-2.6): as-of join, top-k per group,
day-over-day churn, and the page-validity aggregations that replace the
reference's hand-rolled counting loops.

Scale notes are attached per operator — these run on the snapshot table
which at 100 TB is Parquet partitioned by date, so every one of them
benefits from partition pruning before its shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._contracts import require_free_columns


def topk_per_group(df: DataFrame, group_cols: list[str], order_by: list[Column],
                   k: int, rank_col: str = "rn") -> DataFrame:
    """W4 — k cheapest/most-X rows per group via row_number + filter.
    At scale this is a single shuffle on the group key; Spark pushes a
    per-partition top-k (WindowGroupLimit) below the shuffle since 3.5,
    so the shuffle carries only k rows per group per map task."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (df.withColumn(rank_col, F.row_number().over(w))
              .filter(F.col(rank_col) <= k))


def asof_latest_agg(df: DataFrame, key_cols: list[str], time_col: str,
                    tiebreak_cols: list[str],
                    value_cols: list[str]) -> DataFrame:
    """J7 — latest row per key as of the max time: the day-over-day
    price-compare the reference's snapshot-append model exists for
    (SURVEY.md §1.1), via one aggregation: max_by(values, (time,
    tiebreaks)). It partial-aggregates map-side, so at scale it beats
    a row_number window over (key ORDER BY time DESC): the shuffle
    carries one row per key per map task instead of every row.
    (Struct-ordered max_by plans as SortAggregate — a sort on the
    grouping key only — which the shuffle-volume win dominates.)"""
    ord_struct = F.struct(F.col(time_col), *[F.col(c) for c in tiebreak_cols])
    val_struct = F.struct(F.col(time_col), *[F.col(c) for c in value_cols])
    agg = df.groupBy(*key_cols).agg(F.max_by(val_struct, ord_struct).alias("__v"))
    return agg.select(*key_cols, F.col(f"__v.{time_col}").alias(time_col),
                      *[F.col(f"__v.{c}").alias(c) for c in value_cols])


def salted_join(big: DataFrame, small: DataFrame, on: list[str],
                salt_by: list[str], buckets: int = 8,
                how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: the big side gets a deterministic salt from
    ``salt_by`` (row-distinguishing columns, e.g. its primary key — NOT
    the join key, which is constant within a hot group), the small side
    is exploded across all ``buckets`` salts, and the join key becomes
    (on + salt) so one hot key spreads over ``buckets`` reducers.
    Results are identical to ``big.join(small, on, how)``.

    AQE's skew-join split handles most cases for free; this operator is
    for the residual ones — skew in a key whose partitions AQE can't
    split (e.g. a subsequent aggregation on the same key) or a
    deliberately pinned non-AQE plan."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_by]),
                  F.lit(buckets)).cast("int")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    return b.join(s, on + ["__salt"], how).drop("__salt")


def churn(prev: DataFrame, curr: DataFrame, key_cols: list[str]) -> DataFrame:
    """O4 — appeared/disappeared keys between two snapshots, labeled.
    Implemented as two left-anti joins (cheaper than exceptAll when only
    keys are needed: anti join skips the full-row comparison)."""
    p = prev.select(*key_cols)
    c = curr.select(*key_cols)
    appeared = c.join(p, key_cols, "left_anti").withColumn("change", F.lit("appeared"))
    disappeared = p.join(c, key_cols, "left_anti").withColumn("change", F.lit("disappeared"))
    return appeared.unionByName(disappeared)


def valid_count(cards: DataFrame, page_col: str, invalid_col: str) -> DataFrame:
    """A2 — per-page (valid, invalid) product counts, the declarative
    form of the reference's product_validity_count loop
    (scrap_tokopedia.py:131-151: valid = len(all) - len(invalid)).
    One hash aggregation with map-side partial agg."""
    return (cards.groupBy(page_col).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col(invalid_col), 1).otherwise(0)).cast("long").alias("invalid"))
        .withColumn("valid", (F.col("total") - F.col("invalid")).cast("long")))


def last_valid_page(page_stats: DataFrame, page_col: str = "page",
                    valid_col: str = "valid") -> DataFrame:
    """A3 — greatest page with ≥1 valid product: the declarative core of
    the reference's step-probe search (scrap_tokopedia.py:153-186). The
    adaptive probe loop itself lives in sources/ingest.py (driver-side,
    SURVEY.md §7.4); over a materialized stats table it is just a max."""
    return page_stats.agg(
        F.max(F.when(F.col(valid_col) > 0, F.col(page_col))).alias("last_valid_page"))


def page_sequence(spark, base_url: str, last_page: int) -> DataFrame:
    """S4 — the catalog scan worklist [base, base/page/2, ...]
    (scrap_tokopedia.py:301) as a range scan — no data movement, and at
    any fan-out it parallelizes by slicing the range."""
    from ..functions.scalars import page_url
    return (spark.range(1, last_page + 1).withColumnRenamed("id", "page")
            .withColumn("page", F.col("page").cast("int"))
            .withColumn("url", page_url(F.lit(base_url), F.col("page"))))


def interval_join(points: DataFrame, intervals: DataFrame, point_col: str,
                  start_col: str, end_col: str, bin_width: float,
                  max_bins_per_interval: int = 16384) -> DataFrame:
    """J6 at big-big scale — point-in-interval join (start <= point <
    end) as a BINNED EQUI-JOIN, for when BOTH sides are too large to
    broadcast (the broadcast band form in `join_range` covers the
    small-side case; a naive big-big theta join plans as a
    BroadcastNestedLoopJoin, which is quadratic work and a broadcast
    of something huge — the classic 100 TB killer).

    Layout: every point hashes to exactly ONE bin
    (floor(value / bin_width)); every interval replicates to the bins
    it overlaps (explode over an inclusive floor(start/W)..floor(end/W)
    sequence). The join is then an equi-join on the bin plus the exact
    range predicates as join filters — one hash shuffle on the bin key,
    no nested loop, and NO post-join dedup is needed because a point's
    single bin meets each interval at most once.

    Cost model: interval replication factor is len/W + 1, point side
    is never replicated — pick ``bin_width`` near the TYPICAL interval
    length (smaller W = finer shuffle distribution but more interval
    copies; larger W = fewer copies but hotter bins, since every point
    in a bin lands in one shuffle partition's hash bucket). A median
    of end - start over the valid intervals (one ``approxQuantile``
    pass) is a good starting point.
    ``max_bins_per_interval`` turns a mis-sized W (or a corrupt
    open-ended interval — the silent-explosion risk at scale) into a
    loud executor-side raise instead of an OOM. Intervals with
    end <= start or NULL bounds match nothing and are dropped, which
    also keeps the bin sequence ascending.

    Hot-bin skew: because the join is a plain equi-join on ``__bin``,
    a bin fat on ONE side is exactly the shape AQE's skew split was
    built for — it splits the fat shuffle partition and duplicates the
    thin matching one, with no operator cooperation needed (verified
    at the 10x stress: 40% of 6M points collapsed into one bin plans
    ``SortMergeJoin(skew=true)`` once the AQE skew thresholds match
    the data scale; see BASELINE.md round-9 interval stress). A bin
    fat on BOTH sides where the predicates also hold is different: the
    join OUTPUT is then genuinely near the product of the two sides —
    semantic explosion no partitioning fixes, and out of scope for
    this cap (which bounds bins per interval, not pairs per bin).

    Columns pass through from both inputs (names must be disjoint);
    values must be numeric (cast dates/timestamps to epoch days/seconds
    first — exact integer comparisons, no timezone surprises)."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    overlap = set(points.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(f"points/intervals column names must be "
                         f"disjoint, both have: {sorted(overlap)}")
    require_free_columns("interval_join",
                         list(points.columns) + list(intervals.columns),
                         ("__bin",))
    w = float(bin_width)
    p = (points.filter(F.col(point_col).isNotNull())
         .withColumn("__bin",
                     F.floor(F.col(point_col).cast("double") / w)))
    lo = F.floor(F.col(start_col).cast("double") / w).cast("long")
    hi = F.floor(F.col(end_col).cast("double") / w).cast("long")
    n_bins = hi - lo + F.lit(1)
    hi_guarded = (F.when(
        n_bins > max_bins_per_interval,
        F.raise_error(F.concat(
            F.lit(f"interval_join: an interval spans more than "
                  f"{max_bins_per_interval} bins of width {w} ("),
            n_bins.cast("string"),
            F.lit(") — raise bin_width or max_bins_per_interval"))))
        .otherwise(hi))
    iv = (intervals.filter(F.col(start_col) < F.col(end_col))
          .withColumn("__bin", F.explode(F.sequence(lo, hi_guarded))))
    cond = ((p["__bin"] == iv["__bin"])
            & (p[point_col] >= iv[start_col])
            & (p[point_col] < iv[end_col]))
    return p.join(iv, cond).drop(p["__bin"]).drop(iv["__bin"])


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          left_start: str, left_end: str,
                          right_start: str, right_end: str,
                          bin_width: float,
                          max_bins_per_interval: int = 16384) -> DataFrame:
    """Interval × interval overlap join (half-open: overlap iff
    l_start < r_end AND r_start < l_end) for two LARGE interval
    tables — sessions vs outages, promo windows vs order windows.
    Same binning layout as `interval_join`, with the twist both
    sides now replicate, so a pair can share MANY bins; instead of a
    distinct over the (possibly huge) join output, each pair is
    emitted exactly once by keeping it only in the FIRST bin the two
    intervals share — `bin == greatest(floor(l_start/W),
    floor(r_start/W))` as a join filter (the standard dedup-free
    distributed interval join; the first shared bin of an overlapping
    pair is the later of the two start bins). One hash shuffle on the
    bin key, no nested loop, no distinct.

    The result is EXACTLY the predicate: a zero-length interval
    [x, x) strictly inside a nonempty partner satisfies it
    (l_start < r_end and r_start < l_end both hold) and is matched —
    unlike `interval_join`, where a degenerate interval can never
    contain a point, so here the binning keeps s == e rows (their bin
    range is the single start bin, and the first-shared-bin argument
    holds unchanged: rs < le ⇒ floor(rs/W) <= floor(le/W)). Only
    s > e (corrupt) and NULL-bounded intervals drop. Otherwise same
    contract as `interval_join`: numeric columns (cast
    dates/timestamps to epoch days/seconds first), disjoint output
    names, the per-interval bin cap raises loudly on mis-sized W, and
    the same hot-bin posture — an equi-join on ``__bin`` inherits
    AQE's skew split for one-side-fat bins (see `interval_join`)."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"left/right column names must be disjoint, "
                         f"both have: {sorted(overlap)}")
    require_free_columns("interval_overlap_join",
                         list(left.columns) + list(right.columns),
                         ("__bin", "__sbin"))
    w = float(bin_width)

    def binned(df: DataFrame, s: str, e: str) -> DataFrame:
        lo = F.floor(F.col(s).cast("double") / w).cast("long")
        hi = F.floor(F.col(e).cast("double") / w).cast("long")
        n_bins = hi - lo + F.lit(1)
        hi_guarded = (F.when(
            n_bins > max_bins_per_interval,
            F.raise_error(F.concat(
                F.lit(f"interval_overlap_join: an interval spans more "
                      f"than {max_bins_per_interval} bins of width "
                      f"{w} ("),
                n_bins.cast("string"),
                F.lit(") — raise bin_width or max_bins_per_interval"))))
            .otherwise(hi))
        return (df.filter(F.col(s) <= F.col(e))
                .withColumn("__bin", F.explode(F.sequence(lo, hi_guarded)))
                .withColumn("__sbin", lo))
    lb = binned(left, left_start, left_end)
    rb = binned(right, right_start, right_end)
    cond = ((lb["__bin"] == rb["__bin"])
            & (lb[left_start] < rb[right_end])
            & (rb[right_start] < lb[left_end])
            & (lb["__bin"] == F.greatest(lb["__sbin"], rb["__sbin"])))
    return (lb.join(rb, cond)
            .drop(lb["__bin"]).drop(rb["__bin"])
            .drop(lb["__sbin"]).drop(rb["__sbin"]))


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              ts_col: str, left_cols: list[str], right_cols: list[str],
              direction: str = "backward",
              tolerance_sec: float | None = None) -> DataFrame:
    """General two-table as-of join (pandas merge_asof / kdb aj / DuckDB
    ASOF JOIN semantics): for every left row, attach the single right
    row per key with the greatest right.ts <= left.ts (``backward``),
    the smallest right.ts >= left.ts (``forward``), or whichever is
    closer in time (``nearest``, ties -> backward, the pandas
    convention). Unmatched left rows keep NULL right columns (left
    outer); ``tolerance_sec`` voids matches further than the bound
    (seconds when ``ts_col`` is a timestamp; RAW UNITS when it is an
    integer column — the operator cannot know what an integer tick
    means). NULL-ts and NULL-key left rows stay unmatched, mirroring
    SQL comparison semantics (a NULL never satisfies <=/>=/=) — pandas
    merge_asof and DuckDB ASOF agree.

    Scale shape: NOT a join at all — both tables union into one stream
    tagged by side, ONE shuffle on the key sorts it by (ts, side), and
    ``last(..., ignorenulls)`` / ``first(..., ignorenulls)`` window
    frames carry the prevailing right row onto each left row. A
    range-join formulation shuffles both tables too but then pays a
    per-key sort-merge with inequality fan-out (and naive forms explode
    to |L|x|R| per key); the union form's cost is exactly one sort of
    |L|+|R| rows per key, the optimal as-of shape at 100 TB. Right rows
    must be unique per (key, ts) — pre-aggregate otherwise (the
    tie-winner would be nondeterministic in ANY engine, DuckDB ASOF
    included).

    Returns left's ``on`` + ts (epoch µs, ``<ts_col>_us``) + left_cols,
    plus each right col and the matched right timestamp
    (``<ts_col>_r_us``). Matching compares FULL-microsecond epoch
    values — truncating to seconds would disagree with an exact engine
    (DuckDB ASOF) whenever two events share a second.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, "
                         f"got {direction!r}")

    def us(df: DataFrame) -> Column:
        t = dict(df.dtypes)[ts_col]
        return (F.unix_micros(F.col(ts_col)) if t.startswith("timestamp")
                else F.col(ts_col).cast("long"))

    rv = F.struct(us(right).alias("__rus"),
                  *[F.col(c) for c in right_cols]).alias("__rv")
    lv = F.struct(*[F.col(c) for c in left_cols]).alias("__lv")
    rtype = right.select(rv).schema[0].dataType
    ltype = left.select(lv).schema[0].dataType
    # side tag orders equal-ts rows so the frame boundary implements
    # <= / >= exactly: backward wants same-ts right rows BEFORE the
    # left row (tag r=0 < l=1), forward wants them AFTER (reversed).
    lval = left.select(*on, us(left).alias("__us"), F.lit(1).alias("__left"),
                       lv, F.lit(None).cast(rtype).alias("__rv"))
    rval = (right.select(*on, us(right).alias("__us"),
                         F.lit(0).alias("__left"),
                         F.lit(None).cast(ltype).alias("__lv"), rv)
            # a null-ts or null-key right row can never be a valid
            # as-of match (NULL satisfies no comparison); unfiltered it
            # would sort NULLS FIRST and its non-null struct would be
            # carried into every left row of its partition
            .filter(F.col("__us").isNotNull()))
    for c in on:
        rval = rval.filter(F.col(c).isNotNull())
    u = lval.unionByName(rval)
    back_tag = F.when(F.col("__left") == 1, 1).otherwise(0)
    wb = (Window.partitionBy(*on).orderBy("__us", back_tag.asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    fwd_tag = F.when(F.col("__left") == 1, 0).otherwise(1)
    wf = (Window.partitionBy(*on).orderBy("__us", fwd_tag.asc())
          .rowsBetween(0, Window.unboundedFollowing))
    carried = u
    if direction in ("backward", "nearest"):
        carried = carried.withColumn(
            "__back", F.last("__rv", ignorenulls=True).over(wb))
    if direction in ("forward", "nearest"):
        carried = carried.withColumn(
            "__fwd", F.first("__rv", ignorenulls=True).over(wf))
    if direction == "backward":
        match = F.col("__back")
    elif direction == "forward":
        match = F.col("__fwd")
    else:
        d_back = F.col("__us") - F.col("__back.__rus")
        d_fwd = F.col("__fwd.__rus") - F.col("__us")
        match = (F.when(F.col("__back").isNull(), F.col("__fwd"))
                  .when(F.col("__fwd").isNull(), F.col("__back"))
                  .when(d_fwd < d_back, F.col("__fwd"))
                  .otherwise(F.col("__back")))       # tie -> backward
    if tolerance_sec is not None:
        # seconds for timestamp columns (matching axis is epoch µs);
        # raw units for integer time columns
        unit = (1_000_000 if dict(left.dtypes)[ts_col].startswith("timestamp")
                else 1)
        match = F.when(
            F.abs(F.col("__us") - match["__rus"])
            <= tolerance_sec * unit,
            match)
    # a NULL-ts or NULL-key left row matches nothing (SQL comparison
    # semantics) — but the row itself survives, left-outer style
    null_left = F.col("__us").isNull()
    for c in on:
        null_left = null_left | F.col(c).isNull()
    match = F.when(null_left, F.lit(None).cast(rtype)).otherwise(match)
    return (carried.filter(F.col("__left") == 1)
            .withColumn("__m", match)
            .select(*on, F.col("__us").alias(f"{ts_col}_us"),
                    *[F.col(f"__lv.{c}").alias(c) for c in left_cols],
                    F.col("__m.__rus").alias(f"{ts_col}_r_us"),
                    *[F.col(f"__m.{c}").alias(c) for c in right_cols]))


def asof_join_sliced(left: DataFrame, right: DataFrame, on: list[str],
                     ts_col: str, left_cols: list[str],
                     right_cols: list[str], direction: str = "backward",
                     tolerance_sec: float | None = None,
                     slice_sec: int = 86400) -> DataFrame:
    """Skew-resistant as-of join: identical output to :func:`asof_join`,
    but the window partition key is EXTENDED with a time slice
    (``floor(epoch / slice_sec)``), the same bounded-stream idea as
    ``seq_pack``'s hash-prefix streams. ``asof_join`` sorts each key's
    entire |L|+|R| row set in one task — correct, but one hot key
    carrying 80% of the events becomes one straggler task at 1000
    executors. Here a hot key's rows spread over its active time
    slices, so no task ever sorts more than one (key, slice) cell.

    The carry that crosses slice boundaries is restored from a tiny
    summary frame: per (key, slice), the last (backward) / first
    (forward) right-side value; a window over the per-key slice
    sequence — O(active slices) rows per key, not O(events) — computes
    each slice's carry-in, and a slice-local miss coalesces to it.
    Proof: a left row's prevailing right row either lies in its own
    slice (the local window finds it exactly as asof_join does, tags
    included) or in an earlier slice, in which case it is by
    definition the LAST right row of the latest earlier slice holding
    one — precisely the summary window's carry-in. The summary join
    keys on (key, slice), so even its shuffle is skew-spread.

    ``nearest`` is deliberately unsupported here (it needs both carry
    directions stitched; compose two sliced calls if ever needed).
    Pick ``slice_sec`` so one key's densest slice fits a task
    comfortably and its active-slice count stays far below its row
    count — for event streams, a day is a natural default.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("asof_join_sliced supports backward/forward "
                         f"only, got {direction!r}")

    def us(df: DataFrame) -> Column:
        t = dict(df.dtypes)[ts_col]
        return (F.unix_micros(F.col(ts_col)) if t.startswith("timestamp")
                else F.col(ts_col).cast("long"))

    rv = F.struct(us(right).alias("__rus"),
                  *[F.col(c) for c in right_cols]).alias("__rv")
    lv = F.struct(*[F.col(c) for c in left_cols]).alias("__lv")
    rtype = right.select(rv).schema[0].dataType
    ltype = left.select(lv).schema[0].dataType
    lval = left.select(*on, us(left).alias("__us"), F.lit(1).alias("__left"),
                       lv, F.lit(None).cast(rtype).alias("__rv"))
    rval = (right.select(*on, us(right).alias("__us"),
                         F.lit(0).alias("__left"),
                         F.lit(None).cast(ltype).alias("__lv"), rv)
            .filter(F.col("__us").isNotNull()))
    for c in on:
        rval = rval.filter(F.col(c).isNotNull())
    # NULL-ts left rows have no slice; park them in slice NULL (they
    # match nothing anyway, and a NULL slice never equals a real one in
    # the summary join — they just pass through unmatched).
    u = (lval.unionByName(rval)
         .withColumn("__slice",
                     F.floor(F.col("__us") / F.lit(slice_sec * 1_000_000))))

    if direction == "backward":
        tag = F.when(F.col("__left") == 1, 1).otherwise(0)
        w_local = (Window.partitionBy(*on, "__slice")
                   .orderBy("__us", tag.asc())
                   .rowsBetween(Window.unboundedPreceding, 0))
        local = u.withColumn("__loc",
                             F.last("__rv", ignorenulls=True).over(w_local))
        summary = (u.filter(F.col("__left") == 0)
                   .groupBy(*on, "__slice")
                   .agg(F.max_by("__rv", "__us").alias("__srv")))
        w_carry = (Window.partitionBy(*on).orderBy("__slice")
                   .rowsBetween(Window.unboundedPreceding, -1))
    else:
        tag = F.when(F.col("__left") == 1, 0).otherwise(1)
        w_local = (Window.partitionBy(*on, "__slice")
                   .orderBy("__us", tag.asc())
                   .rowsBetween(0, Window.unboundedFollowing))
        local = u.withColumn("__loc",
                             F.first("__rv", ignorenulls=True).over(w_local))
        summary = (u.filter(F.col("__left") == 0)
                   .groupBy(*on, "__slice")
                   .agg(F.min_by("__rv", "__us").alias("__srv")))
        w_carry = (Window.partitionBy(*on).orderBy("__slice")
                   .rowsBetween(1, Window.unboundedFollowing))

    # Per-key slice spine: every (key, slice) either side touches, with
    # that slice's carry-in from the summary window. Tiny relative to
    # the event stream (O(keys x active slices)).
    spine = (u.select(*on, "__slice").distinct()
             .join(summary, [*on, "__slice"], "left"))
    carry_fn = F.last if direction == "backward" else F.first
    spine = spine.withColumn(
        "__carry", carry_fn("__srv", ignorenulls=True).over(w_carry)
    ).select(*on, "__slice", "__carry")

    joined = (local.filter(F.col("__left") == 1)
              .join(spine, [*on, "__slice"], "left"))
    match = F.coalesce(F.col("__loc"), F.col("__carry"))
    if tolerance_sec is not None:
        unit = (1_000_000 if dict(left.dtypes)[ts_col].startswith("timestamp")
                else 1)
        match = F.when(
            F.abs(F.col("__us") - match["__rus"]) <= tolerance_sec * unit,
            match)
    null_left = F.col("__us").isNull()
    for c in on:
        null_left = null_left | F.col(c).isNull()
    match = F.when(null_left, F.lit(None).cast(rtype)).otherwise(match)
    return (joined.withColumn("__m", match)
            .select(*on, F.col("__us").alias(f"{ts_col}_us"),
                    *[F.col(f"__lv.{c}").alias(c) for c in left_cols],
                    F.col("__m.__rus").alias(f"{ts_col}_r_us"),
                    *[F.col(f"__m.{c}").alias(c) for c in right_cols]))
