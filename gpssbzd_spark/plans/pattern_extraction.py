"""Stage 1 — Pattern Extraction: per-vehicle signal-loss segmentation.

Semantics follow the reference (`Standalone/Pattern Extraction.scala`,
part 1 only in `Parallel/Pattern Extraction.scala:35-133`), re-expressed
as TWO declarative plans with no driver round-trips and no per-line
thread pool:

- :func:`prepare_pings` — part 1: dedup, inter-ping ``time_diff``,
  terminal direction/position tagging via broadcast joins, forward-filled
  direction, per-vehicle 95th-percentile gap ``threshold``.
- :func:`extract_patterns` — part 2: gap classification with the
  plausible-speed demotion rule, round-trip-vehicle filter, pattern
  bounds, in-bounds filter, and running-sum ``patternID``. One plan over
  ALL lines (windows partition by ``(linenumber, id)``), replacing the
  reference's driver-side per-line loop (`Parallel/Pattern
  Extraction.scala:268-281`) — at 100 TB the per-line fan-out is just
  window partitioning, no thread pool.

Reference quirks handled explicitly:

- **Tri-state gap marker.** The reference branches on ``lag == 2``
  ("pattern start", `Standalone/Pattern Extraction.scala:84,128`) but no
  committed code ever writes 2 — so as committed, `pattern_id` stays 0,
  every bound is null and the in-bounds filter drops ALL rows. The
  marker must come from an upstream step missing from the repo. Its
  distance cases pin the intended semantics: a 2-row's gap displacement
  is ``hav(cur → next)`` and a 1-row's is ``hav(prev → cur)`` — both
  only measure across a silent gap if **2 = the last ping BEFORE the
  gap** and 1 = the ping(s) after gap(s). We expose the hook as
  ``start_marker``: ``"pre_gap"`` (default — mark the row preceding
  each gap run with 2, which makes the machinery function end-to-end)
  or ``"none"`` (bit-parity with the committed reference, i.e. empty
  output — pinned by a test).
- **Deterministic dedup.** Reference `dropDuplicates(id,linenumber,
  lng,lat)` keeps an arbitrary row; we keep the earliest ``ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gpssbzd_spark.functions.geo import PLAUSIBLE_SPEED_MPS, haversine_m

TERMINAL_RADIUS_M = 100.0  # retag radius (Parallel/Pattern Extraction.scala:104)


def prepare_pings(
    gps: DataFrame,
    bus_line: DataFrame,
    threshold_percentile: float = 0.95,
    exact_percentile: bool = False,
) -> DataFrame:
    """Part 1: typed pings → tagged pings with per-vehicle gap threshold.

    ``gps`` needs columns (id, linenumber, lng, lat, t, ts:timestamp);
    ``bus_line`` needs (existLine_id, x=lat, y=lng, direction, position).

    Vehicle windows key on ``(linenumber, id)`` — not bare ``id`` as the
    reference's part 1 does (PPE:71-126) — so every window here shares
    one hash partitioning with :func:`extract_patterns`'s part-2 windows
    and Catalyst plans ONE Exchange for the whole stage-1 composite. In
    the data model a vehicle's pings sit in a single line per extraction
    run (the reference processes per-line files), so the grouping is
    semantically identical there; a vehicle genuinely crossing lines
    within one input would get per-(line,vehicle) thresholds here versus
    mixed-line thresholds in the reference — arguably a bug fix, and
    pinned by tests/test_pattern_extraction.py::
    test_multiline_vehicle_gets_per_line_semantics (the single-line
    GPS fixtures cannot catch it).
    """
    # r14 (guide §2): pin the composite's ONE exchange explicitly. Every
    # window/groupBy in parts 1+2 keys on (linenumber, id); with a
    # Catalyst-planned exchange AQE coalesces the small fixture shuffle
    # to 1-2 tasks and the whole window chain serializes (profiled:
    # four 0.2-0.5 s single-task cpu-bound stages at sf0.1). The
    # explicit scale-adaptive count is exempt from byte-based
    # coalescing; at real scale it matches the input width.
    from gpssbzd_spark.sources.tables import keyed_repartition

    gps = keyed_repartition(gps, "linenumber", "id")
    w_id = Window.partitionBy("linenumber", "id").orderBy("ts")

    # Inter-ping gap in seconds (0 for a vehicle's first ping), computed
    # BEFORE dedup as in the reference (PPE:71-81).
    with_diff = gps.withColumn(
        "time_diff",
        F.coalesce(
            F.abs(F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w_id))),
            F.lit(0).cast("long"),
        ).cast("double"),
    )

    # Deterministic dedup: earliest ping per (id, linenumber, lng, lat).
    # r14: expressed WITHIN the (linenumber, id) partitioning — sort the
    # vehicle's rows by (lng, lat, ts) and keep each (lng, lat) run's
    # first row — instead of row_number over a (id, linenumber, lng,
    # lat) window. (Plan note: Catalyst already satisfied the wider
    # clustering from the (linenumber, id) exchange — subset keys
    # cluster supersets — so this rewrite trades the wider window for
    # a lag, keeping exactly the pinned exchange above; the measured
    # win comes from that pin, the rewrite keeps the partitioning
    # story one-keyed and the plan free of the wider sort spec.)
    # Row-for-row identical: the first row of a (lng, lat) run in
    # (lng, lat, ts) order IS that position's earliest ping (ties on
    # ts fall to the same arbitrary-pick class the row_number form
    # had). The null-safe struct comparison keeps null coords grouped
    # like the window PARTITION BY did; NaN coords (grouping-equal in
    # the old form, comparison-unequal here) don't occur in the GPS
    # domain.
    w_pos = Window.partitionBy("linenumber", "id").orderBy("lng", "lat", "ts")
    _pos = F.struct("lng", "lat")
    deduped = (
        with_diff.withColumn(
            "_dup", _pos.eqNullSafe(F.lag(_pos, 1).over(w_pos))
        )
        .filter(~F.coalesce(F.col("_dup"), F.lit(False)))
        .drop("_dup")
    )

    # First ping of each vehicle provisionally tagged direction=1,
    # position=1; all others 0 (PPE:88-94).
    first_tag = deduped.withColumn("_rn", F.row_number().over(w_id)).select(
        "linenumber",
        "id",
        "lng",
        "lat",
        "t",
        "ts",
        "time_diff",
        F.when(F.col("_rn") == 1, 1).otherwise(0).alias("direction"),
        F.when(F.col("_rn") == 1, 1).otherwise(0).alias("position"),
    )

    # Terminal retag: within 100 m of a direction-1 terminal → (1,1);
    # within 100 m of a direction-2 terminal → (2,2). Direction-1
    # terminals only count for lines that also have a direction-2
    # terminal (PPE:96-115). bus_line rows are per-terminal and tiny —
    # broadcast both sides of the join.
    term = bus_line.filter(F.col("position") == 1).select(
        F.col("existLine_id").alias("linenumber"),
        F.col("x").alias("term_lat"),
        F.col("y").alias("term_lng"),
        "direction",
    )
    term1 = term.filter(F.col("direction") == 1).drop("direction")
    term2 = term.filter(F.col("direction") == 2).drop("direction")
    term1 = term1.join(term2.select("linenumber").distinct(), "linenumber", "left_semi")

    def _retag(df: DataFrame, terminals: DataFrame, tag: int) -> DataFrame:
        # Terminals are aggregated to ONE array per line before the join:
        # a line with several terminal stops per direction must not
        # duplicate ping rows (a plain left join multiplies each ping by
        # its line's terminal count). The array is tiny (O(stops)) and the
        # per-ping proximity test is an `exists` over it.
        t = terminals.groupBy("linenumber").agg(
            F.collect_list(F.struct("term_lat", "term_lng")).alias("_terms")
        )
        joined = df.join(F.broadcast(t), "linenumber", "left")
        near = F.coalesce(
            F.exists(
                "_terms",
                lambda p: haversine_m(
                    F.col("lat"), F.col("lng"), p["term_lat"], p["term_lng"]
                )
                < TERMINAL_RADIUS_M,
            ),
            F.lit(False),
        )
        return joined.select(
            "linenumber",
            "id",
            "lng",
            "lat",
            "t",
            "ts",
            "time_diff",
            F.when(near, tag).otherwise(F.col("direction")).alias("direction"),
            F.when(near, tag).otherwise(F.col("position")).alias("position"),
        )

    tagged = _retag(_retag(first_tag, term1, 1), term2, 2)

    # Forward-filled direction (reference writes it, nothing reads it —
    # kept for output parity; PPE:117-122).
    w_fill = w_id.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = tagged.withColumn(
        "filled_direction",
        F.last(F.when(F.col("direction") != 0, F.col("direction")), ignorenulls=True).over(
            w_fill
        ),
    )

    # Per-vehicle gap threshold: p95 of time_diff (PPE:124-126). The agg
    # is partial-aggregable; the join back is a broadcast (one row per
    # vehicle, small relative to pings). Keyed (linenumber, id) like
    # every other window in the stage — see the docstring.
    pct = (
        F.percentile("time_diff", threshold_percentile)
        if exact_percentile
        else F.percentile_approx("time_diff", threshold_percentile)
    )
    thresholds = filled.groupBy("linenumber", "id").agg(pct.alias("threshold"))
    return filled.join(thresholds, ["linenumber", "id"], "left")


def extract_patterns(
    prepared: DataFrame,
    start_marker: str = "pre_gap",
) -> DataFrame:
    """Part 2: tagged pings → pattern-segmented trajectories.

    Output: (id, linenumber, lng, lat, t, ts, time_diff, direction,
    position, patternID). ``start_marker``: see module docstring.
    """
    assert start_marker in ("pre_gap", "none")
    w = Window.partitionBy("linenumber", "id").orderBy("ts")

    # Gap classification: 1 if this ping follows a silent gap ≥ threshold;
    # with the pre_gap marker, the ping *before* a gap run becomes 2.
    base = F.when(F.col("time_diff") >= F.col("threshold"), 1).otherwise(0)
    df = prepared.withColumn("_base", base)
    if start_marker == "pre_gap":
        state = F.when(
            (F.col("_base") == 0) & (F.lead("_base", 1).over(w) == 1), 2
        ).otherwise(F.col("_base"))
    else:
        state = F.col("_base")
    df = df.withColumn("lag_state", state).drop("_base")

    # Neighbor state for the demotion rule (SPE:76-102): a gap whose
    # spatial displacement is under 11.11·(threshold−1) meters (~40 km/h
    # across the silent window) is not a real signal loss — demote to 0.
    df = (
        df.withColumn("next_state", F.lead("lag_state", 1).over(w))
        .withColumn("last_state", F.lag("lag_state", 1).over(w))
        .withColumn("next_lat", F.lead("lat", 1).over(w))
        .withColumn("next_lng", F.lead("lng", 1).over(w))
        .withColumn("last_lat", F.lag("lat", 1).over(w))
        .withColumn("last_lng", F.lag("lng", 1).over(w))
    )
    dist_prev = haversine_m(F.col("last_lat"), F.col("last_lng"), F.col("lat"), F.col("lng"))
    dist_next = haversine_m(F.col("lat"), F.col("lng"), F.col("next_lat"), F.col("next_lng"))
    # Exactly the reference's four cases (SPE:82-90): an isolated gap row
    # (neither neighbor gap-tagged) gets NO distance and is never demoted.
    df = df.withColumn(
        "gap_distance",
        F.when((F.col("lag_state") == 2) & (F.col("next_state") == 1), dist_next).when(
            (F.col("lag_state") == 1)
            & (
                (F.col("last_state") == 2)
                | (F.col("next_state") == 1)
                | (F.col("last_state") == 1)
            ),
            dist_prev,
        ),
    )
    demote = F.col("gap_distance").isNotNull() & (
        F.col("gap_distance") < PLAUSIBLE_SPEED_MPS * (F.col("threshold") - 1)
    )
    df = df.withColumn(
        "lag_state", F.when(demote, 0).otherwise(F.col("lag_state"))
    )

    # Round-trip vehicle filter (SPE:104-121): keep vehicles seen at (or
    # gap-tagged toward) BOTH terminals. Cascaded conditional agg + semi
    # join — no driver collect.
    is_gap = F.col("lag_state").isin(1, 2)
    cond1 = F.max(
        F.when(
            ((F.col("direction") == 1) & (F.col("position") == 1))
            | ((F.col("direction") == 1) & (F.col("position") == 0) & is_gap),
            1,
        ).otherwise(0)
    )
    cond2 = F.max(
        F.when(
            ((F.col("direction") == 2) & (F.col("position") == 2))
            | ((F.col("direction") == 2) & (F.col("position") == 0) & is_gap),
            1,
        ).otherwise(0)
    )
    qualified = (
        df.groupBy("linenumber", "id")
        .agg(cond1.alias("c1"), cond2.alias("c2"))
        .filter("c1 = 1 AND c2 = 1")
        .select("linenumber", "id")
    )
    df = df.join(qualified, ["linenumber", "id"], "left_semi")

    # Pattern bounds (SPE:123-155): a run of state-2..1 rows is a
    # pattern; its time window is [start.ts − threshold, end.ts +
    # threshold].
    thr = F.col("threshold").cast("int")
    df = (
        df.withColumn("next_state", F.lead("lag_state", 1).over(w))
        .withColumn("pattern_start", F.when(F.col("lag_state") == 2, 1).otherwise(0))
        .withColumn(
            "pattern_id",
            F.sum("pattern_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "is_end",
            F.when(
                (F.col("lag_state") == 1)
                & ((F.col("next_state") == 0) | (F.col("next_state") == 2)),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "lower_bound",
            F.when(
                F.col("lag_state") == 2,
                F.timestamp_seconds(F.unix_timestamp("ts") - thr),
            ),
        )
        .withColumn(
            "upper_bound",
            F.when(
                F.col("is_end") == 1,
                F.timestamp_seconds(F.unix_timestamp("ts") + thr),
            ),
        )
    )

    # Bound fills (SPE:138-148): upper bound back-filled within
    # (id, pattern_id); lower bound taken from the NEXT pattern's start.
    # The lower fill orders by (pattern_id, ts), not pattern_id alone:
    # with only pattern_id, rows INSIDE a pattern tie and the frame's
    # "rows after me" set is arbitrary — a row could see its OWN
    # pattern's start bound instead of the next pattern's, and the
    # result varied run to run. With ts as tiebreak, a pattern's
    # state-2 start row (earliest ts of the run) precedes its other
    # rows, so their first-non-null lookahead lands on the NEXT
    # pattern's bound — the reference's intent, now deterministic.
    # explicit ROWS frame: the orderBy-only default is a RANGE frame
    # whose ts-tie peers would already see a later row's bound
    w_upper = (
        Window.partitionBy("linenumber", "id", "pattern_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lower = (
        Window.partitionBy("linenumber", "id")
        .orderBy("pattern_id", "ts")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    df = (
        df.withColumn(
            "upper_bound",
            F.coalesce(
                F.col("upper_bound"),
                F.first("upper_bound", ignorenulls=True).over(w_upper),
            ),
        )
        .withColumn(
            "lower_bound",
            F.coalesce(
                F.col("lower_bound"),
                F.first("lower_bound", ignorenulls=True).over(w_lower),
            ),
        )
        .withColumn(
            "upper_bound",
            F.when(
                F.col("upper_bound").isNull() & (F.col("pattern_id") != 0),
                F.lead("upper_bound", 1).over(w),
            ).otherwise(F.col("upper_bound")),
        )
        .withColumn("prev_pattern_id", F.lag("pattern_id", 1).over(w))
    )

    # In-bounds filter (SPE:156-161): keep pre-pattern rows after the
    # next pattern's lower bound, in-pattern rows before the upper bound,
    # and the first row after a pattern closes.
    keep = (
        ((F.col("pattern_id") == 0) & (F.col("ts") > F.col("lower_bound")))
        | ((F.col("pattern_id") > 0) & (F.col("ts") < F.col("upper_bound")))
        | ((F.col("prev_pattern_id") > 0) & (F.col("ts") > F.col("lower_bound")))
    )
    df = df.filter(keep)

    # Segment numbering (SPE:162-172): tri-state `test` marks rows past
    # their pattern's window; a 0→1 transition starts a new patternID.
    df = df.withColumn(
        "test",
        F.when(F.col("upper_bound").isNull() | (F.col("lag_state") == 2), 1)
        .when((F.col("ts") > F.col("lower_bound")) & (F.col("ts") >= F.col("upper_bound")), 1)
        .when((F.col("ts") < F.col("upper_bound")) & (F.col("ts") <= F.col("lower_bound")), 0),
    )
    df = df.withColumn(
        "change_marker",
        F.when((F.lag("test", 1).over(w) == 0) & (F.col("test") == 1), 1).otherwise(0),
    ).withColumn(
        "patternID",
        (F.sum("change_marker").over(w.rowsBetween(Window.unboundedPreceding, 0)) + 1).cast(
            "string"
        ),
    )

    return df.select(
        "id", "linenumber", "lng", "lat", "t", "ts", "time_diff",
        "direction", "position", "patternID",
    )
