"""Stage-1 pipeline tests on GPS pings: the reference's sample
trajectories where that file exists, otherwise the seeded FIXTURES.md §A1
fleet (line ids remapped in both cases — see tests/gps_fixtures.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gpssbzd_spark.plans.pattern_extraction import extract_patterns, prepare_pings
from gpssbzd_spark.sources.csv import read_bus_line
from tests.gps_fixtures import gps_fixture, synthesize_bus_line


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("busline"))
    gps = gps_fixture(spark, tmpdir)
    bus_line = read_bus_line(spark, synthesize_bus_line(spark, tmpdir))
    df = prepare_pings(gps, bus_line).cache()
    df.count()
    return df


def test_prepare_invariants(prepared):
    stats = prepared.agg(
        F.min("time_diff").alias("min_td"),
        F.countDistinct("id").alias("n_vehicles"),
        F.countDistinct("linenumber").alias("n_lines"),
    ).first()
    assert stats["min_td"] >= 0
    assert stats["n_vehicles"] == 20
    assert stats["n_lines"] == 5
    # one threshold per vehicle
    per_id = prepared.groupBy("id").agg(F.countDistinct("threshold").alias("k"))
    assert per_id.filter(F.col("k") != 1).count() == 0
    # first ping per vehicle has time_diff 0
    w = Window.partitionBy("id").orderBy("ts")
    firsts = prepared.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    assert firsts.filter(F.col("time_diff") != 0).count() == 0
    # direction/position stay in the tri-state domain
    bad = prepared.filter(
        ~F.col("direction").isin(0, 1, 2) | ~F.col("position").isin(0, 1, 2)
    )
    assert bad.count() == 0


def test_terminal_retag_fires(prepared):
    tags = {
        r["position"]: r["n"]
        for r in prepared.groupBy("position").agg(F.count("*").alias("n")).collect()
    }
    assert tags.get(1, 0) > 0 and tags.get(2, 0) > 0


def test_reference_parity_empty_without_tristate(prepared):
    """Pins the reference bug (SURVEY §7c): with the committed code path
    (no upstream lag==2 writer), the in-bounds filter drops every row."""
    out = extract_patterns(prepared, start_marker="none")
    assert out.count() == 0


def test_pre_gap_segments(prepared):
    out = extract_patterns(prepared, start_marker="pre_gap").cache()
    n = out.count()
    assert n > 0
    pid = out.withColumn("pid", F.col("patternID").cast("int"))
    assert pid.filter(F.col("pid") < 1).count() == 0
    # patternID non-decreasing in time per vehicle
    w = Window.partitionBy("linenumber", "id").orderBy("ts")
    mono = pid.withColumn("prev", F.lag("pid", 1).over(w)).filter(
        F.col("prev").isNotNull() & (F.col("pid") < F.col("prev"))
    )
    assert mono.count() == 0


def test_partitioning_invariance(prepared):
    """Reference methodology (SURVEY §5.3): same plan, different physical
    partitioning → identical rows."""
    a = extract_patterns(prepared.repartition(1), start_marker="pre_gap")
    b = extract_patterns(prepared.repartition(13, "id"), start_marker="pre_gap")
    cols = [c for c in a.columns if c != "ts"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_multiline_vehicle_gets_per_line_semantics(spark):
    """ADVICE r4: a vehicle whose pings span TWO lines in one input gets
    per-(linenumber, id) dedup/time_diff/thresholds — the documented,
    deliberate divergence from the reference's bare-id part-1 windows
    (PPE:71-126). The sample-data goldens are single-line-per-vehicle
    and cannot catch a regression here, so this fixture pins it:
    mixed-line grouping would produce ONE threshold for the vehicle and
    a nonzero time_diff at one line's first ping."""
    rows = []
    # line LA: gaps [0,10,10,10,10,60]; (1.003,1.0) duplicated at t=40
    for t, lng in [(0, 1.0), (10, 1.001), (20, 1.002), (30, 1.003), (100, 1.004)]:
        rows.append(("V1", "LA", lng, 1.0, t))
    rows.append(("V1", "LA", 1.003, 1.0, 40))
    # line LB: gaps [0,5,5,5,5]; (1.0,1.0) repeats LA's coordinate
    for t, lng in [(0, 1.0), (5, 2.001), (10, 2.002), (15, 2.003), (20, 2.004)]:
        rows.append(("V1", "LB", lng, 1.0, t))
    gps = spark.createDataFrame(
        rows, "id string, linenumber string, lng double, lat double, sec long"
    ).select(
        "id",
        "linenumber",
        "lng",
        "lat",
        F.lit("x").alias("t"),
        F.timestamp_seconds(F.col("sec")).alias("ts"),
    )
    # no terminals anywhere near → retag never fires
    bus_line = spark.createDataFrame(
        [("LA", 89.0, 170.0, 2, 0)],
        "existLine_id string, x double, y double, direction int, position int",
    )
    out = prepare_pings(gps, bus_line).collect()

    by_line = {}
    for r in out:
        by_line.setdefault(r["linenumber"], []).append(r)
    # dedup is per (id, LINE, lng, lat): the within-LA duplicate drops,
    # the cross-line coordinate repeat survives on both lines
    assert len(by_line["LA"]) == 5
    assert len(by_line["LB"]) == 5
    assert sum(1 for r in out if (r["lng"], r["lat"]) == (1.0, 1.0)) == 2
    # time_diff restarts at EACH line's first ping
    for rows_ in by_line.values():
        first = min(rows_, key=lambda r: r["ts"])
        assert first["time_diff"] == 0.0
    # one threshold per (line, vehicle), and they differ across lines —
    # bare-id grouping would have produced a single mixed value
    th = {ln: {r["threshold"] for r in rs} for ln, rs in by_line.items()}
    assert th["LA"] == {60.0}
    assert th["LB"] == {5.0}
