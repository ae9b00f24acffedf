"""Whole-chain test: the three reference stages composed as ONE
dataflow on GPS pings — the reference's own sample data (`Sample
Data/gps.csv`, 4,713 pings / 20 vehicles) where that file exists,
otherwise the seeded FIXTURES.md §A1 fleet (tests/gps_fixtures.py) — the
switch-over story: a reference user runs pattern extraction → trajectory
clustering → blind-zone detection; here that is three function calls on
one lazy plan with no intermediate CSV hops (the reference round-trips
HDFS between every stage and even switches namenodes, SURVEY.md §1.2).

Also re-runs the chain under a different partitioning to pin
end-to-end determinism (the reference's own methodology — standalone vs
parallel output comparison — applied to the composed plan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpssbzd_spark.plans import (
    cluster_trajectories,
    detect_blind_zones,
    extract_patterns,
    prepare_pings,
)
from gpssbzd_spark.sources.csv import read_bus_line
from tests.gps_fixtures import N_LINES, gps_fixture, synthesize_bus_line


@pytest.fixture(scope="module")
def sample_inputs(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("busline"))
    gps = gps_fixture(spark, tmpdir)
    bus_line = read_bus_line(spark, synthesize_bus_line(spark, tmpdir))
    # eps is huge and min_samples=1 on purpose: the L0…L4 remap groups
    # the sample's unrelated real routes onto one "line", so TRACLUS
    # distances are far beyond production eps values (0.1–5 km); the
    # chain test exercises the stage plumbing, and per-stage tests pin
    # clustering quality on geometrically meaningful fixtures.
    params = spark.createDataFrame(
        [(f"L{i}", 100000.0, 1) for i in range(N_LINES)],
        "linenumber string, eps float, min_samples int",
    )
    return gps, bus_line, params


def run_chain(gps, bus_line, params):
    prepared = prepare_pings(gps, bus_line)
    patterns = extract_patterns(prepared, start_marker="pre_gap").select(
        "id", "lng", "lat", "t", "ts", "patternID", "linenumber"
    )
    clusters = cluster_trajectories(patterns, params, mode="local")
    return detect_blind_zones(clusters)


def test_three_stage_chain_on_reference_sample(spark, sample_inputs):
    out = run_chain(*sample_inputs).cache()
    n = out.count()
    assert n > 0

    # schema of the reference's lines95_signal output (SURVEY.md §1.2)
    assert {"id", "linenumber", "lng", "lat", "ts", "patternID", "cluster",
            "speed", "signal"} <= set(out.columns)

    # signal is the cascade's closed set
    sig = {r.signal for r in out.select("signal").distinct().collect()}
    assert sig <= {None, 0.5, 0.75, 1.0}
    # the cascade fired somewhere (both the sample and the fleet vary speed)
    assert 0.5 in {s for s in sig if s is not None} or len(sig) > 1

    # no noise rows survive, speeds are finite and non-negative
    assert out.filter("cluster = -1").count() == 0
    bad = out.filter((F.col("speed") < 0) | F.isnan("speed")).count()
    assert bad == 0

    # every surviving cluster covers ≥ 75% of vehicles
    total = out.select("id").distinct().count()
    per_cluster = (
        out.groupBy("cluster").agg(F.countDistinct("id").alias("nv")).collect()
    )
    assert all(r.nv >= int(0.75 * total) for r in per_cluster)


def test_chain_is_partitioning_invariant(spark, sample_inputs):
    gps, bus_line, params = sample_inputs
    a = run_chain(gps.coalesce(1), bus_line, params)
    b = run_chain(gps.repartition(17, "id"), bus_line, params)
    cols = ["id", "linenumber", "patternID", "ts", "cluster", "speed", "signal"]
    ra = sorted(map(tuple, a.select(cols).collect()))
    rb = sorted(map(tuple, b.select(cols).collect()))
    assert ra == rb


def test_ingest_e2e_repeats_deterministic_and_rejects_matches(spark, tmp_path, monkeypatch):
    """dp_pipeline_ingest_e2e (VERDICT r10 #5): a SECOND run over the
    same fixture generation must no-op the pickup and return the
    identical post-state; the day-2 seeded exact copies (+1e6 ids of
    indexed docs) must be REJECTED (their originals are in the day-1
    index), and every returned doc carries its persisted signature
    exactly when it is signable."""
    import gpssbzd_spark.corpus.dataprep as cdp

    # isolate the artifact cache so this test never races the corpus
    # row's own cache generation
    monkeypatch.setattr(
        cdp,
        "_artifact_cache_dir",
        lambda sf_dir, subdir, table: str(tmp_path / subdir),
    )
    sf = "/root/testdata/sf0.001"
    first = sorted(map(tuple, cdp.dp_pipeline_ingest_e2e(spark, sf).collect()))
    second = sorted(map(tuple, cdp.dp_pipeline_ingest_e2e(spark, sf).collect()))
    assert first == second
    ids = {r[0] for r in first}
    # the seeded exact copies were all rejected
    assert not any(i >= 1000000 for i in ids)
    # day-1 docs all accepted (the index was empty when they arrived)
    from gpssbzd_spark.sources.tables import load_table

    day1 = {
        r.doc_id
        for r in load_table(spark, sf, "documents")
        .filter("doc_id % 3 <> 0")
        .select("doc_id")
        .collect()
    }
    assert day1 <= ids
    # has_sig is exactly "this doc produced a signature row"
    for row in first:
        has_sig = row[-1]
        assert has_sig in (0, 1)
        assert (row[1] is not None) == bool(has_sig)
