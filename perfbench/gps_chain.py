"""The GPS workloads: one service day of a fleet through the paper's
chain, written the way a user composes it — one lazy plan from the
ping CSV to a line-partitioned parquet output:

    read_gps, read_bus_line, read_line_params
    -> prepare_pings -> extract_patterns
    -> cluster_trajectories -> detect_blind_zones
    -> write_partitioned(..., ("linenumber",))

The traced run makes two passes. The composed pass is the chain above
with a span on each call. The layer-isolated pass runs each stage on an
input file materialized before its span and writes its own output
inside its span, so a layer's figures are its own cost.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import pandas as pd

import fleet as fleetgen
import oracle_gps as oracle
from oracle_gps import require

OPS_PER_CHAIN = 8
LAYERS = [
    "plans.pattern_extraction",
    "plans.trajectory_clustering",
    "plans.blind_zone",
    "sources.writers",
]


def _program():
    from gpssbzd_spark.plans import (
        cluster_trajectories,
        detect_blind_zones,
        extract_patterns,
        prepare_pings,
    )
    from gpssbzd_spark.sources.csv import read_bus_line, read_gps, read_line_params
    from gpssbzd_spark.sources.writers import write_partitioned

    return (read_gps, read_bus_line, read_line_params, prepare_pings, extract_patterns,
            cluster_trajectories, detect_blind_zones, write_partitioned)


def chain(spark, paths: dict, out_dir: str, tracer=None) -> None:
    (read_gps, read_bus_line, read_line_params, prepare_pings, extract_patterns,
     cluster_trajectories, detect_blind_zones, write_partitioned) = _program()
    span = tracer.span if tracer else (lambda *a: nullcontext())
    with span("sources.csv", None):
        gps = read_gps(spark, paths["gps"])
        bus_line = read_bus_line(spark, paths["bus_line"])
        params = read_line_params(spark, paths["params"])
    with span("prepare_pings+extract_patterns", "composed:plans.pattern_extraction"):
        patterns = extract_patterns(prepare_pings(gps, bus_line))
    with span("cluster_trajectories", "composed:plans.trajectory_clustering"):
        clusters = cluster_trajectories(patterns, params)
    with span("detect_blind_zones", "composed:plans.blind_zone"):
        zones = detect_blind_zones(clusters)
    with span("write_partitioned", "composed:sources.writers"):
        write_partitioned(zones, out_dir, ("linenumber",))


def isolated(spark, paths: dict, work: str, tracer) -> dict:
    """Each stage between materialized files, inside its own span."""
    (read_gps, read_bus_line, read_line_params, prepare_pings, extract_patterns,
     cluster_trajectories, detect_blind_zones, write_partitioned) = _program()
    files = {k: os.path.join(work, f"isolated-{k}") for k in ("patterns", "clusters", "zones", "out")}
    gps = read_gps(spark, paths["gps"])
    bus_line = read_bus_line(spark, paths["bus_line"])
    params = read_line_params(spark, paths["params"])
    with tracer.span("prepare_pings+extract_patterns", "plans.pattern_extraction"):
        extract_patterns(prepare_pings(gps, bus_line)).write.parquet(files["patterns"])
    patterns = spark.read.parquet(files["patterns"])
    with tracer.span("cluster_trajectories", "plans.trajectory_clustering"):
        cluster_trajectories(patterns, params).write.parquet(files["clusters"])
    clusters = spark.read.parquet(files["clusters"])
    with tracer.span("detect_blind_zones", "plans.blind_zone"):
        detect_blind_zones(clusters).write.parquet(files["zones"])
    zones = spark.read.parquet(files["zones"])
    with tracer.span("write_partitioned", "sources.writers"):
        write_partitioned(zones, files["out"], ("linenumber",))
    return files


def read_output(path: str) -> pd.DataFrame:
    out = pd.read_parquet(path)
    out["linenumber"] = out["linenumber"].astype(str)
    return out


def check(fleet: fleetgen.Fleet, paths: dict, out: pd.DataFrame,
          isolated_files: dict | None = None) -> dict:
    """The chain's output (and, for the traced run, every isolated
    stage's output) against the independent computations."""
    mine = oracle.patterns(paths["gps"], paths["bus_line"])
    params = {ln.name: (ln.eps_km, ln.min_samples) for ln in fleet.lines if ln.eps_km}
    traj = oracle.trajectories(mine)
    oracle.check_patterns(mine, out, only_present=True)
    labels = None
    if isolated_files:
        got = read_output(isolated_files["patterns"])
        oracle.check_patterns(mine, got, only_present=False)
        cl = pd.read_parquet(isolated_files["clusters"])
        labels = cl[["linenumber", "id", "patternID", "cluster"]].drop_duplicates()
        require(not labels.duplicated(["linenumber", "id", "patternID"]).any(),
                "stage 2: a trajectory carries two labels")
        unclustered = labels[~labels["linenumber"].isin(params)]
        require(unclustered["cluster"].isna().all(), "stage 2: a line without parameters got labels")
    shown = out[["linenumber", "id", "patternID", "cluster"]].drop_duplicates()
    clustered: dict[str, set] = {}
    for line, (eps, min_samples) in params.items():
        t = traj[traj["linenumber"] == line].reset_index(drop=True)
        source = labels if labels is not None else shown
        lab = t.merge(source, on=["linenumber", "id", "patternID"], how="left")["cluster"]
        sure = oracle.check_dbscan(t, lab, eps, min_samples, complete=labels is not None)
        clustered[line] = set(t["id"][sure])
    summary = oracle.check_blind_zones(out, fleet, clustered)
    if isolated_files:
        oracle.check_blind_zones(read_output(isolated_files["out"]), fleet, clustered)
    summary["trajectories"] = int(len(traj[traj["linenumber"].isin(params)]))
    summary["pings"] = len(fleet.pings)
    return summary


def run(spark, sc, workload: str, seed: int, seconds: float, trace: bool, work: str):
    from measure import Tracer, layer_metrics, round_metrics, timed_rounds

    fleet = fleetgen.generate(fleetgen.SIZES[workload], seed)
    paths = fleetgen.write_csvs(fleet, os.path.join(work, "in"))
    if trace:
        tracer = Tracer(spark, "gps")
        t0 = time.time()
        with tracer.span("chain", None):
            chain(spark, paths, os.path.join(work, "composed-out"), tracer)
        composed_s = time.time() - t0
        composed = list(tracer.spans)
        files = isolated(spark, paths, work, tracer)
        summary = check(fleet, paths, read_output(os.path.join(work, "composed-out")), files)
        csv_mb = os.path.getsize(paths["gps"]) / 1e6

        def metrics(usage):
            m = layer_metrics(tracer, usage, LAYERS)
            eager = scans = 0.0
            for sp in composed:
                use = usage.get(sp.description)
                if use is None:
                    continue
                if sp.name != "write_partitioned":
                    eager += use.jobs
                scans += sum(mb for mb in use.csv_scan_mb if mb >= csv_mb / 2)
            m["chain.e2e_s"] = composed_s
            m["chain.eager_jobs"] = eager
            m["chain.input_scans"] = scans / csv_mb
            tracer.write(os.path.join(work, "spans.json"), usage)
            return m

        return {"attempted": 2 * OPS_PER_CHAIN, "summary": summary}, metrics

    def body(desc: str) -> str:
        out_dir = os.path.join(work, f"out-{desc}")
        chain(spark, paths, out_dir)
        return out_dir

    rounds, out_dir = timed_rounds(sc, seconds, body)
    out = read_output(out_dir)
    summary = check(fleet, paths, out)
    key = ["linenumber", "cluster", "id", "patternID", "ts"]
    for desc, _ in rounds[:-1]:
        other = read_output(os.path.join(work, f"out-{desc}"))
        require(other.sort_values(key).reset_index(drop=True)[out.columns]
                .equals(out.sort_values(key).reset_index(drop=True)),
                f"{desc} output differs from the last round's")
    return ({"attempted": OPS_PER_CHAIN * len(rounds), "summary": summary},
            lambda usage: round_metrics(rounds, usage))
