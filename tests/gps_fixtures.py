"""GPS-domain fixtures for pipeline tests.

The pings come from one of two files, and the only switch is whether the
first exists:

- the reference's sample (``GPS_CSV``: `Sample Data/gps.csv`, 4,713
  pings / 20 vehicles / one day), which carries real Shenzhen
  trajectories — used wherever it is present;
- otherwise a seeded fleet built to FIXTURES.md §A1 by
  :func:`write_fleet_csv` into the caller's tmp dir: 20 vehicles on
  rectangular loop routes inside the Shenzhen bbox, one service day,
  ordinary 15–120 s gaps plus injected silent gaps (moving ones that
  survive the demotion rule, stationary ones that do not) and
  injected duplicate pings. It does not reproduce real road geometry.

Either file goes through the unchanged ``read_gps`` (so the 2-digit-year
ingest is exercised). The sample's ``linenumber`` column is a per-ping
running counter (398 distinct values, ~1 ping each) — NOT a line id like
the production `"00E42"` values. For per-line semantics we remap it
deterministically: vehicle ``id`` → line ``L0…L4`` (4 vehicles per
line), per FIXTURES.md §A1 ("each vehicle on one line; ≥3
vehicles/line"). The fleet's own line ids follow the same grouping.

``bus_line`` is synthesized per FIXTURES.md §A2 (the upstream file is
missing): for each line, a direction-1 terminal on the first ping and a
direction-2 terminal on the last ping of each of the line's vehicles, so
the 100 m retag radius fires.
"""

from __future__ import annotations

import csv
import math
import os
import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpssbzd_spark.functions.geo import EARTH_RADIUS_M, PLAUSIBLE_SPEED_MPS

GPS_CSV = "/root/reference/Sample Data/gps.csv"
PARAMS_CSV = "/root/reference/Sample Data/lines95_parameter.csv"
N_LINES = 5

# FIXTURES.md §A1 fleet. The seed is fixed: the self-checks in
# _check_fleet guard the properties the tests rely on, so a failing
# check means the generator changed, not that another seed is due.
FLEET_SEED = 20141103
N_VEHICLES = 20
BBOX_LNG = (113.779, 114.417)
BBOX_LAT = (22.622, 22.735)
SERVICE_DAY = datetime(2014, 11, 3)
SERVICE_HOURS = (5, 22)
PINGS_PER_VEHICLE = (200, 400)
ORDINARY_GAP_S = (15, 120)
SILENT_GAP_S = (600, 1500)
MOVING_GAPS, STATIONARY_GAPS = 3, 2
BUS_SPEED_MPS = (4.0, 9.0)  # between ordinary pings
GAP_SPEED_MPS = (6.0, 9.0)  # the bus keeps driving through a moving gap
CRAWL_M = (20.0, 300.0)  # a stationary gap's displacement
JITTER_M = 5.0  # GPS noise per ping
DUPLICATE_EVERY = 50  # every 50th ping re-sends the previous position
LOOP_W_M = (16_000.0, 40_000.0)  # east-west leg of a line's loop
LOOP_H_M = (5_000.0, 9_000.0)  # north-south leg
LOOP_MARGIN_M = 100.0

_M_PER_DEG_LAT = math.pi * EARTH_RADIUS_M / 180.0
_M_PER_DEG_LNG = _M_PER_DEG_LAT * math.cos(math.radians(sum(BBOX_LAT) / 2))
_T_FMT = "%y-%m-%d %H:%M:%S"


def _haversine_m(lng1: float, lat1: float, lng2: float, lat2: float) -> float:
    dlat = math.radians(lat2 - lat1)
    dlng = math.radians(lng2 - lng1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(dlng / 2) ** 2
    )
    return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(min(a, 1.0)))


def _loop_route(rng: random.Random) -> tuple[float, float, float, float]:
    """A rectangular loop (SW corner lng/lat, width/height in metres)
    that fits inside the bbox with a margin."""
    w, h = rng.uniform(*LOOP_W_M), rng.uniform(*LOOP_H_M)
    span_x = (BBOX_LNG[1] - BBOX_LNG[0]) * _M_PER_DEG_LNG - w - 2 * LOOP_MARGIN_M
    span_y = (BBOX_LAT[1] - BBOX_LAT[0]) * _M_PER_DEG_LAT - h - 2 * LOOP_MARGIN_M
    x0 = LOOP_MARGIN_M + rng.uniform(0, span_x)
    y0 = LOOP_MARGIN_M + rng.uniform(0, span_y)
    return BBOX_LNG[0] + x0 / _M_PER_DEG_LNG, BBOX_LAT[0] + y0 / _M_PER_DEG_LAT, w, h


def _loop_point(route: tuple[float, float, float, float], s: float) -> tuple[float, float]:
    """(lng, lat) after driving ``s`` metres anticlockwise from the SW corner."""
    lng0, lat0, w, h = route
    s %= 2 * (w + h)
    if s < w:
        x, y = s, 0.0
    elif s < w + h:
        x, y = w, s - w
    elif s < 2 * w + h:
        x, y = 2 * w + h - s, h
    else:
        x, y = 0.0, 2 * (w + h) - s
    return lng0 + x / _M_PER_DEG_LNG, lat0 + y / _M_PER_DEG_LAT


def _fleet_rows() -> list[list[str]]:
    """CSV rows ``[id, linenumber, opath, lng, lat, t]`` for the fleet."""
    rng = random.Random(FLEET_SEED)
    routes = [_loop_route(rng) for _ in range(N_LINES)]
    rows = []
    for v in range(1, N_VEHICLES + 1):
        vid, line = f"{v:05d}", v % N_LINES
        n = rng.randint(*PINGS_PER_VEHICLE)
        slots = rng.sample(range(15, n - 10, 10), MOVING_GAPS + STATIONARY_GAPS)
        moving = set(slots[:MOVING_GAPS])
        t = SERVICE_DAY + timedelta(hours=SERVICE_HOURS[0], seconds=rng.randint(0, 3599))
        s = 0.0  # every bus leaves its line's terminal (the SW corner)
        for k in range(n):
            if k in slots:
                dt = rng.randint(*SILENT_GAP_S)
                s += dt * rng.uniform(*GAP_SPEED_MPS) if k in moving else rng.uniform(*CRAWL_M)
            elif k > 0 and k % DUPLICATE_EVERY == 0:
                # the bus dwells at a stop and re-sends the same fix
                t += timedelta(seconds=rng.randint(ORDINARY_GAP_S[0], 30))
                rows.append(rows[-1][:5] + [t.strftime(_T_FMT)])
                continue
            elif k > 0:
                dt = rng.randint(*ORDINARY_GAP_S)
                s += dt * rng.uniform(*BUS_SPEED_MPS)
            else:
                dt = 0
            t += timedelta(seconds=dt)
            lng, lat = _loop_point(routes[line], s)
            lng += rng.uniform(-JITTER_M, JITTER_M) / _M_PER_DEG_LNG
            lat += rng.uniform(-JITTER_M, JITTER_M) / _M_PER_DEG_LAT
            rows.append(
                [vid, f"00E4{line}", str(rng.randint(1, 99999)),
                 f"{lng:.9f}", f"{lat:.9f}", t.strftime(_T_FMT)]
            )
    return rows


def _check_fleet(rows: list[list[str]]) -> None:
    """Fail loudly unless ``rows`` hold what FIXTURES.md §A1 promises,
    so the pipeline tests cannot pass vacuously on a degenerate fleet."""

    def require(ok: bool, what: str) -> None:
        if not ok:
            raise AssertionError(f"FIXTURES.md §A1 fleet: {what}")

    day_start = SERVICE_DAY + timedelta(hours=SERVICE_HOURS[0])
    day_end = SERVICE_DAY + timedelta(hours=SERVICE_HOURS[1])
    by_vehicle: dict[str, list[tuple[float, float, datetime]]] = {}
    for vid, _line, _opath, lng, lat, t in rows:
        x, y, ts = float(lng), float(lat), datetime.strptime(t, _T_FMT)
        require(BBOX_LNG[0] <= x <= BBOX_LNG[1] and BBOX_LAT[0] <= y <= BBOX_LAT[1],
                f"ping {vid}@{t} outside the bbox")
        require(day_start <= ts <= day_end, f"ping {vid}@{t} outside the service day")
        by_vehicle.setdefault(vid, []).append((x, y, ts))
    require(sorted(by_vehicle) == [f"{v:05d}" for v in range(1, N_VEHICLES + 1)],
            "vehicle ids are not 00001…00020")
    require(len({(r[0], r[1], r[3], r[4]) for r in rows}) < len(rows),
            "no duplicate (id, linenumber, lng, lat) row")

    n_stationary = 0
    for vid, pings in by_vehicle.items():
        require(PINGS_PER_VEHICLE[0] <= len(pings) <= PINGS_PER_VEHICLE[1],
                f"vehicle {vid} has {len(pings)} pings")
        # gaps as prepare_pings sees them: 0 for the first ping, p95 by rank
        gaps = [0.0] + [(b[2] - a[2]).total_seconds() for a, b in zip(pings, pings[1:])]
        require(min(gaps[1:]) > 0, f"vehicle {vid} has non-increasing timestamps")
        p95 = sorted(gaps)[math.ceil(0.95 * len(gaps)) - 1]
        demotion_m = PLAUSIBLE_SPEED_MPS * (p95 - 1)
        n_moving = 0
        for a, b, gap in zip(pings, pings[1:], gaps[1:]):
            # ordinary gaps can reach p95 as well; only injected ones count
            if gap < p95 or gap <= ORDINARY_GAP_S[1]:
                continue
            if _haversine_m(a[0], a[1], b[0], b[1]) >= demotion_m:
                n_moving += 1
            else:
                n_stationary += 1
        require(n_moving > 0, f"vehicle {vid} has no moving gap ≥ its p95 ({p95:.0f} s)")
    require(n_stationary > 0, "no silent gap under the demotion distance")


def write_fleet_csv(tmpdir: str) -> str:
    """Write the FIXTURES.md §A1 fleet as ``gps.csv``-shaped CSV into
    ``tmpdir`` and return its path. Deterministic; an existing file there
    is reused, so a DataFrame already reading it never sees a rewrite."""
    path = os.path.join(tmpdir, "gps_fleet.csv")
    if not os.path.exists(path):
        rows = _fleet_rows()
        _check_fleet(rows)
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["id", "linenumber", "opath", "lng", "lat", "t"])
            w.writerows(rows)
    return path


def gps_fixture(spark: SparkSession, tmpdir: str) -> DataFrame:
    """Pings with a stable per-vehicle line assignment: the reference
    sample where it exists, else the §A1 fleet written into ``tmpdir``."""
    from gpssbzd_spark.sources.csv import read_gps

    path = GPS_CSV if os.path.exists(GPS_CSV) else write_fleet_csv(tmpdir)
    gps = read_gps(spark, path)
    line = F.concat(F.lit("L"), (F.col("id").cast("int") % N_LINES).cast("string"))
    return gps.withColumn("linenumber", line)


def synthesize_bus_line(spark: SparkSession, tmpdir: str) -> str:
    """Write a semicolon-delimited bus_line.csv with terminals on the
    first/last ping of EVERY vehicle of each line (real lines have
    several terminal stops per direction; pattern extraction must
    tolerate that — and the round-trip filter can then qualify every
    vehicle instead of only the line's first one)."""
    gps = gps_fixture(spark, tmpdir)
    rows = (
        gps.orderBy("id", "ts")
        .select("linenumber", "id", "lng", "lat")
        .collect()
    )
    first_last: dict[tuple[str, str], list] = {}
    for r in rows:
        key = (r["linenumber"], r["id"])
        if key not in first_last:
            first_last[key] = [(r["lng"], r["lat"]), (r["lng"], r["lat"])]
        else:
            first_last[key][1] = (r["lng"], r["lat"])

    path = os.path.join(tmpdir, "bus_line.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter=";")
        w.writerow(["existLine_id", "x", "y", "direction", "position"])
        for (line, _vid), (start, end) in sorted(first_last.items()):
            # x = lat, y = lng (FIXTURES.md §A2 / PPE:103 argument order)
            w.writerow([line, f"{start[1]:.9f}", f"{start[0]:.9f}", 1, 1])
            w.writerow([line, f"{end[1]:.9f}", f"{end[0]:.9f}", 2, 1])
    return path
