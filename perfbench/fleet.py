"""Seeded bus-fleet generator for the GPS workloads.

One service day of a fleet in the Shenzhen bbox, written as the three
CSV files the pipeline reads (FIXTURES.md §A1-§A3):

- ``gps.csv``: ``id,linenumber,opath,lng,lat,t`` with a 2-digit-year
  ``t``;
- ``bus_line.csv``: semicolon-delimited terminals, a few per direction
  (one with a null direction, which the reader maps to 2), plus
  intermediate stops the pipeline ignores;
- ``lines95_parameter.csv``: per-line ``eps``/``min_samples`` in the §A3
  ranges, with one fleet line left out and two extra lines the fleet
  does not run.

Every line is a rectangular loop that each of its buses drives once,
anticlockwise, from the direction-1 terminal (SW corner) through the
direction-2 terminal (NE corner) and back. Blind zones are fixed
stretches of a line's route, so every bus on the line loses signal at
the same places (the paper's premise):

- ``full`` zones silence every bus of the line. They alternate between
  fast crossings (14-17 m/s, an expressway tunnel) and slow ones
  (8-9.2 m/s), so the blind-zone cascade takes both branches of each
  escalation step;
- one ``partial`` zone silences 40% of the line's other buses, never
  the line's first bus, so its cluster covers fewer than 75% of vehicles;
- one ``noise`` stretch on the west leg silences only the line's last
  bus, far from every other zone, so its trajectory is DBSCAN noise.

City driving is 3-5.5 m/s with 10-30 s between fixes, below every
crossing speed. Each bus also lays over at the direction-2 terminal with
its receiver off (a stationary gap the demotion rule must drop) and
re-sends an unchanged fix at some stops (duplicates for the dedup).

:func:`generate` checks, before it returns, the properties the
benchmark's output checks rely on (:func:`check_fleet`).
"""

from __future__ import annotations

import csv
import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

BBOX_LNG = (113.779, 114.417)
BBOX_LAT = (22.622, 22.735)
SERVICE_DAY = datetime(2014, 11, 3)
FIRST_DEPARTURE_H, LAST_DEPARTURE_H, SERVICE_END_H = 5.0, 12.0, 22.0
EARTH_RADIUS_M = 6371000.0
M_PER_DEG_LAT = math.pi * EARTH_RADIUS_M / 180.0
M_PER_DEG_LNG = M_PER_DEG_LAT * math.cos(math.radians(sum(BBOX_LAT) / 2))
T_FMT = "%y-%m-%d %H:%M:%S"

INTERVAL_S = (10, 30)  # between ordinary fixes
NEAR_GAP_INTERVAL_S = (10, 20)  # the fixes on either side of a silent gap
APPROACH_S = 60  # closer than this (s) to a gap or terminal, fixes tighten
CITY_MPS = (3.0, 4.5)
FAST_MPS = (14.0, 17.0)
SLOW_MPS = (8.0, 9.2)
FAST_LEN_M = (1600.0, 2200.0)
SLOW_LEN_M = (1200.0, 1600.0)
NOISE_LEN_M = (1000.0, 1300.0)
ZONE_SEP_M = (1000.0, 1400.0)
CORNER_MARGIN_M = 800.0
PARTIAL_SHARE = 0.4
LAYOVER_S = (300, 900)
LAYOVER_CRAWL_M = (20.0, 80.0)
JITTER_M = 3.0
DUPLICATE_EVERY = 40
SPEED_FLOOR_MPS = 10.0  # the cascade's escalation bound
PLAUSIBLE_SPEED_MPS = 11.11  # the demotion rule's bound
TERMINAL_RADIUS_M = 100.0
EPS_KM = (0.8, 2.0)
MIN_SAMPLES = (2, 3, 5)
UNCLUSTERED_VEHICLES = 4  # on the extra line that has no parameters


@dataclass(frozen=True)
class Size:
    lines: int
    vehicles_per_line: int
    full_zones: int
    height_m: tuple[float, float]  # the north-south legs: city driving only


SIZES = {
    "fleet_day": Size(10, 20, 2, (3000.0, 4000.0)),
    "dense_corridor": Size(2, 120, 4, (2500.0, 3000.0)),
    "fleet_day-smoke": Size(3, 6, 2, (3000.0, 4000.0)),
    "dense_corridor-smoke": Size(1, 24, 4, (2500.0, 3000.0)),
}


@dataclass
class Zone:
    kind: str  # "full" | "partial" | "noise"
    start_m: float  # arc length along the loop
    end_m: float
    fast: bool


@dataclass
class Line:
    name: str
    lng0: float
    lat0: float
    width_m: float
    height_m: float
    zones: list[Zone]
    eps_km: float | None
    min_samples: int | None

    @property
    def perimeter_m(self) -> float:
        return 2 * (self.width_m + self.height_m)

    def xy(self, s: float) -> tuple[float, float]:
        """Metres east/north of the SW corner after ``s`` metres."""
        w, h = self.width_m, self.height_m
        s %= self.perimeter_m
        if s < w:
            return s, 0.0
        if s < w + h:
            return w, s - w
        if s < 2 * w + h:
            return 2 * w + h - s, h
        return 0.0, 2 * (w + h) - s

    def lnglat(self, s: float) -> tuple[float, float]:
        x, y = self.xy(s)
        return self.lng0 + x / M_PER_DEG_LNG, self.lat0 + y / M_PER_DEG_LAT


@dataclass
class Ping:
    vid: str
    line: str
    s: float  # arc length of the true position
    t: datetime
    lng: float
    lat: float
    opath: int
    duplicate: bool = False  # a re-sent copy of the previous fix


@dataclass
class Fleet:
    lines: list[Line]
    pings: list[Ping]
    # (vid, t) of each fix that ends a silent zone crossing, with the zone
    crossings: dict[tuple[str, datetime], Zone] = field(default_factory=dict)

    def line_of(self, name: str) -> Line:
        return next(ln for ln in self.lines if ln.name == name)


def _layout(rng: np.random.Generator, name: str, size: Size, height: float) -> Line:
    """Zones in route order: full zones (fast, slow, fast, ...) then the
    partial zone, split between the south leg (eastbound) and the north
    leg (westbound); the noise stretch sits alone on the west leg."""
    kinds = [("full", i % 2 == 0) for i in range(size.full_zones)] + [("partial", False)]
    lengths = [
        rng.uniform(*(FAST_LEN_M if fast else SLOW_LEN_M)) for _, fast in kinds
    ]
    seps = [rng.uniform(*ZONE_SEP_M) for _ in kinds]
    south = (len(kinds) + 1) // 2
    need = max(
        sum(lengths[:south]) + sum(seps[: south - 1]),
        sum(lengths[south:]) + sum(seps[south:-1]),
    )
    width = need + 2 * CORNER_MARGIN_M + rng.uniform(0, 500)
    zones = []
    s = CORNER_MARGIN_M
    for i, ((kind, fast), length) in enumerate(zip(kinds, lengths)):
        if i == south:
            s = width + height + CORNER_MARGIN_M
        zones.append(Zone(kind, s, s + length, fast))
        s += length + seps[i]
    noise_len = rng.uniform(*NOISE_LEN_M)
    noise_start = 2 * width + height + (height - noise_len) / 2
    zones.append(Zone("noise", noise_start, noise_start + noise_len, True))
    span_x = (BBOX_LNG[1] - BBOX_LNG[0]) * M_PER_DEG_LNG - width - 200
    span_y = (BBOX_LAT[1] - BBOX_LAT[0]) * M_PER_DEG_LAT - height - 200
    if span_x <= 0 or span_y <= 0:
        raise ValueError(f"line {name}: a {width:.0f} m loop does not fit the bbox")
    lng0 = BBOX_LNG[0] + (100 + rng.uniform(0, span_x)) / M_PER_DEG_LNG
    lat0 = BBOX_LAT[0] + (100 + rng.uniform(0, span_y)) / M_PER_DEG_LAT
    return Line(
        name, lng0, lat0, width, height, zones,
        float(np.round(rng.uniform(*EPS_KM), 2)), int(rng.choice(MIN_SAMPLES)),
    )


def _drive(rng: np.random.Generator, line: Line, vid: str, silenced: list[Zone],
           v_city: float, depart: datetime, fleet: Fleet) -> None:
    """One anticlockwise loop of ``line`` by bus ``vid`` at ``v_city``."""
    end = line.perimeter_m
    terminal2 = line.width_m + line.height_m
    # waypoints the bus must report from: each silenced zone's entry,
    # the direction-2 terminal and the end of the loop
    marks = sorted([(z.start_m, z) for z in silenced] + [(terminal2, None), (end, None)],
                   key=lambda m: m[0])
    pings = fleet.pings
    t, s = depart, 0.0
    since_dup = 0

    def emit(duplicate: bool = False) -> None:
        x, y = line.xy(s)
        if duplicate:
            prev = pings[-1]
            pings.append(Ping(vid, line.name, prev.s, t, prev.lng, prev.lat,
                              prev.opath, duplicate=True))
            return
        x += rng.uniform(-JITTER_M, JITTER_M)
        y += rng.uniform(-JITTER_M, JITTER_M)
        pings.append(Ping(vid, line.name, s, t,
                          round(line.lng0 + x / M_PER_DEG_LNG, 9),
                          round(line.lat0 + y / M_PER_DEG_LAT, 9),
                          int(rng.integers(1, 99999))))

    emit()
    t_short = NEAR_GAP_INTERVAL_S
    after_gap = False
    for mark_s, zone in marks:
        # drive to the mark; on the approach the remaining time is cut
        # into equal 10-20 s steps, so the fix before a silent gap (and
        # the fix at a terminal) never follows a long or a tiny interval
        while True:
            to_mark = (mark_s - s) / v_city
            if to_mark <= APPROACH_S:
                pieces = math.ceil(to_mark / t_short[1])
                dt = max(t_short[0], round(to_mark / pieces))
                for _ in range(pieces if zone is None else pieces - 1):
                    t += timedelta(seconds=dt)
                    s += dt * v_city
                    emit()
                break
            lo, hi = t_short if after_gap else INTERVAL_S
            dt = int(rng.integers(lo, hi + 1))
            after_gap = False
            t += timedelta(seconds=dt)
            s += dt * v_city
            emit()
            since_dup += 1
            if since_dup >= DUPLICATE_EVERY and to_mark - dt > APPROACH_S:
                # the bus dwells at a stop and re-sends the same fix
                t += timedelta(seconds=int(rng.integers(lo, t_short[1] + 1)))
                emit(duplicate=True)
                since_dup = 0
        if zone is None:
            # a terminal: the last step above reported from it; mid-loop
            # the bus lays over with the receiver off and creeps a few
            # metres to its stand
            if mark_s == end:
                return
            t += timedelta(seconds=int(rng.integers(*t_short)))
            emit(duplicate=True)
            t += timedelta(seconds=int(rng.integers(*LAYOVER_S)))
            s += rng.uniform(*LAYOVER_CRAWL_M)
            emit()
            after_gap = True
            continue
        # the silent crossing: no fix from here to a few seconds past
        # the zone's exit
        v_zone = rng.uniform(*(FAST_MPS if zone.fast else SLOW_MPS))
        silent = (zone.start_m - s) / v_city + (zone.end_m - zone.start_m) / v_zone
        past = rng.uniform(1.0, 8.0)
        t += timedelta(seconds=round(silent + past))
        s = zone.end_m + past * v_city
        emit()
        fleet.crossings[(vid, t)] = zone
        after_gap = True


def generate(size: Size, seed: int) -> Fleet:
    rng = np.random.default_rng(seed)
    # Route heights and bus speeds are spread evenly over their ranges
    # (in random order), so the size of the day varies little by seed.
    heights = rng.permutation(np.linspace(*size.height_m, size.lines + 1))
    # one more small line runs without DBSCAN parameters
    lines = [_layout(rng, f"B{j:03d}", size, heights[j]) for j in range(size.lines + 1)]
    lines[-1].eps_km = lines[-1].min_samples = None
    fleet = Fleet(lines, [])
    vno = 0
    for line in lines:
        n_vehicles = size.vehicles_per_line if line.eps_km else UNCLUSTERED_VEHICLES
        speeds = rng.permutation(np.linspace(*CITY_MPS, n_vehicles))
        partial = next(z for z in line.zones if z.kind == "partial")
        in_partial = set(1 + rng.choice(n_vehicles - 1, round(PARTIAL_SHARE * (n_vehicles - 1)),
                                        replace=False))
        for k in range(n_vehicles):
            vno += 1
            vid = f"{vno:05d}"
            silenced = [z for z in line.zones if z.kind == "full"]
            if k in in_partial:
                silenced.append(partial)
            if k == n_vehicles - 1:
                silenced.append(next(z for z in line.zones if z.kind == "noise"))
            depart_h = rng.uniform(FIRST_DEPARTURE_H, LAST_DEPARTURE_H)
            depart = SERVICE_DAY + timedelta(seconds=round(depart_h * 3600))
            _drive(rng, line, vid, silenced, speeds[k], depart, fleet)
    check_fleet(fleet, size)
    return fleet


def _hav_m(lng1, lat1, lng2, lat2):
    lng1, lat1, lng2, lat2 = map(np.radians, (lng1, lat1, lng2, lat2))
    a = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lng2 - lng1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def check_fleet(fleet: Fleet, size: Size) -> None:
    """Fail unless the fleet holds what the module docstring promises."""

    def require(ok: bool, what: str) -> None:
        if not ok:
            raise AssertionError(f"generated fleet: {what}")

    day0 = SERVICE_DAY + timedelta(hours=FIRST_DEPARTURE_H)
    day1 = SERVICE_DAY + timedelta(hours=SERVICE_END_H)
    by_vehicle: dict[str, list[Ping]] = {}
    for p in fleet.pings:
        require(BBOX_LNG[0] <= p.lng <= BBOX_LNG[1] and BBOX_LAT[0] <= p.lat <= BBOX_LAT[1],
                f"fix {p.vid}@{p.t} outside the bbox")
        require(day0 <= p.t <= day1, f"fix {p.vid}@{p.t} outside the service day")
        by_vehicle.setdefault(p.vid, []).append(p)
    require(len(by_vehicle) == size.lines * size.vehicles_per_line + UNCLUSTERED_VEHICLES,
            "vehicle count")
    require(any(p.duplicate for p in fleet.pings), "no re-sent duplicate fix")
    fast_seen = slow_seen = stationary = 0
    for vid, pings in by_vehicle.items():
        line = fleet.line_of(pings[0].line)
        ts = np.array([p.t.timestamp() for p in pings])
        lng = np.array([p.lng for p in pings])
        lat = np.array([p.lat for p in pings])
        gaps = np.diff(ts)
        require(bool((gaps > 0).all()), f"{vid}: timestamps not increasing")
        # the per-vehicle threshold as prepare_pings defines it: p95 of
        # the gaps (0 for the first fix), nearest rank; duplicates still
        # count, they are dropped after the gaps are taken
        with_first = np.sort(np.concatenate([[0.0], gaps]))
        thr = with_first[math.ceil(0.95 * len(with_first)) - 1]
        require(thr <= INTERVAL_S[1], f"{vid}: p95 gap {thr} s is a silent gap")
        dist = _hav_m(lng[:-1], lat[:-1], lng[1:], lat[1:])
        speed = dist / gaps
        crossing = np.array([(vid, p.t) in fleet.crossings for p in pings[1:]])
        silent = gaps > INTERVAL_S[1]
        require(bool((crossing <= silent).all()), f"{vid}: short crossing gap")
        ordinary = ~silent
        v_max = speed[ordinary].max()
        for i in np.flatnonzero(silent):
            # the fixes on either side of a silent gap follow short gaps
            require(i == 0 or gaps[i - 1] < thr, f"{vid}: long gap before a silent one")
            require(i + 1 >= len(gaps) or gaps[i + 1] < thr,
                    f"{vid}: long gap after a silent one")
            if not crossing[i]:
                # the layover: a silent gap the demotion rule must drop
                require(dist[i] < PLAUSIBLE_SPEED_MPS * (thr - 1), f"{vid}: layover moves")
                stationary += 1
                continue
            zone = fleet.crossings[(vid, pings[i + 1].t)]
            require(pings[i].s <= zone.start_m and pings[i + 1].s >= zone.end_m,
                    f"{vid}: crossing does not span its zone")
            require(dist[i] >= PLAUSIBLE_SPEED_MPS * (thr - 1), f"{vid}: crossing is demotable")
            require(speed[i] > v_max + 0.5, f"{vid}: crossing not faster than city driving")
            if zone.fast:
                require(speed[i] > SPEED_FLOOR_MPS + 0.5, f"{vid}: fast crossing at {speed[i]:.1f}")
                fast_seen += 1
            else:
                require(speed[i] < SPEED_FLOOR_MPS - 0.5, f"{vid}: slow crossing at {speed[i]:.1f}")
                slow_seen += 1
        t2 = line.width_m + line.height_m
        near2 = [abs(p.s - t2) < TERMINAL_RADIUS_M / 2 for p in pings]
        require(any(near2), f"{vid}: never reports from the direction-2 terminal")
        n_silent = int(silent.sum())
        require(n_silent <= len(with_first) - math.ceil(0.95 * len(with_first)) - 2,
                f"{vid}: {n_silent} silent gaps crowd the p95 rank")
    require(fast_seen > 0 and slow_seen > 0 and stationary > 0, "a gap class is missing")
    require(sum(ln.eps_km is None for ln in fleet.lines) == 1, "one line without parameters")


def terminals(line: Line) -> list[tuple[str, float, float, str, int]]:
    """bus_line rows ``(line, lat, lng, direction, position)``: two
    direction-1 stops at the SW corner, two direction-2 stops at the NE
    corner (the second with a null direction), two ignored mid stops."""
    w, h = line.width_m, line.height_m
    rows = []
    for s, direction, position in (
        (0.0, "1", 1), (line.perimeter_m - 40.0, "1", 1),
        (w + h, "2", 1), (w + h + 50.0, "", 1),
        (w / 2, "1", 0), (2 * w + h - w / 2, "2", 0),
    ):
        lng, lat = line.lnglat(s)
        rows.append((line.name, lat, lng, direction, position))
    return rows


def write_csvs(fleet: Fleet, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {k: os.path.join(out_dir, f"{k}.csv") for k in ("gps", "bus_line", "params")}
    with open(paths["gps"], "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "linenumber", "opath", "lng", "lat", "t"])
        for p in fleet.pings:
            w.writerow([p.vid, p.line, p.opath, f"{p.lng:.9f}", f"{p.lat:.9f}",
                        p.t.strftime(T_FMT)])
    with open(paths["bus_line"], "w", newline="") as f:
        w = csv.writer(f, delimiter=";")
        w.writerow(["existLine_id", "x", "y", "direction", "position"])
        for line in fleet.lines:
            for name, lat, lng, direction, position in terminals(line):
                w.writerow([name, f"{lat:.9f}", f"{lng:.9f}", direction, position])
    with open(paths["params"], "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["new_linenumber", "eps", "min_samples"])
        for line in fleet.lines:
            if line.eps_km is not None:
                w.writerow([line.name, line.eps_km, line.min_samples])
        w.writerow(["X900", 1.5, 3])  # lines the fleet does not run
        w.writerow(["X901", 0.5, 2])
    return paths
