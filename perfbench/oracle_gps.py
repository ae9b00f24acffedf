"""Output checks for the GPS chain, computed apart from the program.

Everything here reads the generated CSV and the generator's own record
of lines, zones and parameters with pandas/numpy; nothing imports
``gpssbzd_spark``. The rules are the reference's (``Standalone/Pattern
Extraction.scala``, ``Parallel/Trajectory Clustering.py``,
``Standalone/Blind Zone Detection.scala``) as FIXTURES.md and the plan
docstrings state them.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

EARTH_R_M = 6371000.0  # haversine radius of the ping-level rules
GC_R_KM = 6371.009  # great-circle radius of the TRACLUS distance
TERMINAL_RADIUS_M = 100.0
PLAUSIBLE_SPEED_MPS = 11.11
QUALIFY_SHARE = 0.75
SPEED_FLOOR_MPS = 10.0
EPS_TOL_KM = 0.001  # pairs this close to eps are not judged
SIGNALS = {0.5, 0.75, 1.0}


class CheckFailed(AssertionError):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def hav_m(lat1, lng1, lat2, lng2):
    lat1, lng1, lat2, lng2 = (np.radians(np.asarray(x, dtype=float))
                              for x in (lat1, lng1, lat2, lng2))
    a = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lng2 - lng1) / 2) ** 2)
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


# ---------------------------------------------------------------- stage 1

def _lead(s: pd.Series, g) -> pd.Series:
    return s.groupby(g).shift(-1)


def _lag(s: pd.Series, g) -> pd.Series:
    return s.groupby(g).shift(1)


def patterns(gps_csv: str, bus_line_csv: str) -> pd.DataFrame:
    """Stage 1 (dedup, gaps, terminal tags, p95 threshold, gap states
    with demotion, round-trip filter, pattern windows, patternID) over
    the raw CSV. One row per kept ping: ``id, linenumber, lng, lat, t,
    ts, patternID``."""
    df = pd.read_csv(gps_csv, dtype={"id": str, "linenumber": str, "opath": str, "t": str})
    df["ts"] = pd.to_datetime(df["t"], format="%y-%m-%d %H:%M:%S")
    df["sec"] = df["ts"].astype("int64") // 10**9
    df = df.sort_values(["linenumber", "id", "ts"], kind="stable").reset_index(drop=True)
    veh = [df["linenumber"], df["id"]]
    # gap to the previous fix, taken before the dedup
    df["time_diff"] = (df["sec"] - _lag(df["sec"], veh)).abs().fillna(0.0)
    # dedup: the earliest fix of each (vehicle, position)
    df = df.sort_values(["linenumber", "id", "lng", "lat", "ts"], kind="stable")
    df = df[~df.duplicated(["linenumber", "id", "lng", "lat"], keep="first")]
    df = df.sort_values(["linenumber", "id", "ts"], kind="stable").reset_index(drop=True)
    veh = [df["linenumber"], df["id"]]
    first = ~df.duplicated(["linenumber", "id"], keep="first")
    df["direction"] = np.where(first, 1, 0)
    df["position"] = np.where(first, 1, 0)

    stops = pd.read_csv(bus_line_csv, sep=";", dtype={"existLine_id": str})
    stops = stops[stops["position"] == 1].copy()
    stops["direction"] = stops["direction"].fillna(2).astype(int)
    has_dir2 = set(stops.loc[stops["direction"] == 2, "existLine_id"])
    for tag in (1, 2):
        terms = stops[stops["direction"] == tag]
        if tag == 1:
            terms = terms[terms["existLine_id"].isin(has_dir2)]
        near = np.zeros(len(df), dtype=bool)
        for line, grp in terms.groupby("existLine_id"):
            rows = np.flatnonzero(df["linenumber"].to_numpy() == line)
            for _, term in grp.iterrows():
                d = hav_m(df["lat"].to_numpy()[rows], df["lng"].to_numpy()[rows],
                          term["x"], term["y"])
                near[rows[d < TERMINAL_RADIUS_M]] = True
        df.loc[near, ["direction", "position"]] = tag

    # per-vehicle p95 of the gaps, nearest rank
    def p95(x: pd.Series) -> float:
        v = np.sort(x.to_numpy())
        return float(v[math.ceil(0.95 * len(v)) - 1])

    df["threshold"] = df.groupby(veh)["time_diff"].transform(p95)

    base = (df["time_diff"] >= df["threshold"]).astype(int)
    state = np.where((base == 0) & (_lead(base, veh) == 1), 2, base)
    df["state"] = state
    nxt, lst = _lead(df["state"], veh), _lag(df["state"], veh)
    d_next = hav_m(df["lat"], df["lng"], _lead(df["lat"], veh), _lead(df["lng"], veh))
    d_prev = hav_m(_lag(df["lat"], veh), _lag(df["lng"], veh), df["lat"], df["lng"])
    gap = np.where((df["state"] == 2) & (nxt == 1), d_next,
                   np.where((df["state"] == 1) & ((lst == 2) | (nxt == 1) | (lst == 1)),
                            d_prev, np.nan))
    demote = ~np.isnan(gap) & (gap < PLAUSIBLE_SPEED_MPS * (df["threshold"] - 1))
    df.loc[demote, "state"] = 0

    # round trip: seen at (or gap-tagged toward) both terminals
    is_gap = df["state"].isin([1, 2])
    c1 = ((df["direction"] == 1) & (df["position"] == 1)) | (
        (df["direction"] == 1) & (df["position"] == 0) & is_gap)
    c2 = ((df["direction"] == 2) & (df["position"] == 2)) | (
        (df["direction"] == 2) & (df["position"] == 0) & is_gap)
    ok = c1.groupby(veh).transform("max") & c2.groupby(veh).transform("max")
    df = df[ok].reset_index(drop=True)
    veh = [df["linenumber"], df["id"]]

    # pattern windows
    nxt = _lead(df["state"], veh)
    df["pattern_id"] = (df["state"] == 2).astype(int).groupby(veh).cumsum()
    is_end = (df["state"] == 1) & ((nxt == 0) | (nxt == 2))
    thr = df["threshold"].astype(int)
    lower = pd.Series(np.where(df["state"] == 2, df["sec"] - thr, np.nan))
    upper = pd.Series(np.where(is_end, df["sec"] + thr, np.nan))
    pat = [df["linenumber"], df["id"], df["pattern_id"]]
    # upper: own bound, else the pattern's first bound if already met
    met = upper.notna().astype(int).groupby(pat).cumsum() >= 1
    upper = upper.fillna(upper.groupby(pat).transform("first").where(met))
    # lower: own bound, else the next bound in a strictly later row
    later = lower.groupby(veh).shift(-1).groupby(veh).bfill()
    lower = lower.fillna(later)
    upper = upper.where(~(upper.isna() & (df["pattern_id"] != 0)), _lead(upper, veh))
    prev_pid = _lag(df["pattern_id"], veh)
    sec = df["sec"]
    keep = (((df["pattern_id"] == 0) & (sec > lower))
            | ((df["pattern_id"] > 0) & (sec < upper))
            | ((prev_pid > 0) & (sec > lower)))
    df = df.assign(lower=lower, upper=upper)[keep.fillna(False).to_numpy()].reset_index(drop=True)
    veh = [df["linenumber"], df["id"]]
    sec, lower, upper = df["sec"], df["lower"], df["upper"]
    test = pd.Series(np.where(
        upper.isna() | (df["state"] == 2), 1.0,
        np.where((sec > lower) & (sec >= upper), 1.0,
                 np.where((sec < upper) & (sec <= lower), 0.0, np.nan))))
    change = ((_lag(test, veh) == 0) & (test == 1)).astype(int)
    df["patternID"] = (change.groupby(veh).cumsum() + 1).astype(str)
    return df[["id", "linenumber", "lng", "lat", "t", "ts", "patternID"]]


def check_patterns(mine: pd.DataFrame, got: pd.DataFrame, only_present: bool) -> None:
    """The program's pattern rows equal the re-implementation's, as
    multisets of ``(linenumber, id, patternID, t, lng, lat)``. With
    ``only_present`` the comparison covers the trajectories ``got``
    holds (the chain's output keeps qualified clusters only)."""
    key = ["linenumber", "id", "patternID", "t", "lng", "lat"]
    a = mine[key]
    if only_present:
        traj = got[["linenumber", "id", "patternID"]].drop_duplicates()
        a = a.merge(traj, on=["linenumber", "id", "patternID"])
    a = a.sort_values(key).reset_index(drop=True)
    b = got[key].sort_values(key).reset_index(drop=True)
    require(len(a) == len(b), f"stage 1: {len(b)} pattern rows, expected {len(a)}")
    diff = (a != b).any(axis=1)
    require(not diff.any(), f"stage 1: first differing row {b[diff].head(1).to_dict('records')} "
            f"expected {a[diff].head(1).to_dict('records')}")


# ---------------------------------------------------------------- stage 2

def _gc_km(lng1, lat1, lng2, lat2):
    lng1, lat1, lng2, lat2 = (np.radians(x) for x in (lng1, lat1, lng2, lat2))
    h = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lng2 - lng1) / 2) ** 2)
    return 2 * GC_R_KM * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def trajectories(pats: pd.DataFrame) -> pd.DataFrame:
    """Per ``(linenumber, id, patternID)``: endpoints and polyline
    length (km) of the time-ordered points."""
    p = pats.sort_values(["linenumber", "id", "patternID", "ts", "lng", "lat"])
    g = [p["linenumber"], p["id"], p["patternID"]]
    seg = _gc_km(p["lng"], p["lat"], p.groupby(g)["lng"].shift(-1), p.groupby(g)["lat"].shift(-1))
    p = p.assign(seg=np.nan_to_num(seg))
    agg = p.groupby(["linenumber", "id", "patternID"], sort=True).agg(
        x0=("lng", "first"), y0=("lat", "first"), x1=("lng", "last"), y1=("lat", "last"),
        length=("seg", "sum"))
    return agg.reset_index()


def traclus(t: pd.DataFrame) -> np.ndarray:
    """D[i, j]: TRACLUS distance of trajectory i to trajectory j, with
    the reference's duplicated horizontal/vertical term (both are the
    mean distance of i's endpoints to j's chord)."""
    x0, y0, x1, y1, ln = (t[c].to_numpy()[:, None] for c in ("x0", "y0", "x1", "y1", "length"))
    ax, ay, bx, by, ln2 = (t[c].to_numpy()[None, :] for c in ("x0", "y0", "x1", "y1", "length"))
    vx, vy = bx - ax, by - ay
    point = np.isclose(ax, bx) & np.isclose(ay, by)
    vv = np.where(point, 1.0, vx * vx + vy * vy)

    def to_chord(px, py):
        u = np.clip(((px - ax) * vx + (py - ay) * vy) / vv, 0.0, 1.0)
        qx = np.where(point, ax, ax + u * vx)
        qy = np.where(point, ay, ay + u * vy)
        return _gc_km(px, py, qx, qy)

    d_hv = to_chord(x0, y0) + to_chord(x1, y1)  # 2 × the mean
    ux, uy = x1 - x0, y1 - y0
    zero1 = np.isclose(ux, 0) & np.isclose(uy, 0)
    zero2 = np.isclose(vx, 0) & np.isclose(vy, 0)
    with np.errstate(invalid="ignore", divide="ignore"):
        cos = (ux * vx + uy * vy) / (np.hypot(ux, uy) * np.hypot(vx, vy))
    theta = np.where(zero1 | zero2, 90.0, np.degrees(np.arccos(np.clip(cos, -1, 1))))
    d_ang = np.where(theta == 0, 0.0,
                     np.where(theta > 90, np.maximum(ln, ln2),
                              np.minimum(ln, ln2) * np.sin(np.radians(theta))))
    return d_hv + d_ang


def check_dbscan(traj: pd.DataFrame, labels: pd.Series, eps: float, min_samples: int,
                 complete: bool) -> np.ndarray:
    """``labels`` (aligned with ``traj``; -1 noise, NaN unseen) form a
    valid DBSCAN clustering of one line under the TRACLUS distance,
    whatever the cluster numbering. A pair is an edge when its distance
    is within eps in both directions and no edge when it is beyond eps
    in both; pairs within EPS_TOL_KM of eps are not judged. With
    ``complete`` every trajectory's label is known; otherwise only the
    clusters the output shows are checked (NaN = not shown). Returns
    which trajectories are surely clustered (a core, or a border of a
    core, however the pairs near eps are read)."""
    d = traclus(traj)
    sure = np.maximum(d, d.T) <= eps - EPS_TOL_KM  # an edge in either reading
    maybe = np.minimum(d, d.T) <= eps + EPS_TOL_KM
    core_sure = sure.sum(axis=1) >= min_samples  # the diagonal counts itself
    core_maybe = maybe.sum(axis=1) >= min_samples
    lab = labels.to_numpy(dtype=float)
    seen = ~np.isnan(lab)
    if complete:
        require(seen.all(), "stage 2: a trajectory has no label")
    ids = traj["id"].to_numpy()
    line = traj["linenumber"].iloc[0]
    for c in np.unique(lab[seen & (lab >= 0)]):
        members = lab == c
        cores = members & core_maybe
        require(cores.any(), f"stage 2: {line} cluster {c:g} has no core trajectory")
        # the cluster's cores form one component of the core graph
        idx = np.flatnonzero(cores)
        reach, todo = {idx[0]}, [idx[0]]
        while todo:
            i = todo.pop()
            for j in np.flatnonzero(maybe[i] & cores):
                if j not in reach:
                    reach.add(j)
                    todo.append(j)
        require(len(reach) == len(idx), f"stage 2: {line} cluster {c:g} is not connected")
        # every non-core member is a border point of this cluster
        for i in np.flatnonzero(members & ~core_maybe):
            require((maybe[i] & cores).any(),
                    f"stage 2: {line} {ids[i]} in cluster {c:g} reaches no core of it")
        # a sure core pulls its sure neighbours in: sure cores into the
        # same cluster, the rest into some cluster
        for i in np.flatnonzero(members & core_sure):
            for j in np.flatnonzero(sure[i]):
                if core_sure[j]:
                    require(lab[j] == c, f"stage 2: {line} cores {ids[i]} and {ids[j]} "
                            f"split between clusters {c:g} and {lab[j]:g}")
                elif complete:
                    require(lab[j] >= 0, f"stage 2: {line} {ids[j]} borders core "
                            f"{ids[i]} but is noise")
    if complete:
        require(not (core_sure & (lab < 0)).any(), f"stage 2: {line} a core trajectory is noise")
        for i in np.flatnonzero(lab < 0):
            require(not (sure[i] & core_sure).any(),
                    f"stage 2: {line} noise {ids[i]} borders a core")
    return core_sure | (sure & core_sure[None, :]).any(axis=1)


# ---------------------------------------------------------------- stage 3

def check_blind_zones(out: pd.DataFrame, fleet, traj_total: dict[str, set]) -> dict:
    """Speeds, the max-speed signal, one-step propagation, the closed
    signal set, no noise, every signal source spanning a generated zone,
    and qualification/escalation where the per-line and the cross-line
    reading of a cluster id agree. ``traj_total``: per line, the vehicles
    that own a clustered trajectory. Returns summary figures."""
    require(len(out) > 0, "stage 3: empty output")
    require(out["cluster"].notna().all() and (out["cluster"] >= 0).all(),
            "stage 3: noise or unclustered rows in the output")
    sig = set(out["signal"].dropna().unique())
    require(sig <= SIGNALS, f"stage 3: signals {sig}")
    o = out.sort_values(["linenumber", "cluster", "id", "patternID", "ts"]).reset_index(drop=True)
    g = [o["linenumber"], o["cluster"], o["id"], o["patternID"]]
    nlat, nlng = o.groupby(g)["lat"].shift(-1), o.groupby(g)["lng"].shift(-1)
    nts = o.groupby(g)["ts"].shift(-1)
    dt = (nts - o["ts"]).dt.total_seconds()
    dist = hav_m(o["lat"], o["lng"], nlat, nlng)
    speed = np.where(dt.isna() | (dt == 0), 0.0, dist / dt.to_numpy())
    require(np.allclose(o["speed"].to_numpy(), speed, rtol=1e-9, atol=1e-9),
            "stage 3: speed differs from haversine / time")
    o["my_speed"] = speed
    by_key = {(p.vid, p.t.strftime("%y-%m-%d %H:%M:%S")): p for p in fleet.pings if not p.duplicate}
    max_rows = []
    for key, grp in o.groupby(["linenumber", "cluster", "id", "patternID"], sort=False):
        order = grp.sort_values(["my_speed", "ts", "lng", "lat"],
                                ascending=[False, True, True, True]).index
        top = order[0]
        pos = grp.index.get_loc(top)
        flagged = set(grp.index[grp["signal"].notna()])
        expect = {top} | ({grp.index[pos + 1]} if pos + 1 < len(grp) else set())
        require(flagged == expect, f"stage 3: {key} signals on rows {sorted(flagged)}, "
                f"expected the max-speed row and the one after it")
        require(grp["signal"].dropna().nunique() == 1, f"stage 3: {key} propagation changed the signal")
        require(pos + 1 < len(grp), f"stage 3: {key} max-speed row has no next fix")
        a = by_key[(key[2], grp.loc[top, "t"])]
        b = by_key[(key[2], grp.iloc[pos + 1]["t"])]
        zones = fleet.line_of(key[0]).zones
        require(any(a.s <= z.start_m and b.s >= z.end_m for z in zones),
                f"stage 3: {key} max-speed segment spans no blind zone")
        max_rows.append((key[0], key[1], key[2], grp.loc[top, "my_speed"], grp.loc[top, "signal"]))
    mx = pd.DataFrame(max_rows, columns=["linenumber", "cluster", "id", "speed", "signal"])

    # qualification: a shown (line, cluster) must qualify under one
    # reading at least; judged only where both readings agree
    total_all = len(set().union(*traj_total.values()))
    shown_ids = out.groupby("cluster")["id"].nunique()
    for (line, c), grp in out.groupby(["linenumber", "cluster"]):
        per_line = grp["id"].nunique() >= math.floor(QUALIFY_SHARE * len(traj_total[line]))
        cross = shown_ids[c] >= math.floor(QUALIFY_SHARE * total_all)
        require(per_line or cross, f"stage 3: {line} cluster {c} qualifies under no reading")
    # escalation: max rows read 1.0 when every vehicle of the cluster
    # crosses fast, 0.5 when not, where both readings agree
    fast_vehicle = mx.groupby(["linenumber", "cluster", "id"])["speed"].max() > SPEED_FLOOR_MPS
    per_line_fast = fast_vehicle.groupby(level=[0, 1]).all()
    cross_fast = fast_vehicle.groupby(level=1).all()
    judged = 0
    for (line, c), fast in per_line_fast.items():
        if fast != cross_fast[c]:
            continue
        judged += 1
        want = 1.0 if fast else 0.5
        got = set(mx[(mx["linenumber"] == line) & (mx["cluster"] == c)]["signal"])
        require(got == {want}, f"stage 3: {line} cluster {c} max-speed signals {got}, expected {want}")
    require({1.0, 0.5} <= set(mx["signal"]), "stage 3: the cascade did not take both branches")
    return {
        "qualified_clusters": int(out[["linenumber", "cluster"]].drop_duplicates().shape[0]),
        "qualified_lines": int(out["linenumber"].nunique()),
        "escalations_judged": judged,
    }
