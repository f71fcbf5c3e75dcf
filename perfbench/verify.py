"""Output checks, written without Spark and without the engine's kernels.

Each ``check_*`` returns a list of problems; an empty list means the output
is correct. The oracles here are deliberately naive (numpy brute force), so
they share no code path with what they check.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# tile_pipeline: PIP join + tile assignment
# ---------------------------------------------------------------------------

TILE_RES = 14  # the engine's tile resolution (functions/cells.py TILE_RES)


def derived_points(order_keys: np.ndarray):
    """(point_id, lat, lon) the engine derives from ``orders`` keys: the
    closed-form map documented in ``sources/synth.py``, in float64 with the
    same operation order, so the doubles match bit for bit."""
    k = np.asarray(order_keys, dtype=np.int64)
    lat = -7.95 + (((k * 40503) % 1000003).astype(np.float64) / 1000003.0) * 0.55
    lon = 110.20 + (((k * 69621) % 999983).astype(np.float64) / 999983.0) * 0.75
    return {"point_id": k, "lat": lat, "lon": lon}


def cell_id(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Grid cell id: ``res << 58 | ix << 29 | iy`` on a 180/2^res degree grid."""
    size = 180.0 / (1 << res)
    ix = np.clip(np.floor((lon + 180.0) / size), 0, (2 << res) - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / size), 0, (1 << res) - 1).astype(np.int64)
    return (np.int64(res) << np.int64(58)) + (ix << np.int64(29)) + iy


def tile_oracle(points, polygons: list[dict]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(point_id, polygon_id, tile_id) of every point inside every rectangle,
    boundary included: a plain bbox range predicate per polygon."""
    lat = np.asarray(points["lat"])
    lon = np.asarray(points["lon"])
    pid = np.asarray(points["point_id"])
    tiles = cell_id(lat, lon, TILE_RES)
    out_p, out_g, out_t = [], [], []
    for poly in polygons:
        hit = (
            (lat >= poly["minlat"]) & (lat <= poly["maxlat"])
            & (lon >= poly["minlon"]) & (lon <= poly["maxlon"])
        )
        out_p.append(pid[hit])
        out_g.append(np.full(int(hit.sum()), poly["polygon_id"], dtype=np.int64))
        out_t.append(tiles[hit])
    return np.concatenate(out_p), np.concatenate(out_g), np.concatenate(out_t)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser (wrapping uint64 arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def fingerprint(point_id, polygon_id, tile_id) -> tuple[int, int, int]:
    """Order-insensitive (row count, xor, wrapping sum) of a 64-bit hash of
    each (point_id, polygon_id, tile_id) row. The xor misses a duplicated
    row; the count and the sum do not."""
    def u64(x):
        return np.asarray(x, dtype=np.int64).view(np.uint64)

    with np.errstate(over="ignore"):
        h = _mix(
            _mix(u64(point_id))
            ^ _mix(u64(polygon_id) + np.uint64(0x3C6EF372))
            ^ _mix(u64(tile_id) + np.uint64(0x1F83D9AB))
        )
        total = int(np.sum(h, dtype=np.uint64))
    return len(h), int(np.bitwise_xor.reduce(h)) if len(h) else 0, total


def check_tiles(got, expected_fp: tuple[int, int, int]) -> list[str]:
    """``got``: the written tiles read back, with point_id, polygon_id and
    tile_id columns."""
    fp = fingerprint(got["point_id"].to_numpy(), got["polygon_id"].to_numpy(),
                     got["tile_id"].to_numpy())
    problems = []
    if fp[0] != expected_fp[0]:
        problems.append(f"tiles: {fp[0]} rows written, {expected_fp[0]} expected")
    if fp[1:] != expected_fp[1:]:
        problems.append("tiles: row fingerprint differs from the bbox-join oracle")
    return problems


# ---------------------------------------------------------------------------
# batch queries: the registered query against its DuckDB twin
# ---------------------------------------------------------------------------


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_table(name: str, got, want) -> list[str]:
    """``got`` and ``want`` (pandas) hold the same rows in any order: equal
    row counts, column names and values (floats to 1e-9 relative)."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, {len(want)} expected"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)}, expected {sorted(want.columns)}"]
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = a[c].to_numpy(float), b[c].to_numpy(float)
            bad = ~(np.isclose(x, y, rtol=1e-9, atol=0.0) | (np.isnan(x) & np.isnan(y)))
        else:
            bad = (a[c].astype(str) != b[c].astype(str)).to_numpy()
        if bad.any():
            return [f"{name}: column {c} differs in {int(bad.sum())} rows"]
    return []


# ---------------------------------------------------------------------------
# api_serve: kNN endpoints by brute force, search endpoints by target rank
# ---------------------------------------------------------------------------

EARTH_RADIUS_KM = 6371.0  # the engine's haversine radius


def haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return EARTH_RADIUS_KM * 2.0 * np.arcsin(np.sqrt(a))


def expected_knn(places, lat: float, lon: float, k: int,
                 radius_km: float | None = None, place_type: str | None = None):
    """(ids, distances) of the k nearest places, ties broken by id."""
    d = haversine_km(lat, lon, places["lat"].to_numpy(), places["lon"].to_numpy())
    keep = np.ones(len(d), dtype=bool)
    if radius_km is not None:
        keep &= d <= radius_km
    if place_type is not None:
        keep &= places["type"].to_numpy() == place_type
    ids = places["id"].to_numpy()[keep]
    d = d[keep]
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def check_knn(rows: list[dict], expected, tol_km: float = 1e-5) -> list[str]:
    """``rows``: the endpoint's rows in rank order (id, dist_km). Equal
    distances may come in either order, so ids are compared per distance."""
    exp_ids, exp_d = expected
    if len(rows) != len(exp_ids):
        return [f"knn: {len(rows)} rows, {len(exp_ids)} expected"]
    got_d = np.array([r["dist_km"] for r in rows], dtype=float)
    if len(rows) and np.max(np.abs(got_d - exp_d)) > tol_km:
        return ["knn: distances differ from brute force"]
    got_ids = [r["id"] for r in rows]
    if got_ids != list(exp_ids):
        # accept a reordering only among exactly tied distances
        key = np.round(exp_d, 6)
        for dist in np.unique(key):
            sel = key == dist
            if set(np.asarray(got_ids)[sel]) != set(exp_ids[sel]):
                return ["knn: ids differ from brute force"]
    return []


def check_target(rows: list[dict], target_id: int, k: int) -> list[str]:
    """``rows``: a search/autocomplete page; the target must be on it."""
    ids = [r["id"] for r in rows]
    if len(ids) > k:
        return [f"search: {len(ids)} rows for k={k}"]
    if target_id not in ids:
        return [f"search: target {target_id} not in the top {k}"]
    return []


def check_prefix_page(rows: list[dict], phrase: str, n_expected: int) -> list[str]:
    """``rows``: an autocomplete page for a prefix of ``phrase``. The page is
    full (``n_expected`` rows) and every row is a place named ``phrase``
    followed by its id token."""
    if len(rows) != n_expected:
        return [f"autocomplete: {len(rows)} rows, {n_expected} expected"]
    wrong = [r["name"] for r in rows if not r["name"].startswith(phrase + " ")]
    if wrong:
        return [f"autocomplete: {wrong[0]!r} does not complete {phrase!r}"]
    return []
