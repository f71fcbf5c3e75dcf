"""kNN golden tests mirroring pkg/datastructure/rtree_test.go.

Reference: 7 pinned Surakarta/Jogja objects + 100k random points in a far
Jakarta box; expected 5-NN order 7,6,5,4,1 (rtree_test.go:286-290) and
1-NN id 1 with extra objects 1000/1001 (rtree_test.go:362-365). We use 5k
random far-away points (same semantics — they're ~200 km from the probes)
to keep the test fast.
"""

import numpy as np

from osm_search_spark.operators.knn import knn_join
from osm_search_spark.sources import synth


def _objects(spark, extra=()):
    rng = np.random.default_rng(42)
    rows = list(synth.GOLDEN_OBJECTS) + list(extra)
    lat = rng.uniform(-6.107481038495567, -5.995288834299442, 5000)
    lon = rng.uniform(106.13128828884481, 107.0509652831274, 5000)
    rows += [(int(8 + i), float(lat[i]), float(lon[i])) for i in range(5000)]
    return spark.createDataFrame(rows, "obj_id long, olat double, olon double")


def _probes(spark, lat, lon):
    return spark.createDataFrame([(0, lat, lon)], "probe_id long, plat double, plon double")


def test_knn5_golden_order(spark):
    objects = _objects(spark)
    probes = _probes(spark, *synth.KNN_PROBE)
    res = knn_join(probes, objects, k=5, res=12).orderBy("rank").collect()
    assert [r["obj_id"] for r in res] == synth.KNN_EXPECTED_IDS


def test_nn1_golden(spark):
    objects = _objects(spark, extra=synth.EXTRA_OBJECTS)
    probes = _probes(spark, *synth.NN1_PROBE)
    res = knn_join(probes, objects, k=1, res=12).collect()
    assert len(res) == 1 and res[0]["obj_id"] == 1


def test_radius_filter_postcondition(spark):
    # rtree_test.go:369-475: all results within 3 km, with the feature tag
    rows = [
        (i, la, lo, {1: 1} if i % 2 else {2: 1})
        for i, la, lo in synth.GOLDEN_OBJECTS
    ]
    objects = spark.createDataFrame(
        rows, "obj_id long, olat double, olon double, tags map<int,int>"
    )
    probes = _probes(spark, *synth.NN1_PROBE)
    res = knn_join(
        probes, objects, k=10, res=12, radius_km=3.0, feature="tags[1] = 1"
    ).collect()
    assert res, "expected at least one neighbor"
    for r in res:
        assert r["dist_km"] <= 3.0
        assert r["obj_id"] % 2 == 1


def test_far_probe_and_empty_objects(spark):
    # probe ~200 km from every object: the incremental annulus must double
    # through many rounds (bounded fan-out) and still return the exact 3-NN
    objects = _objects(spark)
    probes = _probes(spark, -7.55, 110.8)  # golden cluster is the only
    res = knn_join(probes, objects, k=3, res=14).orderBy("rank").collect()
    from osm_search_spark.functions.geometry import haversine_km_np

    obj = objects.toPandas()
    d = haversine_km_np(-7.55, 110.8, obj["olat"].to_numpy(), obj["olon"].to_numpy())
    order = np.lexsort((obj["obj_id"].to_numpy(), d))
    assert [r["obj_id"] for r in res] == list(obj["obj_id"].to_numpy()[order[:3]])

    # zero objects: domain cap terminates immediately with an empty result
    empty = spark.createDataFrame([], "obj_id long, olat double, olon double")
    assert knn_join(probes, empty, k=3, res=14).count() == 0


def test_annulus_fanout_bounded(spark):
    # the per-round explode width must stay O(1) as the radius doubles —
    # the scale contract that replaces round-1's full-disk re-explode
    from pyspark.sql import functions as F

    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.knn import _coarse_scale

    one = spark.createDataFrame([(16000, 8000)], "pix long, piy long")
    r_prev, r = -1, 1
    for _ in range(8):  # up to r=16384 (full res-14 grid height), x4 growth
        e = _coarse_scale(r)
        n = one.select(
            F.size(C.annulus_cells(F.col("pix"), F.col("piy"), r, r_prev, e, 14))
        ).collect()[0][0]
        assert n <= 150, f"annulus at r={r} exploded {n} cells"
        r_prev, r = r, r * 4


def test_knn_matches_bruteforce(spark):
    # probe in the dense random cloud — exercises ring-1 finalization
    objects = _objects(spark)
    probes = spark.createDataFrame(
        [(0, -6.05, 106.6), (1, -6.0, 107.0), (2, -7.55, 110.8)],
        "probe_id long, plat double, plon double",
    )
    got = {
        (r["probe_id"], r["rank"]): r["obj_id"]
        for r in knn_join(probes, objects, k=3, res=14).collect()
    }
    from osm_search_spark.functions.geometry import haversine_km_np

    obj = objects.toPandas()
    for pid, pla, plo in [(0, -6.05, 106.6), (1, -6.0, 107.0), (2, -7.55, 110.8)]:
        d = haversine_km_np(pla, plo, obj["olat"].to_numpy(), obj["olon"].to_numpy())
        order = np.lexsort((obj["obj_id"].to_numpy(), d))
        for rank in (1, 2, 3):
            assert got[(pid, rank)] == obj["obj_id"].to_numpy()[order[rank - 1]]


def test_radius_knn_extreme_latitude(spark):
    # at |lat| = 85 deg cos(lat) ~ 0.087, so the cos-adjusted quality bound
    # cannot reach radius_km — such probes must terminate EXACTLY via
    # per-probe domain exhaustion (round 3: no global ring cap, no
    # best-effort rows) and return every within-radius neighbor
    objects = spark.createDataFrame(
        [(i, 85.0 + i * 0.001, 10.0 + i * 0.002) for i in range(12)],
        "obj_id long, olat double, olon double",
    )
    probes = _probes(spark, 85.0, 10.0)
    res = knn_join(probes, objects, k=12, res=14, radius_km=3.0).collect()
    from osm_search_spark.functions.geometry import haversine_km_np

    import numpy as np

    lat = np.array([85.0 + i * 0.001 for i in range(12)])
    lon = np.array([10.0 + i * 0.002 for i in range(12)])
    want = int((haversine_km_np(85.0, 10.0, lat, lon) <= 3.0).sum())
    assert len(res) == want and want >= 5
    for r in res:
        assert r["dist_km"] <= 3.0


def test_single_round_fast_path_skips_pend_jobs(spark, monkeypatch):
    # round 9: a probe set that finishes entirely in round 1 must take the
    # fast-path exit (counts observed in the checkpoint jobs) — no isEmpty
    # probe job, and the object index is never persisted (deferred persist:
    # caching pays only when a second round actually reads it). A far probe
    # that needs many rounds must persist the index exactly once and
    # release it on return.
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    persists, empties = [], []
    orig_persist, orig_empty = CDF.persist, CDF.isEmpty
    monkeypatch.setattr(
        CDF, "persist",
        lambda self, *a, **k: (persists.append(1), orig_persist(self, *a, **k))[1],
    )
    monkeypatch.setattr(
        CDF, "isEmpty",
        lambda self: (empties.append(1), orig_empty(self))[1],
    )

    objects = _objects(spark)
    dense = _probes(spark, -6.05, 106.6)  # inside the random cloud
    res = knn_join(dense, objects, k=3, res=14).collect()
    assert len(res) == 3
    assert not persists, "single-round call must not persist the index"
    assert not empties, "single-round call must exit via the count fast path"

    persists.clear()
    far = _probes(spark, -7.55, 110.8)  # ~200 km away: multi-round
    res2 = knn_join(far, objects, k=3, res=14).collect()
    assert len(res2) == 3
    assert len(persists) == 1, "multi-round call persists the index once"


def test_radius_ring_is_the_smallest_covering_ring():
    # radius_ring(r, lat) is the first ring whose bound_km at lat reaches
    # the radius: the ring one smaller falls short
    from osm_search_spark.functions import cells as C
    from osm_search_spark.operators.knn import _bound_km, radius_ring

    size = C.cell_size_deg(C.TILE_RES)
    for lat in (0.0, -6.0, 60.0):
        for radius in (0.5, 5.0, 50.0):
            R = radius_ring(radius, lat)
            assert _bound_km(R, abs(lat), size) >= radius, (lat, radius, R)
            assert _bound_km(R - 1, abs(lat), size) < radius, (lat, radius, R)
    # near the pole no ring's bound reaches 5 km before the band hits 90
    # degrees: the defined fallback is ring 1 (plain annulus growth)
    assert radius_ring(5.0, 89.9) == 1
    assert radius_ring(5.0, -89.9) == 1


def test_radius_ring_start_finishes_in_one_round(spark, monkeypatch):
    # at lat 60 the cos-shrunk bound needs a ~2x larger ring than at the
    # equator; starting there, a one-probe radius query finishes in round 1
    # (no object-index persist) and returns every in-radius neighbor
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from osm_search_spark.functions.geometry import haversine_km_np
    from osm_search_spark.operators.knn import radius_ring

    persists = []
    orig = CDF.persist
    monkeypatch.setattr(
        CDF, "persist",
        lambda self, *a, **k: (persists.append(1), orig(self, *a, **k))[1],
    )
    rng = np.random.default_rng(7)
    lat = 60.0 + rng.uniform(-0.1, 0.1, 300)
    lon = 10.0 + rng.uniform(-0.2, 0.2, 300)
    objects = spark.createDataFrame(
        [(i, float(lat[i]), float(lon[i])) for i in range(300)],
        "obj_id long, olat double, olon double",
    )
    res = knn_join(
        _probes(spark, 60.0, 10.0), objects, k=20, radius_km=3.0,
        initial_ring=radius_ring(3.0, 60.0),
    ).orderBy("rank").collect()
    assert not persists
    d = haversine_km_np(60.0, 10.0, lat, lon)
    order = [i for i in np.lexsort((np.arange(300), d)) if d[i] <= 3.0][:20]
    assert [r["obj_id"] for r in res] == order and len(order) >= 5
