"""SparkSearcher facade: endpoint parity with the reference's HTTP API."""

import pytest

from osm_search_spark.api import SparkSearcher
from osm_search_spark.plans import build_pipeline as bp
from osm_search_spark.sources import osm as osm_src


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("index"))
    nodes, ways, rels = osm_src.synth_osm(spark)
    bp.build_all(spark, base, ways, nodes, rels)
    return SparkSearcher(spark, base)


def test_search_endpoint(searcher):
    rows = searcher.search("dunia fsntasi", k=3).collect()
    assert rows and rows[0]["name"].startswith("Dunia Fantasi")


def test_search_k0_defaults_to_10(searcher):
    rows = searcher.search("jalan", k=0).collect()
    assert 0 < len(rows) <= 10


def test_invalid_query_rejected(searcher):
    with pytest.raises(ValueError):
        searcher.search("drop; --")
    with pytest.raises(ValueError):
        searcher.search("")


def test_autocomplete_endpoint(searcher):
    rows = searcher.autocomplete("monumen nasi", k=3).collect()
    assert rows and rows[0]["name"].startswith("Monumen Nasional")


def test_reverse_geocode_endpoint(searcher):
    # probe at a known POI location -> that POI is the 1-NN
    poi = searcher.places.filter("type = 'monument'").first()
    rows = searcher.reverse_geocode(poi["lat"], poi["lon"]).collect()
    assert len(rows) == 1 and rows[0]["id"] == poi["id"]


def test_nearby_places_endpoint(searcher):
    poi = searcher.places.first()
    rows = searcher.nearby_places(
        poi["lat"], poi["lon"], radius_km=50.0, k=5
    ).collect()
    assert 0 < len(rows) <= 5
    assert all(r["dist_km"] <= 50.0 for r in rows)


def test_nearby_places_feature_filter(searcher):
    poi = searcher.places.first()
    rows = searcher.nearby_places(
        poi["lat"], poi["lon"], feature="type = 'zoo'", radius_km=100.0, k=10
    ).collect()
    assert rows and all(r["type"] == "zoo" for r in rows)


def test_nearby_places_type_filter_is_one_round_and_exact(searcher, monkeypatch):
    # the API starts the kNN at knn.radius_ring, the ring that already
    # covers the radius, so a type-filtered probe finishes in round 1 and
    # never persists the object index; rows match brute-force haversine
    import numpy as np
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from osm_search_spark.functions.geometry import haversine_km_np

    persists = []
    orig = CDF.persist
    monkeypatch.setattr(
        CDF, "persist",
        lambda self, *a, **k: (persists.append(1), orig(self, *a, **k))[1],
    )
    places = searcher.places.select("id", "lat", "lon", "type").toPandas()
    for t in ("zoo", "residential"):
        near = places[places["type"] == t].iloc[0]
        lat, lon = near["lat"] + 0.004, near["lon"] - 0.003
        rows = searcher.nearby_places(
            lat, lon, feature=f"type = '{t}'", radius_km=5.0, k=10
        ).collect()
        assert not persists, "a one-probe radius query must finish in round 1"
        cand = places[places["type"] == t]
        d = haversine_km_np(lat, lon, cand["lat"].to_numpy(), cand["lon"].to_numpy())
        order = [i for i in np.lexsort((cand["id"].to_numpy(), d)) if d[i] <= 5.0][:10]
        assert [r["id"] for r in rows] == list(cand["id"].to_numpy()[order])
        want_km = [d[i] for i in order]
        assert [r["dist_km"] for r in rows] == pytest.approx(want_km, abs=1e-6)


def test_endpoint_job_counts_pinned(spark, searcher):
    # per-request Spark jobs after one warm call (the first call pays
    # one-time broadcast/cache warm-up); each job costs ~100 ms of serving
    # latency, so a change that adds per-request jobs fails here
    poi = searcher.places.filter("type = 'zoo'").first()
    lat, lon = poi["lat"] + 0.001, poi["lon"]
    calls = {
        "search": (10, lambda: searcher.search("dunia fsntasi", k=10)),
        "autocomplete": (10, lambda: searcher.autocomplete("monumen nasi", k=10)),
        "reverse": (8, lambda: searcher.reverse_geocode(lat, lon)),
        "nearby": (9, lambda: searcher.nearby_places(
            lat, lon, feature="type = 'zoo'", radius_km=5.0, k=10)),
    }
    sc = spark.sparkContext
    got = {}
    for name, (_, call) in calls.items():
        call().collect()
        group = f"api_jobs_{name}"
        sc.setJobGroup(group, group)
        call().collect()
        sc.setJobGroup("other", "other")
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(got[n] <= bound for n, (bound, _) in calls.items()), got
