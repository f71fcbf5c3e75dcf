"""Each output check must flag a wrong answer.

    python3 -m pytest perfbench -q

No Spark: the checks and their oracles are plain numpy, and each test
corrupts a correct answer the way a broken engine would.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from perfbench import api_serve, inputs, verify

POLYS = [
    dict(polygon_id=0, minlat=-7.9, maxlat=-7.45, minlon=110.25, maxlon=110.9),
    dict(polygon_id=1, minlat=-7.9, maxlat=-7.45, minlon=110.25, maxlon=110.575),
    dict(polygon_id=2, minlat=-7.675, maxlat=-7.45, minlon=110.25, maxlon=110.575),
]


def _tiles():
    pts = verify.derived_points(inputs.order_keys(7, 2000)["o_orderkey"].to_numpy())
    p, g, t = verify.tile_oracle(pts, POLYS)
    good = pd.DataFrame({"point_id": p, "polygon_id": g, "tile_id": t})
    return good, verify.fingerprint(p, g, t)


def test_tile_oracle_is_a_closed_bbox_join():
    pts = pd.DataFrame({"point_id": [1, 2, 3], "lat": [-7.9, -7.0, -7.5],
                        "lon": [110.25, 110.5, 110.9]})
    p, g, _ = verify.tile_oracle(pts, POLYS[:1])
    assert sorted(p.tolist()) == [1, 3] and set(g.tolist()) == {0}


def test_tile_cell_id_layout():
    cell = verify.cell_id(np.array([-90.0]), np.array([-180.0]), 14)[0]
    assert cell == 14 << 58
    size = 180.0 / (1 << 14)
    cell = verify.cell_id(np.array([-90.0 + 2.5 * size]), np.array([-180.0 + 3.5 * size]), 14)[0]
    assert cell == (14 << 58) + (3 << 29) + 2


def test_tiles_correct_answer_passes_in_any_order():
    good, fp = _tiles()
    assert verify.check_tiles(good.sample(frac=1.0, random_state=1), fp) == []


def test_tiles_dropped_row_is_flagged():
    good, fp = _tiles()
    assert verify.check_tiles(good.iloc[1:], fp)


def test_tiles_duplicated_row_is_flagged():
    good, fp = _tiles()
    assert verify.check_tiles(pd.concat([good, good.iloc[:1]]), fp)


def test_tiles_wrong_polygon_id_is_flagged():
    good, fp = _tiles()
    bad = good.copy()
    bad.loc[bad.index[0], "polygon_id"] += 1
    assert verify.check_tiles(bad, fp)


def test_tiles_changed_tile_is_flagged():
    good, fp = _tiles()
    bad = good.copy()
    bad.loc[bad.index[5], "tile_id"] += 1
    assert verify.check_tiles(bad, fp)


def test_tiles_swapped_rows_keep_count_but_are_flagged():
    good, fp = _tiles()
    bad = good.copy()
    a = bad.index[0]
    b = bad.index[(bad["tile_id"] != bad.loc[a, "tile_id"]).to_numpy()][0]
    bad.loc[a, "tile_id"], bad.loc[b, "tile_id"] = good.loc[b, "tile_id"], good.loc[a, "tile_id"]
    assert verify.check_tiles(bad, fp)


def _places():
    rng = np.random.default_rng(3)
    n = 300
    return pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(-7.9, -7.45, n),
        "lon": rng.uniform(110.25, 110.9, n),
        "type": rng.choice(["zoo", "park", "residential"], n),
    })


def _rows(ids, dists):
    return [{"id": int(i), "dist_km": round(float(d), 6)} for i, d in zip(ids, dists)]


def test_knn_correct_answer_passes():
    places = _places()
    exp = verify.expected_knn(places, -7.6, 110.5, 10, radius_km=10.0, place_type="zoo")
    assert len(exp[0]) > 0
    assert verify.check_knn(_rows(*exp), exp) == []


def test_knn_dropped_row_is_flagged():
    places = _places()
    exp = verify.expected_knn(places, -7.6, 110.5, 10)
    assert verify.check_knn(_rows(*exp)[:-1], exp)


def test_knn_wrong_id_is_flagged():
    places = _places()
    exp = verify.expected_knn(places, -7.6, 110.5, 10)
    rows = _rows(*exp)
    rows[3]["id"] = 10_000
    assert verify.check_knn(rows, exp)


def test_knn_ignored_type_filter_is_flagged():
    places = _places()
    exp = verify.expected_knn(places, -7.6, 110.5, 10, radius_km=10.0, place_type="zoo")
    unfiltered = verify.expected_knn(places, -7.6, 110.5, 10, radius_km=10.0)
    assert verify.check_knn(_rows(*unfiltered), exp)


def test_knn_ignored_radius_is_flagged():
    places = _places()
    exp = verify.expected_knn(places, -7.6, 110.5, 10, radius_km=1.0)
    unbounded = verify.expected_knn(places, -7.6, 110.5, 10)
    assert verify.check_knn(_rows(*unbounded), exp)


def test_knn_tied_distances_may_come_in_either_order():
    places = pd.DataFrame({"id": [5, 6, 7], "lat": [-7.6, -7.6, -7.7],
                           "lon": [110.51, 110.49, 110.5], "type": ["", "", ""]})
    exp = verify.expected_knn(places, -7.6, 110.5, 2)
    rows = _rows(exp[0][::-1], exp[1][::-1])
    assert verify.check_knn(rows, exp) == []


def test_search_target_missing_is_flagged():
    rows = [{"id": i} for i in range(10)]
    assert verify.check_target(rows, 3, 10) == []
    assert verify.check_target(rows, 42, 10)
    assert verify.check_target(rows + [{"id": 42}], 42, 10)


def test_derived_points_follow_the_documented_map():
    from osm_search_spark.sources import synth

    assert "40503) % 1000003" in synth.LAT_EXPR and "69621) % 999983" in synth.LON_EXPR
    pts = verify.derived_points(np.array([1, 1000003]))
    assert pts["lat"][0] == -7.95 + (40503 / 1000003.0) * 0.55
    assert pts["lat"][1] == -7.95


def _table():
    return pd.DataFrame({"probe_id": [0, 0, 1], "neighbor_id": [5, 6, 7],
                         "cos": [0.5, 0.25, 0.125], "caption": ["a", "b", "c"]})


def test_table_correct_answer_passes_in_any_order():
    good = _table()
    assert verify.check_table("q", good.iloc[::-1][["cos", "caption", "probe_id", "neighbor_id"]], good) == []


def test_table_dropped_row_is_flagged():
    assert verify.check_table("q", _table().iloc[1:], _table())


def test_table_wrong_id_is_flagged():
    bad = _table()
    bad.loc[1, "neighbor_id"] = 9
    assert verify.check_table("q", bad, _table())


def test_table_changed_value_is_flagged():
    bad = _table()
    bad.loc[2, "cos"] = 0.12500001
    assert verify.check_table("q", bad, _table())
    bad = _table()
    bad.loc[0, "caption"] = "z"
    assert verify.check_table("q", bad, _table())


def test_table_missing_column_is_flagged():
    assert verify.check_table("q", _table().drop(columns="cos"), _table())


def _page(names):
    return [{"id": i, "name": n} for i, n in enumerate(names)]


def test_prefix_page_correct_answer_passes():
    page = _page([f"Monumen Nasional 0_{j}" for j in range(10)])
    assert verify.check_prefix_page(page, "Monumen Nasional", 10) == []


def test_prefix_page_wrong_completion_is_flagged():
    page = _page([f"Monumen Nasional 0_{j}" for j in range(9)] + ["Jalan Monumen 1"])
    assert verify.check_prefix_page(page, "Monumen Nasional", 10)
    # "Nasionalis" starts with the phrase but is another word
    page = _page(["Monumen Nasionalis 0_1"])
    assert verify.check_prefix_page(page, "Monumen Nasional", 1)


def test_prefix_page_short_page_is_flagged():
    page = _page([f"Monumen Nasional 0_{j}" for j in range(9)])
    assert verify.check_prefix_page(page, "Monumen Nasional", 10)


def test_misspelling_keeps_the_id_and_edits_one_word():
    rng = np.random.default_rng(1)
    for name in ("Kebun Binatang Ragunan 4_7", "Dunia Fantasi 0_0", "Stasiun Gambir 5_15"):
        q = api_serve._misspell(rng, name)
        got, want = q.split(), name.split()
        assert got[-1] == want[-1] and len(got) == len(want)
        changed = [(g, w) for g, w in zip(got, want) if g != w]
        assert len(changed) == 1
        g, w = changed[0]
        assert g[0] == w[0] and 1 <= sum(a != b for a, b in zip(g, w)) <= 2


def test_prefix_query_cuts_inside_the_last_name_word():
    rng = np.random.default_rng(2)
    for _ in range(20):
        q, phrase = api_serve._prefix_query(rng, "Kebun Binatang Ragunan 4_7")
        assert phrase == "Kebun Binatang Ragunan"
        assert phrase.startswith(q) and q.startswith("Kebun Binatang Rag") and q != phrase
