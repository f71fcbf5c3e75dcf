"""Seeded inputs. The same seed gives the same inputs, byte for byte.

Only plain tables leave this module; the program under test receives them
and nothing else (apart from its own fixtures: the 15 admin polygons and
the image table of ``sources.images``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

def order_keys(seed: int, n: int) -> pd.DataFrame:
    """An ``orders`` table of ``n`` distinct seeded ``o_orderkey`` values,
    the only column ``sources.synth.derive_points`` reads."""
    rng = np.random.default_rng([seed, 1])
    keys = rng.choice(np.int64(50) * n, size=n, replace=False).astype(np.int64) + 1
    return pd.DataFrame({"o_orderkey": keys})


WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big query customer order group "
    "filter stream vector"
).split()
LANGS = ("en", "zh", "es", "de", "fr")


def documents(seed: int, n: int) -> pd.DataFrame:
    """A ``documents`` table shaped like the engine's test data: 10-99 words
    from a small vocabulary; one document in five is a copy of an earlier
    one with a few words changed, so near duplicates exist."""
    rng = np.random.default_rng([seed, 4])
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(i))].split()
            for pos in rng.choice(len(words), size=min(3, len(words)), replace=False):
                words[pos] = WORDS[int(rng.integers(len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(len(WORDS), size=int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(len(LANGS), size=n)],
        "source": [f"src{j}" for j in rng.integers(20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int = 64):
    """An ``embeddings`` table: float32 vectors around ten seeded centres,
    as a pyarrow table so the list column stays ``list<float>``."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(size=(10, dim))
    label = rng.integers(10, size=n)
    vec = (centres[label] + 0.5 * rng.normal(size=(n, dim))).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def osm_tables(seed: int, n_streets: int, n_pois_per_kec: int):
    """Nodes and ways of the engine's synthetic OSM extract (``synth_osm_py``;
    its admin relations are left out) with seeded
    geometry at an unchanged size: each street moves north or south by up
    to 0.002 degrees, and each POI, named ``<name> <kecamatan>_<j>``, is
    placed uniformly at random inside its kecamatan (the extract lines
    them up on one diagonal per kecamatan)."""
    from osm_search_spark.sources.osm import synth_osm_py
    from osm_search_spark.sources.synth import admin_polygons_py

    rng = np.random.default_rng([seed, 2])
    nodes, ways, _ = synth_osm_py(n_streets, n_pois_per_kec)
    kecs = [p for p in admin_polygons_py() if p["admin_level"] == 7]
    by_id = {n["id"]: n for n in nodes}
    for w in ways:
        if w["tags"].get("highway"):
            dlat = float(rng.uniform(-0.002, 0.002))
            for nid in w["node_ids"]:
                by_id[nid]["lat"] += dlat
    for node in nodes:
        if "name" in node["tags"]:
            kec = kecs[int(node["tags"]["name"].rsplit(" ", 1)[1].split("_")[0])]
            node["lat"] = float(rng.uniform(kec["minlat"], kec["maxlat"]))
            node["lon"] = float(rng.uniform(kec["minlon"], kec["maxlon"]))
    return nodes, ways
