"""api_serve: a closed loop of one client against ``SparkSearcher``.

Setup builds the search index from a seeded synthetic OSM extract with
``plans.build_pipeline.build_all`` (7 lineage stages: the extract's admin
relations are left out to keep a run short) and opens a
``SparkSearcher`` on it, so a layout change that speeds reads but slows the
build shows in ``setup_s``. A request is one call plus ``collect``.
Requests come in cycles of the four endpoints in a fixed order, so every
run sees the same endpoint mix; the seed picks each request's target place,
typo, prefix or probe point (see ``_requests``). One timed operation is one
cycle: a client asking each endpoint once, so every endpoint's latency
counts in ``op_p50_ms``, the median cycle time.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from . import inputs, verify
from .trace import dir_bytes

N_STREETS = 10
N_POIS_PER_KEC = 20
ENDPOINTS = ("search", "autocomplete", "reverse", "nearby")
K = 10
RADIUS_KM = 5.0
WARMUP_CYCLES = 2


def _misspell(rng, name: str) -> str:
    """Replace one or two letters (never the first) of one seeded name word
    of five or more letters, like the reference's goldens "Duniu Fsntaso"
    and "Kebun Bibatqng Raginan". The place's id token stays intact."""
    words = name.split()
    long_ = [i for i, w in enumerate(words[:-1]) if len(w) >= 5]
    i = long_[int(rng.integers(len(long_)))]
    w = list(words[i])
    n_edits = 2 if len(w) >= 7 else 1
    for pos in rng.choice(np.arange(1, len(w)), size=n_edits, replace=False):
        w[pos] = str(rng.choice([c for c in "abcdefghijklmnopqrstuvwxyz" if c != w[pos].lower()]))
    words[i] = "".join(w)
    return " ".join(words)


def _prefix_query(rng, name: str) -> tuple[str, str]:
    """(query, phrase): the POI name without its id token, its last word cut
    to a prefix of three or more letters, like the reference's "Monumen
    Nasi" and "Taman Min"; ``phrase`` is the uncut name."""
    words = name.split()[:-1]
    last = words[-1]
    cut = int(rng.integers(3, len(last)))
    return " ".join(words[:-1] + [last[:cut]]), " ".join(words)


def _requests(seed: int, places):
    """Endless seeded request stream: (endpoint, kwargs, expected).

    Every cycle sends each endpoint once: the reference load-tests all four
    endpoints with the same k6 profile. ``search`` sends a place's full name
    with one word misspelled; ``autocomplete`` a name prefix cut inside its
    last word; ``reverse`` and ``nearby`` probe near a place, ``nearby``
    with a seeded place-type filter and the API's default radius and k."""
    rng = np.random.default_rng([seed, 3])
    pois = places[places["type"] != "residential"]
    types = sorted(t for t in pois["type"].unique() if t)
    while True:
        for ep in ENDPOINTS:
            if ep in ("search", "autocomplete"):
                target = pois.iloc[int(rng.integers(len(pois)))]
                if ep == "search":
                    yield ep, {"query": _misspell(rng, target["name"])}, int(target["id"])
                else:
                    q, phrase = _prefix_query(rng, target["name"])
                    n_named = int(pois["name"].str.startswith(phrase + " ").sum())
                    yield ep, {"query": q}, (phrase, min(K, n_named))
            else:
                # probes land within ~0.5 km of a seeded place (of the
                # filtered type, for nearby), so each request's kNN rounds
                # do not hinge on how far from every place the seed threw it
                t = str(rng.choice(types)) if ep == "nearby" else None
                pool = places if t is None else places[places["type"] == t]
                near = pool.iloc[int(rng.integers(len(pool)))]
                lat = float(near["lat"] + rng.uniform(-0.005, 0.005))
                lon = float(near["lon"] + rng.uniform(-0.005, 0.005))
                if ep == "reverse":
                    yield ep, {"lat": lat, "lon": lon}, verify.expected_knn(
                        places, lat, lon, 1)
                else:
                    yield ep, {"lat": lat, "lon": lon, "place_type": t}, \
                        verify.expected_knn(places, lat, lon, K, RADIUS_KM, t)


def _call(searcher, ep: str, kw: dict):
    if ep == "search":
        return searcher.search(kw["query"], k=K)
    if ep == "autocomplete":
        return searcher.autocomplete(kw["query"], k=K)
    if ep == "reverse":
        return searcher.reverse_geocode(kw["lat"], kw["lon"])
    return searcher.nearby_places(kw["lat"], kw["lon"],
                                  feature=f"type = '{kw['place_type']}'",
                                  radius_km=RADIUS_KM, k=K)


def _check(ep: str, rows: list[dict], expected) -> list[str]:
    if ep == "search":
        return verify.check_target(rows, expected, K)
    if ep == "autocomplete":
        return verify.check_prefix_page(rows, *expected)
    return verify.check_knn(rows, expected)


def run(ctx) -> dict:
    from osm_search_spark.api import SparkSearcher
    from osm_search_spark.plans import build_pipeline, lineage

    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(ctx.work, "index")

    run_stage = lineage.run_stage
    if tr.enabled:
        def traced_stage(spark_, base_, stage, *a, **kw):
            with tr.span(f"stage.{stage}", "plans"):
                return run_stage(spark_, base_, stage, *a, **kw)
        lineage.run_stage = traced_stage
    try:
        with tr.span("inputs", "benchmark"):
            nodes, ways = inputs.osm_tables(ctx.seed, N_STREETS, N_POIS_PER_KEC)
            nd = spark.createDataFrame(
                nodes, "id long, lat double, lon double, tags map<string,string>")
            wd = spark.createDataFrame(
                ways, "id long, node_ids array<long>, tags map<string,string>")
        with tr.span("setup", "plans") as sp:
            t0 = time.perf_counter()
            with tr.span("build_all", "plans"):
                build_pipeline.build_all(spark, base, wd, nd)
            t1 = time.perf_counter()
            with tr.span("SparkSearcher", "api"):
                searcher = SparkSearcher(spark, base)
            t2 = time.perf_counter()
            setup_s = t2 - t0
        if tr.enabled:
            sp["attrs"]["bytes_written"] = dir_bytes(base)
    finally:
        lineage.run_stage = run_stage

    with tr.span("oracle", "benchmark"):
        places = searcher.places.select("id", "lat", "lon", "type", "name").toPandas()
        places["type"] = places["type"].fillna("")
    ctx.inputs.update(nodes=len(nodes), ways=len(ways), places=len(places))
    stream = _requests(ctx.seed, places)
    by_ep: dict[str, list[float]] = {ep: [] for ep in ENDPOINTS}

    def one_request(i: int, traced: bool) -> float:
        ep, kw, expected = next(stream)
        t0 = time.perf_counter()
        with tr.span(ep, "api", op=i) as rsp:
            rsp["attrs"]["traced"] = traced
            with tr.span("call", "api", op=i, on=traced):
                df = _call(searcher, ep, kw)
            if traced:
                with tr.span("plan", "engine", op=i) as psp:
                    psp["attrs"]["catalyst_ms"] = ctx.catalyst_ms(df, f"api.{ep}.catalyst_ms")
            with tr.span("collect", "api", op=i, on=traced):
                rows = [r.asDict() for r in df.collect()]
        dt = time.perf_counter() - t0
        with tr.span("verify", "benchmark", op=i):
            ctx.check(_check(ep, rows, expected))
        if not traced and i >= 0:
            by_ep[ep].append(dt)
        return dt

    # untraced warm-up cycles: verified, not timed; after one, the next
    # cycle still ran 10-25% slower than the one after it
    warm = [ctx.attempt(lambda: one_request(-1, False))
            for _ in range(WARMUP_CYCLES * len(ENDPOINTS))]
    # whole timed cycles, at least one; a cycle counts only when all of
    # its requests succeeded
    n = len(ENDPOINTS)
    times = ctx.measure(one_request, group=n, min_groups=1)
    cycles = [sum(times[c:c + n]) for c in range(0, len(times), n)
              if None not in times[c:c + n]]
    ok = [t for t in times if t is not None]
    res = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(cycles) * 1000.0,
    }
    ctx.record.update(
        build_s=t1 - t0, searcher_init_s=t2 - t1, request_s=ok, warmup_request_s=warm,
        cycle_s=cycles, requests_per_s=len(ok) / sum(ok),
        api_p50_ms=statistics.median(ok) * 1000.0,
        **{f"{ep}_p50_ms": statistics.median(v) * 1000.0 for ep, v in by_ep.items() if v},
    )
    return res


def _ns_to_ms(ns: float | None) -> float | None:
    return None if ns is None else ns / 1e6


def layers(ctx) -> dict:
    tr = ctx.tracer
    med = statistics.median
    out = {}
    for ep in ENDPOINTS:
        reqs = [s for s in tr.named(ep) if s["attrs"].get("traced")]
        kids = {s["id"]: {c["name"]: c for c in tr.spans if c["parent"] == s["id"]}
                for s in reqs}

        def m(f):
            vals = [v for v in (f(s, kids[s["id"]]) for s in reqs) if v is not None]
            return med(vals) if vals else None

        out[f"api.{ep}.call_ms"] = m(lambda s, k: k["call"]["dur"] * 1000.0)
        out[f"api.{ep}.collect_ms"] = m(lambda s, k: k["collect"]["dur"] * 1000.0)
        out[f"api.{ep}.jobs"] = m(lambda s, k: len(tr.jobs_of(s)))
        out[f"api.{ep}.catalyst_ms"] = m(lambda s, k: k["plan"]["attrs"].get("catalyst_ms"))
        out[f"api.{ep}.exec_cpu_ms"] = m(lambda s, k: _ns_to_ms(tr.stage_sum(s, "cpu_ns")))
    build = tr.named("build_all")
    if build:
        b = build[0]
        out["build.s"] = b["dur"]
        out["build.jobs"] = len(tr.jobs_of(b))
        out["build.bytes_written"] = tr.named("setup")[0]["attrs"].get("bytes_written")
        for s in tr.spans:
            if s["name"].startswith("stage."):
                out[f"build.{s['name']}_s"] = s["dur"]
    init = tr.named("SparkSearcher")
    if init:
        out["searcher.init_s"] = init[0]["dur"]
    return out
