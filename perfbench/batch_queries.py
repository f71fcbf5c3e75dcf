"""Three of the ``bench.py`` headline queries, run inside tile_pipeline.

``minhash_signatures`` (``operators.dedup``), ``embedding_topk``
(``operators.similarity``) and ``image_tile_join`` (``sources.images`` plus
a small ``spatial_join`` and the Python UDF boundary) are the layers that
neither the tile write path nor the search API reaches. They are called
through the registered ``__spark_entry__.queries()`` on seeded
``documents`` and ``embeddings`` tables the benchmark writes;
``image_tile_join`` reads the engine's fixed image fixture.

They run in the traced run only: no end-to-end metric covers them, and
leaving them out of the untraced run keeps its run time for the gated tile
passes. The traced run collects each query once and compares it with its
``oracle_sql()`` twin run by DuckDB on the same files, then times
``PASSES`` passes that write each query to a noop sink, in a seeded order
per pass; their spans give the ``q.*`` per-layer metrics.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from . import inputs, verify

QUERIES = ("minhash_signatures", "embedding_topk", "image_tile_join")
N_DOCS = 500  # the engine's sf0.01 test-data sizes
N_VECS = 500
PASSES = 2


def _prepare(ctx) -> str:
    """Write the seeded tables; return the directory the queries read."""
    import pyarrow.parquet as pq

    sf_dir = os.path.join(ctx.work, "batch_sf")
    os.makedirs(sf_dir)
    inputs.documents(ctx.seed, N_DOCS).to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False)
    pq.write_table(inputs.embeddings(ctx.seed, N_VECS),
                   os.path.join(sf_dir, "embeddings.parquet"))
    ctx.inputs.update(documents=N_DOCS, embeddings=N_VECS)
    return sf_dir


def _oracle(sf_dir: str, work: str, sqls: dict) -> dict:
    """Each query's DuckDB twin over views of the same files."""
    import duckdb

    con = duckdb.connect(config={"threads": 2, "temp_directory": os.path.join(work, "duck")})
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
        return {q: con.execute(sqls[q]).fetchdf() for q in QUERIES}
    finally:
        con.close()


def run(ctx) -> None:
    """Check each query against DuckDB, then time ``PASSES`` passes."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("inputs.batch", "benchmark"):
        sf_dir = _prepare(ctx)
    with tr.span("oracle.batch", "benchmark"):
        import __spark_entry__ as entry

        fns = entry.queries()
        # the three oracle_sql() entries, built alone: the whole dict takes
        # tens of seconds to build
        sqls = {"minhash_signatures": entry.sql_minhash(),
                "embedding_topk": entry.sql_embedding_topk(),
                "image_tile_join": entry.sql_image_tile_join()}
        want = _oracle(sf_dir, ctx.work, sqls)
    for q in QUERIES:
        def check(q=q):
            got = fns[q](spark, sf_dir).toPandas()
            ctx.check(verify.check_table(q, got, want[q]))
        with tr.span(f"q.{q}.check", "benchmark"):
            ctx.attempt(check)

    rng = np.random.default_rng([ctx.seed, 6])
    for p in range(PASSES):
        for q in rng.permutation(QUERIES):
            def one(q=str(q)):
                with tr.span(f"q.{q}", "batch", op=p):
                    fns[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
            ctx.attempt(one)


def layers(ctx) -> dict:
    tr = ctx.tracer
    med = statistics.median
    out = {}
    for q in QUERIES:
        spans = tr.named(f"q.{q}")
        if not spans:
            continue
        out[f"q.{q}.s"] = med(s["dur"] for s in spans)
        out[f"q.{q}.jobs"] = med(len(tr.jobs_of(s)) for s in spans)
        cpu = [tr.stage_sum(s, "cpu_ns") for s in spans]
        if all(c is not None for c in cpu):
            out[f"q.{q}.exec_cpu_s"] = med(cpu) / 1e9
    return out
