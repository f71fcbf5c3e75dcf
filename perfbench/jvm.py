"""Every private Spark access the benchmark makes, in one place.

Spark's public Python API gives job ids per job group
(``statusTracker().getJobIdsForGroup``) and the stage ids of a job
(``getJobInfo``). Everything else the traced run reports comes from
objects Spark does not expose to Python:

* stage metrics (executor run/CPU time, shuffle, spill, output bytes) from
  the in-process ``AppStatusStore``;
* per-operator SQL metrics from the ``SQLAppStatusStore``;
* Catalyst phase times from ``QueryExecution.tracker``;
* Python UDF profiles from the session's profiler collector;
* the Py4J gateway, to stop the JVM at exit.

Each function returns ``(value, None)`` on success or ``(None, reason)``
when a private call fails, so a Spark upgrade that moves one of these
turns the metric into "missing" instead of crashing the run.
"""

from __future__ import annotations

import re


def _fail(what: str, exc: BaseException):
    first_line = str(exc).splitlines()[0][:160] if str(exc) else ""
    return None, f"{what}: {type(exc).__name__}: {first_line}"


def _as_list(sc, scala_seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def stop_jvm(spark) -> None:
    """Stop the session, close the Py4J gateway and wait for the JVM process
    that pyspark launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def drain_listener_bus(sc, timeout_ms: int = 10_000):
    """Wait until the listener bus has delivered every event, so the status
    stores hold the jobs that have already returned to the caller."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
        return True, None
    except Exception as exc:  # noqa: BLE001 - any py4j/JVM failure
        return _fail("listenerBus.waitUntilEmpty", exc)


def stage_metrics(sc, stage_ids) -> tuple[dict | None, str | None]:
    """Sum of the stage-level task metrics over every attempt of the given
    stages: executor run/CPU time, input records, shuffle, spill, output."""
    keys = ("run_ms", "cpu_ns", "input_records", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "output_bytes", "tasks")
    tot = dict.fromkeys(keys, 0)
    try:
        store = sc._jsc.sc().statusStore()
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        for sid in stage_ids:
            for sd in _as_list(sc, store.stageData(int(sid), False, no_status,
                                                   False, no_quantiles)):
                tot["run_ms"] += sd.executorRunTime()
                tot["cpu_ns"] += sd.executorCpuTime()
                tot["input_records"] += sd.inputRecords()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += (
                    sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
                )
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["output_bytes"] += sd.outputBytes()
                tot["tasks"] += sd.numTasks()
        return tot, None
    except Exception as exc:  # noqa: BLE001
        return _fail("AppStatusStore.stageData", exc)


_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_SIZE_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_number(text: str) -> float | None:
    """Parse an SQL metric's display string. Sum metrics read '745,750';
    task-aggregated ones read 'total (min, med, max ...)\\n6.0 s (...)', of
    which the total is kept. Times are returned in ms, sizes in bytes."""
    if text is None:
        return None
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value * _SIZE_B.get(unit, 1)


def sql_node_metrics(spark, job_ids) -> tuple[list | None, str | None]:
    """(node name, metric name, value) for every SQL plan node of every SQL
    execution that ran one of ``job_ids``. AQE re-plans are reflected: the
    plan graph is the final adaptive plan."""
    job_ids = set(int(j) for j in job_ids)
    out = []
    try:
        sc = spark.sparkContext
        ss = spark._jsparkSession.sharedState().statusStore()
        for e in _as_list(sc, ss.executionsList()):
            ejobs = {int(j) for j in _as_list(sc, e.jobs().keySet())}
            if not ejobs & job_ids:
                continue
            eid = e.executionId()
            values = ss.executionMetrics(eid)
            for node in _as_list(sc, ss.planGraph(eid).allNodes()):
                for m in _as_list(sc, node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        num = _metric_number(v.get())
                        if num is not None:
                            out.append((node.name(), m.name(), num))
        return out, None
    except Exception as exc:  # noqa: BLE001
        return _fail("SQLAppStatusStore", exc)


def catalyst_ms(df) -> tuple[float | None, str | None]:
    """Plan ``df`` now and return its analysis + optimization + planning
    time from the QueryExecution tracker. A later ``collect`` on the same
    DataFrame reuses this plan; a ``write`` plans its command again."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                total += p.get().durationMs()
        return float(total), None
    except Exception as exc:  # noqa: BLE001
        return _fail("QueryExecution.tracker", exc)


def udf_profile_s(spark) -> tuple[float | None, str | None]:
    """Total time spent inside Python UDFs since the session started,
    from ``spark.sql.pyspark.udf.profiler=perf``."""
    try:
        stats = spark.profile.profiler_collector._perf_profile_results
        return float(sum(s.total_tt for s in stats.values())), None
    except Exception as exc:  # noqa: BLE001
        return _fail("profiler_collector._perf_profile_results", exc)
