"""Per-layer readings of a traced run.

Spark-side numbers come from the driver's status store through py4j, which
works with the UI disabled: per job its submission and completion time and
stage ids, per stage its task count, executor run and CPU time, shuffle
bytes and spill.  Catalyst phase times come from the query execution's
planning tracker.  Python-side numbers come from the spans of
``perfbench/spans.py``.

Metrics are per pass.  Warm ones are the mean over the traced warm passes;
the ``operators.<module>.self_s``, memo-build, ``*_cold`` and ``pin.cold_*``
metrics are read on the cold pass, where shared artifacts are built.
"""

from __future__ import annotations

import gc
import statistics
import time
from collections import defaultdict

import spans

_MB = float(1 << 20)
# per-layer metric -> the per-pass reading it reports, taken on the cold passes
_COLD = {
    "session.memo_build_excl_s": "session.memo_build_excl_s",
    "session.memo_build_incl_s": "session.memo_build_incl_s",
    "session.memo_hit_ratio_cold": "session.memo_hit_ratio",
    "pin.cold_calls": "pin.calls",
    "pin.cold_s": "pin.s",
}


def catalyst_phases_ms(df) -> dict:
    """Analysis, optimization and planning ms of ``df``'s query execution
    (planning is forced here; the write plans its own command again)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _as_list(spark, seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def job_stats(spark, job_ids) -> dict:
    """Totals over ``job_ids`` from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    intervals, stage_ids = [], set()
    for j in job_ids:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        stage_ids.update(_as_list(spark, jd.stageIds()))
    out = dict.fromkeys(
        ("tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"),
        0.0,
    )
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001  a stage the store never saw start
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["tasks"] += st.numTasks()
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
    out["jobs"] = len(job_ids)
    out["job_s"] = spans.union_length(intervals)
    return out


def storage_mb(spark) -> float:
    """Block-manager storage (memory and disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


def heap_mb(spark) -> float:
    """Driver JVM heap in use after a full collection.  In local mode the
    block manager's memory store lives on this heap, so pinned blocks show
    here, as does any driver-side state the engine keeps."""
    rt = spark._jvm.Runtime.getRuntime()
    # a few rounds: the context cleaner frees shuffle and broadcast blocks
    # of collected objects asynchronously, after each collection
    for _ in range(4):
        gc.collect()  # release the py4j handles of dead Python-side frames
        spark._jvm.System.gc()
        time.sleep(0.25)
    return (rt.totalMemory() - rt.freeMemory()) / _MB


def _pass_metrics(p, idx: list[int], span_list, selfs, builds) -> dict:
    m: dict = defaultdict(float)
    for q in p.queries:
        m["plans.build_s"] += q.build_s
        m["plans.exec_s"] += q.exec_s
        m["plans.build_jobs"] += q.build_jobs
        m["plans.exec_jobs"] += q.exec_jobs
        for ph, ms in q.phases_ms.items():
            m[f"catalyst.{ph}_ms"] += ms
    for k, v in p.jobs.items():
        m[f"spark.{k}"] = v
    if p.jobs:
        m["spark.outside_jobs_s"] = p.wall_s - p.jobs["job_s"]
    for i in idx:
        s = span_list[i]
        if s.name == "plans.build":
            m["plans.build_self_s"] += selfs[i]
        elif s.name == "pin":
            m["pin.calls"] += 1
            m["pin.s"] += s.end - s.start
        elif s.name.startswith("graph."):
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.self_s"] += selfs[i]
        elif s.name.startswith("operators."):
            m[f"{s.name.rsplit('.', 1)[0]}.self_s"] += selfs[i]
            m["operators.warm_self_s"] += selfs[i]
        elif s.name.startswith("pipeline."):
            m["pipeline.self_s"] += selfs[i]
    m["session.memo_lookups"] = p.memo_lookups
    m["session.memo_hit_ratio"] = p.memo_hits / p.memo_lookups if p.memo_lookups else 0.0
    excl, incl = spans.build_times([b for b in builds if b.query.startswith(p.label + "/")])
    m["session.memo_build_excl_s"], m["session.memo_build_incl_s"] = excl, incl
    return m


def _mean(dicts: list[dict], name: str) -> float:
    return statistics.fmean(d.get(name, 0.0) for d in dicts)


def per_layer(bench, cold, traced, untraced, run_level: dict, spec, tracer) -> dict:
    """Every metric named in ``spec`` (BENCHMARK.json ``per_layer``);
    ``run_level`` holds the readings taken once per run."""
    selfs = spans.self_times(tracer.spans)
    by_pass = defaultdict(list)
    for i, s in enumerate(tracer.spans):
        by_pass[s.query.split("/", 1)[0]].append(i)
    per = lambda ps: [  # noqa: E731
        _pass_metrics(p, by_pass[p.label], tracer.spans, selfs, tracer.builds) for p in ps
    ]
    warm_m, cold_m = per(traced), per([cold])
    fixed = {
        **run_level,
        "session.get_spark_s": bench.setup_times["get_spark_s"],
        "sources.load_all_s": bench.setup_times["load_all_s"],
        "trace.overhead_frac": statistics.median(p.wall_s for p in traced)
        / statistics.median(p.wall_s for p in untraced)
        - 1.0,
    }
    out = {}
    for metric in spec:
        name = metric["name"]
        if name in fixed:
            out[name] = fixed[name]
        elif name in _COLD:
            out[name] = _mean(cold_m, _COLD[name])
        elif name.startswith("operators.") and name != "operators.warm_self_s":
            out[name] = _mean(cold_m, name)
        else:
            out[name] = _mean(warm_m, name)
    return out
