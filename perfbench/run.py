"""End-to-end benchmark of the cyber_etl_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 18 --trace 0

The run generates its input tables (``perfbench/datagen.py``, the same
tables for every run at one scale), then drives the engine only through its
public entry points:
``session.get_spark``, ``sources.load_all`` and
``QUERIES[name].builder(spark, sf_dir)`` followed by a ``noop`` write.

Per workload (``perfbench/workloads.py``) one run does, in order:

1. set-up, timed from process start: imports, JVM launch, a session with
   the tables loaded and one shuffle job done;
2. a cold pass, the first pass in that fresh session;
3. an output check outside the timed region, which also warms the session
   up: every query against its DuckDB oracle with
   ``cyber_etl_spark.testing.compare_query``;
4. a fixed number of warm timed passes: ``--seconds`` divided by the
   workload's per-pass estimate, so that the count (and with it the
   quantile ``query_p75_s`` reads) does not depend on the speed of the code
   measured; a traced run alternates untraced and traced passes.

The seed fixes the query order inside each pass.  Every query is counted
as failed if it raises, if its output differs from its oracle, or if it
leaves a ``spark.sql.*`` setting of the session changed.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` installs ``perfbench/spans.py`` and prints the per-layer
metrics.  Progress goes to stderr; the last stdout line is one JSON object.
A record with every query latency, job count and span is written under
``.perfbench/out/``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import asdict, dataclass, field  # noqa: E402

import datagen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def log(*parts) -> None:
    elapsed = time.perf_counter() - _T_PROCESS
    print(f"[perfbench {elapsed:6.1f}s]", *parts, file=sys.stderr, flush=True)


@dataclass
class QueryRun:
    name: str
    latency_s: float
    build_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: int = 0
    exec_jobs: int = 0
    error: str = ""
    conf_changed: dict = field(default_factory=dict)
    phases_ms: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.error and not self.conf_changed


@dataclass
class PassRun:
    label: str
    traced: bool
    queries: list[QueryRun]
    memo_lookups: int = 0
    memo_hits: int = 0
    jobs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(q.latency_s for q in self.queries)


class Bench:
    def __init__(self, names, data_dir: str, seed: int, tracer: spans.Tracer, tmp: str):
        self.names = list(names)
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.tmp = tmp
        self.spark = None
        self.setup_times: dict = {}
        self.passes: list[PassRun] = []
        self.checks: list[QueryRun] = []

    # -- session -------------------------------------------------------------
    def setup(self, t0: float) -> None:
        """A session with tables loaded and warm-ups done; ``t0`` is process
        start, moved later by the time the input generation took."""
        from cyber_etl_spark.session import get_spark
        from cyber_etl_spark.sources.catalog import load_all

        t1 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            **{
                # the status store must keep every job of a pass until it
                # is counted; a pass runs a few hundred jobs at most
                "spark.ui.retainedJobs": "5000",
                "spark.ui.retainedStages": "20000",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        t2 = time.perf_counter()
        tables = load_all(self.spark, self.data_dir)
        t3 = time.perf_counter()
        tables["lineitem"].groupBy("l_returnflag").count().count()
        t4 = time.perf_counter()
        self.setup_times = {
            "setup_s": t4 - t0, "get_spark_s": t2 - t1, "load_all_s": t3 - t2, "warmup_s": t4 - t3
        }
        log(f"setup: {t4 - t0:.2f}s")

    def job_floor_ms(self, n: int = 7) -> float:
        for _ in range(2):
            self.spark.range(10).count()
        samples = []
        for _ in range(n):
            t = time.perf_counter()
            self.spark.range(10).count()
            samples.append((time.perf_counter() - t) * 1000)
        return statistics.median(samples)

    def _sql_conf(self) -> dict:
        return {k: v for k, v in self.spark.conf.getAll.items() if k.startswith("spark.sql.")}

    def _restore_conf(self, before: dict, after: dict) -> dict:
        """Settings a query changed, put back so that the leak (counted as
        a failure of that query) cannot change the speed of later ones."""
        changed = {}
        for k in before.keys() | after.keys():
            if before.get(k) != after.get(k):
                changed[k] = [before.get(k), after.get(k)]
                if k in before:
                    self.spark.conf.set(k, before[k])
                else:
                    self.spark.conf.unset(k)
        return changed

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every job event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def close(self) -> None:
        """Stop the session and wait for the JVM this process launched."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            proc.wait(timeout=60)

    # -- passes --------------------------------------------------------------
    def run_query(self, name: str, group: str, traced: bool) -> QueryRun:
        from cyber_etl_spark.plans import QUERIES

        sc = self.spark.sparkContext
        tr = self.tracer
        before = self._sql_conf()
        run = QueryRun(name, 0.0)
        tr.query = f"{group}/{name}"
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{group}:{name}:build", name)
            with tr.span("plans.build"):
                df = QUERIES[name].builder(self.spark, self.data_dir)
            t1 = time.perf_counter()
            run.build_s = t1 - t0
            if traced:
                with tr.span("catalyst"):
                    run.phases_ms = layers.catalyst_phases_ms(df)
            sc.setJobGroup(f"{group}:{name}:exec", name)
            t2 = time.perf_counter()
            with tr.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
            run.exec_s = time.perf_counter() - t2
        except Exception as exc:  # a failing query is counted, the pass goes on
            run.error = f"{type(exc).__name__}: {exc}"[:2000]
            log(f"{name} raised: {run.error[:300]}")
        run.latency_s = time.perf_counter() - t0
        tr.query = ""
        run.conf_changed = self._restore_conf(before, self._sql_conf())
        if run.conf_changed:
            log(f"{name} changed session conf: {run.conf_changed}")
        return run

    def run_pass(self, label: str, traced: bool) -> PassRun:
        order = self.names[:]
        self.rng.shuffle(order)
        tr = self.tracer
        tr.active = traced
        lookups, hits = tr.memo_lookups, tr.memo_hits
        runs = [self.run_query(n, label, traced) for n in order]
        tr.active = False
        p = PassRun(label, traced, runs, tr.memo_lookups - lookups, tr.memo_hits - hits)
        self._drain()
        tracker = self.spark.sparkContext.statusTracker()
        ids = []
        for r in runs:
            b = list(tracker.getJobIdsForGroup(f"{label}:{r.name}:build"))
            e = list(tracker.getJobIdsForGroup(f"{label}:{r.name}:exec"))
            r.build_jobs, r.exec_jobs = len(b), len(e)
            ids += b + e
        if traced:
            p.jobs = layers.job_stats(self.spark, ids)
        self.passes.append(p)
        log(f"pass {label}: {p.wall_s:.3f}s")
        return p

    def check(self) -> None:
        """Compare every query's output with its DuckDB oracle (untimed)."""
        from cyber_etl_spark.testing import compare_query

        order = self.names[:]
        self.rng.shuffle(order)
        t_check = time.perf_counter()
        for name in order:
            before = self._sql_conf()
            run = QueryRun(name, 0.0)
            t0 = time.perf_counter()
            try:
                res = compare_query(self.spark, self.data_dir, name)
                if not res.ok:
                    run.error = f"oracle mismatch: {res.detail}"[:2000]
            except Exception as exc:
                run.error = f"{type(exc).__name__}: {exc}"[:2000]
            run.latency_s = time.perf_counter() - t0
            run.conf_changed = self._restore_conf(before, self._sql_conf())
            if not run.ok:
                log(f"check {name} failed: {run.error[:300]} {run.conf_changed}")
            self.checks.append(run)
        log(f"check: {time.perf_counter() - t_check:.3f}s")


def warm_passes(seconds: float, pass_estimate_s: float) -> int:
    """Number of warm timed passes: ``seconds`` of passes at the workload's
    fixed per-pass estimate, at least two (so that a traced run has an
    untraced and a traced one)."""
    return max(2, round(seconds / pass_estimate_s))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ap.add_argument(
        "--data-dir", default=None,
        help="read the tables from this directory instead of generating them "
        "(to compare the generated tables with another copy of the layout)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("cyber_etl_spark") is None:
        log(f"no cyber_etl_spark package under {root}; run from the repository root")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    for sub in ("out", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.makedirs(tmp)
    try:
        return run_workload(args, spec, work, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_workload(args, spec: dict, work: str, tmp: str) -> int:
    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf
    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")

    t = time.perf_counter()
    data_dir = args.data_dir or datagen.ensure(os.path.join(work, "data"), sf)
    datagen_s = time.perf_counter() - t

    tracer = spans.Tracer()
    if args.trace:
        spans.install(tracer)
    import cyber_etl_spark.plans  # noqa: F401  (registers QUERIES)

    bench = Bench(wl.queries, data_dir, args.seed, tracer, tmp)
    bench.setup(_T_PROCESS + datagen_s)
    floor_ms = bench.job_floor_ms()

    cold = bench.run_pass("cold", traced=bool(args.trace))
    bench.check()

    # warm timed passes; a traced run interleaves untraced and traced
    # passes as untraced, traced, traced, untraced, ... so that warm-up
    # drift over the run falls on both sides of trace.overhead_frac
    warm = [
        bench.run_pass(f"warm{i}", traced=bool(args.trace) and i % 4 in (1, 2))
        for i in range(warm_passes(args.seconds, wl.pass_estimate_s))
    ]
    run_level = {
        "pin.storage_mb": layers.storage_mb(bench.spark),
        "spark.job_floor_ms": floor_ms,
    }
    heap_mb = layers.heap_mb(bench.spark)

    bench.close()
    log("session closed")

    runs = [q for p in bench.passes for q in p.queries] + bench.checks
    failed = sum(not q.ok for q in runs)
    untraced = [p for p in warm if not p.traced]
    traced = [p for p in warm if p.traced]
    context = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": sf,
        "cores": cores,
        "spark.job_floor_ms": floor_ms,
        "timed_passes": len(untraced),
        "datagen_s": datagen_s,
        "data_dir": args.data_dir or "generated",
    }
    if args.trace:
        section = spec["per_layer"]
        values = layers.per_layer(bench, cold, traced, untraced, run_level, section, tracer)
    else:
        section = spec["end_to_end"]
        samples = [q.latency_s for p in untraced for q in p.queries]
        context["query_p75_samples"] = len(samples)
        values = {
            "setup_s": bench.setup_times["setup_s"],
            "pass_s": statistics.median(p.wall_s for p in untraced),
            "query_p75_s": statistics.quantiles(samples, n=4, method="inclusive")[2],
            "cold_pass_s": cold.wall_s,
            "ok_frac": 1.0 - failed / len(runs),
            "heap_mb": heap_mb,
        }
    log("context", json.dumps(context))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}

    record = {
        "context": context,
        "values": values,
        "setup": bench.setup_times,
        "passes": [asdict(p) for p in bench.passes],
        "checks": [asdict(q) for q in bench.checks],
    }
    if args.trace:
        record["spans"] = [asdict(s) for s in tracer.spans]
        record["memo_builds"] = [asdict(b) for b in tracer.builds]
    out = os.path.join(work, "out", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh)

    log("record written")
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
