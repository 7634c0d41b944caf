"""SparkSession factory.

One engine entry point (SURVEY.md §7.1 phase 0): every test, bench run and
driver invocation goes through :func:`get_spark` so the scale-relevant knobs
live in exactly one place.

Design notes for the 100 TB target (tested on local[N]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts when the
  real cluster sees skewed keys.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (or simply left to AQE's coalescing with a
  high initial value).
- Arrow enabled so every pandas UDF / ``applyInPandas`` crosses the
  JVM↔Python boundary in columnar batches, never row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp semantics are reproducible
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading as _threading
import time as _time

from pyspark.sql import SparkSession


def _local_cores() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


# read TIMESTAMP(NANOS) parquet columns as longs (sources.read_table)
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def get_spark(app_name: str = "cyber-etl-spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``extra_conf`` lets tests/bench override any config key
    (dots allowed via keyword splat of a dict).
    """
    cores = _local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(NANOS_AS_LONG, "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # isolate the table warehouse per process when asked (scripts/partest.py
    # shards the suite across JVMs; saveAsTable data must not collide)
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def nanos_as_long(spark: SparkSession) -> None:
    """Turn :data:`NANOS_AS_LONG` on for a session not built by
    :func:`get_spark` (the driver passes its own); once it is on this
    writes nothing, so concurrent queries never race on the setting."""
    if spark.conf.get(NANOS_AS_LONG, "false") != "true":
        spark.conf.set(NANOS_AS_LONG, "true")


def session_token(spark: SparkSession) -> str:
    """Session-lifetime cache key.

    Memoization caches (edge builds, shingle tables, backbones) must not
    key on ``id(spark)``: a garbage-collected session's address can be
    reused by a new session object whose executors no longer hold the old
    localCheckpoint blocks — a stale-alias hazard.  The application id is
    unique per SparkContext lifetime."""
    return spark.sparkContext.applicationId


class SessionMemo(dict):
    """Bounded memo dict for per-(session, dataset) build artifacts.

    Every memoization cache in the package (edge builds, shingle tables,
    backbones, BPE merge rounds, positional shingles) keys entries as
    ``(session_token(spark), sf_dir, ...)``.  A plain module-level dict
    never evicts: entries of a *stopped* session pin dead DataFrame
    plans (and their localCheckpoint RDD handles) forever, and a
    long-lived service cycling many datasets grows without bound — the
    r5 verdict's hygiene finding.

    Eviction happens on write, where the current session is known:

    - **dead-session purge**: PySpark allows one live SparkContext per
      process, so any existing entry whose leading token differs from
      the key being inserted belongs to a stopped session — dropped.
    - **size cap** (default 16 entries): oldest-inserted entries are
      dropped first, bounding the artifacts kept across many datasets
      within one session.

    Reads stay plain dict hits — no per-access overhead in the hot
    bench loop.

    **Build-cost visibility** (r12 verdict item #2): every memo call
    site uses the ``if key not in cache: cache[key] = build()`` idiom,
    so the wall time between a miss (``__contains__`` returning False)
    and the subsequent insert IS the build cost.  Both ends are
    recorded into the class-level ``BUILD_LOG`` (label → seconds,
    label = the key tuple minus session token and dataset dir), which
    bench.py publishes as a ``builds`` map next to ``queries`` — the
    amortized shared-artifact costs the min-of-2 warm methodology
    otherwise erases.  Lazy builds (plan-only, pinned by the first
    consumer) record their construction time only, by design.
    """

    BUILD_LOG: "dict[str, float]" = {}
    _MISS_AT: "dict[tuple, float]" = {}
    _LOG_LOCK = _threading.Lock()

    def __init__(self, cap: int = 16) -> None:
        super().__init__()
        self._cap = cap

    def __contains__(self, key) -> bool:  # type: ignore[override]
        hit = super().__contains__(key)
        if not hit and isinstance(key, tuple) and key:
            with SessionMemo._LOG_LOCK:
                SessionMemo._MISS_AT[(id(self), key)] = _time.perf_counter()
        return hit

    def __setitem__(self, key, value) -> None:
        # keys MUST be (session_token, ...) tuples: a non-tuple key would
        # make the dead-session purge compare k[0] against a character
        # (review r6 finding) — fail loudly instead of mis-evicting
        if not (isinstance(key, tuple) and key):
            raise TypeError(f"SessionMemo keys must be non-empty tuples, got {key!r}")
        tok = key[0]
        for stale in [k for k in self if k[0] != tok]:
            super().__delitem__(stale)
        # cap only gates NET growth: overwriting an existing key must not
        # evict an unrelated live entry (review r6 finding)
        if not super().__contains__(key):
            while len(self) >= self._cap:
                super().__delitem__(next(iter(self)))
        super().__setitem__(key, value)
        with SessionMemo._LOG_LOCK:
            t0 = SessionMemo._MISS_AT.pop((id(self), key), None)
        if t0 is not None:
            label = ":".join(str(x) for x in key[2:]) or "artifact"
            SessionMemo.BUILD_LOG[label] = round(_time.perf_counter() - t0, 4)

    # dict.update()/setdefault() are C-level and would bypass __setitem__
    # (entries inserted that way would evade both the purge and the cap) —
    # route them through the guarded path
    def update(self, *a, **kw) -> None:  # type: ignore[override]
        for k, v in dict(*a, **kw).items():
            self[k] = v

    def setdefault(self, key, default=None):  # type: ignore[override]
        if key not in self:
            self[key] = default
        return self[key]
