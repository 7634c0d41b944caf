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

import functools as _functools
import inspect as _inspect
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

    Keys are ``(session_token(spark), sf_dir, ...)`` tuples.  A plain
    module-level dict never evicts: entries of a *stopped* session pin
    dead DataFrame plans (and their localCheckpoint RDD handles) forever,
    and a long-lived service cycling many datasets grows without bound.

    Eviction happens on write, where the current session is known:

    - **dead-session purge**: PySpark allows one live SparkContext per
      process, so any existing entry whose leading token differs from
      the key being inserted belongs to a stopped session — dropped.
    - **size cap** (default 16 entries): oldest-inserted entries are
      dropped first, bounding the artifacts kept across many datasets
      within one session.

    :meth:`get_or_build` is the one miss path (normally reached through
    :func:`session_memo`).  A hit is one membership probe and no lock; a
    miss serializes builders of the same key, so a build runs once even
    under the threaded oracle sweep.  Each build's *exclusive* wall time
    (its own time minus the builds nested inside it) is recorded in the
    class-level ``BUILD_LOG`` under ``basename(sf_dir):tag:params``;
    bench.py publishes it as the ``builds`` map.  Lazy builds (plan-only,
    pinned by the first consumer) record their construction time only.
    """

    BUILD_LOG: "dict[str, float]" = {}
    # per thread: nested-build seconds of each build in progress
    _BUILDING = _threading.local()

    def __init__(self, cap: int = 16) -> None:
        super().__init__()
        self._cap = cap
        self._guard = _threading.Lock()
        self._locks: "dict[tuple, list]" = {}  # key -> [lock, waiters]

    def get_or_build(self, key, build):
        """``self[key]``, calling ``build()`` and inserting on a miss."""
        if key in self:
            try:
                return dict.__getitem__(self, key)
            except KeyError:  # evicted between probe and read
                pass
        with self._guard:
            entry = self._locks.setdefault(key, [_threading.Lock(), 0])
            entry[1] += 1
        try:
            with entry[0]:
                # unhooked re-check: one traced probe per call
                if dict.__contains__(self, key):
                    return dict.__getitem__(self, key)
                stack = SessionMemo._BUILDING.__dict__.setdefault("stack", [])
                stack.append(0.0)
                t0 = _time.perf_counter()
                try:
                    value = build()
                finally:
                    incl = _time.perf_counter() - t0
                    nested = stack.pop()
                    if stack:
                        stack[-1] += incl
                self[key] = value
                sf = os.path.basename(str(key[1]).rstrip("/"))
                label = ":".join(map(str, (sf, *key[2:])))
                SessionMemo.BUILD_LOG[label] = round(incl - nested, 4)
                return value
        finally:
            with self._guard:
                entry[1] -= 1
                if not entry[1]:
                    del self._locks[key]

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


def session_memo(f):
    """Memoize ``f(spark, sf_dir, *params)`` per (session, dataset,
    params) in its own :class:`SessionMemo`, exposed as ``f.memo``.

    The key is ``(session_token(spark), sf_dir, f.__name__, *params)``
    with defaults applied, so ``f(s, d)`` and ``f(s, d, default)`` share
    one entry."""
    sig = _inspect.signature(f)
    memo = SessionMemo()

    @_functools.wraps(f)
    def memoized(spark, sf_dir, *args, **kwargs):
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        params = tuple(bound.arguments.values())[2:]
        key = (session_token(spark), sf_dir, f.__name__, *params)
        return memo.get_or_build(key, lambda: f(spark, sf_dir, *args, **kwargs))

    memoized.memo = memo
    return memoized
