"""Graph algorithms as DataFrame-iterative computations.

GraphFrames isn't available in this environment, and the reference's
algorithms ran inside Neo4j GDS (gds.articleRank / gds.louvain, writeup
pp.4-5, SURVEY.md §2.11 Q6/Q7).  Each algorithm here is a loop of
join + hash-aggregation steps over (src, dst) edge DataFrames — the same
dataflow a Pregel superstep compiles to (Pregelix: a superstep is a join
of vertex state with messages followed by a group-by).

Superstep driver.  Every loop is a step function plus (optionally) a stop
test, run by :class:`_Supersteps`, which alone makes the physical-plan
choices — the join strategy is not part of the algorithm:

- **Broadcast or shuffle.**  Each loop states one bound on the rows its
  per-step state can ever hold (|V|, |S|·|V|, |E|, …).  Under
  ``_BCAST_MAX_ROWS`` every state-side join is hinted broadcast
  (``bx``): checkpointed state frames carry no statistics, so they would
  otherwise plan SortMergeJoins that re-exchange the edge side every
  superstep, and checkpoint jobs bypass AQE's broadcast conversion.
  Past the cap the plain shuffle join runs (AQE can still convert it).
- **Width.**  Under the cap the step's output, and any frame the step
  passes through ``nw``, is coalesced to ``_width(edge rows)`` tasks —
  the plan-local replacement for mutating the session-global
  ``spark.sql.shuffle.partitions``.  ``coalesce`` is narrow: right after
  a shuffle it merges reduce partitions within the same stage, so shuffle
  bytes are unchanged and only the scheduling floor drops (32 near-empty
  reduce tasks per groupBy per superstep was 2x wall on q43 at sf0.1).
  Past the cap nothing is coalesced, so an aggregate's hash partitioning
  feeds the next superstep's shuffle join exchange-free.
- **AQE scope.**  Loops whose steps are only hinted-broadcast joins and
  aggregations (pagerank, bfs, multi-bfs, ktruss, sssp, hits,
  eigenvector) run their broadcast path with AQE off (:func:`_aqe_off`);
  past the cap — the 100 TB regime — AQE stays on for skew handling.
- **Pinning and convergence.**  Every step's output is pinned with
  ``localCheckpoint`` — otherwise the plan doubles every superstep and
  the driver OOMs planning, not computing; and a forced broadcast of an
  uncheckpointed chain is quadratic (18 jobs / 7.2 s vs 2.9 s for 4 LPA
  supersteps at sf0.1).  A loop with a stop test pins lazily and the one
  action that computes the test's measure (a count, or an ``Observation``
  riding that count) materializes the pin: one job per superstep instead
  of a pin job plus a count job (r12/r13).  A loop without one pins
  eagerly; if its step references the state once (``chain``), past the
  cap it pins only every ``_CHAIN`` steps — a few chained shuffle-join
  supersteps plan fine and run as one job.  Loops that reference their
  state several times per step go through :func:`_plan_barrier` instead
  of the pin every few steps (CC 6, Luby 2).

Determinism:
- connected_components / label_propagation are integer-valued with min /
  rank-based tie-breaks → bit-deterministic at any partitioning, so the
  join strategy cannot perturb them.
- pagerank/articlerank sum doubles per node; shuffle order perturbs the
  last ulps only, so results are compared rounded (1e-6).

Scale: every superstep shuffles O(|E|) rows keyed by vertex id.  At
100 TB-graph scale the win comes from (a) pre-partitioning both the edge
list and the rank/label state by vertex id so each superstep co-locates,
(b) AQE skew-splitting for celebrity vertices.
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.quantiles import _local_values_df

# Derived tables (symmetrized edges, degree/share tables) are pure
# functions of their input edge DataFrame and get rebuilt by every
# algorithm that shares a graph — memoize them per edge-DataFrame.
# Weak keys: when a caller's edge frame is garbage collected the entry
# dies with it, so an unrelated frame can never alias a stale result.
_DERIVED: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()

# Forced-broadcast ceiling for per-superstep state vectors (ranks/labels).
# 1 M rows ≈ 16-24 MB serialized — comfortably under executor overhead
# budgets.  Beyond this the loop falls back to a shuffle join and AQE's
# dynamic broadcast conversion takes over if the vector is actually small;
# a 10 M-row forced broadcast (hundreds of MB, re-shipped every superstep)
# OOMs real executors long before the driver notices.
_BCAST_MAX_ROWS = 1_000_000

# Past the cap, loops that reference their state once per step pin every
# _CHAIN steps (each eager checkpoint of a large vector is a real
# blocking job).
_CHAIN = 5

_AQE_KEY = "spark.sql.adaptive.enabled"
_AQE_LOCK = threading.Lock()
_AQE_SCOPES: dict = {}  # session -> [open scopes, value to restore]


@contextmanager
def _aqe_off(spark, enabled: bool = True):
    """Disable adaptive execution for the enclosed loop-internal actions.

    Per-superstep jobs of the hinted-broadcast loops are one broadcast
    join + one aggregation whose width the driver already sizes — AQE
    contributes nothing there but materializes every exchange as an extra
    scheduler job (r13 A/B, interleaved min-of-3: q28 3.17→2.88 s /
    33→22 jobs, q135 3.06→2.36, q29 2.59→2.31, q129 2.77→2.33; jobs
    −1/superstep each).  Loops with unhinted or self-join shuffles (CC,
    luby, betweenness) measured WORSE wall with AQE off — AQE's parallel
    stage materialization overlaps their independent subtrees.

    The setting is session-wide, and loops run concurrently on one
    session (the threaded oracle sweep), so scopes are refcounted under
    a lock: only the outermost entry turns AQE off, and only the last
    exit restores the value it found.  While any scope is open, a query
    planned on another thread runs non-adaptively — adaptive EXECUTION,
    never results.
    """
    if not enabled:
        yield
        return
    with _AQE_LOCK:
        scope = _AQE_SCOPES.setdefault(spark, [0, None])
        if scope[0] == 0:
            scope[1] = spark.conf.get(_AQE_KEY)
            spark.conf.set(_AQE_KEY, "false")
        scope[0] += 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            scope[0] -= 1
            if scope[0] == 0:
                spark.conf.set(_AQE_KEY, scope[1])
                del _AQE_SCOPES[spark]


def _width(rows: int) -> int:
    """Target stage width: ~200 k rows per task with a floor of 8.  On a
    big graph the target exceeds the current partition count and a
    coalesce to it is a no-op, so cluster-scale parallelism is untouched."""
    return max(8, rows // 200_000)


class _Supersteps:
    """The superstep driver (module docstring): one loop's physical plan,
    decided once from its state-row bound and edge-row count."""

    def __init__(self, spark, rows_bound: int, edge_rows: int):
        self.spark = spark
        self.bcast = rows_bound <= _BCAST_MAX_ROWS
        self.w = _width(edge_rows)
        self.last = None  # the final stop-test measure of run()

    def bx(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.bcast else df

    def nw(self, df: DataFrame) -> DataFrame:
        return df.coalesce(self.w) if self.bcast else df

    def run(
        self,
        state,
        step,
        *,
        iters: int,
        aqe_off: bool = False,
        until=None,
        m0=None,
        measure=None,
        history: bool = False,
        chain: bool = False,
        barrier_every: int = 0,
    ):
        """Run ``step(state, i) -> DataFrame`` up to ``iters`` times.

        ``until(prev, cur)`` is the stop test over the step's measure —
        the pinned output's row count, or the aggregate Column
        ``measure`` observed on it; ``prev`` starts at ``m0``.  With
        ``history`` the state is the list of every pinned output, oldest
        first (seeded by the caller), for loops whose result is the union
        of their levels.
        """
        m = m0
        with _aqe_off(self.spark, aqe_off and self.bcast):
            for i in range(iters):
                nxt = self.nw(step(state, i))
                if barrier_every and (i + 1) % barrier_every == 0:
                    nxt = _plan_barrier(nxt)
                elif until is not None:
                    nxt = nxt.localCheckpoint(eager=False)
                elif self.bcast or not chain or (
                    (i + 1) % _CHAIN == 0 and i + 1 < iters
                ):
                    nxt = nxt.localCheckpoint(eager=True)
                state = state + [nxt] if history else nxt
                if until is None:
                    continue
                prev = m
                if measure is None:
                    m = nxt.count()
                else:
                    obs = Observation()
                    nxt.observe(obs, measure.alias("m")).count()
                    m = obs.get["m"]
                if until(prev, m):
                    break
        self.last = m
        return state


def _peeled(prev, cur) -> bool:
    """Stop test of the peeling loops: a fixpoint (the peel is monotone,
    so a stable round equals running all of them) or nothing left."""
    return cur in (0, prev)


def _union(frames: list) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _derived(edges: DataFrame, tag: tuple, build) -> DataFrame:
    slot = _DERIVED.setdefault(edges, {})
    if tag not in slot:
        slot[tag] = build()
    return slot[tag]


_BARRIER_DIRS: dict[str, str] = {}


def _plan_barrier(df: DataFrame) -> DataFrame:
    """Sever a chained-superstep frame COMPLETELY via a parquet
    round-trip, returning a plain scan-backed DataFrame.

    Measured finding (r12 s4, the q405 hang): a superstep loop whose
    state frame references its predecessor MORE THAN ONCE per iteration
    (min-label CC joins `labels` into both the neighbor-min agg and the
    hook, then self-joins the hooked frame for pointer jumping)
    develops exponentially slower jobs past ~10 chained pins — ×2.3 per
    iteration with CONSTANT job count and constant row counts, i.e. the
    per-job overhead itself doubles.  Neither ``localCheckpoint`` nor a
    RELIABLE ``checkpoint(eager=True)`` stops the growth (both were
    A/B'd: 0.5 s/iter → 80 s/iter by iteration 13), while a parquet
    write+read is flat at 0.4 s/iter through 20+ iterations.  Loops
    that reference their state ONCE per iteration (pagerank) don't
    compound and don't need this.

    The barrier is a distributed write+read (no driver traffic), so it
    is exactly as scale-safe as any shuffle; insert one every ~6
    supersteps in deep loops.  Files land in a per-session tempdir
    (tiny label tables locally; at cluster scale this would point at
    the job's scratch space, the same place reliable checkpoints go).
    """
    import os
    import tempfile
    import uuid

    spark = df.sparkSession
    base = _BARRIER_DIRS.setdefault(
        spark.sparkContext.applicationId,
        tempfile.mkdtemp(prefix="cyber_etl_barrier_"),
    )
    path = os.path.join(base, uuid.uuid4().hex[:12])
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetrize (undirected semantics) and MATERIALIZE the edge list.

    Every superstep references the edges; without materialization Spark
    re-executes the upstream plan (e.g. the co-supply self-join, or a
    whole similarity-join pipeline) once per iteration per action —
    the classic iterative-algorithm trap.  localCheckpoint pins the
    computed edge partitions in executor storage once.
    """

    def build():
        # Builders that already emit both directions mark their frames
        # (`_cyber_symmetric`): the union+distinct would be an identity
        # there, so skip the extra 2|E|-row shuffle entirely.
        if getattr(edges, "_cyber_symmetric", False):
            base = edges.select("src", "dst")
        else:
            base = (
                edges.select("src", "dst")
                .union(
                    edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
        # coalesce is narrow — re-reading the checkpoint merged into
        # right-sized partitions costs nothing and every superstep that
        # scans the edges schedules proportionally fewer tasks
        return base.coalesce(_width(_ecount(edges, base)))

    return _derived(edges, ("sym",), build)


def _ecount(edges: DataFrame, e: DataFrame) -> int:
    """Edge count of the symmetrized list, memoized with the other
    derived tables — sizes the loops' stage width."""
    return _derived(edges, ("symcount",), lambda: e.count())


def _nnodes(edges: DataFrame, e: DataFrame) -> int:
    """Distinct source vertices of ``e`` (|V| for a symmetric list),
    memoized — the state-row bound of the vertex-state loops."""
    return _derived(edges, ("nnodes",), lambda: e.select("src").distinct().count())


def connected_components(edges: DataFrame, max_iterations: int = 40) -> DataFrame:
    """Min-label propagation connected components → (id, component).

    ``component`` is the smallest vertex id reachable from ``id`` —
    exactly the deterministic cluster id needed by the entity-resolution
    pipeline (SURVEY.md M2: blocking → scoring → connected components).
    Converges in O(diameter) supersteps (pointer jumping compresses
    that to ~O(log diameter)); each superstep is one join +
    min-aggregation.  Every 6th superstep goes through
    :func:`_plan_barrier` — the step references its state more than
    once (measured on q405's high-diameter forest).
    """
    e = _sym(edges)
    labels = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    ss = _Supersteps(e.sparkSession, _nnodes(edges, e), _ecount(edges, e))

    def step(labels, _):
        lb = ss.bx(labels)
        neighbor_min = (
            e.join(lb, e.src == lb.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("component").alias("nmin"))
        )
        nm = ss.bx(neighbor_min)
        hooked = labels.join(nm, labels.id == nm.nid, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: adopt the label of my label — halves chain depth
        # every iteration, so convergence is O(log diameter) supersteps
        # instead of O(diameter)
        x, y = hooked.alias("x"), ss.bx(hooked.alias("y"))
        return x.join(y, F.col("x.component") == F.col("y.id"), "left").select(
            F.col("x.id").alias("id"),
            F.least(
                F.col("x.component"),
                F.coalesce(F.col("y.component"), F.col("x.component")),
            ).alias("component"),
        )

    # Convergence: labels are monotone non-increasing (least of self and
    # neighbor minima), so Σcomponent strictly decreases iff any vertex
    # changed — one observed aggregate over the step's own pin job, no
    # diff join.  DECIMAL(38,0) keeps the sum exact for billions of
    # 64-bit ids.  An empty graph (sum None == None) is trivially
    # converged.
    return ss.run(
        labels,
        step,
        iters=max_iterations,
        barrier_every=6,
        measure=F.sum(F.col("component").cast("decimal(38,0)")),
        until=lambda prev, cur: cur == prev,
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    variant: str = "pagerank",
    weight_col: str | None = None,
    seeds: list | None = None,
) -> DataFrame:
    """Iterative (Article)PageRank → (id, rank).

    ``seeds``: personalized PageRank — the start vector and the
    (1-damping) teleport mass concentrate on the seed set instead of
    spreading uniformly (random walk with restart to the seeds; the
    GDS ``sourceNodes`` option).  Seed-independent artifacts (degree,
    edge shares) are cached across seed sets.

    ``variant='pagerank'``: classic PR — incoming mass is rank/outDegree.
    ``variant='articlerank'``: Neo4j GDS ArticleRank (writeup p.4 Q6) —
    incoming mass is rank/(outDegree + avgOutDegree), damping applied the
    same way; this is the exact GDS formula, not the PageRank
    approximation GraphFrames would have offered.

    Vertices are the distinct edge endpoints (the reference projects the
    graph before running GDS, so isolated nodes don't participate either).
    """
    if weight_col is None:
        e = _sym(edges).withColumn("w", F.lit(1.0))
    else:
        # weighted graph: assume the caller provides a symmetric edge
        # list (weight must be identical in both directions)
        e = _derived(
            edges,
            ("wedges", weight_col),
            lambda: edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("w")
            ).localCheckpoint(eager=True),
        )
    # deg doubles as out-strength: Σw for weighted, edge count otherwise
    deg = _derived(
        edges,
        ("deg", weight_col),
        lambda: e.groupBy(F.col("src").alias("id"))
        .agg(F.sum("w").alias("deg"))
        .localCheckpoint(eager=True),
    )
    n = _derived(edges, ("ndeg", weight_col), deg.count)
    deg = deg.coalesce(_width(n))
    m = _derived(edges, ("ecount", weight_col), e.count)
    if variant == "articlerank":
        avg_deg = _derived(
            edges,
            ("avgdeg", weight_col),
            lambda: deg.agg(F.avg("deg")).collect()[0][0],
        )
        denom = F.col("deg") + F.lit(float(avg_deg))
    elif variant == "pagerank":
        denom = F.col("deg")
    else:
        raise ValueError(f"unknown variant: {variant}")

    # the per-edge share w/denom is STATIC across supersteps — join deg
    # once, checkpoint, and the loop only ever joins the rank vector.
    eshare = _derived(
        edges,
        ("eshare", weight_col, variant),
        lambda: e.join(deg, e.src == deg.id)
        .select("src", "dst", (F.col("w") / denom).alias("share"))
        .coalesce(_width(m))
        .localCheckpoint(eager=True),
    )
    if seeds is None:
        ranks = deg.select("id", F.lit(1.0 / n).alias("rank"))
        base_col = F.lit((1.0 - damping) / n)
    else:
        # personalized PR: all reset mass returns to the seed set — both
        # the start vector and the teleport term are the seed indicator
        # (classic PPR: r = d·M·r + (1-d)·p).  The seed list is probe-
        # sized (an isin literal), and the eshare/deg artifacts above are
        # seed-independent, so PPR for any seed set reuses the cached
        # global-PR build.
        if not seeds:
            raise ValueError("personalized pagerank needs a non-empty seed list")
        init = F.when(F.col("id").isin(list(seeds)), F.lit(1.0 / len(seeds))).otherwise(
            F.lit(0.0)
        )
        ranks = deg.select("id", init.alias("rank"))
        base_col = F.when(
            F.col("id").isin(list(seeds)), F.lit((1.0 - damping) / len(seeds))
        ).otherwise(F.lit(0.0))
    ss = _Supersteps(e.sparkSession, n, m)

    def step(ranks, _):
        r = ss.bx(ranks)
        # e is symmetric in EVERY path (_sym() for unweighted input, the
        # documented caller contract for weight_col), so every node has an
        # in-edge and `contribs` covers the full node set with a non-NULL
        # mass: no `deg LEFT JOIN contribs` (that identity cost one
        # SortMergeJoin + an exchange and sort of both sides per superstep)
        contribs = (
            eshare.join(r, eshare.src == r.id)
            .select(
                F.col("dst").alias("to"),
                (F.col("rank") * F.col("share")).alias("c"),
            )
            .groupBy("to")
            .agg(F.sum("c").alias("mass"))
        )
        return contribs.select(F.col("to").alias("id"), "mass").select(
            "id", (base_col + F.lit(damping) * F.col("mass")).alias("rank")
        )

    return ss.run(ranks, step, iters=iterations, aqe_off=True, chain=True)


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label propagation → (id, community).

    Deterministic variant of GDS Louvain/LPA community detection (writeup
    p.5 Q7): each superstep every vertex adopts its neighbors' most
    frequent label, ties broken by smallest label value.  Fixed iteration
    count + total tie order ⇒ reproducible communities (SURVEY.md §7.3
    hard part 3: assert structure, not GDS's internal tie-breaking).
    """
    e = _sym(edges)
    labels = e.select(F.col("src").alias("id")).distinct().withColumn(
        "community", F.col("id")
    )
    ss = _Supersteps(e.sparkSession, _nnodes(edges, e), _ecount(edges, e))

    def step(labels, _):
        # ONE exchange replaces the former count-then-argmax pair:
        # mode(community, deterministic=True) is EXACTLY "most frequent
        # label, ties to smallest" (a TypedImperativeAggregate with
        # map-side partial count maps, so shuffle bytes are the partial
        # (community → cnt) maps — the same information the two-phase
        # form shipped, in half the shuffle rounds).
        lab = ss.bx(labels)
        best = (
            e.join(lab, e.src == lab.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.mode("community", True).alias("new_community"))
        )
        b = ss.bx(ss.nw(best))
        return labels.join(b, labels.id == b.nid, "left").select(
            "id",
            F.coalesce(F.col("new_community"), F.col("community")).alias("community"),
        )

    return ss.run(labels, step, iters=iterations, chain=True)


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Newman modularity Q = Σ_c [e_c/m − (deg_c/2m)²] of a partition
    (labels: id, community) over an undirected edge list."""
    e = _sym(edges)
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    m = e.count() / 2.0
    ca = labels.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    cb = labels.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    internal = (
        e.join(ca, "src")
        .join(cb, "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg((F.count(F.lit(1)) / 2.0).alias("e_c"))
    )
    degsum = deg.join(labels, "id").groupBy("community").agg(F.sum("deg").alias("deg_c"))
    row = (
        degsum.join(internal, "community", "left")
        .select(
            (
                F.coalesce(F.col("e_c"), F.lit(0.0)) / F.lit(m)
                - F.pow(F.col("deg_c") / F.lit(2 * m), 2)
            ).alias("term")
        )
        .agg(F.sum("term").alias("q"))
        .collect()[0]
    )
    return float(row.q)


def louvain_level(
    edges: DataFrame,
    rounds: int = 3,
    init: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One Louvain level: synchronized modularity-gain local moves →
    (id, community).

    Each round every node evaluates its neighboring communities and
    adopts the one maximizing the (constant-factor-scaled) gain
    ``w(i→C) − deg_i · deg_C\\i / 2m``, ties broken by smallest community
    id, moving only on strict improvement over its current community.
    Synchronized rounds + total tie order ⇒ deterministic, unlike GDS
    Louvain's run-to-run variance (SURVEY §7.3 hard part 3).  This is the
    aggregateMessages dataflow written as joins; :func:`louvain` recurses
    on the community-contracted graph for the full GDS-style hierarchy.

    ``weight_col``: treat ``edges`` as an already-symmetric directed
    weighted edge list (self-loops allowed — the contracted-graph shape).
    Weighted degrees/masses are sums of integer-valued doubles, so the
    gain arithmetic stays bit-deterministic.
    """
    if weight_col is None:
        e = _sym(edges).withColumn("w", F.lit(1.0))
        e_rows = _ecount(edges, _sym(edges))
    else:
        e = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("w")
        ).localCheckpoint(eager=True)
        e_rows = e.count()  # cheap: scans the fresh checkpoint
    deg = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.sum("w").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # one aggregate serves both scalars: Σdeg counts every edge endpoint
    # once, so Σdeg = 2m — no separate scan of the (much larger) edge list
    stats = deg.agg(
        F.count(F.lit(1)).alias("n"), F.sum("deg").alias("degsum")
    ).collect()[0]
    n, m = stats.n, (stats.degsum or 0.0) / 2.0
    if n == 0:
        return deg.select("id", F.col("id").alias("community"))
    deg = deg.coalesce(_width(n))
    # carry (id, community, deg) as ONE state table: the candidate scoring
    # needs a node's current community AND degree, and fusing them removes
    # a per-round |V|-row join (and its broadcast materialization job)
    # versus separate labels/deg tables.
    if init is None:
        # identity labels are a projection of the already-materialized deg
        # table — checkpointing them again would be a pure-overhead job
        state = deg.select("id", F.col("id").alias("community"), "deg")
    else:
        # LEFT join from init: an isolated init vertex (no edges → no deg
        # row) must survive with its init community, as the pre-fusion
        # contract guaranteed; deg 0 is correct for it (it can never move
        # — it has no neighboring communities to join).
        state = (
            init.localCheckpoint(eager=True)
            .join(deg.select("id", "deg"), "id", "left")
            .select("id", "community", F.coalesce("deg", F.lit(0.0)).alias("deg"))
            .coalesce(_width(n))
        )
    ss = _Supersteps(e.sparkSession, n, e_rows)

    def step(state, _):
        lab_dst = state.select(
            F.col("id").alias("dst"), F.col("community").alias("n_comm")
        )
        # w(i→C): edge mass from i into each neighboring community C.
        # sum(w) == count for the unit-weight path (integer-valued double
        # addition is exact), so one formulation serves both.
        w_ic = ss.nw(
            e.join(ss.bx(lab_dst), "dst")
            .groupBy(F.col("src").alias("id"), "n_comm")
            .agg(F.sum("w").alias("w_ic"))
        )
        # Σdeg over each community, minus i's own degree when i ∈ C.
        # degsum and state both broadcast under the cap, so w_ic stays in
        # place (as shuffle joins they re-exchanged it twice).
        degsum = state.groupBy("community").agg(F.sum("deg").alias("deg_c"))
        dg = ss.bx(degsum)
        cand = (
            w_ic.join(dg, w_ic.n_comm == dg.community).join(
                ss.bx(state.withColumnRenamed("community", "cur")), "id"
            )
        ).select(
            "id",
            "n_comm",
            "cur",
            (
                F.col("w_ic")
                - F.col("deg")
                * (
                    F.col("deg_c")
                    - F.when(F.col("n_comm") == F.col("cur"), F.col("deg")).otherwise(
                        F.lit(0)
                    )
                )
                / F.lit(2 * m)
            ).alias("gain"),
        )
        best = cand.groupBy("id").agg(
            F.expr("max_by(n_comm, struct(gain, -n_comm))").alias("best_comm"),
            F.max(F.struct("gain", (-F.col("n_comm")).alias("nc"))).alias("best_key"),
            F.max(
                F.when(F.col("n_comm") == F.col("cur"), F.col("gain"))
            ).alias("cur_gain"),
        )
        return state.join(ss.bx(ss.nw(best)), "id", "left").select(
            "id",
            F.when(
                F.col("best_comm").isNotNull()
                & (F.col("best_key.gain") > F.coalesce(F.col("cur_gain"), F.lit(-1e18))),
                F.col("best_comm"),
            )
            .otherwise(F.col("community"))
            .alias("community"),
            "deg",
        )

    return ss.run(state, step, iters=rounds).select("id", "community")


def louvain(
    edges: DataFrame,
    levels: int = 2,
    rounds: int = 3,
    level1: DataFrame | None = None,
) -> DataFrame:
    """Hierarchical Louvain (GDS-style, writeup p.5 Q7): run local moves,
    CONTRACT communities into super-nodes (edge weights = inter-community
    edge mass, self-loops = internal mass), and recurse on the contracted
    graph → (id, community) with each original vertex mapped to its
    top-level community.

    The contracted graph is tiny relative to |V| (one row per community
    pair), so each additional level costs one groupBy over the edge list
    plus the local-move rounds on a much smaller graph — the standard
    scale shape: level 1 dominates, the hierarchy is nearly free.
    Deterministic end-to-end: community ids are min-member vertex ids at
    every level, moves tie-break (gain desc, community asc).
    """
    # ``level1``: a precomputed first-level assignment (callers that also
    # report level 1 share one build — the dominant cost of the hierarchy)
    if level1 is None:
        level1 = louvain_level(edges, rounds=rounds)
    e = _sym(edges)
    # level labels have ≤ |V| rows at every level (labels only shrink
    # under contraction), so the ORIGINAL graph's node count bounds them
    ss = _Supersteps(e.sparkSession, _nnodes(edges, e), _ecount(edges, e))
    # the current level's graph and labels; the driver's state is the
    # ORIGINAL vertex → latest-level community map
    level = [e.withColumn("w", F.lit(1.0)), level1]

    def step(composed, _):
        cur_edges, labels = level
        lab_src = labels.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
        lab_dst = labels.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
        # not pinned here: louvain_level pins its weighted input itself
        contracted = ss.nw(
            cur_edges.join(ss.bx(lab_src), "src")
            .join(ss.bx(lab_dst), "dst")
            .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
            .agg(F.sum("w").alias("w"))
        )
        upper = louvain_level(contracted, rounds=rounds, weight_col="w")
        level[:] = [contracted, upper]
        remap = upper.select(
            F.col("id").alias("community"), F.col("community").alias("upper_comm")
        )
        return composed.join(remap, "community").select(
            "id", F.col("upper_comm").alias("community")
        )

    return ss.run(level1, step, iters=levels - 1)


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Minimum hop distance from a source vertex set → (id, dist).

    Synchronized frontier expansion (the Pregel BFS): each hop joins the
    previous frontier into the edge list, anti-joins already-settled
    vertices, and pins the new level.  First-reach level is the minimum
    distance, so the result is exact and deterministic.  The settled set
    is the lazy union of the per-level pins (re-pinning the growing union
    each level was a third job per hop carrying no new information).
    (Reference analogue: the Cypher neighborhood expansions, writeup p.5
    Q6 two-hop — this generalizes them to k hops with distances.)
    """
    e = _sym(edges)
    # lazy pin + count: one job materializes the checkpoint (r12)
    dist0 = sources.select(
        "id", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=False)
    dist0.count()
    # the settled set is ≤ |V| BY CONSTRUCTION (one row per reached vertex)
    ss = _Supersteps(e.sparkSession, _nnodes(edges, e), _ecount(edges, e))

    def step(levels, i):
        h = i + 1
        dist = _union(levels)
        if ss.bcast:
            # ONE broadcast of the settled union serves BOTH per-level
            # joins (r13): the expansion join keeps the frontier filter
            # (dist = h-1) in the join CONDITION, so its broadcast
            # subtree canonicalizes identically to the anti-join's and
            # ReuseExchange builds it once.  ids are unique in `dist`, so
            # the condition-filtered probe matches at most one build row,
            # exactly the frontier semantics.
            st1, st2 = ss.bx(dist), ss.bx(dist)
            nxt = (
                e.join(st1, (e.src == st1["id"]) & (st1["dist"] == F.lit(h - 1)))
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(st2, "id", "left_anti")
            )
        else:
            # past the cap keep the frontier-keyed shuffle shape: the
            # frontier side is far smaller than the settled union
            frontier = levels[-1].select("id")
            nxt = (
                e.join(frontier, e.src == frontier["id"])
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(dist, "id", "left_anti")
            )
        return nxt.withColumn("dist", F.lit(h).cast("int"))

    levels = ss.run(
        [dist0], step, iters=max_hops, aqe_off=True, history=True,
        until=lambda _, n: n == 0,
    )
    return _union(levels[:-1] if ss.last == 0 else levels)


def kcore(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """k-core decomposition by synchronized peeling → (id, core_deg).

    Each round drops every vertex whose degree WITHIN the surviving set
    is below ``k``; after ``rounds`` rounds (or earlier fixpoint — the
    peel is monotone, so stopping at a stable round equals running all
    of them) the survivors and their in-core degrees are returned.

    Scale shape: one round = two semi-joins of the (pinned) edge list
    against the active set + a src-keyed count — the active set only
    shrinks, so its initial size bounds every round.  The edge side
    never re-shuffles.
    """
    e = _sym(edges)
    # lazy pin + count: one job materializes the checkpoint (r12)
    active = (
        e.select(F.col("src").alias("id")).distinct().localCheckpoint(eager=False)
    )
    n = active.count()
    ss = _Supersteps(e.sparkSession, n, _ecount(edges, e))

    def in_core_deg(act: DataFrame) -> DataFrame:
        a = ss.bx(act)
        return ss.nw(
            e.join(a.select(F.col("id").alias("src")), "src", "left_semi")
            .join(a.select(F.col("id").alias("dst")), "dst", "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )

    active = ss.run(
        active,
        lambda act, _: in_core_deg(act)
        .where(F.col("core_deg") >= k)
        .select(F.col("src").alias("id")),
        iters=rounds,
        m0=n,
        until=_peeled,
    )
    if ss.last == 0:
        return active.withColumn("core_deg", F.lit(0).cast("long")).limit(0)
    return in_core_deg(active).select(F.col("src").alias("id"), "core_deg")


def ktruss(edges_upper: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-truss decomposition by synchronized EDGE peeling →
    (src, dst, support): each round drops every edge participating in
    fewer than k-2 triangles WITHIN the surviving edge set; the final
    support is recomputed over the last survivor set (0 for edges whose
    last triangle dissolved in the final round but were not yet peeled
    — the fixed-round synchronized semantics the oracle unrolls).

    The truss is the edge-wise sibling of :func:`kcore`'s vertex peel —
    a stricter cohesion filter (every k-truss edge lies in a (k-1)-core,
    not vice versa).  Input is the i<j upper-oriented edge list.

    Scale shape: one round = the q89 triangle enumeration on the pinned
    survivor set (two self-joins, both keyed on edge endpoints), a
    3-role union exploding each triangle to its edges, and an
    (src, dst)-keyed count.  The edge set only shrinks, so the initial
    edge count bounds every round's join sides; fixpoint exits early.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    # lazy pin + count: one job materializes the checkpoint (r12)
    e = edges_upper.select("src", "dst").localCheckpoint(eager=False)
    m = e.count()
    thr = k - 2
    ss = _Supersteps(e.sparkSession, m, m)

    def support(edges_cur: DataFrame) -> DataFrame:
        ab, bc, ac = (edges_cur.alias(x) for x in ("ab", "bc", "ac"))
        tri = (
            ab.join(ss.bx(bc), F.col("ab.dst") == F.col("bc.src"))
            .join(
                ss.bx(ac),
                (F.col("ac.src") == F.col("ab.src"))
                & (F.col("ac.dst") == F.col("bc.dst")),
            )
            .select(
                F.col("ab.src").alias("a"),
                F.col("ab.dst").alias("b"),
                F.col("bc.dst").alias("c"),
            )
        )
        roles = (
            tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
            .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        )
        return roles.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))

    e = ss.run(
        e,
        lambda cur, _: cur.join(ss.bx(support(cur)), ["src", "dst"])
        .where(F.col("support") >= thr)
        .select("src", "dst"),
        iters=rounds,
        aqe_off=True,
        m0=m,
        until=_peeled,
    )
    return e.join(ss.bx(support(e)), ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).alias("support")
    )


def multi_bfs_distances(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Per-SOURCE minimum hop distances from a pivot set →
    (pivot, id, dist) — :func:`bfs_distances` vectorized over pivots
    (the q162 betweenness trick): ONE synchronized frontier loop whose
    state is keyed by (pivot, id), so p pivots cost the same number of
    supersteps as one, with |S|·|frontier| work per level instead of p
    sequential loops.  ``sources`` must have columns (pivot, id).

    The settled set follows bfs_distances' conventions exactly."""
    e = _sym(edges)
    # lazy pin + count: one job materializes the checkpoint (r12)
    dist0 = sources.select(
        "pivot", "id", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=False)
    n_sources = dist0.count()
    # state is ≤ |sources|·|V| rows BY CONSTRUCTION
    ss = _Supersteps(
        e.sparkSession, n_sources * _nnodes(edges, e), _ecount(edges, e)
    )

    def step(levels, i):
        # the expansion join stays frontier-keyed: its key is bare `id`, a
        # different broadcast mode from the (pivot, id) anti-join, so
        # bfs_distances' one shared broadcast would not be reused here
        fr = ss.bx(levels[-1].select("pivot", "id"))
        return (
            e.join(fr, e.src == fr["id"])
            .select("pivot", F.col("dst").alias("id"))
            .distinct()
            .join(ss.bx(_union(levels)), ["pivot", "id"], "left_anti")
            .withColumn("dist", F.lit(i + 1).cast("int"))
        )

    levels = ss.run(
        [dist0], step, iters=max_hops, aqe_off=True, history=True,
        until=lambda _, n: n == 0,
    )
    return _union(levels[:-1] if ss.last == 0 else levels)


def sssp_hop_limited(
    wedges: DataFrame, source: int, iterations: int = 6
) -> DataFrame:
    """Cheapest-path-within-``iterations``-hops from ``source`` →
    (id, dist): Bellman-Ford relaxation over a weighted symmetric edge
    list (src, dst, weight), integer weights so min-distances are exact
    and engine-portable (no float accumulation order anywhere).

    The distance vector starts as one row and grows to ≤|V|, which
    bounds it for every superstep.  The edge list is referenced every
    superstep — callers pass an already-materialized frame (the builders
    checkpoint theirs).
    """
    spark = wedges.sparkSession
    e = wedges.select("src", "dst", F.col("weight").cast("long").alias("w"))
    dist = _local_values_df(
        spark, [[int(source), 0]], "id bigint, dist bigint"
    ).localCheckpoint(eager=True)
    ss = _Supersteps(spark, _nnodes(wedges, e), _ecount(wedges, e))

    def step(dist, _):
        d = ss.bx(dist)
        relax = e.join(d, e.src == d["id"]).select(
            F.col("dst").alias("id"), (d["dist"] + F.col("w")).alias("dist")
        )
        return dist.unionByName(relax).groupBy("id").agg(F.min("dist").alias("dist"))

    return ss.run(dist, step, iters=iterations, aqe_off=True)


def hits(edges: DataFrame, iterations: int = 5) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg) hubs & authorities on a DIRECTED edge list →
    ((src id, hub), (dst id, auth)).

    The directed counterpart of the rank family (which runs on the
    symmetrized co-supply graph): per iteration every authority score is
    the sum of its in-neighbors' hub scores and every hub score the sum
    of its out-neighbors' authority scores, each side L2-normalized.

    The loop itself runs UNNORMALIZED (r13): the HITS recurrence is
    linear, so every per-iteration L2 normalizer is a pure scalar that
    cancels exactly — hubs_t = (AᵀA)ᵗ·1 / ‖(AᵀA)ᵗ·1‖ whether you divide
    per half-step or once at the end.  Dividing once removes TWO 1-row
    normalizer broadcasts and one |V|-row vector broadcast per iteration
    (r12 profile: 9 broadcast-exchange jobs + 1 pin per iteration, 53
    jobs total for q141; now 3 per iteration).  Overflow headroom: raw
    magnitudes grow by ≈σ₁² ≈ (max degree)² per iteration; even at
    degree 1e6 that is 1e12/iter — doubles (1e308) allow ~25 iterations
    at 100 TB-graph degrees, far above the fixed 5-6 used here.
    Float drift vs the per-step-divided form is the last-ulps class the
    rounded comparison already absorbs (same argument as shuffle-order
    drift in pagerank); the swap was verified output-identical at
    sf0.001/0.01/0.1 against the unchanged per-step-normalized oracle.

    Determinism: double sums drift by shuffle order in the last ulps
    only (same argument as pagerank); callers compare rounded.  Scale:
    each half-step is one join + hash-agg shuffled on a vertex key,
    O(|E|) rows.
    """
    if iterations < 1:
        raise ValueError(f"need iterations >= 1, got {iterations}")
    e = _derived(
        edges,
        ("hits-edges",),
        lambda: edges.select("src", "dst").distinct().localCheckpoint(eager=True),
    )
    m = _derived(edges, ("hits-ecount",), lambda: e.count())
    # one bound for both vectors: hubs and authorities are ≤ |V| rows
    n = _derived(
        edges,
        ("hits-n",),
        lambda: e.select(F.explode(F.array("src", "dst"))).distinct().count(),
    )
    ss = _Supersteps(e.sparkSession, n, m)
    hubs = (
        e.select("src").distinct().withColumn("h", F.lit(1.0))
        .coalesce(_width(n))
        .localCheckpoint(eager=True)
    )

    def auths(hubs: DataFrame) -> DataFrame:
        return ss.nw(
            e.join(ss.bx(hubs), "src").groupBy("dst").agg(F.sum("h").alias("a"))
        )

    def step(hubs, _):
        # one un-normalized double half-step per pin: the authority
        # vector is referenced once, inside the one action that pins the
        # next hub vector, so nothing recomputes
        return e.join(ss.bx(auths(hubs[-1])), "dst").groupBy("src").agg(
            F.sum("a").alias("h")
        )

    hub_steps = ss.run([hubs], step, iters=iterations, aqe_off=True, history=True)
    # single final normalization of each returned side (exact-cancel
    # argument above).  The authorities derive from the PINNED
    # penultimate hub vector, so consuming them never re-runs the loop.
    hubs, a_raw = hub_steps[-1], auths(hub_steps[-2])
    h_norm = hubs.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm"))
    hubs_out = hubs.crossJoin(F.broadcast(h_norm)).select(
        "src", (F.col("h") / F.col("nrm")).alias("h")
    )
    a_norm = a_raw.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm"))
    auths_out = a_raw.crossJoin(F.broadcast(a_norm)).select(
        "dst", (F.col("a") / F.col("nrm")).alias("a")
    )
    return hubs_out, auths_out


def betweenness_sampled(
    edges: DataFrame, sources: list, max_depth: int = 4
) -> DataFrame:
    """Sampled Brandes betweenness → (id, bc): forward BFS from each
    pivot source accumulating shortest-path counts (sigma), then the
    backward dependency sweep delta(v) = Σ_w sigma_v/sigma_w·(1+delta_w)
    over shortest-path successors, summed across sources — the standard
    pivot-sampled estimator (Brandes 2001; sampling per Brandes/Pich
    2007), hop-capped so the iteration count is fixed and the oracle
    can unroll it.

    Both sweeps are vectorized over ALL sources at once: state is keyed
    (source, vertex), each superstep is one keyed join + aggregate over
    the pinned symmetric edge list, pinned per level.  The per-level
    state is bounded by |S|·|V| BY CONSTRUCTION.  sigma stays integral
    (exact); delta rounds to 6 dp per level — the iterative-oracle float
    convention.  Scale: |S|·|V| state rows, |S|·|E| join work per level,
    sources are a handful of pivots.
    """
    e = _sym(edges)
    if not sources:
        raise ValueError("betweenness_sampled needs at least one source")
    spark = e.sparkSession
    ss = _Supersteps(
        spark, len(sources) * _nnodes(edges, e), _ecount(edges, e)
    )
    # NOT a VALUES relation: r13 re-tested the r12 hypothesis that the
    # duplicated-attribute projection (s, s AS v) caused the Catalyst
    # attribute-rewrite NoSuchElementException ("key not found: v#…") —
    # emitting s and v as INDEPENDENT VALUES columns still fails the
    # exact-path test with the same error, so the bug is the
    # LocalRelation itself under this plan shape, not the projection.
    # Keep the RDD-backed frame; the Python round-trip is once per call,
    # not per level.
    src_df = spark.createDataFrame([(int(s),) for s in sources], "s long")
    lvl0 = src_df.select(
        "s", F.col("s").alias("v"), F.lit(0).alias("dist"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=True)

    def forward(levels, i):
        frontier = levels[-1]
        return (
            e.join(ss.bx(frontier), frontier.v == e.src)
            .groupBy("s", F.col("dst").alias("nv"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(
                ss.bx(_union(levels).select("s", F.col("v").alias("nv"))),
                ["s", "nv"],
                "left_anti",
            )
            .select("s", F.col("nv").alias("v"), F.lit(i + 1).alias("dist"), "sigma")
        )

    visited = _union(ss.run([lvl0], forward, iters=max_depth, history=True))

    def backward(deltas, i):
        lvl = max_depth - i
        w_nodes = (
            visited.where(F.col("dist") == lvl)
            .join(ss.bx(deltas[-1]), ["s", "v"], "left")
            .select(
                "s",
                F.col("v").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.coalesce("delta", F.lit(0.0)).alias("delta_w"),
            )
        )
        v_nodes = visited.where(F.col("dist") == lvl - 1).select(
            "s", "v", F.col("sigma").alias("sigma_v")
        )
        return (
            e.join(ss.bx(v_nodes), v_nodes.v == e.src)
            .join(ss.bx(w_nodes.withColumnRenamed("w", "dst")), ["s", "dst"])
            .groupBy("s", "v")
            .agg(
                F.round(
                    F.sum(
                        F.col("sigma_v") / F.col("sigma_w") * (1.0 + F.col("delta_w"))
                    ),
                    6,
                ).alias("delta")
            )
        )

    delta0 = visited.where(F.col("dist") == max_depth).select(
        "s", "v", F.lit(0.0).alias("delta")
    )
    all_delta = _union(ss.run([delta0], backward, iters=max_depth, history=True))
    return (
        visited.where(F.col("dist") > 0)
        .join(ss.bx(all_delta), ["s", "v"], "left")
        .groupBy(F.col("v").alias("id"))
        .agg(F.round(F.sum(F.coalesce("delta", F.lit(0.0))), 6).alias("bc"))
    )


def eigenvector_centrality(edges: DataFrame, iterations: int = 6) -> DataFrame:
    """Eigenvector centrality (power iteration, GDS
    ``gds.eigenvector``) on a SYMMETRIC edge list → (id, score):
    x_{t+1} = normalize_L2(A · x_t), x_0 = 1.

    The undirected member of the spectral family next to HITS (q141 —
    which is exactly this recurrence run on a directed graph with two
    alternating vectors), run the same way: pinned distinct edge list
    and the r13 UNNORMALIZED loop — power iteration is linear, so the
    per-step L2 normalizer is a scalar that cancels exactly
    (x_t = Aᵗ·1 / ‖Aᵗ·1‖ either way); one final normalization replaces
    one 1-row normalizer broadcast + crossJoin per step (see hits() for
    the overflow headroom and last-ulps drift argument — verified
    output-identical at sf0.001/0.01/0.1 against the unchanged
    per-step-normalized oracle).
    """
    if iterations < 1:
        raise ValueError(f"need iterations >= 1, got {iterations}")
    e = _derived(
        edges,
        ("eig-edges",),
        lambda: edges.select("src", "dst").distinct().localCheckpoint(eager=True),
    )
    m = _derived(edges, ("eig-ecount",), lambda: e.count())
    n = _derived(edges, ("eig-n",), lambda: e.select("src").distinct().count())
    ss = _Supersteps(e.sparkSession, n, m)
    x = (
        e.select("src").distinct().withColumn("score", F.lit(1.0))
        .coalesce(_width(n))
        .localCheckpoint(eager=True)
    )
    x = ss.run(
        x,
        lambda x, _: e.join(ss.bx(x), "src")
        .groupBy("dst")
        .agg(F.sum("score").alias("score"))
        .withColumnRenamed("dst", "src"),
        iters=iterations,
        aqe_off=True,
    )
    nrm = x.agg(F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("nrm"))
    return x.crossJoin(F.broadcast(nrm)).select(
        F.col("src").alias("id"), (F.col("score") / F.col("nrm")).alias("score")
    )


def luby_mis(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Deterministic Luby maximal independent set → (id, round).

    The third distributed-graph primitive family next to label
    propagation and Borůvka contraction: per round, every UNDECIDED
    node whose (priority, id) is a strict local maximum over its
    undecided neighbors joins the MIS (priorities are md5-derived, so
    the "random" permutation is deterministic and engine-portable);
    winners' undecided neighbors are excluded, and the surviving
    subgraph shrinks by a constant fraction in expectation — O(log n)
    rounds (Luby 1986).  The result is BOTH independent (no edge inside
    the set — winners are local maxima, two adjacent winners are
    impossible) and maximal (a node is only decided by joining or by an
    adjacent winner), pinned by tests; `round` records the superstep a
    node entered.

    Scale contract: each round is two semi-joins + one anti-join over
    the SHRINKING undecided edge set; node state, edge state AND the
    round's winners ride ONE union frame, so a round is one job (two on
    the plan-barrier rounds every 2 rounds — the undecided tables are
    referenced multiple times per round)."""
    pr = (
        "CAST(conv(substr(md5('mis:' || CAST({n} AS STRING)), 1, 13),"
        " 16, 10) AS BIGINT)"
    )

    # Node, edge and winner state ride ONE union frame (_k = 0 edges,
    # 1 undecided nodes, 2 this round's winners with b = entry round) so
    # the whole round materializes in a single job: the winners/excluded/
    # rm subtrees are branches of the one pin job that also counts the
    # undecided nodes (r12 optimization 2: 66 → ~30 jobs; the loop is
    # job-floor bound).  Winner rows are published from each round's
    # PINNED state, so nothing recomputes at output time.
    def _split(st: DataFrame) -> tuple[DataFrame, DataFrame]:
        nodes = st.where(F.col("_k") == 1).select(F.col("a").alias("n"))
        es = st.where(F.col("_k") == 0).select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "pa", "pb"
        )
        return nodes, es

    def _merge(
        nodes: DataFrame, es: DataFrame, winners: DataFrame | None = None
    ) -> DataFrame:
        out = es.select(
            F.lit(0).alias("_k"),
            F.col("src").cast("long").alias("a"),
            F.col("dst").cast("long").alias("b"),
            F.col("pa"),
            F.col("pb"),
        ).unionAll(
            nodes.select(
                F.lit(1).alias("_k"),
                F.col("n").cast("long").alias("a"),
                F.lit(None).cast("long").alias("b"),
                F.lit(None).cast("bigint").alias("pa"),
                F.lit(None).cast("bigint").alias("pb"),
            )
        )
        if winners is not None:
            out = out.unionAll(
                winners.select(
                    F.lit(2).alias("_k"),
                    F.col("n").cast("long").alias("a"),
                    F.col("round").cast("long").alias("b"),
                    F.lit(None).cast("bigint").alias("pa"),
                    F.lit(None).cast("bigint").alias("pb"),
                )
            )
        return out

    state = _merge(
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct(),
        edges.select(
            "src",
            "dst",
            F.expr(pr.format(n="src")).alias("pa"),
            F.expr(pr.format(n="dst")).alias("pb"),
        ),
    ).localCheckpoint(eager=False)
    # Every per-round side table (blocked ≤ |E|, winners ≤ |V|, excluded
    # ≤ 2|E|, rm ≤ |V|+2|E|) only shrinks with the undecided subgraph.
    # Under the cap the pre-join distincts are dropped — their only job
    # is bounding SHUFFLED bytes, and a broadcast semi/anti hash build
    # dedups keys itself — so `rm` can carry up to |V|+2|E| UNDEDUPED
    # rows ≈ 2·n0, the loop's state-row bound (ADVICE r12).
    n0 = state.count()
    ss = _Supersteps(edges.sparkSession, 2 * n0, n0)

    def step(rounds, i):
        und_nodes, und_edges = _split(rounds[-1])
        blocked = und_edges.select(
            F.when(
                F.struct(F.col("pa"), F.col("src"))
                < F.struct(F.col("pb"), F.col("dst")),
                F.col("src"),
            )
            .otherwise(F.col("dst"))
            .alias("n")
        )
        if not ss.bcast:
            blocked = blocked.distinct()
        # winners is NOT pinned: all its consumers (the _k=2 state rows,
        # both excluded semi-joins, the rm anti-joins) are branches of
        # the ONE merged-state job; the deterministic md5-priority
        # anti-join over pinned inputs re-evaluates in-job with its
        # `blocked` exchange reused (ReuseExchange) (r12 A/B)
        winners = und_nodes.join(ss.bx(blocked), "n", "left_anti").select("n")
        bw = ss.bx(winners)
        excluded = (
            und_edges.join(bw, und_edges.src == bw.n, "leftsemi")
            .select(F.col("dst").alias("n"))
            .unionAll(
                und_edges.join(bw, und_edges.dst == bw.n, "leftsemi").select(
                    F.col("src").alias("n")
                )
            )
        )
        if not ss.bcast:
            excluded = excluded.distinct()
        rm = winners.select("n").unionAll(excluded)
        if not ss.bcast:
            rm = rm.distinct()
        brm = ss.bx(rm)
        nxt_nodes = und_nodes.join(brm, "n", "left_anti")
        nxt_edges = und_edges.join(
            brm, und_edges.src == brm.n, "left_anti"
        ).join(brm, und_edges.dst == brm.n, "left_anti")
        return _merge(
            nxt_nodes, nxt_edges, winners.select("n", F.lit(i + 1).alias("round"))
        )

    # nodes exist iff state is non-empty (every edge has ends)
    rounds = ss.run(
        [state],
        step,
        iters=max_rounds if n0 else 0,
        history=True,
        barrier_every=2,
        measure=F.count_if(F.col("_k") == 1),
        until=lambda _, n: n == 0,
    )
    # ADVICE r12: decide completion by the FINAL undecided count — a
    # graph whose last allowed round decides every node is complete
    if ss.last:
        raise RuntimeError(
            f"luby_mis: undecided nodes remain after {max_rounds} rounds"
        )
    wins = [
        r.where(F.col("_k") == 2).select(
            F.col("a").alias("id"), F.col("b").cast("int").alias("round")
        )
        for r in rounds[1:]
    ]
    # empty edge input: no nodes, empty MIS (ADVICE r12 — was an
    # IndexError); reuse the state frame's lineage for the schema
    return _union(wins) if wins else rounds[0].select(
        F.col("a").alias("id"), F.col("b").cast("int").alias("round")
    ).limit(0)
