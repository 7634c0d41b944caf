"""Graph algorithms: loop semantics, both physical paths of every
superstep loop, and the AQE scope."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _toy_edges(spark):
    # two 4-cliques joined by one bridge edge — unambiguous communities
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    rows = c1 + c2 + [(3, 10)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_louvain_finds_planted_communities(spark):
    from cyber_etl_spark.graph.algorithms import louvain_level, modularity

    edges = _toy_edges(spark)
    labels = louvain_level(edges, rounds=3)
    got = {r.id: r.community for r in labels.collect()}
    assert len({got[i] for i in range(4)}) == 1, "clique 1 must be one community"
    assert len({got[i + 10] for i in range(4)}) == 1, "clique 2 must be one community"
    assert got[0] != got[10], "bridged cliques must stay separate"
    q = modularity(edges, labels)
    singleton = edges.select(F.col("src").alias("id")).union(
        edges.select("dst")
    ).distinct().withColumn("community", F.col("id"))
    assert q > modularity(edges, singleton)


def test_louvain_deterministic(spark):
    from cyber_etl_spark.graph.algorithms import louvain_level

    edges = _toy_edges(spark)
    a = sorted(map(tuple, louvain_level(edges, rounds=3).collect()))
    b = sorted(map(tuple, louvain_level(edges, rounds=3).collect()))
    assert a == b


def test_session_caches_key_on_application_id(spark, sf_smoke):
    """Stale-alias guard: memoization caches must key on the Spark
    applicationId (unique per SparkContext lifetime), never id(spark) —
    a GC'd session's address can be reused while its localCheckpoint
    blocks are gone (VERDICT r02 'What's wrong' #4)."""
    from cyber_etl_spark.graph import builder
    from cyber_etl_spark.plans import graphops, textops
    from cyber_etl_spark.session import session_token

    token = session_token(spark)
    assert token == spark.sparkContext.applicationId
    builder.co_supply_edges(spark, sf_smoke)
    textops.cached_shingles(spark, sf_smoke)
    memos = (
        builder.co_supply_edges.memo,
        textops.cached_shingles.memo,
        graphops._sparse_upper_edges.memo,
    )
    for memo in memos:
        for key in memo:
            assert isinstance(key[0], str), key  # applicationId, never id(spark)
    # the memos we just populated carry this session's token
    assert (token, sf_smoke, "co_supply_edges") in builder.co_supply_edges.memo
    assert (token, sf_smoke, "cached_shingles") in textops.cached_shingles.memo


def _loop_edges(spark):
    """The two bridged 4-cliques plus a separate path 20-21-22-23: two
    components, a multi-hop frontier, and vertices outside every core."""
    rows = [(a, b) for a in range(4) for b in range(4) if a < b]
    rows += [(a + 10, b + 10) for a, b in rows] + [(3, 10)]
    rows += [(20, 21), (21, 22), (22, 23)]
    return spark.createDataFrame(rows, "src long, dst long")


def _mirrored(spark):
    e = _loop_edges(spark)
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _rows(df, digits=9):
    return sorted(
        tuple(round(v, digits) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


# every public superstep loop → a run on fresh input frames, as sorted rows
_LOOPS = {
    "connected_components": lambda a, s: _rows(a.connected_components(_loop_edges(s))),
    "pagerank": lambda a, s: _rows(a.pagerank(_loop_edges(s), iterations=6)),
    "label_propagation": lambda a, s: _rows(a.label_propagation(_loop_edges(s), 2)),
    "louvain_level": lambda a, s: _rows(a.louvain_level(_loop_edges(s), rounds=3)),
    "louvain": lambda a, s: _rows(a.louvain(_loop_edges(s), levels=2, rounds=3)),
    "bfs_distances": lambda a, s: _rows(
        a.bfs_distances(
            _loop_edges(s), s.createDataFrame([(0,), (20,)], "id long"), max_hops=4
        )
    ),
    "kcore": lambda a, s: _rows(a.kcore(_loop_edges(s), k=3, rounds=4)),
    "ktruss": lambda a, s: _rows(a.ktruss(_loop_edges(s), k=3, rounds=3)),
    "multi_bfs_distances": lambda a, s: _rows(
        a.multi_bfs_distances(
            _loop_edges(s),
            s.createDataFrame([(0, 0), (1, 20)], "pivot long, id long"),
            max_hops=4,
        )
    ),
    "sssp_hop_limited": lambda a, s: _rows(
        a.sssp_hop_limited(
            _mirrored(s).withColumn("weight", (F.col("src") + F.col("dst")) % 3 + 1),
            0,
            iterations=4,
        )
    ),
    "hits": lambda a, s: [_rows(x) for x in a.hits(_loop_edges(s), iterations=3)],
    "betweenness_sampled": lambda a, s: _rows(
        a.betweenness_sampled(_mirrored(s), [0, 10, 20], max_depth=3)
    ),
    "eigenvector_centrality": lambda a, s: _rows(
        a.eigenvector_centrality(_mirrored(s), iterations=4)
    ),
    "luby_mis": lambda a, s: _rows(a.luby_mis(_loop_edges(s))),
}


@pytest.fixture
def loop_paths(monkeypatch):
    """The path each superstep driver takes, in order (True = broadcast)."""
    from cyber_etl_spark.graph import algorithms

    paths = []
    init = algorithms._Supersteps.__init__

    def spy(self, *a, **k):
        init(self, *a, **k)
        paths.append(self.bcast)

    monkeypatch.setattr(algorithms._Supersteps, "__init__", spy)
    return paths


@pytest.mark.parametrize("loop", sorted(_LOOPS))
def test_loop_past_cap_matches_broadcast(spark, monkeypatch, loop_paths, loop):
    """Both physical paths of every superstep loop give the same rows:
    under the default cap the driver broadcasts the loop state; with
    ``_BCAST_MAX_ROWS`` pinned to 0 it takes the shuffle path the loops
    run past 1 M state rows.  Fresh edge frames each run, because the
    derived tables are memoized per frame."""
    from cyber_etl_spark.graph import algorithms

    default = _LOOPS[loop](algorithms, spark)
    assert loop_paths and all(loop_paths)
    loop_paths.clear()
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    past_cap = _LOOPS[loop](algorithms, spark)
    assert loop_paths and not any(loop_paths)
    assert past_cap == default
    assert default  # non-trivial on the toy graph


# registered queries whose builders run a superstep loop
_LOOP_QUERIES = (
    "q27_dedup_clusters",
    "q28_pagerank",
    "q29_articlerank",
    "q30_communities",
    "q43_modularity",
    "q48_weighted_pagerank",
    "q51_louvain_communities",
    "q70_bfs_hops",
    "q100_community_revenue",
    "q101_louvain_hierarchy",
    "q128_kcore",
    "q129_sssp",
    "q135_personalized_pagerank",
    "q141_hits",
    "q157_ktruss",
    "q162_betweenness_sampled",
    "q194_dbscan_clusters",
    "q196_eigenvector_centrality",
    "q214_cluster_aware_split",
    "q250_harmonic_centrality",
    "q255_graph_diameter",
    "q320_dedup_keep_best",
    "q348_dedup_threshold_sweep",
    "q358_bipartite_check",
    "q412_luby_mis",
)


def test_loop_queries_match_oracle_past_cap(spark, sf_smoke, monkeypatch, loop_paths):
    """Every loop query matches its DuckDB oracle on the shuffle path.
    The memos that hold loop outputs are cleared first: a memo hit would
    skip the loop under test."""
    from cyber_etl_spark.graph import algorithms
    from cyber_etl_spark.plans import QUERIES, graphops
    from cyber_etl_spark.session import session_token
    from cyber_etl_spark.testing import compare_query

    memoized_loops = (graphops._cached_lpa, graphops._cached_louvain1)
    for f in (*memoized_loops, graphops._msf_edges):
        f.memo.clear()
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    failures = []
    for name in _LOOP_QUERIES:
        res = compare_query(spark, sf_smoke, name)
        if not res.ok:
            failures.append(f"{name}: {res.detail}")
    assert set(_LOOP_QUERIES) <= set(QUERIES)
    assert not failures, "\n".join(failures)
    assert loop_paths and not any(loop_paths)
    # the loop memos were rebuilt by this sweep, for this session
    token = session_token(spark)
    for f in memoized_loops:
        assert (token, sf_smoke, f.__name__) in f.memo, f.__name__


def test_aqe_scope_nests(spark):
    """Only the outermost scope turns AQE off; only its exit restores."""
    from cyber_etl_spark.graph.algorithms import _aqe_off

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    with _aqe_off(spark):
        with _aqe_off(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "false"
        with _aqe_off(spark, enabled=False):
            assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before


def test_aqe_scope_overlapping_threads(spark):
    """Thread A enters, thread B enters, A exits while B is still inside,
    then B exits: AQE stays off until B's exit and then returns to the
    session value (a save/restore per scope would restore 'false')."""
    import threading

    from cyber_etl_spark.graph.algorithms import _aqe_off

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def a():
        with _aqe_off(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def b():
        a_in.wait(30)
        with _aqe_off(spark):
            b_in.set()
            a_out.wait(30)
            seen["after_a_exit"] = spark.conf.get(key)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert seen == {"after_a_exit": "false"}
    assert spark.conf.get(key) == before


def test_louvain_improves_on_lpa_cosupply(spark, sf_smoke):
    from cyber_etl_spark.graph.algorithms import (
        label_propagation,
        louvain_level,
        modularity,
    )
    from cyber_etl_spark.graph.builder import co_supply_edges

    edges = co_supply_edges(spark, sf_smoke)
    q_lpa = modularity(edges, label_propagation(edges, iterations=4))
    q_louvain = modularity(edges, louvain_level(edges, rounds=3))
    assert q_louvain >= q_lpa - 1e-9


def test_louvain_hierarchy_refines_level(spark):
    """Hierarchical Louvain composes levels: every original vertex gets a
    top-level community, the partition is no finer than level 1's, and on
    the planted two-clique graph the hierarchy keeps the exact split."""
    from cyber_etl_spark.graph.algorithms import louvain, louvain_level, modularity

    edges = _toy_edges(spark)
    lab1 = {r.id: r.community for r in louvain_level(edges, rounds=3).collect()}
    lab2 = {r.id: r.community for r in louvain(edges, levels=2, rounds=3).collect()}
    assert set(lab2) == set(lab1)
    # level-2 only merges level-1 communities, never splits them
    for a in lab1:
        for b in lab1:
            if lab1[a] == lab1[b]:
                assert lab2[a] == lab2[b]
    assert len(set(lab2.values())) == 2  # the planted split survives
    assert modularity(edges, louvain(edges, levels=2, rounds=3)) >= modularity(
        edges, louvain_level(edges, rounds=3)
    ) - 1e-9


def test_kcore_peel_semantics(spark):
    """On a path-plus-clique graph the 2-core is exactly the clique: the
    path tail peels off over successive rounds (degree-1 endpoints
    cascade), which a single-round degree filter would get wrong."""
    from cyber_etl_spark.graph.algorithms import kcore

    # 4-clique {0,1,2,3} with a pendant path 3-10-11-12
    cl = [(a, b) for a in range(4) for b in range(4) if a != b]
    path = [(3, 10), (10, 3), (10, 11), (11, 10), (11, 12), (12, 11)]
    edges = spark.createDataFrame(cl + path, "src long, dst long")
    out = {r.id: r.core_deg for r in kcore(edges, k=2, rounds=5).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(d == 3 for d in out.values())
    # k above the clique degree leaves nothing
    assert kcore(edges, k=4, rounds=5).count() == 0


def test_sssp_prefers_cheap_multi_hop(spark):
    """Integer Bellman-Ford must take a cheaper 2-hop route over an
    expensive direct edge, and respect the hop limit."""
    from cyber_etl_spark.graph.algorithms import sssp_hop_limited

    rows = [
        (0, 1, 10), (1, 0, 10),
        (0, 2, 1), (2, 0, 1),
        (2, 1, 2), (1, 2, 2),
        (1, 3, 1), (3, 1, 1),
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, weight long")
    d = {r.id: r.dist for r in sssp_hop_limited(edges, 0, iterations=4).collect()}
    assert d == {0: 0, 2: 1, 1: 3, 3: 4}  # 0-2-1 (3) beats 0-1 (10)
    d1 = {r.id: r.dist for r in sssp_hop_limited(edges, 0, iterations=1).collect()}
    assert d1 == {0: 0, 1: 10, 2: 1}  # one relaxation: direct edges only


def test_ktruss_edge_peel_semantics(spark):
    """On a clique-plus-triangle-chain graph: the 4-clique is a 4-truss
    (every edge in 2 triangles); a pendant triangle is 3-truss only; a
    dangling edge (no triangle) peels immediately.  Edges are i<j
    upper-oriented."""
    from cyber_etl_spark.graph.algorithms import ktruss

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    pendant_tri = [(3, 10), (3, 11), (10, 11)]
    dangle = [(11, 20)]
    edges = spark.createDataFrame(
        clique + pendant_tri + dangle, "src long, dst long"
    )
    t3 = {(r.src, r.dst): r.support for r in ktruss(edges, k=3, rounds=4).collect()}
    # 3-truss keeps the clique and the pendant triangle, drops the dangle
    assert set(t3) == set(clique + pendant_tri)
    assert all(s >= 1 for s in t3.values())
    t4 = {(r.src, r.dst) for r in ktruss(edges, k=4, rounds=4).collect()}
    # 4-truss: only the clique (each edge in 2 surviving triangles)
    assert t4 == set(clique)
    # monotone: higher k only removes edges
    assert t4 <= set(t3)
    # k < 3 is ill-defined
    import pytest

    with pytest.raises(ValueError, match="k >= 3"):
        ktruss(edges, k=2)


def test_betweenness_exact_on_path_graph(spark):
    """With ALL vertices as pivots the sampled estimator IS exact
    Brandes: on the path 0-1-2-3 the interior vertices each carry 4
    dependency units (ordered pairs (0,2),(0,3) and reverses through 1;
    symmetrically through 2), endpoints carry 0."""
    from cyber_etl_spark.graph.algorithms import betweenness_sampled

    path = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(path, "src long, dst long")
    out = {r.id: r.bc for r in betweenness_sampled(edges, [0, 1, 2, 3], 4).collect()}
    assert out == {0: 0.0, 1: 4.0, 2: 4.0, 3: 0.0}


def test_betweenness_star_center_dominates(spark):
    """Star K1,4: the hub lies on every leaf-to-leaf shortest path
    (4·3 = 12 ordered pairs), leaves on none."""
    from cyber_etl_spark.graph.algorithms import betweenness_sampled

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)],
        "src long, dst long",
    )
    out = {r.id: r.bc for r in betweenness_sampled(edges, list(range(5)), 3).collect()}
    assert out[0] == 12.0
    assert all(out[i] == 0.0 for i in range(1, 5))
