"""The benchmark's named workloads: which registered queries run, at which
scale, and how the session is used.

Every workload is a closed loop with one client on one SparkSession: each
query is built and written to the ``noop`` sink only after the previous one
finished.  The first pass in a fresh session is the cold pass, where shared
artifacts are built; the warm timed passes follow in the same session.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    """Why each workload was chosen is recorded in ``BENCHMARK.json``."""

    name: str
    queries: tuple[str, ...]
    # warm pass wall time on a 4-core host when the workload was sized; a
    # run makes --seconds / pass_estimate_s warm passes, a count that does
    # not change with the speed of the code measured
    pass_estimate_s: float
    sf: float = 0.1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            (
                "q01_pricing_summary",
                "q05_region_volume",
                "q06_semi_join",
                "q07_anti_join",
                "q09_topk_per_group",
                "q55_disjunctive_filter",
                "q114_gq_tag_histogram",
            ),
            pass_estimate_s=3.7,
        ),
        Workload(
            "graph-artifacts",
            (
                "q28_pagerank",
                "q141_hits",
                "q405_single_linkage_sweep",
            ),
            pass_estimate_s=4.6,
            sf=0.01,
        ),
    )
}
