"""A/B experiment (VERDICT r6 item 7): broadcast vs shuffle-join plans
for the iterative graph ops (pagerank, kcore, communities_lpa) at sf1.

Each op's per-iteration node frame (ranks / keep set / labels) can be
(A) broadcast onto the stationary edge list — the shipping default — or
(B) shuffle-joined, with the edges hash-partitioned on the join key
once where a single key exists (pagerank/LPA src; kcore's two endpoint
keys cannot share one partitioning). BROADCAST_NODE_LIMIT picks A
below ~50M nodes; this measures both paths on the same sf1 graph so
the switch point is grounded in data, not folklore. Path B is forced by
patching the module constant to 0 for the shuffle runs.

Run: python scripts/ab_graph_broadcast.py [sf1_dir] [n_runs] [op...]
(builds spark-warehouse/sf1 via make_sf1.py if absent; ops default to
pagerank kcore lpa — pass a subset to bound one invocation's runtime)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_cortex_spark.operators import graph as graph_mod
from project_cortex_spark.session import get_spark
from project_cortex_spark.sources.registry import read_parquet


def timed(fn, n_runs: int) -> float:
    fn()  # warm-up
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 2)


class shuffle_arm:
    """Scope the shuffle-join arm: BROADCAST_NODE_LIMIT patched to 0 so
    every operator takes its fallback, and auto-broadcast OFF — the
    node frames here are small enough that AQE would silently convert
    the hint-less join back to broadcast, and the A/B would measure the
    same physical plan twice. In the real >50M-node regime the frame
    exceeds the threshold and AQE keeps the shuffle join on its own —
    this scoped conf reproduces that regime at sf1 size."""

    KEYS = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.limit = graph_mod.BROADCAST_NODE_LIMIT
        graph_mod.BROADCAST_NODE_LIMIT = 0
        self.old = {k: self.spark.conf.get(k, None) for k in self.KEYS}
        for k in self.KEYS:
            self.spark.conf.set(k, "-1")

    def __exit__(self, *exc):
        graph_mod.BROADCAST_NODE_LIMIT = self.limit
        for k, v in self.old.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def main() -> None:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "spark-warehouse/sf1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    ops = set(sys.argv[3:]) or {"pagerank", "kcore", "lpa"}
    if not os.path.isdir(os.path.join(sf1, "lineitem.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "make_sf1.py"), sf1],
            check=True,
        )
    spark = get_spark(app_name="ab-graph-broadcast")
    lineitem = read_parquet(spark, os.path.join(sf1, "lineitem.parquet"))
    edges = graph_mod.cooccurrence_edges(
        lineitem, group_col="l_orderkey", item_col="l_partkey", max_df=50
    ).localCheckpoint()  # materialize once: the A/B isolates the loops
    n_edges = edges.count()
    n_nodes = (
        edges.selectExpr("a AS n").union(edges.selectExpr("b AS n")).distinct().count()
    )
    print(f"sf1 graph: {n_edges} edges, {n_nodes} nodes")

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    runs = {
        "pagerank": lambda: sink(graph_mod.pagerank(edges, iters=5)),
        "kcore": lambda: sink(graph_mod.kcore(edges, k=3, rounds=4)),
        "lpa": lambda: sink(graph_mod.communities_lpa(edges, rounds=4)),
    }
    for name, fn in runs.items():
        if name not in ops:
            continue
        print(f"{name} broadcast: {timed(fn, n_runs)} s", flush=True)
        with shuffle_arm(spark):
            print(f"{name} shuffle: {timed(fn, n_runs)} s", flush=True)


if __name__ == "__main__":
    main()
