"""Synchronous label propagation for community detection (north rule).

Public spec: Raghavan et al. 2007, made deterministic for golden parity
(BASELINE.json:14 — "label assignments exact"):

- labels start as vertex ids;
- each superstep every vertex adopts the most frequent label among its
  undirected neighbors (synchronous update), breaking frequency ties by the
  SMALLEST label; isolated vertices keep their label;
- stop when no label changes or after ``max_iter`` (synchronous LPA can
  oscillate on bipartite-ish structures, so a finite cap is part of the
  spec; callers that need a fixed snapshot pass ``exact_iters``).

Shape per superstep: the labels gathered over the packed adjacency
(``plans.messages``) → groupBy(id, label).count() →
window row_number (count DESC, label ASC) = 1.  The count aggregation is
map-side combined; the window partitions by vertex so it shuffles on the
same key as the groupBy — Catalyst collapses them into one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_computing_go_spark.plans.messages import (
    MessageGraph,
    symmetrize,
    vertices_of,
)
from graph_computing_go_spark.plans.superstep import SuperstepRunner


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    exact_iters: int | None = None,
    runner: SuperstepRunner | None = None,
    resume: bool = False,
) -> tuple[DataFrame, int]:
    """Returns ((id, label) DataFrame, iterations_run).

    Vote counts are preserved: symmetrize(dedup=True) runs BEFORE packing
    and collect_list keeps every (deduplicated) edge."""
    with MessageGraph(symmetrize(edges), runner) as g:
        state0 = vertices_of(edges).select(
            "id", F.col("id").alias("label"), F.col("id").alias("prev")
        )

        def step(labels: DataFrame, _i: int) -> DataFrame:
            lab = labels.select("id", "label")
            freq = (
                g.gather(lab, "label")
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count("*").alias("c"))
            )
            w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("label"))
            best = (
                freq.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("id", F.col("label").alias("new_label"))
            )
            return lab.join(best, "id", "left").select(
                "id",
                F.coalesce("new_label", F.col("label")).alias("label"),
                F.col("label").alias("prev"),
            )

        if exact_iters is None:
            converged = g.changed("label")
        else:
            def converged(_old: DataFrame, new: DataFrame, i: int) -> bool:
                new.count()  # materialize this superstep's checkpoint
                return i >= exact_iters
            max_iter = exact_iters

        state, iters = g.runner.run(
            "label_propagation", state0, step, converged, max_iter=max_iter,
            resume=resume,
        )
    return state.select("id", "label"), iters
