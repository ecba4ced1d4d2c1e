"""Connected components via iterative min-label propagation (north rule).

Public spec: hash-to-min label propagation (e.g. Rastogi et al. 2013) —
every vertex starts labeled with its own id; each superstep every vertex
takes the min of its own label and its (undirected) neighbors' labels; stop
when no label changes.  Converges in O(diameter) supersteps; exact output:
component id = min vertex id in the component.

Spark shape per superstep: one gather of the labels over the packed
symmetrized adjacency (``plans.messages``) + ``groupBy(id).min`` — map-side
partial min makes hub vertices a non-issue (min is associative; the
two-stage aggregation is free).
The changed-row count doubles as the convergence action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.plans.messages import (
    MessageGraph,
    symmetrize,
    vertices_of,
)
from graph_computing_go_spark.plans.superstep import SuperstepRunner
from graph_computing_go_spark.session import compute_once


def connected_components(
    edges: DataFrame,
    max_iter: int = 100,
    runner: SuperstepRunner | None = None,
    resume: bool = False,
    jump: bool = False,
) -> tuple[DataFrame, int]:
    """Returns ((id, component) DataFrame, iterations_run).

    The messages travel over the packed adjacency of the symmetrized edge
    table (``plans.messages``); duplicate edges are free (min is
    idempotent), so it skips symmetrize's distinct.

    ``jump=True`` appends a pointer-jumping phase to every superstep
    (``component := component's current component`` — one extra vertex-grain
    self-join of the state), which doubles the label-propagation distance
    per round: convergence drops from O(diameter) to O(log diameter)
    supersteps.  Exactness is unchanged — both phases are monotone
    non-increasing per vertex and preserve "label is a member of my
    component", so a full-step fixed point is a relax fixed point, i.e. the
    classic min-id labeling (pinned jump==plain by test).

    Default False because the jump join keys on ``component``: a link graph
    has a GIANT component, and once most of its vertices carry the same
    label they all hash to one task — measured on the 60M-edge bench graph
    (giant component): plain 6 iters / 64 s warm, jump 4 iters / 117 s
    (PERF.md §9).  Use jump=True when components are size-bounded but the
    diameter is not — duplicate CHAINS in dedup_clusters, path-ish
    subgraphs: a 64-vertex path converges in 7 supersteps vs 64.
    """
    with MessageGraph(symmetrize(edges, dedup=False), runner) as g:
        # State (id, component, prev): prev carries last iteration's label
        # so the changed-count is one aggregation over the materialized
        # state.
        state0 = vertices_of(edges).select(
            "id", F.col("id").alias("component"), F.col("id").alias("prev")
        )

        def step(labels: DataFrame, _i: int) -> DataFrame:
            lab = labels.select("id", "component")
            nbr_min = (
                g.gather(lab, "component")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            relaxed = lab.join(nbr_min, "id", "left").select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                F.col("component").alias("prev"),
            )
            if not jump:
                return relaxed
            # pointer jump: component := component's component.  Every label
            # IS a live vertex id (labels start as ids and move by min over
            # ids), so the lookup always matches; left+coalesce is
            # belt-and-braces.  prev stays the PRE-relax label so the
            # convergence count sees any change made by either phase.
            # relaxed feeds both join sides and sits above the cached
            # adjacency, whose exchanges AQE never reuses: compute it once,
            # or every superstep re-runs the gather.
            relaxed = compute_once(relaxed)
            parent = relaxed.select(
                F.col("id").alias("component"), F.col("component").alias("__pc")
            )
            return relaxed.join(parent, "component", "left").select(
                "id",
                F.coalesce("__pc", F.col("component")).alias("component"),
                "prev",
            )

        state, iters = g.runner.run(
            "connected_components", state0, step, g.changed("component"),
            max_iter=max_iter, resume=resume,
        )
    return state.select("id", "component"), iters
