"""Iterative graph plans (north-rule algorithms; SURVEY.md §2.10).

The reference has no iterative engine — its per-year loop reuses the previous
year's shrunk graph (/root/reference/internal/openAlexEntropy/openAlexEntropy.go:240-252)
and its resumability is a task ledger (internal/extractWikipediadump/mongoClient.go:65-79).
We generalize both into a superstep driver (``superstep.SuperstepRunner``) with
per-iteration parquet checkpoints, per-partition lineage rows, and mid-run
resume, then build PageRank / connected components / label propagation on
one message-passing core (``messages.MessageGraph``: the packed adjacency,
the gather and the changed-count convergence) and triangle counting beside
them.
"""

from graph_computing_go_spark.plans.components import connected_components  # noqa: F401
from graph_computing_go_spark.plans.labelprop import label_propagation  # noqa: F401
from graph_computing_go_spark.plans.pagerank import pagerank  # noqa: F401
from graph_computing_go_spark.plans.superstep import SuperstepRunner  # noqa: F401
from graph_computing_go_spark.plans.triangles import (  # noqa: F401
    triangle_count,
    triangles_per_vertex,
)
