"""graph_computing_go_spark — a PySpark-native link-graph analytics engine.

Re-creates (Spark-first, not a port) the query capabilities of the reference
``knogen/graph-computing-go`` (read-only at ``/root/reference``): degree
statistics and histograms, degree-distribution entropy, structural (in-degree)
entropy, multilayer/partitioned structural entropy, normalized Google distance,
and distance complexity — plus the link-graph suite the north rule adds
(PageRank, connected components, label propagation, triangle counting) and a
training-data toolkit (dedup, similarity search, text analysis, multimodal
plumbing).

Everything is DataFrame/SQL, with Arrow-batched Python kernels only where
Python does real work (tokenizer, sequence packing, numpy matmul and codec
seams — PERF.md §19); no per-row Python, no RDDs.  Designed for 100 TB-scale inputs: explicit partitioning, broadcast
hints for dimension tables, salting + two-stage aggregation for hub vertices,
AQE on by default, and a checkpoint/resume superstep driver for the iterative
algorithms.
"""

from graph_computing_go_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
