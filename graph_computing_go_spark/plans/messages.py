"""Message passing over a packed adjacency — the one superstep skeleton
under PageRank, connected components and label propagation (Pregel,
Malewicz et al. 2010; GraphX ``aggregateMessages``).

Every superstep each vertex sends a message along its out-edges and the
algorithm merges the messages per destination.  This module is the only
place that knows:

- the adjacency: CSR-style ``(src, deg, dsts)`` rows, pinned to hash(src)
  once, cached for the run and retired after it — no superstep re-shuffles
  the edges, only the vertex-grain state and the merge move (PERF.md §6, §8);
- the gather: the state joins the adjacency on ``src`` and fans out over
  ``dsts`` in the same stage;
- the changed-count convergence;
- the vertex table and the default ``SuperstepRunner``.

The algorithms keep only their message and merge: PageRank's ``rank/deg``
with the salted sum, CC's min, LPA's vote count and argmax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.plans.superstep import SuperstepRunner

#: cap on the dsts array of one adjacency row; a src of higher out-degree
#: spreads over ceil(deg/CHUNK) rows
CHUNK = 4096


def vertices_of(edges: DataFrame) -> DataFrame:
    # both endpoints in one scan (union form reads the edge table twice)
    return edges.select(F.explode(F.array("src", "dst")).alias("id")).distinct()


def symmetrize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Undirected edge table (both orientations, no self-loops).

    ``dedup=False`` skips the distinct — a full extra shuffle of 2|E| rows.
    Safe for idempotent aggregations (min-label CC: duplicate edges change
    nothing); REQUIRED True for frequency-sensitive ones (label propagation
    counts votes)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    # both orientations from ONE scan of the edge table (explode of the two
    # (s, d) structs) — the union-of-two-selects form read it twice, which
    # is two full file scans when the input is an uncached parquet table
    both = e.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("__e")
    ).select(F.col("__e.s").alias("src"), F.col("__e.d").alias("dst"))
    return both.distinct() if dedup else both


def packed_adjacency(edges: DataFrame, n_part: int) -> DataFrame:
    """CSR-style packed adjacency: (src, deg, dsts array<dst>) rows, arrays
    capped at ~``CHUNK`` entries (north rule: "CSR-style adjacency
    partitions", BASELINE.json:4).

    Per-superstep effect vs a flat edge cache: the state⋈adjacency join
    probes |V|-grain rows instead of |E|-grain ones, and the edge fan-out
    happens in-place via ``explode`` inside the same stage — measured
    10–15% faster supersteps on the 60M-edge bench graph (PERF.md §8).
    The cap turns a 100M-out-degree hub into ceil(deg/CHUNK) rows instead
    of one giant cell (row-size OOM guard), which also bounds hot-src join
    skew by construction; multi-edges are preserved (collect_list keeps
    duplicates).  ``deg`` is the src's TOTAL out-degree (not the chunk's
    length).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("deg") / F.lit(CHUNK))
    ).cast("int")
    packed = (
        edges.join(deg, "src")
        .withColumn("__chunk", F.pmod(F.xxhash64("dst"), n_chunks).cast("int"))
        .groupBy("src", "__chunk")
        .agg(F.collect_list("dst").alias("dsts"), F.first("deg").alias("deg"))
        .drop("__chunk")
    )
    # groupBy leaves hash(src, __chunk) partitioning — re-pin to hash(src) so
    # every superstep's join is exchange-free on this side (PERF.md §6).
    return packed.repartition(n_part, "src")


class MessageGraph:
    """The packed adjacency of ``edges``, built and cached once, and the
    runner that iterates a vertex state over it (the caller's runner, or an
    in-memory one).

    A context manager: on exit it unpersists the adjacency and every side
    table pinned with ``cached`` — the runner's final state is
    localCheckpointed, so it outlives them."""

    def __init__(self, edges: DataFrame, runner: SuperstepRunner | None = None):
        spark = edges.sparkSession
        self.runner = runner or SuperstepRunner(spark)
        self._caches: list[DataFrame] = []
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        self.adj = self.cached(packed_adjacency(edges, n_part))
        # materialize once (reused every superstep), counting on the way the
        # vertices that send messages: the rest have no out-edges
        self.senders = self.adj.agg(F.countDistinct("src")).collect()[0][0]

    def __enter__(self) -> MessageGraph:
        return self

    def __exit__(self, *_exc) -> None:
        for df in self._caches:
            df.unpersist()

    def cached(self, df: DataFrame) -> DataFrame:
        """``df`` cached until the graph exits (a derived table the
        supersteps read again, e.g. PageRank's vertex set)."""
        self._caches.append(df.cache())
        return df

    def gather(self, state: DataFrame, *msgs: str | Column) -> DataFrame:
        """(src, msgs…, dst) rows: every vertex of ``state`` (keyed ``id``)
        sends ``msgs`` to each of its out-neighbours.  The messages are
        evaluated once per adjacency row, before the fan-out; the state is
        the only side of the join that moves."""
        sent = self.adj.join(state.withColumnRenamed("id", "src"), "src").select(
            "src", *msgs, "dsts"
        )
        return sent.select(*sent.columns[:-1], F.explode("dsts").alias("dst"))

    def changed(self, col: str):
        """converged() callback: done when no vertex's ``col`` differs from
        its ``prev`` (one aggregation over the materialized state); the
        changed-row count goes to the iteration metrics."""

        def converged(_old: DataFrame, new: DataFrame, _i: int) -> bool:
            changed = new.agg(
                F.sum((F.col(col) != F.col("prev")).cast("long")).alias("c")
            ).collect()[0]["c"]
            # sum over an EMPTY state is NULL — an edgeless graph is
            # converged, not an infinite loop (dedup_clusters with zero
            # verified pairs)
            self.runner.last_delta = float(changed or 0)
            return (changed or 0) == 0

        return converged
