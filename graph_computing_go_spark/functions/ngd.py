"""Normalized Google distance over in-neighbor sets — reference op A9/J6.

Spec: /root/reference/internal/wikipediaGoogleDistance/wikipediaGoogleDistance.go:91-136

    d(a,b) = (log2 max(|A|,|B|) - log2 |A n B|) / (log2 N - log2 min(|A|,|B|))

where A, B are the (distinct) in-neighbor sets of two "core" vertices, N is
the total page count (ALL pages, including redirects — :94), and pairs with
empty intersection are skipped (:113-115).  Output keyed (a < b).

The reference materializes per-vertex hashsets and runs an O(core^2) double
loop (:95-137).  Spark-first formulation: never materialize the sets —
co-occurrence counting via a self-equi-join on the shared in-neighbor:

    inedges(src, dst) |> self-join on src with dst_l < dst_r
                      |> groupBy(dst_l, dst_r).count()

The join key is the *in-neighbor*, so a hub source that links to k core
pages fans out to k*(k-1)/2 pairs — the true output size, not avoidable.
What IS avoidable is one task owning the whole k² blowup: each src's core
dst-list is bucketed into m = ceil(k/chunk) hash buckets and every element
replicated to the m bucket-pair groups it participates in (the standard
balanced all-pairs "triangle grid"), so the join key becomes
(src, bucket_i, bucket_j) and a mega-hub's pairs spread over m(m+1)/2
independent tasks of ~(2·chunk)² pairs each.  Exact: a pair is emitted only
in the single group matching its own bucket pair.  Non-hub sources have
m = 1 and take the plain (src)-keyed path unchanged.  Distinct-ification of
(src, dst) happens once up front (the reference's hashsets dedup
implicitly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.session import compute_once


def google_distance(
    edges: DataFrame,
    core_vertices: DataFrame,
    total_count: int,
    chunk: int = 1024,
    core_count: int | None = None,
) -> DataFrame:
    """(a, b, inter, deg_a, deg_b, distance) for core pairs with overlap.

    ``edges``: (src, dst) resolved link table (sources already filtered the
    way the caller wants — the reference uses non-redirect pages only).
    ``core_vertices``: single column ``id`` — the vertex subset to compare
    (core_subject_tag pages in the reference, :66-68).
    ``total_count``: N in the formula (len(pageMap), :94).
    ``chunk``: per-bucket dst budget for the hub grid — a src with more than
    ``chunk`` core out-links is split over ceil(k/chunk)² pair-buckets,
    bounding any single task at ~(2·chunk)² generated pairs.
    """
    core = core_vertices.select("id").distinct()
    # the core set is bounded by construction (top-k slice / subject tag
    # whitelist) — broadcasting it is safe and skips a shuffle
    # inedges feeds the in-degrees and both sides of the co-occurrence join
    inedges = compute_once(
        edges.join(F.broadcast(core).withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .distinct()
    )
    indeg = inedges.groupBy("dst").agg(F.count("*").alias("deg"))

    # per-src fanout k is bounded by |core|; when the whole core fits one
    # chunk NO src can exceed it → the grid degenerates to m=1 everywhere,
    # so skip its fan-count aggregation + join + replication stages entirely.
    # Callers that know their core bound pass ``core_count`` (counting here
    # would re-execute the caller's whole core-derivation lineage).
    n_core = core_count if core_count is not None else core.count()
    if n_core <= chunk:
        l = inedges.select("src", F.col("dst").alias("a"))
        r = inedges.select("src", F.col("dst").alias("b"))
        pairs = (
            l.join(r, "src")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        # the shared bucket-pair grid (operators/dedup.grid_self_pairs —
        # originally written here, now generalized): per-src fanout k →
        # m = ceil(k/chunk) buckets, pairs keyed (src, gi, gj), each pair
        # counted only in its own bucket-pair group, and the join key
        # explicitly repartitioned so AQE cannot input-size-coalesce the
        # pair-generating join
        from graph_computing_go_spark.operators.dedup import grid_self_pairs

        pairs = (
            grid_self_pairs(inedges, ["src"], "dst", chunk)
            .select(F.col("dst_a").alias("a"), F.col("dst_b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    out = (
        pairs.join(indeg.select(F.col("dst").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(indeg.select(F.col("dst").alias("b"), F.col("deg").alias("deg_b")), "b")
    )
    log_n = F.log2(F.lit(float(total_count)))
    return out.select(
        "a",
        "b",
        "inter",
        "deg_a",
        "deg_b",
        (
            (F.log2(F.greatest("deg_a", "deg_b").cast("double")) - F.log2(F.col("inter").cast("double")))
            / (log_n - F.log2(F.least("deg_a", "deg_b").cast("double")))
        ).alias("distance"),
    )
