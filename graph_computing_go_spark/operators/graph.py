"""Graph-shaping operators: edge derivation, induction, ranking.

Covers the reference's join/filter/rank stages (SURVEY.md §2.2-2.7):

- subgraph induction by vertex membership — hashset semi-joins in the
  reference (/root/reference/internal/wikiEntropy/wikiEntropy.go:122-153,
  internal/openAlexEntropy/openAlexEntropy.go:314-339) → ``left_semi`` joins.
- graph shrink + current in-degree (openAlexEntropy.go:341-363).
- top-k-percent slice over an in-degree ranking with the {10..100} percent
  ladder (wikiEntropy.go:281-310, openAlexEntropy.go:376-394): the reference
  sorts once and re-slices the array; we rank once and re-filter the ranked
  DataFrame — one sort, six filters.
- min-in-degree filter (openAlexEntropy.go:365-374).
- canonical undirected edge orientation (distanceComplexity.go:50-62).

The derived testdata graph (``derive_edges``/``derive_wedges``) is the shared
link graph used by the driver-facing queries and the benchmark: vertex ids are
modular residues of lineitem's (orderkey, partkey) pairs, which is
deterministic, engine-portable (same SQL runs in DuckDB), and produces a
well-connected multigraph with hub vertices at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_computing_go_spark.session import eager_results, is_cached

#: modulus used to fold lineitem keys into a bounded vertex id space
GRAPH_MOD = 500


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def derive_raw_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed multigraph (src, dst) folded from lineitem; self-loops dropped
    (the reference drops self-links, wikiEntropy.go:266)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_orderkey") % GRAPH_MOD).cast("long").alias("src"),
        (F.col("l_partkey") % GRAPH_MOD).cast("long").alias("dst"),
    )
    return e.filter(F.col("src") != F.col("dst"))


def derive_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed edge table (src, dst)."""
    return derive_raw_edges(spark, sf_dir).distinct()


def derive_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted undirected edges (a=max, b=min, distance=multiplicity) —
    canonical single-orientation storage like the reference's distance graphs
    (distanceComplexity.go:50-62)."""
    raw = derive_raw_edges(spark, sf_dir)
    return (
        raw.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("distance"))
    )


def induce_subgraph(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Keep edges with BOTH endpoints in ``vertices(id)`` — two left-semi
    joins; AQE broadcasts the vertex set when it is small."""
    v = vertices.select("id").distinct()
    return edges.join(
        v.withColumnRenamed("id", "src"), "src", "left_semi"
    ).join(v.withColumnRenamed("id", "dst"), "dst", "left_semi")


def shrink(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Graph shrink: drop edges whose dst left the vertex set, return the
    surviving edges (openAlexEntropy.go:341-353 keeps src rows and prunes
    their adjacency; in edge-table form that is a dst-side semi join)."""
    return edges.join(
        vertices.select("id").withColumnRenamed("id", "dst"), "dst", "left_semi"
    )


def current_in_degree(edges: DataFrame) -> DataFrame:
    """(id, cnt) in-degree over the current edge set
    (openAlexEntropy.go:352-356)."""
    return edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("cnt"))


def min_in_degree_filter(edges: DataFrame, min_deg: int = 2) -> DataFrame:
    """Vertices with in-degree >= min_deg (openAlexEntropy.go:365-374;
    policy readme.md:52)."""
    return current_in_degree(edges).filter(F.col("cnt") >= min_deg).select("id")


# monotonically_increasing_id reserves the low 33 bits for the
# in-partition ordinal; any range partition holding >= 2^33 rows would
# wrap silently.  Module-level so tests can shrink it to prove the
# folded assert_true guard actually fires through the real plan.
_ORDINAL_LIMIT = 1 << 33


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based ``row_number`` under ``order_cols`` WITHOUT the
    single-partition ``Window.orderBy`` collapse (SURVEY §4 sort row; the
    reference's one global sort is wikiEntropy.go:290-294).

    Plan: range-partitioned shuffle on the sort keys (partition i holds keys
    strictly before partition i+1's), a per-partition window rank (parallel),
    and partition-offset addition from a tiny per-partition count aggregate
    (|shuffle partitions| rows — the only serial window runs over THAT, not
    the data).  The exchange feeding both branches is identical, so Catalyst
    reuses it; RangePartitioner's sample seed is partition-index-derived,
    hence boundaries are deterministic for deterministic input either way.

    ``order_cols``: Column expressions WITH sort direction (``F.desc(...)``);
    include a unique tie-break so ranking is total.  Emits ``rank_col`` as
    long (row counts at the 10^12 grain overflow int).
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # explicit numPartitions: AQE never re-coalesces a user-specified
    # repartition, so the pid ↔ range mapping is stable within the query.
    # monotonically_increasing_id's low 33 bits are the in-partition ordinal
    # of the partition-sorted rows — local ranks with NO second full-data
    # exchange and no per-partition window.
    if num_partitions == 1:
        # degenerate case (caller measured a small input): one range
        # partition needs no offset machinery — ordinal + 1 IS the rank.
        # Same loud 2^33 guard as the multi-partition path (pid is 0 here,
        # so the raw monotonic id IS the ordinal): a caller that wrongly
        # passes num_partitions=1 over >2^33 rows must fail, not wrap.
        out = (
            df.repartitionByRange(1, *order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        guard = F.coalesce(
            F.assert_true(
                F.col("__mid") < F.lit(_ORDINAL_LIMIT),
                F.lit(
                    "global_row_number: a range partition exceeds 2^33 rows — "
                    "raise num_partitions"
                ),
            ).cast("long"),
            F.lit(0),
        )
        return out.withColumn(
            rank_col,
            F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1 + guard,
        ).drop("__mid")
    # __pid from spark_partition_id (robust at any size); __local from the
    # low 33 bits of monotonically_increasing_id — valid while no single
    # range partition exceeds 2^33 (~8.6e9) rows.  Callers that measured
    # their cardinality get that bound enforced by rank_partitions_for; at
    # the 10^12 grain pass num_partitions >= n / 2^33 explicitly.
    part = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__local",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
        )
    )
    counts = part.groupBy("__pid").agg(F.count("*").alias("__c"))
    # the only serial window: |shuffle partitions| rows, bounded at any scale
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    # the guard is FOLDED INTO __off (assert_true yields NULL on success,
    # coalesce adds 0) so column pruning cannot eliminate it: range-
    # partition SKEW — not just average size — could push one partition
    # past 2^33 rows and silently wrap the ordinals; fail loudly instead
    guard = F.coalesce(
        F.assert_true(
            F.col("__c") < F.lit(_ORDINAL_LIMIT),
            F.lit(
                "global_row_number: a range partition exceeds 2^33 rows — "
                "raise num_partitions"
            ),
        ).cast("long"),
        F.lit(0),
    )
    offsets = counts.select(
        "__pid",
        (F.coalesce(F.sum("__c").over(w_off), F.lit(0)).cast("long") + guard).alias(
            "__off"
        ),
    )
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__local") + 1 + F.col("__off"))
        .drop("__pid", "__off", "__local")
    )


def rank_by_in_degree(edges: DataFrame) -> DataFrame:
    """(id, cnt, rank, n_total): dense global ranking by in-degree desc,
    deterministic tie-break by id asc (the reference's slices.SortFunc is
    also deterministic on the insertion order of equal keys; we pin ties by
    id so goldens are stable, SURVEY §7 hard-part 1).

    Ranking runs through ``global_row_number`` — range-partitioned, no
    single-partition exchange, safe at 10^12-vertex grain.
    """
    indeg = current_in_degree(edges)
    total = indeg.count()
    ranked = global_row_number(
        indeg,
        [F.desc("cnt"), F.asc("id")],
        "rank",
        num_partitions=rank_partitions_for(edges.sparkSession, total),
    )
    return ranked.select("id", "cnt", "rank", F.lit(total).alias("n_total"))


#: target rows per range partition in global rankings — small enough to
#: sort in-memory per task, large enough that tiny vertex tables don't pay
#: a 2×cores-stage fixed cost
RANK_ROWS_PER_PARTITION = 1_000_000


def rank_partitions_for(spark, n_rows: int) -> int:
    """Partition count for a global ranking over a table whose cardinality
    the caller already measured: capped by the session's shuffle partitions,
    floored at 1, ~RANK_ROWS_PER_PARTITION rows each — but never so few
    that a partition could exceed the 2^33-row local-ordinal bound of
    global_row_number."""
    import math

    default = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    want = max(1, min(default, math.ceil(n_rows / RANK_ROWS_PER_PARTITION)))
    floor_for_ordinals = math.ceil(n_rows / (1 << 33)) or 1
    return max(want, floor_for_ordinals)


def top_percent(ranked: DataFrame, percent: int) -> DataFrame:
    """ceil(N*p/100)-prefix slice of a ranked vertex table
    (wikiEntropy.go:306-308: ``int(math.Ceil(float64(len)*percent/100))``)."""
    return ranked.filter(
        F.col("rank") <= F.ceil(F.col("n_total") * percent / 100)
    ).select("id", "cnt", "rank")


def percent_ladder_stats(
    edges: DataFrame, percents: tuple[int, ...] = (10, 20, 40, 60, 80, 100)
) -> DataFrame:
    """Per ladder point: induced-subgraph vertex/edge counts, one ranked
    window reused for every slice (the reference re-slices one sorted array,
    wikiEntropy.go:86-95).  Returns (percent, n_vertices, n_edges)."""
    ranked = rank_by_in_degree(edges).cache()
    # don't adopt a caller-owned cache: cache() returns the SHARED
    # canonicalized-plan entry, so unpersisting below would evict theirs
    edges_preowned = is_cached(edges)
    if not edges_preowned:
        edges = edges.cache()
    outs = []
    for p in percents:
        vs = top_percent(ranked, p)
        sub = induce_subgraph(edges, vs)
        outs.append(
            sub.agg(
                F.lit(p).alias("percent"),
                F.count("*").alias("n_edges"),
            ).crossJoin(vs.agg(F.count("*").alias("n_vertices")))
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    res = res.select("percent", "n_vertices", "n_edges")
    # ladder-grain result: materialize it and retire the internal caches so
    # a 50-query driver session doesn't accrete a full edge-table cache per
    # call (skipped under SPARK_GRAFT_EAGER=0 so plan audits see the plan)
    if eager_results():
        res = res.localCheckpoint()
        ranked.unpersist()
        if not edges_preowned:
            edges.unpersist()
    return res
