"""Graph-shaping operators: edge derivation, induction, ranking.

Covers the reference's join/filter/rank stages (SURVEY.md §2.2-2.7):

- subgraph induction by vertex membership — hashset semi-joins in the
  reference (/root/reference/internal/wikiEntropy/wikiEntropy.go:122-153,
  internal/openAlexEntropy/openAlexEntropy.go:314-339) → ``left_semi`` joins.
- graph shrink + current in-degree (openAlexEntropy.go:341-363).
- top-k-percent slices over an in-degree ranking with the {10..100} percent
  ladder (wikiEntropy.go:281-310, openAlexEntropy.go:376-394): the reference
  sorts once and re-slices the array; slices are nested, so we rank once,
  tag every vertex with the smallest slice holding it and every edge with
  the larger tag of its endpoints (``slice_membership``), and count the
  whole ladder in one aggregation.
- grouped global ranking (``global_row_number(group_cols=...)``): one
  range-partitioned sort ranks every (year, universe) of the yearly walk.
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

from graph_computing_go_spark.session import compute_once, eager_results

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


def _ordinal_guard(rows):
    """0 while ``rows`` (a partition's row count) stays below the ordinal
    limit, a loud failure otherwise.  Callers FOLD it into a column the
    result needs (assert_true yields NULL on success, coalesce adds 0), so
    column pruning cannot eliminate it."""
    return F.coalesce(
        F.assert_true(
            rows < F.lit(_ORDINAL_LIMIT),
            F.lit(
                "global_row_number: a range partition exceeds 2^33 rows — "
                "raise num_partitions"
            ),
        ).cast("long"),
        F.lit(0),
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    num_partitions: int | None = None,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """1-based ``row_number`` under ``order_cols`` WITHOUT the
    single-partition ``Window.orderBy`` collapse (SURVEY §4 sort row; the
    reference's one global sort is wikiEntropy.go:290-294).

    Plan: a range-partitioned shuffle on the sort keys (partition i holds
    keys strictly before partition i+1's), the in-partition ordinal of the
    partition-sorted rows (the low 33 bits of monotonically_increasing_id —
    no second full-data exchange, no per-partition window), and an offset
    per (partition, group) cell from a tiny count aggregate over those
    cells (the only serial window runs over THAT, not the data).

    ``group_cols``: column names; ranks restart at 1 in every group and the
    group's row count is emitted as ``n_total``.  The sort runs over
    ``(group…, order…)``, so each group is a contiguous run of the global
    order and its rank is the global rank minus the group's start.  The
    cell table has ≤ |partitions| + |groups| rows and is broadcast: meant
    for a bounded number of groups (years × universes), not a vertex-grain
    key — partition such a ranking with a plain Window instead.

    The ranked partitions are materialized ONCE (a lazy localCheckpoint,
    independent of ``SPARK_GRAFT_EAGER``) and both the cell counts and the
    ordinals read that copy: re-running the range exchange per consumer
    (which AQE does whenever a cached relation sits below it) re-samples
    the boundaries, and two samples of a reshuffled input disagree.

    ``order_cols``: Column expressions WITH sort direction (``F.desc(...)``);
    include a unique tie-break so ranking is total.  Emits ``rank_col`` as
    long (row counts at the 10^12 grain overflow int).
    """
    group_cols = list(group_cols)
    keys = [*[F.asc(g) for g in group_cols], *order_cols]
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # explicit numPartitions: AQE never re-coalesces a user-specified
    # repartition, so the pid ↔ range mapping is stable within the query
    ranged = df.repartitionByRange(num_partitions, *keys).sortWithinPartitions(
        *keys
    )
    if num_partitions == 1 and not group_cols:
        # one range partition, one consumer: ordinal + 1 IS the rank (pid is
        # 0, so the raw monotonic id is the ordinal) — same loud 2^33 guard
        mid = ranged.withColumn("__mid", F.monotonically_increasing_id())
        return mid.withColumn(
            rank_col,
            F.col("__mid") + 1 + _ordinal_guard(F.col("__mid")),
        ).drop("__mid")
    # __pid from spark_partition_id, not the monotonic id's high bits: an
    # overflowing ordinal would carry into those and hide from the guard
    part = ranged.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)).alias(
            "__local"
        ),
    ).localCheckpoint(eager=False)
    cell = ["__pid", *group_cols]
    cells = part.groupBy(*cell).agg(F.count("*").alias("__c"))
    # cells in global order; __cum = rows before the cell
    w_all = Window.orderBy(*cell).rowsBetween(Window.unboundedPreceding, -1)
    cells = cells.withColumn(
        "__cum", F.coalesce(F.sum("__c").over(w_all), F.lit(0)).cast("long")
    )
    pid_start = F.min("__cum").over(Window.partitionBy("__pid"))
    in_group = Window.partitionBy(*group_cols)
    offsets = cells.select(
        *[F.col(c).alias(f"__k{i}") for i, c in enumerate(cell)],
        # rows of this partition up to the cell's end — at its last cell,
        # the partition's size: range-partition SKEW, not just average
        # size, could push one past 2^33 rows and wrap the ordinals
        (
            pid_start
            - F.min("__cum").over(in_group)
            + _ordinal_guard(F.col("__cum") + F.col("__c") - pid_start)
        ).alias("__off"),
        F.sum("__c").over(in_group).alias("__n"),
    )
    out = part.join(
        F.broadcast(offsets),
        [F.col(c).eqNullSafe(F.col(f"__k{i}")) for i, c in enumerate(cell)],
    ).withColumn(rank_col, F.col("__local") + 1 + F.col("__off"))
    out = out.drop(*[f"__k{i}" for i in range(len(cell))], "__pid", "__local", "__off")
    return out.withColumnRenamed("__n", "n_total") if group_cols else out.drop("__n")


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


def slice_membership(
    edges: DataFrame,
    ranked: DataFrame,
    percents: tuple[int, ...],
    rank_types: tuple[str, ...],
    keys: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Vertex and edge membership in the nested top-p% slices of a ranking
    (the reference re-slices one sorted array, wikiEntropy.go:281-310).

    Slices are NESTED (top-10% ⊂ top-20% ⊂ …), so a vertex's membership is
    one number, ``minp`` — the smallest ladder point whose ceil(n·p/100)
    prefix holds its rank (wikiEntropy.go:306-308) — and an edge lies in
    slice p exactly when ``eminp`` = max(minp(src), minp(dst)) ≤ p.  A
    ladder omitting 100 leaves the ranks beyond its top point with NULL
    minp, in NO slice, and their edges with NULL eminp: greatest() would
    skip the NULL and leak the edge into the other endpoint's slices, so the
    edge tag is NULL-strict and such edges are dropped.

    ``ranked``: (id, *keys, rank_type, rank, n_total), one ranking per
    (keys…, rank_type) with ``rank_types`` its universes; ``edges``:
    (src, dst, *keys).  Returns (id, *keys, rank_type, minp) and
    (dst, *keys, rank_type, eminp).
    """
    conds = [
        (F.col("rank") <= F.ceil(F.col("n_total") * p / 100), p)
        for p in sorted(set(percents))
    ]
    minp = F.when(*conds[0])
    for cond, p in conds[1:]:
        minp = minp.when(cond, p)
    # the pivot below and the caller's vertex slices both read it
    verts = compute_once(ranked.select("id", *keys, "rank_type", minp.alias("minp")))
    # PIVOT the universes into one row per vertex before the tag joins: the
    # edge table joins a |V|-row table twice and the per-universe fan
    # happens ROW-LOCALLY after the joins — the dst-side shuffle moves |E|
    # rows, not |E|×|universes|
    wide = verts.groupBy("id", *keys).agg(
        *[
            F.max(F.when(F.col("rank_type") == rt, F.col("minp"))).alias(
                f"__m{i}"
            )
            for i, rt in enumerate(rank_types)
        ]
    )

    def tags(end, tag):
        return wide.select(
            F.col("id").alias(end),
            *keys,
            *[F.col(f"__m{i}").alias(f"{tag}{i}") for i in range(len(rank_types))],
        )

    tagged = (
        edges.join(tags("src", "__s"), ["src", *keys])
        .join(tags("dst", "__d"), ["dst", *keys])
        .select(
            "dst",
            *keys,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rt).alias("rank_type"),
                            F.when(
                                F.col(f"__s{i}").isNotNull()
                                & F.col(f"__d{i}").isNotNull(),
                                F.greatest(f"__s{i}", f"__d{i}"),
                            ).alias("eminp"),
                        )
                        for i, rt in enumerate(rank_types)
                    ]
                )
            ).alias("__p"),
        )
        .select("dst", *keys, "__p.rank_type", "__p.eminp")
        .filter(F.col("eminp").isNotNull())
    )
    return verts, tagged


def percent_ladder_stats(
    edges: DataFrame, percents: tuple[int, ...] = (10, 20, 40, 60, 80, 100)
) -> DataFrame:
    """(percent, n_vertices, n_edges) per ladder point: the top-p% slice of
    the in-degree ranking and the edge count of the subgraph it induces
    (wikiEntropy.go:281-310).

    One ranking, the two tag joins of ``slice_membership``, one
    ``groupBy(eminp)`` count and a running sum over its ≤ |ladder| rows;
    the slice size is closed-form, min(n, ceil(n·p/100)).
    """
    spark = edges.sparkSession
    indeg = current_in_degree(edges)
    n = indeg.count()
    ranked = global_row_number(
        indeg,
        [F.desc("cnt"), F.asc("id")],
        num_partitions=rank_partitions_for(spark, n),
    ).select(
        "id", F.lit("in_degree").alias("rank_type"), "rank", F.lit(n).alias("n_total")
    )
    _, tagged = slice_membership(edges, ranked, percents, ("in_degree",))
    points = sorted(set(percents))
    ladder = F.array(*[F.lit(p) for p in points])
    res = (
        tagged.groupBy("eminp")
        .agg(F.count("*").alias("c"))
        .select(
            F.explode(F.filter(ladder, lambda p: p >= F.col("eminp"))).alias("percent"),
            "c",
        )
        # every ladder point gets a row, with or without edges
        .unionByName(
            spark.createDataFrame([(p, 0) for p in points], "percent int, c long")
        )
        .groupBy("percent")
        .agg(F.sum("c").alias("n_edges"))
        .select(
            "percent",
            F.least(F.lit(n), F.ceil(F.col("percent") * n / 100)).alias("n_vertices"),
            "n_edges",
        )
    )
    return res.localCheckpoint() if eager_results() else res
