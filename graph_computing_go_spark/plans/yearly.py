"""Yearly-snapshot entropy pipeline — the reference's flagship lifecycle
(`oae -t total`, /root/reference/internal/openAlexEntropy/openAlexEntropy.go:136-311).

Per year y (descending, like the reference's 2024→1940 walk):

1. year filter: keep vertices with year <= y (:240-247);
2. shrink: drop edges whose endpoint left (:341-363) — the edge table is
   filtered INCREMENTALLY (year y's edges derive from year y+1's, mirroring
   ``worksMap = worksShrink(...)`` at :252 — a cache-reuse optimization the
   optimizer cannot infer, SURVEY.md §4 "cached/incremental dataset reuse");
3. min-in-degree >= 2 filter on the rank candidates (:260, readme.md:52);
4. TWO rank universes (:255-272): "total" ranks by the all-time in-degree,
   "current" by this year's in-degree;
5. percent ladder {10..100} (:54-108);
6. per slice: induce the subgraph and compute in-degree degree-distribution
   entropy + structural entropy (:288-301), one result row per
   (year, percent, rank_type).

**Plan shape (the scale-critical part).** The reference loops over slices;
a naive port runs 4 jobs × |years|·|ladder|·2 slices.  Instead the ladder
is vectorized: because slices are NESTED (top-10% ⊂ top-20% ⊂ …), each
vertex gets ``minp`` = the smallest ladder point containing it, each edge
``minp_e = max(minp_src, minp_dst)``, and exploding memberships
(p >= minp) turns ALL slices of a universe into one grouped aggregation —
5 shuffles per (year, universe) instead of ~24, with identical results.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.functions.entropy import grouped_degree_entropy
from graph_computing_go_spark.operators.graph import (
    global_row_number,
    rank_partitions_for,
)


def _minp_expr(rank_col, n_col, percents: tuple[int, ...]):
    """Smallest ladder point whose ceil(n*p/100) prefix contains this rank
    (ladder ascending; the p=100 slice contains every candidate)."""
    expr = None
    branches = []
    for p in sorted(percents):
        branches.append((F.col(rank_col) <= F.ceil(F.col(n_col) * p / 100), p))
    expr = F.when(branches[0][0], F.lit(branches[0][1]))
    for cond, p in branches[1:]:
        expr = expr.when(cond, F.lit(p))
    return expr


def _universe_stats(
    edges_y: DataFrame,
    ranked: DataFrame,
    year: int,
    percents: tuple[int, ...],
    rank_types: tuple[str, ...] = ("total", "current"),
) -> DataFrame:
    """Slice stats for BOTH rank universes in one subtree: ``ranked`` is
    (id, rank_type, rank, n_total) and ``rank_type`` threads through every
    join and aggregation as a group key — the tag joins, slice explosions,
    and entropy aggregations are shared instead of duplicated per universe
    (half the compile surface and half the edge-table scans per year)."""
    ladder = F.array(*[F.lit(p) for p in sorted(percents)])
    minp_v = ranked.select(
        "id", "rank_type", _minp_expr("rank", "n_total", percents).alias("minp")
    )
    # PIVOT the universes into one row per vertex before the tag joins: both
    # rankings cover the same candidate set, so the edge table joins a
    # |V|-row table twice and the per-universe fan happens ROW-LOCALLY after
    # the joins — the dst-side shuffle moves |E| rows instead of
    # |E|×|universes| (the tall form's join on (dst, rank_type) shuffled the
    # already-fanned table).
    minp_w = minp_v.groupBy("id").agg(
        *[
            F.max(F.when(F.col("rank_type") == rt, F.col("minp"))).alias(
                f"__mp_{i}"
            )
            for i, rt in enumerate(rank_types)
        ]
    )
    cand_edges = (
        edges_y.join(
            minp_w.select(
                F.col("id").alias("src"),
                *[F.col(f"__mp_{i}").alias(f"__s_{i}") for i in range(len(rank_types))],
            ),
            "src",
        )
        .join(
            minp_w.select(
                F.col("id").alias("dst"),
                *[F.col(f"__mp_{i}").alias(f"__d_{i}") for i in range(len(rank_types))],
            ),
            "dst",
        )
        .select(
            "dst",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rt).alias("rank_type"),
                            # a ladder omitting 100 leaves rank > ceil(n*max_p/100)
                            # vertices with NULL minp (in NO slice): greatest()
                            # would skip the NULL and leak the edge into the
                            # other endpoint's slices — NULL-strict instead,
                            # and such edges are filtered out below
                            F.when(
                                F.col(f"__s_{i}").isNotNull()
                                & F.col(f"__d_{i}").isNotNull(),
                                F.greatest(f"__s_{i}", f"__d_{i}"),
                            ).alias("eminp"),
                        )
                        for i, rt in enumerate(rank_types)
                    ]
                )
            ).alias("__p"),
        )
        .select("dst", "__p.rank_type", "__p.eminp")
        .filter(F.col("eminp").isNotNull())
    )
    # Slice membership is CUMULATIVE (edge ∈ slice p ⟺ e_minp ≤ p), so the
    # per-slice degree never needs an edge-grain ladder fan-out: aggregate
    # once at (vertex, e_minp) grain — NO row growth, map-side combine does
    # most of the work — then explode those per-vertex increment rows (≤
    # |ladder| per vertex) across the ladder points they contribute to.
    # The earlier form exploded EVERY EDGE to every ladder point ≥ its
    # e_minp (≤ |ladder|×|universes| ≈ 12× fan, ~700M rows/year on the 60M
    # bench graph) and shuffled that for the degree groupBy — at 100 TB
    # that fan IS the query cost.  Values are identical: d(id, p) =
    # Σ_{e_minp ≤ p} cnt(id, e_minp).
    deg0 = cand_edges.groupBy(
        "rank_type", F.col("dst").alias("id"), "eminp"
    ).agg(F.count("*").alias("cnt"))
    deg = (
        deg0.select(
            "rank_type",
            "id",
            "cnt",
            F.explode(
                F.filter(ladder, lambda p: p >= F.col("eminp"))
            ).alias("percent"),
        )
        .groupBy("rank_type", "percent", "id")
        .agg(F.sum("cnt").alias("d"))
    )
    v_slices = minp_v.select(
        "id",
        "rank_type",
        F.explode(F.filter(ladder, lambda p: p >= F.col("minp"))).alias("percent"),
    )
    ind = v_slices.join(deg, ["rank_type", "percent", "id"], "left").select(
        "rank_type",
        "percent",
        F.coalesce("d", F.lit(0)).alias("d"),
        F.lit(1).alias("m"),
    )
    # every dst with d>0 is a slice member (minp(dst) <= eminp <= percent),
    # so the slice's edge count is its members' in-degree total
    return grouped_degree_entropy(ind, ["rank_type", "percent"]).select(
        F.lit(year).alias("year"),
        "percent",
        "rank_type",
        "n_vertices",
        F.col("sum_d").alias("n_edges"),
        F.round("dd_h_in", 6).alias("dd_h_in"),
        F.round("se_h_in", 6).alias("se_h_in"),
        F.coalesce("n_in", F.lit(0)).alias("n_in"),
    )


def yearly_entropy_pipeline(
    vertices: DataFrame,
    edges: DataFrame,
    years: list[int],
    percents: tuple[int, ...] = (10, 20, 40, 60, 80, 100),
    min_in_degree: int = 2,
) -> DataFrame:
    """(year, percent, rank_type, n_vertices, n_edges, dd_h_in, se_h_in, n_in)
    for every (year desc, ladder point, universe in {total, current}).

    ``vertices``: (id, year); ``edges``: (src, dst).
    """
    if not years:
        # same typed-empty contract as subject_entropy_lifecycle — and no
        # tagging/candidate jobs run just to index into an empty year list
        return edges.sparkSession.createDataFrame(
            [],
            "year int, percent int, rank_type string, n_vertices long, "
            "n_edges long, dd_h_in double, se_h_in double, n_in long",
        )

    total_indeg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("cnt_total")
    )

    years_sorted = sorted(set(int(y) for y in years))
    years_arr = F.array(*[F.lit(y).cast("int") for y in years_sorted])

    # Vertex years are STATIC, so an edge's snapshot membership is decided
    # once: edge ∈ year y's graph ⟺ max(vyear(src), vyear(dst)) ≤ y.  Tag
    # every edge with that threshold in ONE pass and derive each year's
    # graph as a FILTER over the single cached tagged table — the former
    # per-year chained semi-join shrink re-shuffled the (shrinking) edge
    # table twice per year and pinned a per-year cache; at an 85-year walk
    # that is 170 edge-grain exchanges and two live multi-GB caches,
    # replaced here by one tag join + 85 cached-scan filters.  (Measured on
    # the 60M-edge bench graph: 268 → see PERF.md §16.)
    # NULL-year vertices never pass the old per-year `year <= y` semi-join
    # (NULL comparisons are never true), so they belong to NO snapshot; the
    # filter keeps that contract — without it, greatest() skips the NULL and
    # the edge would leak into every snapshot from the other endpoint's year.
    vy = vertices.select("id", F.col("year").cast("int").alias("vy")).filter(
        F.col("vy").isNotNull()
    )
    n_part = int(
        vertices.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # cached pre-partitioned on src: every year's stats subtree starts with
    # a join on src (filters preserve the layout), so all |years| edge-side
    # exchanges of that join collapse into this one repartition — only the
    # vertex-grain minp side shuffles per year
    tagged = (
        edges.join(vy.select(F.col("id").alias("src"), F.col("vy").alias("ysrc")), "src")
        .join(vy.select(F.col("id").alias("dst"), F.col("vy").alias("ydst")), "dst")
        .select("src", "dst", F.greatest("ysrc", "ydst").alias("ymax"))
        .repartition(n_part, "src")
        .cache()
    )

    # Current in-degree is CUMULATIVE over ymax, so all years' candidate
    # tables come from one edge-grain aggregation (map-side combined, no
    # fan) + a vertex-grain ladder explode — the former per-year
    # cur_indeg re-aggregated the edge table once per year.
    inc = tagged.groupBy(F.col("dst").alias("id"), "ymax").agg(
        F.count("*").alias("c")
    )
    cand_all = (
        inc.select(
            "id",
            "c",
            F.explode(
                F.filter(years_arr, lambda yy: yy >= F.col("ymax"))
            ).alias("yr"),
        )
        .groupBy("yr", "id")
        .agg(F.sum("c").alias("cnt_cur"))
        .filter(F.col("cnt_cur") >= min_in_degree)
        # vertex-grain ⋈ vertex-grain: leave the strategy to AQE (both sides
        # can be huge at scale; no broadcast hint)
        .join(total_indeg, "id", "left")
        .select(
            "yr",
            "id",
            "cnt_cur",
            F.coalesce("cnt_total", F.lit(0)).alias("cnt_total"),
        )
        .cache()
    )
    # one job for every year's candidate count (each former per-year
    # .count() was its own job over a fresh cache)
    cand_counts = {
        r["yr"]: r["n"]
        for r in cand_all.groupBy("yr").agg(F.count("*").alias("n")).collect()
    }

    out: list[DataFrame] = []
    for year in sorted(years_sorted, reverse=True):
        edges_y = tagged.filter(F.col("ymax") <= year).select("src", "dst")
        ranked_base = cand_all.filter(F.col("yr") == year).select(
            "id", "cnt_cur", "cnt_total"
        )
        n_cand = int(cand_counts.get(year, 0))
        # the two universes rank differently (two range-partitioned sorts —
        # unavoidable) but everything downstream is shared: union them under
        # a rank_type key and run ONE stats subtree per year.  Cache: the
        # stats probe the ranking three times (src tag, dst tag, vertex
        # slices) — without it the row-number machinery re-executes per
        # probe; retired right after the stats materialize below.
        ranked_both = None
        for rank_type, cnt_col in (("total", "cnt_total"), ("current", "cnt_cur")):
            r = global_row_number(
                ranked_base.select("id", cnt_col),
                [F.desc(cnt_col), F.asc("id")],
                "rank",
                num_partitions=rank_partitions_for(
                    ranked_base.sparkSession, n_cand
                ),
            ).select(
                "id",
                F.lit(rank_type).alias("rank_type"),
                "rank",
                F.lit(n_cand).alias("n_total"),
            )
            ranked_both = r if ranked_both is None else ranked_both.unionByName(r)
        ranked_both = ranked_both.cache()
        # localCheckpoint materializes this year's (tiny, one row per ladder
        # point and universe) stats NOW, severing lineage to the shared
        # caches — memory stays flat over an 85-year walk: the only live
        # caches are the tagged edge table, the all-years candidate table,
        # and ONE year's ranking at a time
        out.append(
            _universe_stats(edges_y, ranked_both, year, percents)
            .localCheckpoint()
        )
        ranked_both.unpersist()

    tagged.unpersist()
    cand_all.unpersist()
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def expected_slice_sizes(n_candidates: int, percents: tuple[int, ...]) -> dict:
    """ceil(N*p/100) per ladder point (wikiEntropy.go:306-308) — exposed for
    tests."""
    return {p: math.ceil(n_candidates * p / 100) for p in percents}
