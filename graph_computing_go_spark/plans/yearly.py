"""Yearly-snapshot entropy pipeline — the reference's flagship lifecycle
(`oae -t total`, /root/reference/internal/openAlexEntropy/openAlexEntropy.go:136-311).

The reference walks its years one at a time (2024→1940); here every year is
a group key of ONE plan.  For each year y:

1. year filter: keep vertices with year <= y (:240-247);
2. shrink: drop edges whose endpoint left (:341-363) — vertex years are
   static, so an edge belongs to year y's graph exactly when
   ``ymax`` = max(year(src), year(dst)) ≤ y;
3. min-in-degree >= 2 filter on the rank candidates (:260, readme.md:52);
4. TWO rank universes (:255-272): "total" ranks by the all-time in-degree,
   "current" by this year's in-degree;
5. percent ladder {10..100} (:54-108);
6. per slice: induce the subgraph and compute in-degree degree-distribution
   entropy + structural entropy (:288-301), one result row per
   (year, percent, rank_type).

**Plan shape (the scale-critical part).**  Edges are tagged with ``ymax``
once and fanned to the listed years yr ≥ ymax; that one table gives every
year's candidates (one map-side-combined aggregation) and every year's
slice edges.  ONE grouped ranking (``global_row_number`` with
``group_cols=(yr, rank_type)``) ranks the candidates of every (year,
universe).  Slices are nested, so ``slice_membership`` turns the ladder
into a ``minp`` per vertex and an ``eminp`` per edge, and the slice degrees
into one aggregation at (vertex, eminp) grain — no edge-grain ladder
fan-out.  No driver loop, cache or per-year checkpoint: the job count does
not grow with the year list (PERF.md §20).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.functions.entropy import grouped_degree_entropy
from graph_computing_go_spark.operators.graph import (
    global_row_number,
    slice_membership,
)
from graph_computing_go_spark.session import compute_once, eager_results


def _universe_stats(
    edges: DataFrame, ranked: DataFrame, percents: tuple[int, ...]
) -> DataFrame:
    """Slice stats for every (year, universe): ``ranked`` is
    (id, yr, rank_type, rank, n_total), ``edges`` (src, dst, yr), and
    ``yr``/``rank_type`` thread through every join and aggregation as
    group keys."""
    ladder = F.array(*[F.lit(p) for p in sorted(set(percents))])
    minp_v, cand_edges = slice_membership(
        edges, ranked, percents, ("total", "current"), keys=("yr",)
    )
    # Slice membership is CUMULATIVE (edge ∈ slice p ⟺ e_minp ≤ p), so the
    # per-slice degree never needs an edge-grain ladder fan-out: aggregate
    # once at (vertex, e_minp) grain — NO row growth, map-side combine does
    # most of the work — then explode those per-vertex increment rows (≤
    # |ladder| per vertex) across the ladder points they contribute to:
    # d(id, p) = Σ_{e_minp ≤ p} cnt(id, e_minp).
    deg = (
        cand_edges.groupBy("yr", "rank_type", F.col("dst").alias("id"), "eminp")
        .agg(F.count("*").alias("cnt"))
        .select(
            "yr",
            "rank_type",
            "id",
            "cnt",
            F.explode(F.filter(ladder, lambda p: p >= F.col("eminp"))).alias("percent"),
        )
        .groupBy("yr", "rank_type", "percent", "id")
        .agg(F.sum("cnt").alias("d"))
    )
    v_slices = minp_v.select(
        "id",
        "yr",
        "rank_type",
        F.explode(F.filter(ladder, lambda p: p >= F.col("minp"))).alias("percent"),
    )
    ind = v_slices.join(deg, ["yr", "rank_type", "percent", "id"], "left").select(
        "yr",
        "rank_type",
        "percent",
        F.coalesce("d", F.lit(0)).alias("d"),
        F.lit(1).alias("m"),
    )
    # every dst with d>0 is a slice member (minp(dst) <= eminp <= percent),
    # so the slice's edge count is its members' in-degree total
    return grouped_degree_entropy(ind, ["yr", "rank_type", "percent"]).select(
        F.col("yr").alias("year"),
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
    for every (year, ladder point, universe in {total, current}).

    ``vertices``: (id, year); ``edges``: (src, dst).
    """
    if not years:
        # same typed-empty contract as subject_entropy_lifecycle
        return edges.sparkSession.createDataFrame(
            [],
            "year int, percent int, rank_type string, n_vertices long, "
            "n_edges long, dd_h_in double, se_h_in double, n_in long",
        )
    years_arr = F.array(
        *[F.lit(y).cast("int") for y in sorted({int(y) for y in years})]
    )
    # NULL-year vertices never pass a `year <= y` test, so they belong to NO
    # snapshot; without the filter greatest() would skip the NULL and the
    # edge would leak into every snapshot from the other endpoint's year.
    vy = vertices.select("id", F.col("year").cast("int").alias("vy")).filter(
        F.col("vy").isNotNull()
    )

    def year_of(end):
        return vy.select(F.col("id").alias(end), F.col("vy").alias(f"y{end}"))

    # the candidate counts and the slice edges both read the tagged table
    tagged = compute_once(
        edges.join(year_of("src"), "src")
        .join(year_of("dst"), "dst")
        .select("src", "dst", F.greatest("ysrc", "ydst").alias("ymax"))
    )

    # an edge tagged ymax belongs to every listed year >= ymax
    fanned = tagged.select(
        "src",
        "dst",
        F.explode(F.filter(years_arr, lambda yy: yy >= F.col("ymax"))).alias("yr"),
    )
    total_indeg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("cnt_total")
    )
    cand = (
        fanned.groupBy("yr", F.col("dst").alias("id"))
        .agg(F.count("*").alias("cnt_cur"))
        .filter(F.col("cnt_cur") >= min_in_degree)
        # vertex-grain ⋈ vertex-grain: leave the strategy to AQE (every
        # candidate has in-edges, so it has a total in-degree)
        .join(total_indeg, "id")
        .select(
            "yr",
            "id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("total").alias("rank_type"),
                        F.col("cnt_total").alias("cnt"),
                    ),
                    F.struct(
                        F.lit("current").alias("rank_type"),
                        F.col("cnt_cur").alias("cnt"),
                    ),
                )
            ).alias("__u"),
        )
        .select("yr", "id", "__u.rank_type", "__u.cnt")
    )
    ranked = global_row_number(
        cand, [F.desc("cnt"), F.asc("id")], group_cols=("yr", "rank_type")
    )
    res = _universe_stats(fanned, ranked, percents)
    return res.localCheckpoint() if eager_results() else res


def expected_slice_sizes(n_candidates: int, percents: tuple[int, ...]) -> dict:
    """ceil(N*p/100) per ladder point (wikiEntropy.go:306-308) — exposed for
    tests."""
    return {p: math.ceil(n_candidates * p / 100) for p in percents}
