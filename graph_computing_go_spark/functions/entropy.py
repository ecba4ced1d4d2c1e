"""Degree statistics + entropy aggregates (reference ops A1-A4).

Semantics reproduced from the reference's executable specs:

- degree-distribution entropy — Shannon entropy over the *histogram of degree
  values*: H = -sum_k p_k log2 p_k with p_k = (#nodes of degree k)/N.  The
  in/out variants include the 0-degree bucket (nodes with edges in only one
  direction); the all-degree variant drops total-degree-0 nodes.  Spec:
  /root/reference/lab/test.ipynb cell 1 ``handle_degree_distrubution_entropy``
  (reproduces the Go lib `DegreeEntropy()` — SURVEY.md §5).
- structural entropy — H = -sum_i (d_i/S) log2(d_i/S) over nodes with
  d_i >= 1, S = sum d_i; normalized form
  (H - E_min) / (log2 n - E_min), E_min = log2(4(n-1))/2 with n = count of
  nodes having d_i >= 1.  Spec: ``handle_struct_entropy`` same cell; matches
  the Go goldens /root/reference/internal/entropy/entropy_test.go:18,30-31
  to 1e-9.

Implementation notes (scale): every entropy is computed with the identity

    H = log2(S) - (sum_i d_i*log2(d_i)) / S

which turns the two-pass "normalize then sum" formula into ONE hash
aggregation over the degree table — no window-over-all-rows, no second
shuffle, no driver loop.  float64 throughout; on the reference's golden
graphs this matches to <1e-12.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def degrees(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """Per-vertex (id, in_deg, out_deg, all_deg) from an edge table (src, dst).

    Vertex universe defaults to edge endpoints (the reference builds graphs
    from an edge stream: graph.NewGraphFromChan,
    /root/reference/internal/wikiEntropy/wikiEntropy.go:127-151).  Pass
    ``vertices`` (single column ``id``) to widen the universe (isolated
    vertices get degree 0, matching the page-table universe used by the
    degree-stats commands, /root/reference/internal/wikiEntropy/degreeStats.go).

    Multi-edges count once each (the reference stores adjacency *lists*, not
    sets).  One shuffle per direction; the join keys are already the group
    keys so AQE coalesces the tiny side.
    """
    ins = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
    outs = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
    deg = ins.join(outs, "id", "full_outer")
    if vertices is not None:
        deg = vertices.select("id").distinct().join(deg, "id", "full_outer")
    return deg.select(
        "id",
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        (F.coalesce("in_deg", F.lit(0)) + F.coalesce("out_deg", F.lit(0))).alias(
            "all_deg"
        ),
    )


def degree_histogram(
    edges: DataFrame, kind: str = "in", vertices: DataFrame | None = None
) -> DataFrame:
    """(degree, n_nodes) histogram; kind in {in, out, all}.

    Mirrors the reference's map[int]int histograms
    (/root/reference/internal/wikiEntropy/degreeStats.go:28-39,
    internal/openAlexEntropy/degreeStats.go:40-48).
    """
    col = {"in": "in_deg", "out": "out_deg", "all": "all_deg"}[kind]
    return (
        degrees(edges, vertices)
        .groupBy(F.col(col).alias("degree"))
        .agg(F.count("*").alias("n_nodes"))
    )


def _hist_entropy(counts: Column, total: Column) -> Column:
    """Shannon entropy from a pre-aggregated (sum c*log2 c, sum c) pair."""
    return F.log2(total) - counts / total


def grouped_degree_entropy(ind: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group_cols…, dd_h_in, n_vertices, se_h_in, n_in, sum_d) from a
    member in-degree table (group_cols…, d, m) that INCLUDES d=0 members,
    one row per member, counted m times: dd is the degree-distribution
    entropy over the histogram (A3 shape), se the structural entropy over
    d>0 (A4 shape) — the shared per-group formula pair of the yearly and
    subject lifecycle pipelines — and sum_d the in-degree total with each
    member once.  se columns are NULL for groups with no d>0 member.

    ONE aggregation over the (group, d) histogram — every d>0 sum is a
    count-weighted sum over its rows — so ``ind`` has a single consumer and
    its lineage runs once."""
    c = F.col("c")
    d = F.when(F.col("d") > 0, F.col("d").cast("double"))
    return (
        ind.groupBy(*group_cols, "d")
        .agg(F.sum("m").alias("c"), F.count("*").alias("k"))
        .groupBy(*group_cols)
        .agg(
            _hist_entropy(F.sum(c * F.log2(c)), F.sum(c).cast("double")).alias(
                "dd_h_in"
            ),
            F.sum(c).alias("n_vertices"),
            _hist_entropy(F.sum(c * d * F.log2(d)), F.sum(c * d)).alias("se_h_in"),
            F.sum(F.when(d.isNotNull(), c)).alias("n_in"),
            F.sum(F.col("k") * F.col("d")).alias("sum_d"),
        )
    )


def degree_distribution_entropy(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """One row: (h_in, h_out, h_all, n_nodes) — reference op A3.

    h_in/h_out include the degree-0 bucket, h_all excludes total-degree-0
    nodes (lab/test.ipynb cell 1: ``in_data[len(obj['i'])] += 1`` vs
    ``if cache > 0``).
    """
    # ONE consumer of the degree table: every kind's histogram comes out of
    # one grouped aggregation over a (kind, degree) explode, so deg's two
    # aggregations and full outer join run once rather than once per kind
    # (AQE never reuses their exchanges above a caller-cached edge table)
    kd = F.explode(
        F.array(
            *[
                F.struct(F.lit(k).alias("kind"), F.col(f"{k}_deg").alias("d"))
                for k in ("in", "out", "all")
            ]
        )
    )
    per = (
        degrees(edges, vertices)
        .select(kd.alias("__kd"))
        .select("__kd.kind", "__kd.d")
        # h_all drops the total-degree-0 bucket; h_in/h_out keep theirs
        .filter((F.col("kind") != "all") | (F.col("d") > 0))
        .groupBy("kind", "d")
        .agg(F.count("*").alias("c"))
        .groupBy("kind")
        .agg(
            _hist_entropy(
                F.sum(F.col("c") * F.log2("c")), F.sum("c").cast("double")
            ).alias("h"),
            F.sum("c").alias("n"),
        )
    )

    def of_kind(col: str, kind: str) -> Column:
        return F.max(F.when(F.col("kind") == kind, F.col(col)))

    return per.agg(
        of_kind("h", "in").alias("h_in"),
        of_kind("h", "out").alias("h_out"),
        of_kind("h", "all").alias("h_all"),
        of_kind("n", "all").alias("n_nodes"),
    )


def structural_entropy(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """One row with the reference's StructEntropy() outputs (op A4):

    h_in/h_out/h_all (unnormalized), norm_in/norm_out/norm_all, and the node
    counts n_in/n_out/n_all (nodes with that degree >= 1).  Field meaning
    matches the mongo result docs (entropyin / normalizeentropyin / nodecount
    / nodeincount read back in lab/degree_distruction_entropy.ipynb).
    """
    # ONE global aggregation over the degree table, each kind's sums
    # restricted to its degree >= 1 nodes: deg's two aggregations and full
    # outer join run once instead of once per kind
    cols = []
    for k in ("in", "out", "all"):
        d = F.when(F.col(f"{k}_deg") > 0, F.col(f"{k}_deg").cast("double"))
        cols += [
            F.sum(d).alias(f"S_{k}"),
            F.sum(d * F.log2(d)).alias(f"dlogd_{k}"),
            F.count(d).alias(f"n_{k}"),
        ]
    agg = degrees(edges, vertices).agg(*cols)

    def one(k: str) -> list[Column]:
        S, n = F.col(f"S_{k}"), F.col(f"n_{k}")
        h = F.log2(S) - F.col(f"dlogd_{k}") / S
        e_min = F.log2(4.0 * (n - 1)) / 2.0
        norm = (h - e_min) / (F.log2(n.cast("double")) - e_min)
        return [h.alias(f"h_{k}"), norm.alias(f"norm_{k}"), n.alias(f"n_{k}")]

    return agg.select(*one("in"), *one("out"), *one("all"))
