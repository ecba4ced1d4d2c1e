"""Multilayer (partitioned) structural entropy — reference op A5.

Faithful DataFrame re-expression of
/root/reference/internal/entropy/entropy.go:46-164:

1. **Cross-category node copy** (entropy.go:46-65): a vertex with k>1
   categories keeps its first category and spawns k-1 copies (fresh ids past
   max(id)), each copy carrying ONE of the remaining categories and a full
   copy of the out-list.
2. **Shrink + in-degree build** (entropy.go:67-91): edges whose dst is not a
   known vertex are dropped; every kept edge (u,v) is expanded over copies on
   BOTH sides — copies of u emit the same out-edges (their out-list was
   copied), and every edge pointing at v also points at each copy of v
   (entropy.go:79-85).  Net effect: E' = {(s,t) : (u,v) in E, s in {u}+copies(u),
   t in {v}+copies(v)}.
3. **Per-module terms** (entropy.go:100-163): with m = |E'|,
   vol_j = intra-module edge count, g_j = edges leaving module j, and
   H_j = unnormalized in-degree structural entropy of module j's induced
   subgraph:  little = sum_j [ H_j*vol_j/m - log2(vol_j/m)*g_j/m ]
   (modules with vol_j = 0 are skipped, entropy.go:155-157);
   big = whole-graph in-degree structural entropy.

Golden parity: entropy_test.go:18 (1.504751568) and :30-31
(1.612197223 / 2.636056086), both +-1e-9 — see tests/test_goldens_entropy.py.

Scale notes: copies are produced with one narrow posexplode + a
range-partitioned global rank (``operators/graph.global_row_number``) over
the multi-category subset — no single-partition window even when most
vertices carry 2+ categories; edge expansion is two broadcast-able
joins against the copy map (crossing vertices are rare in real taxonomies);
the per-module entropies are ONE groupBy(cat, dst) + ONE groupBy(cat) — no
per-module jobs, no driver loop over modules (the reference spawns a
goroutine per module; Catalyst gets the same parallelism from the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.operators.graph import global_row_number
from graph_computing_go_spark.session import compute_once, eager_results


def _expanded_graph(vertices: DataFrame, edges: DataFrame):
    """Apply category-copy + shrink; return (nodes(id, cat), efull(src, dst))."""
    # max(id) rides along as a broadcast 1-row crossJoin: keeps the whole
    # query lazy (no separate collect job per invocation)
    max_df = vertices.agg(F.max("id").alias("__max_id"))

    base = vertices.select("id", F.element_at("cats", 1).alias("cat"))
    multi = vertices.filter(F.size("cats") > 1)
    # fresh ids via the range-partitioned global rank (same (id, pos) asc
    # ordering the old global window gave, so assigned ids — and therefore
    # goldens — are bit-identical), never a single-partition window: a
    # taxonomy where most vertices carry 2+ categories makes this data-sized.
    # copies feeds the node table AND both sides' copy lists: ranked once
    copies = compute_once(
        global_row_number(
            multi.select("id", F.posexplode("cats").alias("pos", "cat")).filter(
                F.col("pos") >= 1
            ),
            [F.asc("id"), F.asc("pos")],
            "__rn",
        )
        .crossJoin(F.broadcast(max_df))
        .withColumn("copy_id", F.col("__max_id") + F.col("__rn"))
        .drop("__max_id", "__rn")
    )
    nodes = base.unionByName(
        copies.select(F.col("copy_id").alias("id"), "cat")
    )

    # shrink: drop edges to unknown vertices (copies are never referenced by
    # raw out-lists, so membership against the ORIGINAL vertex set suffices)
    e0 = edges.join(
        vertices.select(F.col("id").alias("dst")), "dst", "left_semi"
    ).join(vertices.select(F.col("id").alias("src")), "src", "left_semi")

    # both-side copy fan-out in ONE pass: per-vertex copy LISTS left-join
    # each side, then explode(self ++ copies).  The previous union-of-unions
    # shape (e0 ∪ e0⋈cm, then that ∪ that⋈cm) re-executed the double
    # semi-join FOUR times per materialization of e_full; this lineage
    # executes it once.  Row multiset is identical: (u,v) expands to
    # {u}+copies(u) × {v}+copies(v).  cmg is (multi-category)-VERTEX-grain
    # — no broadcast hint (repo-wide ban: a taxonomy where most of a large
    # vertex set carries 2+ categories makes it data-sized, and a forced
    # broadcast OOMs where AQE would degrade to a shuffle join gracefully);
    # AQE broadcast-converts it at runtime when genuinely small.
    cmg = copies.groupBy(F.col("id").alias("orig")).agg(
        F.collect_list("copy_id").alias("__copies")
    )
    no_copies = F.array().cast("array<long>")
    e_src = e0.join(cmg, e0.src == cmg.orig, "left").select(
        F.explode(
            F.concat(
                F.array(F.col("src").cast("long")),
                F.coalesce("__copies", no_copies),
            )
        ).alias("src"),
        "dst",
    )
    e_full = e_src.join(cmg, e_src.dst == cmg.orig, "left").select(
        "src",
        F.explode(
            F.concat(
                F.array(F.col("dst").cast("long")),
                F.coalesce("__copies", no_copies),
            )
        ).alias("dst"),
    )
    return nodes, e_full


def _in_entropy(edges: DataFrame, group: list[str]) -> DataFrame:
    """Unnormalized in-degree structural entropy per group (or global).
    Also emits ``S`` (= edge count of the group: sum of in-degrees) — the
    per-module volume falls out of the same aggregation for free."""
    indeg = edges.groupBy(*group, "dst").agg(F.count("*").cast("double").alias("d"))
    agg = indeg.groupBy(*group).agg(
        F.sum("d").alias("S"), F.sum(F.col("d") * F.log2("d")).alias("dlogd")
    )
    return agg.select(
        *group, (F.log2("S") - F.col("dlogd") / F.col("S")).alias("h"), "S"
    )


def multilayer_structural_entropy(
    vertices: DataFrame, edges: DataFrame
) -> DataFrame:
    """One row (big, little).

    ``vertices``: (id: long, cats: array<string>, non-empty);
    ``edges``: (src, dst) — out-lists already normalized to one row per edge.
    """
    nodes, e_full = _expanded_graph(vertices, edges)
    # e_full feeds the whole-graph entropy AND the tag joins
    e_full = compute_once(e_full)

    big = _in_entropy(e_full, []).select(F.col("h").alias("big"))

    # vertex-grain table: NO broadcast hint — at billion-vertex scale it
    # cannot fit executor memory; AQE picks broadcast when genuinely small.
    # Cache it pre-partitioned on the join key (its lineage contains the
    # whole copy/row-number machinery, which would otherwise re-execute per
    # tag join; alias-aware output partitioning carries hash(id) through
    # both the src and dst renames, so neither probe shuffles it — same
    # shape as distance_complexity).
    n = nodes.repartition(
        int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        "id",
    ).cache()
    # tagged feeds the intra AND cross aggregations
    tagged = compute_once(
        e_full.join(n.select(F.col("id").alias("src"), F.col("cat").alias("cat_src")), "src")
        .join(n.select(F.col("id").alias("dst"), F.col("cat").alias("cat_dst")), "dst")
    )

    intra = tagged.filter(F.col("cat_src") == F.col("cat_dst"))
    # h AND vol from ONE aggregation chain: vol_j (intra edge count) is the
    # sum of module-j in-degrees, which _in_entropy already computes as S
    mod = _in_entropy(intra.withColumnRenamed("cat_src", "cat"), ["cat"]).select(
        "cat", "h", F.col("S").alias("vol")
    )
    mod_g = (
        tagged.filter(F.col("cat_src") != F.col("cat_dst"))
        .groupBy(F.col("cat_src").alias("cat"))
        .agg(F.count("*").cast("double").alias("g"))
    )
    # every module with an intra OR a cross edge, each aggregate consumed
    # ONCE: m = |E'| = sum(vol) + sum(g) (every expanded edge is intra in
    # exactly one module or cross, counted once by its src module), and
    # with m pulled out of the per-module terms
    #   little = (sum h*vol - sum g*log2(vol) + log2(m)*sum g) / m
    # over the modules with vol (entropy.go:155-157 skips vol = 0), so m
    # and little come out of ONE aggregation over the joined modules
    mods = mod.join(mod_g, "cat", "full").select(
        "h", "vol", F.coalesce("g", F.lit(0.0)).alias("g")
    )
    has_vol = F.col("vol").isNotNull()
    sums = mods.agg(
        F.sum(F.col("h") * F.col("vol")).alias("__hv"),
        F.sum(F.when(has_vol, F.col("g") * F.log2("vol"))).alias("__glv"),
        F.sum(F.when(has_vol, F.col("g"))).alias("__gv"),
        (F.coalesce(F.sum("vol"), F.lit(0.0)) + F.sum("g")).alias("m"),
    )
    little = sums.select(
        (
            (F.col("__hv") - F.col("__glv") + F.log2("m") * F.col("__gv"))
            / F.col("m")
        ).alias("little")
    )
    # one-row scalar result: materialize so the vertex cache retires with
    # the call instead of accreting across a 50-query driver session
    # (SPARK_GRAFT_EAGER=0 keeps it lazy for the plan audit)
    out = big.crossJoin(little)
    if eager_results():
        out = out.localCheckpoint()
        n.unpersist()
    return out
