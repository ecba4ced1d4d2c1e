"""Multilayer (partitioned) structural entropy — reference op A5 — and the
category-module core it shares with distance complexity (A6/A7).

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

Distance complexity's ``little`` (distanceComplexity.go:91-287) is the same
algorithm with a different per-module entropy, so the three steps it shares
with this one live here, once, and ``distance_complexity`` imports them:

- ``category_nodes``: one row per vertex — its first category and its
  copies (fresh ids, one per further category) — from ONE posexplode_outer
  of ``cats``, pinned;
- ``tag_endpoint``: ONE join per edge endpoint against that pin tags the
  endpoint with its module and, where the caller's quirk says so, fans the
  edge out over the endpoint's copies — no separate copy join;
- ``module_little``: ONE aggregation per group folds per-module
  (h, vol, g) into little.

Each caller keeps only its own quirk: which endpoints fan out over copies
(both here, the a-side only in distance complexity) and the per-module
h/vol/g (the in-degree entropy here, the weighted node entropies there).
Internal columns are ``__``-prefixed so a caller's group key cannot clash.

Golden parity: entropy_test.go:18 (1.504751568) and :30-31
(1.612197223 / 2.636056086), both +-1e-9 — see tests/test_goldens_entropy.py.

Scale notes: copy ids come from a range-partitioned global rank
(``operators/graph.global_row_number``) over the multi-category subset —
no single-partition window even when most vertices carry 2+ categories;
the per-module terms are ONE groupBy(module, node) + ONE groupBy(module) +
the fold — no per-module jobs, no driver loop over modules (the reference
spawns a goroutine per module; Catalyst gets the same parallelism from the
shuffle).  Every shared table is a ``session.compute_once`` pin, never a
``.cache()``, and none is pre-partitioned: under AQE a checkpoint reports
no output partitioning, so a repartition inside the pin would add a
shuffle and spare none.  Both endpoint joins here read the same node
columns, so AQE reuses one exchange of the node table for the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.functions.entropy import _hist_entropy
from graph_computing_go_spark.operators.graph import global_row_number
from graph_computing_go_spark.session import compute_once, eager_results


def category_nodes(
    cats: DataFrame, group: list[str], other_ids: DataFrame | None = None
) -> DataFrame:
    """(group…, id, __cat, __copies) — one row per vertex: its first
    category, and its copies as array<struct<id, cat>>, one per further
    category; pinned.

    Copy ids are ``per-group max id + a global rank`` in (group…, id,
    position) order: unique within the group and above every id there,
    including ``other_ids`` (group…, id) — ids that never sit in ``cats``
    but must not collide with a copy.  Copy ids never reach any output."""
    # ONE read of the caller's table feeds the max id, the copies AND the
    # node table; posexplode_outer keeps vertices with no category (a NULL
    # module that tags nothing), so their ids still bound the copy ids
    x = compute_once(
        cats.select(*group, "id", F.posexplode_outer("cats").alias("__pos", "__cat"))
    )
    ids = x.select(*group, "id")
    if other_ids is not None:
        ids = ids.unionByName(other_ids)
    # group-grain (one row per work key), so it may broadcast
    top = ids.groupBy(*group).agg(F.max("id").alias("__top"))
    ranked = global_row_number(
        x.filter(F.col("__pos") >= 1),
        [*[F.asc(g) for g in group], F.asc("id"), F.asc("__pos")],
        "__rn",
    )
    copies = ranked.join(F.broadcast(top), group or None).select(
        *group,
        "id",
        F.struct(
            (F.col("__top") + F.col("__rn")).alias("id"), F.col("__cat").alias("cat")
        ).alias("__copy"),
    )
    base = x.filter(F.coalesce("__pos", F.lit(0)) == 0).select(
        *group, "id", "__cat"
    )
    return compute_once(
        base.unionByName(copies, allowMissingColumns=True)
        .groupBy(*group, "id")
        .agg(F.max("__cat").alias("__cat"), F.collect_list("__copy").alias("__copies"))
    )


def tag_endpoint(
    edges: DataFrame,
    nodes: DataFrame,
    group: list[str],
    side: str,
    module: str,
    copies: bool,
    how: str,
) -> DataFrame:
    """``edges`` with ``module``: the module of endpoint ``side``, NULL for
    a vertex with no category (or, under a left join, outside the node
    table).  With ``copies``, an edge also repeats once per copy of that
    endpoint, the copy in its place under the copy's module — a copy
    shares its vertex's edges on this side.  ONE join per endpoint does the
    copy fan-out AND the tagging.  The node table is vertex-grain: NO
    broadcast hint (a taxonomy where most vertices carry 2+ categories
    makes it data-sized; AQE broadcast-converts it when genuinely small)."""
    n = nodes.select(*group, F.col("id").alias(side), "__cat", "__copies")
    own = F.struct(F.col(side).cast("long").alias("id"), F.col("__cat").alias("cat"))
    extra = F.coalesce("__copies", F.array().cast(n.schema["__copies"].dataType))
    node = F.explode(F.concat(F.array(own), extra)) if copies else own
    rest = [c for c in edges.columns if c != side]
    return (
        edges.join(n, [*group, side], how)
        .select(*rest, node.alias("__n"))
        .select(*rest, F.col("__n.id").alias(side), F.col("__n.cat").alias(module))
    )


def module_little(mods: DataFrame, group: list[str]) -> DataFrame:
    """(group…, little) from per-module (group…, __h, __vol, __g): module
    entropy, intra volume (NULL for a module with only cross edges) and
    cross weight.  With m = sum(vol) + sum(g) pulled out of the per-module
    terms,
      little = (sum h*vol - sum g*log2(vol) + log2(m)*sum g) / m
    over the modules with a volume (entropy.go:155-157 skips vol = 0;
    distanceComplexity.go:195 iterates the intra map), so m and little come
    out of ONE aggregation per group.  A group with no intra edge at all
    gets a NULL little."""
    vol = F.col("__vol")
    g = F.coalesce("__g", F.lit(0.0))
    has_vol = vol.isNotNull()
    m = F.coalesce(F.sum(vol), F.lit(0.0)) + F.sum(g)
    return mods.groupBy(*group).agg(
        (
            (
                F.sum(F.col("__h") * vol)
                - F.sum(F.when(has_vol, g * F.log2(vol)))
                + F.log2(m) * F.sum(F.when(has_vol, g))
            )
            / m
        ).alias("little")
    )


def multilayer_structural_entropy(
    vertices: DataFrame, edges: DataFrame
) -> DataFrame:
    """One row (big, little).

    ``vertices``: (id: long, cats: array<string>, non-empty);
    ``edges``: (src, dst) — out-lists already normalized to one row per edge.
    """
    nodes = category_nodes(vertices, [])
    # shrink + both-side copy fan-out + tagging, one inner join per side:
    # an edge to an unknown vertex finds no node row (copies are never
    # referenced by raw out-lists, so membership against the ORIGINAL
    # vertices suffices), and (u,v) expands to {u}+copies(u) ×
    # {v}+copies(v), each node under its own module.  e_full feeds the
    # whole-graph entropy AND the module terms
    e_src = tag_endpoint(
        edges.select("src", "dst"), nodes, [], "src", "__ca", True, "inner"
    )
    e_full = compute_once(tag_endpoint(e_src, nodes, [], "dst", "__cb", True, "inner"))

    indeg = e_full.groupBy("dst").agg(F.count("*").cast("double").alias("__d"))
    big = indeg.agg(
        _hist_entropy(F.sum(F.col("__d") * F.log2("__d")), F.sum("__d")).alias("big")
    )

    # ONE aggregation over the tagged edges between modules: an intra edge
    # is an in-edge of its dst inside the module, a cross edge counts once
    # for its src module (__v NULL) — h and vol from the (module, dst)
    # in-degrees, g from the rest
    per_node = (
        e_full.dropna(subset=["__ca", "__cb"])
        .groupBy(
            F.col("__ca").alias("__m"),
            F.when(F.col("__ca") == F.col("__cb"), F.col("dst")).alias("__v"),
        )
        .agg(F.count("*").cast("double").alias("__d"))
    )
    d = F.col("__d")
    intra = F.col("__v").isNotNull()
    mods = per_node.groupBy("__m").agg(
        _hist_entropy(
            F.sum(F.when(intra, d * F.log2(d))), F.sum(F.when(intra, d))
        ).alias("__h"),
        F.sum(F.when(intra, d)).alias("__vol"),
        F.sum(F.when(~intra, d)).alias("__g"),
    )
    out = big.crossJoin(module_little(mods, []))
    # one-row scalar: materialize so the pins retire with the call
    # (SPARK_GRAFT_EAGER=0 keeps it lazy for the plan audit)
    return out.localCheckpoint() if eager_results() else out
