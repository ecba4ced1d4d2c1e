"""Distance complexity (weighted-graph entropy) — reference ops A6/A7.

DataFrame re-expression of
/root/reference/internal/distanceComplexity/distanceComplexity.go:151-287.

Input model: undirected weighted edges stored once under the canonical
(larger-id, smaller-id) key (distanceComplexity.go:50-62); categories are an
optional per-node label list (Categroy, first element wins:
distanceComplexity.go:167,171).

**big** (:242-281): every edge contributes its weight to BOTH endpoints'
incident lists — membership in the node table is NOT checked.  Per node i:
R_i = sum of incident weights, H_i = -sum (w/R_i) log2(w/R_i); result
= sum_i H_i * R_i / G with G = sum_i R_i.

**little** (:156-240): only edges whose two endpoints are both known nodes
count.  vall = 2*sum(w) over those edges.  Intra-module edges (cat(a)==cat(b))
feed per-node incident lists; inner_M = 2*sum intra w; hModule =
sum_i (s_i/inner_M)*H_i; outer_M = sum of cross-module w (counted once per
side).  little = sum over modules WITH at least one intra edge of
[ hModule*inner_M/vall - log2(inner_M/vall)*outer_M/vall ] — modules that
only have cross edges are dropped entirely (the reference iterates
moduleInnerNodeDistanceTotalMap, :195), a quirk we preserve.

**Cross-category copies** (:91-113): nodes with k>1 categories spawn k-1
copies; a copy shares the original's *a-side* distance map only
(``c.distanceMap[newNodeID] = c.distanceMap[item.ID]``, :109) — edges where
the original sits on the smaller-id side are NOT duplicated.  Preserved
verbatim (it changes results for multi-category inputs).

**Grouped mode** (``group=[...]``): the reference's third entry point builds
ONE DistanceGraph per (year, discipline) work key and runs the same math on
each (openAlexTopDsiplineDistanceComplexity.go:120-179,
wikiAcademicCircleDistanceComplexity.go:44-68) — a driver loop over hundreds
of graphs.  Here the group keys thread through every aggregation instead:
one Spark plan, one shuffle per stage keyed by (group..., node/module),
every group computed in parallel inside the same stages.  ``wedges`` and
``categories`` then carry the group columns; output is one row per group.

Goldens: distanceComplexity_test.go:31-36,54-59,86-91 — six values, +-1e-9
(tests/test_goldens_distance.py); grouped-vs-per-group equality is pinned by
tests/test_goldens_distance.py::test_grouped_equals_per_group.

Scale: big is one explode-both-directions + one groupBy(group..., node)
using the one-pass identity H = log2(R) - sum(w log2 w)/R; little is the
same shape grouped by (group..., module, node) then (group..., module),
then the fold.  No driver-side iteration at any group count.  The node
table, the endpoint joins (one per side, which also fan the edges out over
copies) and the fold are the category-module core shared with multilayer
entropy (``functions/multilayer.py``); this module keeps only its quirks:
the a-side-only copy fan-out and the weighted per-module terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.functions.entropy import _hist_entropy
from graph_computing_go_spark.functions.multilayer import (
    category_nodes,
    module_little,
    tag_endpoint,
)
from graph_computing_go_spark.session import compute_once, eager_results


def _canonical(wedges: DataFrame, group: list[str]) -> DataFrame:
    """Store each undirected edge once under (a=max, b=min) — last-wins dedup
    is the caller's concern (the reference overwrites on re-insert)."""
    return wedges.select(
        *group,
        F.greatest("a", "b").alias("a"),
        F.least("a", "b").alias("b"),
        F.col("distance").cast("double").alias("w"),
    ).dropDuplicates([*group, "a", "b"])


def _node_entropy(incident: DataFrame, keys: list[str]) -> DataFrame:
    """Per ``keys``: __s = sum w, __hn = -sum (w/s) log2(w/s), one pass."""
    w = F.col("w")
    return incident.groupBy(*keys).agg(
        F.sum(w).alias("__s"),
        _hist_entropy(F.sum(w * F.log2(w)), F.sum(w)).alias("__hn"),
    )


def distance_complexity(
    wedges: DataFrame,
    categories: DataFrame | None = None,
    group: list[str] | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """(group..., big, little) — one row per group (one row total when
    ``group`` is empty/None).

    ``wedges``: (group..., a, b, distance>0);
    ``categories``: (group..., id, cats array<string>) or None → little is
    null.  ``group``: names of the work-key columns present in BOTH inputs
    (e.g. ``["year", "discipline"]``), or None for a single graph.
    ``assume_canonical``: the caller guarantees one row per undirected edge
    with a > b already (true for ``derive_wedges``-shaped inputs, which come
    out of a groupBy on exactly these keys) — skips a full-table canonical
    re-shuffle + distinct that Catalyst cannot elide on its own.
    """
    group = list(group or [])
    if assume_canonical:
        e = wedges.select(
            *group, "a", "b", F.col("distance").cast("double").alias("w")
        )
    else:
        e = _canonical(wedges, group)
    nodes = None
    if categories is not None:
        # big has no membership check, so copy ids must clear the edge
        # endpoints too (a = the larger id of a canonical edge)
        nodes = category_nodes(
            categories, group, e.select(*group, F.col("a").alias("id"))
        )
        # a-side-only duplication (distanceComplexity.go:109): a copy shares
        # the edges where its vertex is the larger id, so only the a-side
        # join fans out.  Left joins: big keeps every edge, tagged or not
        e = tag_endpoint(e, nodes, group, "a", "__ca", True, "left")
        e = tag_endpoint(e, nodes, group, "b", "__cb", False, "left")
    # e feeds big AND the module terms
    e = compute_once(e)

    # ---- big: no membership check, copies' shared maps already included.
    # explode(array(a, b)) emits both endpoints in ONE scan of the edge pin
    per_node = _node_entropy(
        e.select(*group, F.explode(F.array("a", "b")).alias("__v"), "w"),
        [*group, "__v"],
    )
    big = per_node.groupBy(*group).agg(
        (F.sum(F.col("__hn") * F.col("__s")) / F.sum("__s")).alias("big")
    )

    if nodes is None:
        out = big.select(*group, "big", F.lit(None).cast("double").alias("little"))
    else:
        # ONE aggregation over the edges between known nodes: an intra
        # edge is incident on both endpoints inside its module, a cross
        # edge adds its weight to each endpoint's module (__v NULL).  Per
        # module: h = sum_i (s_i/inner) H_i with inner = sum_i s_i
        # (= 2*sum intra w), outer = the cross weight
        ca, cb, w = F.col("__ca"), F.col("__cb"), F.col("w")

        def inc(m, v):
            return F.struct(m.alias("__m"), v.alias("__v"), w.alias("w"))

        no_node = F.lit(None).cast("long")
        incident = e.dropna(subset=["__ca", "__cb"]).select(
            *group,
            F.explode(
                F.when(ca == cb, F.array(inc(ca, F.col("a")), inc(ca, F.col("b"))))
                .otherwise(F.array(inc(ca, no_node), inc(cb, no_node)))
            ).alias("__i"),
        ).select(*group, "__i.*")
        node_h = _node_entropy(incident, [*group, "__m", "__v"])
        s, intra = F.col("__s"), F.col("__v").isNotNull()
        mods = node_h.groupBy(*group, "__m").agg(
            (
                F.sum(F.when(intra, s * F.col("__hn"))) / F.sum(F.when(intra, s))
            ).alias("__h"),
            F.sum(F.when(intra, s)).alias("__vol"),
            F.sum(F.when(~intra, s)).alias("__g"),
        )
        out = big.join(module_little(mods, group), group or None, "left")
    # one row per group: materialize so the pins retire with the call
    # (SPARK_GRAFT_EAGER=0 keeps it lazy for the plan audit)
    return out.localCheckpoint() if eager_results() else out
