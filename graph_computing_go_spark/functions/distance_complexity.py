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
same shape grouped by (group..., module, node) then (group..., module).  No
driver-side iteration at any group count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.operators.graph import global_row_number
from graph_computing_go_spark.session import compute_once, eager_results, is_cached


def _canonical(wedges: DataFrame, group: list[str]) -> DataFrame:
    """Store each undirected edge once under (a=max, b=min) — last-wins dedup
    is the caller's concern (the reference overwrites on re-insert)."""
    return wedges.select(
        *group,
        F.greatest("a", "b").alias("a"),
        F.least("a", "b").alias("b"),
        F.col("distance").cast("double").alias("w"),
    ).dropDuplicates([*group, "a", "b"])


def _with_copies(wedges: DataFrame, categories: DataFrame, group: list[str]):
    """Apply the category-copy quirk; return (edges, node_cat(group..., id, cat)).

    Copy ids are ``per-group max id + a globally unique positive rank`` —
    unique within the group and above every original id there, which is all
    the math needs (copy ids never appear in the output)."""
    if group:
        max_c = categories.groupBy(*group).agg(
            F.coalesce(F.max("id"), F.lit(0)).alias("__mc")
        )
        max_e = wedges.groupBy(*group).agg(
            F.coalesce(F.greatest(F.max("a"), F.max("b")), F.lit(0)).alias("__me")
        )
        max_df = (
            max_c.join(max_e, list(group), "full")
            .select(
                *group,
                F.greatest(
                    F.coalesce("__mc", F.lit(0)), F.coalesce("__me", F.lit(0))
                ).alias("__max_id"),
            )
        )
    else:
        # lazy max-id: 1-row aggregates broadcast-crossJoined instead of two
        # eager collect jobs per invocation
        max_c = categories.agg(
            F.coalesce(F.max("id"), F.lit(0)).alias("__mc")
        )
        max_e = wedges.agg(
            F.coalesce(F.greatest(F.max("a"), F.max("b")), F.lit(0)).alias("__me")
        )
        max_df = max_c.crossJoin(max_e).select(
            F.greatest("__mc", "__me").alias("__max_id")
        )

    multi = categories.filter(F.size("cats") > 1)
    # fresh ids via the range-partitioned global rank — same (group..., id,
    # pos) asc ordering as a single global window would give (goldens are
    # bit-identical), but scale-safe when most nodes carry 2+ categories
    ranked = global_row_number(
        multi.select(*group, "id", F.posexplode("cats").alias("pos", "cat")).filter(
            F.col("pos") >= 1
        ),
        [*[F.asc(g) for g in group], F.asc("id"), F.asc("pos")],
        "__rn",
    )
    if group:
        # max_df is GROUP-grain (one row per work key — bounded by the
        # number of (year, discipline) keys, never by graph size), so
        # broadcasting is safe and saves a shuffle of the ranked copies;
        # the no-vertex-grain-broadcast invariant does not apply
        copies = ranked.join(F.broadcast(max_df), list(group))
    else:
        copies = ranked.crossJoin(F.broadcast(max_df))
    # copies feeds the node table AND the copy edges: ranked once
    copies = compute_once(
        copies.withColumn("copy_id", F.col("__max_id") + F.col("__rn")).drop(
            "__max_id", "__rn"
        )
    )
    node_cat = categories.select(
        *group, "id", F.element_at("cats", 1).alias("cat")
    ).unionByName(copies.select(*group, F.col("copy_id").alias("id"), "cat"))

    # a-side-only duplication (distanceComplexity.go:109).  cm is
    # (multi-category)-VERTEX-grain — no broadcast hint (the repo-wide ban:
    # a taxonomy where most vertices carry 2+ categories makes it
    # data-sized and a forced broadcast OOMs); AQE broadcast-converts it at
    # runtime when its measured size is genuinely small.
    cm = copies.select(*group, F.col("id").alias("a"), "copy_id")
    copy_edges = wedges.join(cm, [*group, "a"]).select(
        *group, F.col("copy_id").alias("a"), "b", "w"
    )
    return wedges.unionByName(copy_edges), node_cat


def _node_entropy(incident: DataFrame, group: list[str]) -> DataFrame:
    """Per (group..., id): s = sum w, h = -sum (w/s) log2(w/s), one pass."""
    return incident.groupBy(*group, "id").agg(
        F.sum("w").alias("s"),
        (
            F.log2(F.sum("w")) - F.sum(F.col("w") * F.log2("w")) / F.sum("w")
        ).alias("h"),
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
    node_cat = None
    cats_preowned = False
    if categories is not None:
        # categories feeds the max-id aggregate, the multi-cat copy
        # derivation, AND the node→cat table — without a cache the caller's
        # plan (typically a distinct over the edge-endpoint union) re-executes
        # per consumer (measured 3 redundant exchanges at sf0.1).  If the
        # CALLER already persisted it, reuse their cache and never unpersist
        # it — cache()/unpersist() act on the shared plan entry, and evicting
        # a caller-owned persistence from inside the API would silently
        # deoptimize their other consumers.
        cats_preowned = is_cached(categories)
        if not cats_preowned:
            categories = categories.cache()
        e, node_cat = _with_copies(e, categories, group)
    # cache partitioned on the a-side tag-join key: the join below then
    # probes it exchange-free, and every consumer reads uniform partitions
    # instead of the ragged union layout
    e = e.repartition(
        int(wedges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        *group,
        "a",
    ).cache()

    # ---- big: no membership check, copies' shared maps already materialized.
    # explode(array(a, b)) emits both endpoints in ONE scan of the edge cache
    # — the union-of-two-selects formulation reads it twice (2x cache scans
    # and map tasks for identical shuffle bytes)
    incident = e.select(
        *group, F.explode(F.array("a", "b")).alias("id"), "w"
    )
    per_node = _node_entropy(incident, group)
    big = per_node.groupBy(*group).agg(
        (F.sum(F.col("h") * F.col("s")) / F.sum("s")).alias("big")
    )

    if node_cat is None:
        out = big.select(
            *group, "big", F.lit(None).cast("double").alias("little")
        )
        # group-grain scalar result: materialize so the edge cache retires
        # with the call (same hygiene as dedup_clusters — no internal cache
        # outlives the function in a long driver session); SPARK_GRAFT_EAGER=0
        # keeps it lazy for the plan audit
        if eager_results():
            out = out.localCheckpoint()
            e.unpersist()
        return out

    # vertex-grain table: NO broadcast hint (billion-vertex OOM risk — the
    # copy maps above are likewise unhinted now; AQE runtime-converts small
    # sides).  Cache it partitioned on the join key: it is probed twice
    # (a-side, b-side — alias-aware output partitioning carries the
    # hash(group..., id) layout through both renames), and its lineage
    # contains the whole copy/row-number machinery, which would otherwise
    # re-execute per join (measured at sf0.1: the two tag joins were the
    # single most expensive stage group of the grouped lifecycle query).
    nc = node_cat.repartition(
        int(wedges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
        *group,
        "id",
    ).cache()
    # tagged feeds the intra AND cross aggregations
    tagged = compute_once(
        e.join(
            nc.select(*group, F.col("id").alias("a"), F.col("cat").alias("cat_a")),
            [*group, "a"],
        ).join(
            nc.select(*group, F.col("id").alias("b"), F.col("cat").alias("cat_b")),
            [*group, "b"],
        )
    )

    intra = tagged.filter(F.col("cat_a") == F.col("cat_b"))
    intra_incident = intra.select(
        *group,
        F.col("cat_a").alias("cat"),
        F.explode(F.array("a", "b")).alias("id"),
        "w",
    )
    node_h = _node_entropy(intra_incident, [*group, "cat"])
    # hModule = sum_i (s_i / inner) * h_i with inner = 2*sum(intra w); each
    # intra edge contributes w to BOTH endpoints' s, so sum_i s_i == inner —
    # one aggregation over node_h replaces the separate module-sum pass over
    # the edge cache AND the (module)-key join that fed it
    h_module = node_h.groupBy(*group, "cat").agg(
        (F.sum(F.col("s") * F.col("h")) / F.sum("s")).alias("h_module"),
        F.sum("s").alias("inner"),
    )
    cross = tagged.filter(F.col("cat_a") != F.col("cat_b"))
    outer = (
        cross.select(
            *group, F.explode(F.array("cat_a", "cat_b")).alias("cat"), "w"
        )
        .groupBy(*group, "cat")
        .agg(F.sum("w").alias("outer"))
    )
    # every module with an intra OR a cross edge, each aggregate consumed
    # ONCE.  vall = 2*sum(all w) = sum(inner) + sum(outer) over ALL modules
    # (every intra edge's 2w lands in exactly one module's inner, every
    # cross edge's w in both its endpoints' outer), and with vall pulled
    # out of the per-module terms
    #   little = (sum h*inner - sum outer*log2(inner) + log2(vall)*sum outer) / vall
    # over the modules WITH intra edges (cross-only modules are dropped,
    # :195) — so vall and little come out of ONE aggregation per group
    # instead of a module-sum pass, a join back and a second pass.  A group
    # with no intra edge at all gets a NULL little, as before.
    mods = h_module.join(outer, [*group, "cat"], "full").select(
        *group, "h_module", "inner", F.coalesce("outer", F.lit(0.0)).alias("outer")
    )
    has_inner = F.col("inner").isNotNull()
    sums = mods.groupBy(*group).agg(
        F.sum(F.col("h_module") * F.col("inner")).alias("__hi"),
        F.sum(F.when(has_inner, F.col("outer") * F.log2("inner"))).alias("__oli"),
        F.sum(F.when(has_inner, F.col("outer"))).alias("__oi"),
        (
            F.coalesce(F.sum("inner"), F.lit(0.0)) + F.sum("outer")
        ).alias("vall"),
    )
    little = sums.select(
        *group,
        (
            (F.col("__hi") - F.col("__oli") + F.log2("vall") * F.col("__oi"))
            / F.col("vall")
        ).alias("little"),
    )
    if group:
        out = big.join(little, list(group), "left").select(
            *group, "big", "little"
        )
    else:
        out = big.crossJoin(little)
    # one row per group: localCheckpoint is a trivially small materialization
    # and lets the internal caches retire NOW instead of accreting across a
    # 50-query driver session (the conftest driver-memory bump this module's
    # family forced is exactly that accretion); SPARK_GRAFT_EAGER=0 keeps it
    # lazy for the plan audit
    if eager_results():
        out = out.localCheckpoint()
        nc.unpersist()
        if not cats_preowned:
            categories.unpersist()
        e.unpersist()
    return out
