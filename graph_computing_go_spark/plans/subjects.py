"""Per-subject entropy lifecycle — the reference's subject-sliced walk
(/root/reference/internal/wikiEntropy/wikiSubjectEntropy.go:64-95,
internal/openAlexEntropy/openAlexMultilayerSubjectEntropy.go:130-160).

Per year y (descending):

1. per-subject membership: subject-tagged vertices with year <= y
   (the reference's per-subject worksMap year filter, :132-140);
2. "academic circle": the union of every subject's vertex set (:142-148);
3. shrink the edge table to the circle (worksShrink, both endpoints kept);
4. min-in-degree filter ON THE CIRCLE GRAPH (filterWorksByLinksIn, :151-153
   — applied once to the circle, explicitly NOT per subject, a quirk the
   reference comments on);
5. per subject: the induced subgraph over (subject members ∩ kept) and its
   degree-distribution + structural in-degree entropies.

Plan shape: neither subjects NOR years are looped over.  The snapshot year
is a row-local fan-out (``explode(filter(years, y -> y >= v.year))`` — a
vertex joins every snapshot at or after its year) and threads through every
join and aggregation as a group key, exactly like the grouped distance
complexity (PERF.md §13): ONE plan whatever the year count.  The previous
driver loop built an independent subtree per year and re-executed the
circle induction + in-degree gate once per consumer — measured 104 s at
sf0.01 for two years against ~8 s for this shape.  Edge → subject routing
is the label-intersection join (J7): an edge belongs to subject s iff both
endpoints carry s.  Total fanned row volume is |E|·years in the worst case
— identical to what the loop scanned, but in one pass with shared shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.functions.entropy import grouped_degree_entropy
from graph_computing_go_spark.session import compute_once, eager_results


def subject_entropy_lifecycle(
    vertices: DataFrame,
    edges: DataFrame,
    years: list[int],
    min_in_degree: int = 2,
) -> DataFrame:
    """(year, subject, n_vertices, n_edges, dd_h_in, se_h_in, n_in) per
    (year, subject).

    ``vertices``: (id, year, subjects array<string>) — a NULL element
    names no subject, and vertices with no subject never join a circle;
    ``edges``: (src, dst).
    """
    if not years:
        schema = (
            "year int, subject string, n_vertices long, n_edges long, "
            "dd_h_in double, se_h_in double, n_in long"
        )
        return vertices.sparkSession.createDataFrame([], schema)
    n_part = int(
        vertices.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    years_sorted = sorted(set(int(y) for y in years))
    years_arr = F.array(*[F.lit(y).cast("int") for y in years_sorted])

    # Every per-year quantity here is CUMULATIVE in the year (vertex years
    # are static; circles only grow), so nothing edge-grain needs a year
    # fan-out.  The former shape fanned each edge to every snapshot year of
    # its src at the circle join (an |E|×avg-years cached table, ~3× the
    # edge table on the bench graph) and double-joined THAT against the
    # year-fanned membership.  This shape tags each edge once with the year
    # it enters the graph (ymax = max of the endpoint vertex years), derives
    # first-kept-year thresholds from one cumulative aggregation, routes
    # subjects through vertex-grain membership joins, and only fans
    # VERTEX-grain increment rows across the year list.  Multiplicities are
    # preserved exactly (membership rows keep duplicate subjects; the
    # subject-equality join yields a×b rows per edge like the old
    # explode-join-filter), so outputs are bit-identical.
    # NULL-year vertices belong to NO snapshot (the per-year `year <= y`
    # membership is never true for NULL) — filter them out so greatest()
    # can't skip the NULL and leak their edges in from the other endpoint
    vy = vertices.select(
        "id", F.col("year").cast("int").alias("vy"), "subjects"
    ).filter(F.col("vy").isNotNull())
    # the circle is SUBJECT-CARRYING vertices only (the reference's circle
    # is built from subject membership; empty/NULL subject lists never
    # join, and a NULL element names no subject)
    vcirc = vy.filter(F.exists("subjects", lambda x: x.isNotNull())).select(
        "id", "vy"
    )
    tagged = compute_once(
        edges.join(
            vcirc.select(F.col("id").alias("src"), F.col("vy").alias("ysrc")),
            "src",
        )
        .join(
            vcirc.select(F.col("id").alias("dst"), F.col("vy").alias("ydst")),
            "dst",
        )
        .select("src", "dst", F.greatest("ysrc", "ydst").alias("ymax"))
    )
    # first year each vertex clears the in-degree gate (kept is monotone:
    # the in-circle in-degree only grows with the circle)
    inc = tagged.groupBy(F.col("dst").alias("id"), "ymax").agg(
        F.count("*").alias("c")
    )
    kyr = (
        inc.select(
            "id",
            "c",
            F.explode(
                F.filter(years_arr, lambda yy: yy >= F.col("ymax"))
            ).alias("yr"),
        )
        .groupBy("id", "yr")
        .agg(F.sum("c").alias("cnt"))
        .filter(F.col("cnt") >= min_in_degree)
        .groupBy("id")
        .agg(F.min("yr").alias("kyr"))
    )
    # membership rows (duplicate subjects preserved, NULL elements dropped)
    # with kept-from year; probed by both sides of the subject routing AND
    # the ledger fan-out.  The NULL filter and the repartition sit ABOVE
    # the pin: a checkpoint reports no output partitioning under AQE, while
    # an exchange above a checkpoint scan keeps its hash(id) layout and is
    # reused by all three consumers of the one result query — provided
    # their subtrees are alike, and the routing joins' inferred
    # subject IS NOT NULL lands on exactly this filter
    ms = (
        compute_once(
            vy.select("id", F.explode("subjects").alias("subject")).join(kyr, "id")
        )
        .filter(F.col("subject").isNotNull())
        .repartition(n_part, "id")
    )
    # edge increment: contributes to (year, subject) from
    # y0 = max(enters-graph, src kept, dst kept) onward
    es_inc = (
        tagged.join(
            ms.select(
                F.col("id").alias("src"), "subject", F.col("kyr").alias("k_src")
            ),
            "src",
        )
        .join(
            ms.select(
                F.col("id").alias("dst"), "subject", F.col("kyr").alias("k_dst")
            ),
            ["dst", "subject"],
        )
        .select(
            "subject",
            "dst",
            F.greatest("ymax", "k_src", "k_dst").alias("y0"),
        )
    )
    deg0 = es_inc.groupBy("subject", F.col("dst").alias("id"), "y0").agg(
        F.count("*").alias("c")
    )
    deg = (
        deg0.select(
            "subject",
            "id",
            "c",
            F.explode(
                F.filter(years_arr, lambda yy: yy >= F.col("y0"))
            ).alias("year"),
        )
        .groupBy("year", "subject", "id")
        .agg(F.sum("c").alias("d"))
    )
    # one row per (member, subject) with its multiplicity m: a vertex that
    # lists a subject twice counts twice in that subject's entropies but its
    # in-edges once in n_edges.  ms is partitioned on id, so this
    # aggregation needs no exchange.
    memk = (
        ms.groupBy("id", "subject", "kyr")
        .agg(F.count("*").alias("m"))
        .select(
            "id",
            "subject",
            "m",
            F.explode(
                F.filter(years_arr, lambda yy: yy >= F.col("kyr"))
            ).alias("year"),
        )
    )
    ind = memk.join(deg, ["year", "subject", "id"], "left").select(
        "year", "subject", F.coalesce("d", F.lit(0)).alias("d"), "m"
    )
    # every dst with d>0 is a member (y0 >= its kyr), so the edge count is
    # the members' in-degree total
    out = (
        grouped_degree_entropy(ind, ["year", "subject"])
        .select(
            F.col("year").cast("int").alias("year"),
            "subject",
            "n_vertices",
            F.col("sum_d").alias("n_edges"),
            F.round("dd_h_in", 6).alias("dd_h_in"),
            F.round("se_h_in", 6).alias("se_h_in"),
            F.coalesce("n_in", F.lit(0)).alias("n_in"),
        )
    )
    # (year, subject)-grain result: materialize so the two pins retire with
    # the call (SPARK_GRAFT_EAGER=0 keeps it lazy for the audit)
    return out.localCheckpoint() if eager_results() else out
