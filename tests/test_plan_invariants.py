"""Plan-shape regression tests for the zero-exchange invariants (VERDICT
r3 #9): the PERF.md §11-13 rewrites removed corpus-sized exchanges from
language-ID, SimHash, the MinHash/LSH candidate path, and the tag joins of
grouped distance complexity.  These were plan-verified by hand; pin them
so a future "simplification" cannot silently reintroduce a corpus-grain
shuffle.  Assertions key on Exchange NODES / their partitioning columns,
not total stage counts (AQE reshapes those freely)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=100):
    # repartition(5) destroys spark.range's RangePartitioning(id) — without
    # it the doc-grain groupBy(id) is exchange-free BY LUCK of the fixture
    # and the single-exchange assertion below would pass vacuously
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("the quick brown fox number "),
                F.col("id").cast("string"),
                F.lit(" jumps over the lazy dog "),
                (F.col("id") % 7).cast("string"),
            ).alias("text"),
        )
        .repartition(5)
    )


def test_language_id_zero_exchange(spark):
    """language_id is ONE row-local projection (PERF.md §11): no Exchange,
    no Generate (the old shape exploded the corpus-sized token stream and
    shuffled it by (doc, lang))."""
    from graph_computing_go_spark.operators.text import language_id

    plan = _plan(language_id(_docs(spark)))
    # the fixture's round-robin repartition is the only exchange allowed
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate" not in plan, plan


def test_simhash_zero_exchange(spark):
    """simhash is one aggregate over the row-local token-hash array
    (PERF.md §12): no Exchange, no Generate."""
    from graph_computing_go_spark.operators.dedup import simhash

    plan = _plan(simhash(_docs(spark)))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate" not in plan, plan


def test_repetition_score_zero_exchange(spark):
    """repetition_score is one row-local projection like quality_cols
    (registered driver query as of r5): no Exchange, no Generate."""
    from graph_computing_go_spark.operators.text import repetition_score

    plan = _plan(repetition_score(_docs(spark)))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate" not in plan, plan


def test_stream_prep_single_stateful_projection(spark, tmp_path):
    """prepare_corpus_stream's gate stage is ONE stateless projection: the
    analyzed plan contains exactly one stateful operator (the watermark
    dedup) and NO aggregate/join/repartition — the property that lets the
    gates run on a stream at all (streaming/pipeline.py docstring)."""
    from graph_computing_go_spark.streaming import prepare_corpus_stream

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "2024-01-01")],
        "doc_id long, text string, ts string",
    ).write.parquet(src)
    stream = prepare_corpus_stream(
        spark, src, watermark="10 minutes", max_dup_line_frac=0.9
    )
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert plan.count("DeduplicateWithinWatermark") == 1, plan
    for bad in ("Aggregate", "Join", "Repartition"):
        assert bad not in plan, plan


def test_edge_table_runs_no_python_worker(spark):
    """Import extraction is a JVM expression: the executed plan of
    build_edge_table holds no Python evaluation node (a pandas UDF shows as
    ArrowEvalPython, a plain Python UDF as BatchEvalPython)."""
    from graph_computing_go_spark.sources import build_edge_table, synthesize_repos

    out = build_edge_table(synthesize_repos(spark, n_files=60, seed=5))
    assert out.collect()
    plan = _plan(out)
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    # non-vacuous: the extraction is in view
    assert "regexp_extract_all" in plan, plan


def test_subject_lifecycle_no_year_fanned_edge_exchange(spark):
    """PERF.md §16: the subject lifecycle must never shuffle a YEAR-FANNED
    edge table — edges are tagged once with ymax and only vertex/subject
    grain increments fan across the year list.  Pin: no Exchange whose key
    set contains `year` together with an edge endpoint column (the old
    shape repartitioned the |E|×years table on (year, dst))."""
    from graph_computing_go_spark.plans.subjects import subject_entropy_lifecycle

    verts = spark.createDataFrame(
        [(1, 2000, ["a"]), (2, 2000, ["a"]), (3, 2001, ["b"])],
        "id long, year int, subjects array<string>",
    ).repartition(3)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2)], "src long, dst long"
    ).repartition(3)
    out = subject_entropy_lifecycle(verts, edges, years=[2000, 2001])
    plan = _plan(out)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "year" in ln:
            assert "src" not in ln and "dst" not in ln, ln


def test_lsh_band_table_single_doc_grain_exchange(spark):
    """Fused banding (PERF.md §12): the n_hashes minima come out of ONE
    groupBy(id) — exactly one hash exchange, keyed on the doc id, never on
    the shingle."""
    from graph_computing_go_spark.operators.dedup import lsh_band_table, shingle_rows

    plan = _plan(lsh_band_table(shingle_rows(_docs(spark))))
    assert "ExistingRDD" not in plan, plan  # the shingle lineage is in view
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, plan
    assert "id" in exchanges[0] and "shingle" not in exchanges[0], plan


def test_minhash_candidates_no_shingle_grain_exchange(spark, monkeypatch):
    """The candidate path's surviving exchanges are doc-, band-, and
    pair-grain only (PERF.md §10/§12): no Exchange keyed on the shingle
    column anywhere in the plan.  Checked on the lazy plan
    (SPARK_GRAFT_EAGER=0): by default the band table reaches the pair join
    as a checkpoint scan, which would hide its exchanges from this test."""
    monkeypatch.setenv("SPARK_GRAFT_EAGER", "0")
    from graph_computing_go_spark.operators.dedup import minhash_lsh_candidates

    plan = _plan(minhash_lsh_candidates(_docs(spark), chunk=64))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    # non-vacuous: the band table's doc-grain exchange is in view
    assert any("hashpartitioning(id#" in ln for ln in exchanges), plan
    for ln in exchanges:
        assert "shingle" not in ln, ln


def test_grid_self_pairs_spreads_mega_group(spark):
    """The skew guard under every mega-group pair join (MinHash bands, and
    NGD when the core outgrows one chunk): a 2000-member group's ~2M pairs
    spread over the grid's tasks instead of landing in one.  Pinned as the
    task spread (largest ``spark_partition_id`` share of the pair output),
    not a wall time, plus the user-specified join-key exchange that keeps
    AQE from coalescing the small join input into a handful of tasks."""
    import re

    from graph_computing_go_spark.operators.dedup import grid_self_pairs

    n = 2000
    df = (
        spark.range(2 * n)
        .select(
            F.when(F.col("id") < n, F.lit(-1)).otherwise(F.col("id")).alias("key"),
            F.col("id").alias("member"),
        )
        .repartition(4)
    )
    counts = grid_self_pairs(df, ["key"], "member", chunk=128).groupBy(
        F.spark_partition_id().alias("pid")
    ).count()
    per_task = [r["count"] for r in counts.collect()]
    assert sum(per_task) == n * (n - 1) // 2, per_task
    assert max(per_task) / sum(per_task) <= 0.5, per_task
    plan = _plan(counts)
    assert re.search(
        r"Exchange hashpartitioning\(key#\d+L?, __gi#\d+, __gj#\d+, \d+\), "
        r"REPARTITION_BY_NUM",
        plan,
    ), plan


def test_single_scan_expansions_have_no_union(spark):
    """The round-4 explode rewrites (PERF.md §15): corner/endpoint
    expansion must be a Generate over ONE scan, never a Union re-executing
    the source subtree per column."""
    from graph_computing_go_spark.plans.messages import symmetrize, vertices_of
    from graph_computing_go_spark.plans.triangles import triangles_per_vertex

    edges = spark.range(300).select(
        (F.col("id") % 37).alias("src"), (F.col("id") % 23 + 1).alias("dst")
    ).repartition(4)
    for df in (
        symmetrize(edges, dedup=False),
        vertices_of(edges),
        triangles_per_vertex(edges),
    ):
        plan = _plan(df)
        assert "Union" not in plan, plan
        assert "Generate" in plan, plan


def test_grouped_distance_tag_joins_reuse_nc_partitioning(spark, monkeypatch):
    """Grouped distance complexity under a caller group key named ``g``:
    no internal column may clash with it, and the tag joins shuffle on
    hash(g, …).  (The node table is no longer pre-partitioned: under AQE a
    checkpoint reports no output partitioning — see
    test_tag_joins_shuffle_node_table_once_per_side.)  Checked on the lazy
    plan (SPARK_GRAFT_EAGER=0) so the audit sees the full tree, same as
    tools/plandump.py."""
    monkeypatch.setenv("SPARK_GRAFT_EAGER", "0")
    from graph_computing_go_spark.functions.distance_complexity import (
        distance_complexity,
    )

    w = spark.createDataFrame(
        [(9, 2, 1, 1.0), (9, 3, 1, 2.0), (9, 3, 2, 1.0)],
        "g int, a long, b long, distance double",
    )
    c = spark.createDataFrame(
        [(9, 1, ["x"]), (9, 2, ["x", "y"]), (9, 3, ["y"])],
        "g int, id long, cats array<string>",
    )
    out = distance_complexity(w, c, group=["g"], assume_canonical=True)
    plan = _plan(out)
    # the canonical-skip must hold: no dropDuplicates-style aggregate on
    # (g, a, b) reintroduced upstream of the edge pin
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(g" in plan, plan
    row = out.collect()[0]
    assert round(row["big"], 9) == round(1.0754887502163468, 9)


def _names(attrs) -> set[str]:
    it = attrs.iterator()
    return {it.next().name() for _ in range(attrs.size())}


def _node_pin_paths(jplan) -> list[list[str]]:
    """For every join an executed plan ran that reads the category node
    pin (a scan emitting ``__copies``) — the tag joins: the operators
    between the join and that scan, followed through single-child
    operators and into reused exchanges."""
    from tools.plandump import _walk

    paths = []

    def visit(node, name):
        if not name.endswith("JoinExec"):
            return
        it = node.children().iterator()
        while it.hasNext():
            n, path = it.next(), []
            while True:
                nm = n.getClass().getSimpleName()
                path.append(nm)
                if nm == "AdaptiveSparkPlanExec":
                    n = n.executedPlan()
                elif nm.endswith("QueryStageExec"):
                    n = n.plan()
                elif nm == "ReusedExchangeExec":
                    n = n.child()
                elif n.children().size() == 1:
                    n = n.children().head()
                else:
                    break
            if nm == "RDDScanExec" and "__copies" in _names(n.output()):
                paths.append(path)

    _walk(jplan, visit)
    return paths


def test_tag_joins_shuffle_node_table_once_per_side(spark, monkeypatch):
    """Each tag join (the join that also fans an endpoint out over its
    copies) shuffles the category node table at most once, never a second
    time for a separate copy join.  Multilayer's two joins read the same
    node columns, so the second reuses the first's exchange: ONE shuffle of
    the node table.  Distance complexity's b-side needs no copy list, so
    its narrower exchange runs on its own.  (The node pin cannot be
    pre-partitioned instead: under AQE a checkpoint reports no output
    partitioning.)  Broadcasts are off, so the joins are sort-merge joins
    and the check cannot pass by a broadcast."""
    from graph_computing_go_spark.functions import (
        distance_complexity,
        multilayer_structural_entropy,
    )

    w = spark.createDataFrame(
        [(9, 2, 1, 1.0), (9, 3, 1, 2.0), (9, 3, 2, 1.0), (8, 3, 1, 1.0)],
        "g int, a long, b long, distance double",
    ).repartition(3)
    c = spark.createDataFrame(
        [(9, 1, ["x"]), (9, 2, ["x", "y"]), (9, 3, ["y"]), (8, 1, ["x"]), (8, 3, ["x"])],
        "g int, id long, cats array<string>",
    ).repartition(3)
    v = c.filter(F.col("g") == 9).select("id", "cats")
    e = w.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        for fn, shuffles in (
            (lambda: distance_complexity(w, c, group=["g"], assume_canonical=True), 2),
            (lambda: multilayer_structural_entropy(v, e), 1),
        ):
            plans = _run_plans(
                monkeypatch, ("distance_complexity.py", "multilayer.py"), fn
            )
            paths = [p for plan in plans for p in _node_pin_paths(plan)]
            # non-vacuous: both tag joins, each reading the pin
            assert len(paths) == 2, paths
            assert not any("Broadcast" in nm for p in paths for nm in p), paths
            ran = [p for p in paths if "ReusedExchangeExec" not in p]
            assert sum(p.count("ShuffleExchangeExec") for p in ran) == shuffles, paths
    finally:
        for k, val in prev.items():
            if val is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, val)


# --------------------------------------------------------------------------
# shared subplans run once, on CACHED inputs.  Spark 4.1's AQE never reuses
# an exchange whose subtree reads a cached relation, so on a cached input
# every consumer of a shared intermediate re-runs the shuffles above the
# cache — which the uncached fixtures above can never show.  Each test runs
# the operator, then checks the executed plan of its result AND of every
# checkpoint the operator's own module took (``session.compute_once`` and
# the eager group-grain results): no shuffle stage may run twice, in one
# query or across them.


def _cached(df):
    df = df.cache()
    df.count()
    return df


def _cached_edges(spark, n=600):
    return _cached(
        spark.range(n)
        .select(
            (F.col("id") % 53).alias("src"),
            ((F.col("id") * 7 + 3) % 41).alias("dst"),
        )
        .repartition(4)
    )


def _cached_docs(spark):
    return _cached(_docs(spark, 120))


def _run_plans(monkeypatch, module: str | tuple[str, ...], fn):
    """Run ``fn()`` and collect its result; return the executed plans of the
    result and of every ``localCheckpoint`` taken on behalf of ``module``
    (the nearest calling frame outside pyspark and session.py; a tuple
    names several modules) — the superstep engine's own checkpoints are not
    the module's."""
    import os
    import sys

    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame

    pyspark_dir = os.path.dirname(pyspark.__file__)
    session_py = os.path.join("graph_computing_go_spark", "session.py")
    taken = []
    orig = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        f = sys._getframe(1)
        while f is not None and (
            f.f_code.co_filename.startswith(pyspark_dir)
            or f.f_code.co_filename.endswith(session_py)
        ):
            f = f.f_back
        if f is not None and f.f_code.co_filename.endswith(module):
            taken.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    out = fn()
    out.collect()
    monkeypatch.setattr(DataFrame, "localCheckpoint", orig)
    return [d._jdf.queryExecution().executedPlan() for d in [*taken, out]]


def _assert_runs_once(plans):
    """No shuffle stage runs twice — within a query, nor across the queries
    of one call (a table two queries need is materialized once)."""
    from tools.plandump import shuffle_signatures

    sigs = [s for p in plans for s in shuffle_signatures(p)]
    assert sigs
    # non-vacuous: the cached input is read as a cache
    assert any("InMemoryTableScan" in p.toString() for p in plans)
    repeated = {s for s in sigs if sigs.count(s) > 1}
    assert not repeated, "\n\n".join(repeated)


def test_entropy_cached_degrees_run_once(spark, monkeypatch):
    """The degree table feeds every kind's entropy: one scan of it, not
    one per kind (its aggregations sit above the cached edges)."""
    from graph_computing_go_spark.functions import (
        degree_distribution_entropy,
        structural_entropy,
    )

    e = _cached_edges(spark)
    for fn in (degree_distribution_entropy, structural_entropy):
        _assert_runs_once(_run_plans(monkeypatch, "entropy.py", lambda: fn(e)))
    e.unpersist()


def test_multilayer_cached_inputs_run_once(spark, monkeypatch):
    """The node table feeds both tag joins (which also fan the copies
    out); the expanded, tagged graph feeds big and ONE per-node
    aggregation."""
    from graph_computing_go_spark.functions import multilayer_structural_entropy

    e = _cached_edges(spark)
    v = _cached(
        spark.range(60).select(
            "id",
            F.when(F.col("id") % 5 == 0, F.array(F.lit("x"), F.lit("y")))
            .otherwise(F.array((F.col("id") % 3).cast("string")))
            .alias("cats"),
        )
    )
    plans = _run_plans(
        monkeypatch, "multilayer.py", lambda: multilayer_structural_entropy(v, e)
    )
    _assert_runs_once(plans)
    e.unpersist()
    v.unpersist()


def test_distance_complexity_cached_inputs_run_once(spark, monkeypatch):
    """The exploded categories feed the max id, the copy ranking and the
    node table; the node table feeds both tag joins; the tagged edge table
    feeds big and ONE per-node aggregation.  The node table and the fold
    live in multilayer.py, so its checkpoints count too."""
    from graph_computing_go_spark.functions import distance_complexity

    e = _cached_edges(spark)
    w = _cached(
        e.filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("distance"))
    )
    c = spark.range(60).select(
        "id",
        F.array((F.col("id") % 3).cast("string"), (F.col("id") % 4).cast("string")).alias("cats"),
    )
    plans = _run_plans(
        monkeypatch,
        ("distance_complexity.py", "multilayer.py"),
        lambda: distance_complexity(w, c, assume_canonical=True),
    )
    _assert_runs_once(plans)
    # the tagged edge table feeds big and the module terms; unpinned, each
    # consumer would re-run the tag joins under a DIFFERENT pruning, which
    # the check above cannot see: pin that the two tag joins (a-side,
    # b-side) run once each
    assert sum(len(_node_pin_paths(p)) for p in plans) == 2
    e.unpersist()
    w.unpersist()


def test_minhash_candidates_cached_corpus_run_once(spark, monkeypatch):
    """The band table (the 16-column minima aggregation) feeds both sides
    of the bucket-pair grid: it runs once, not once per consumer."""
    from graph_computing_go_spark.operators.dedup import minhash_lsh_candidates

    docs = _cached_docs(spark)
    plans = _run_plans(
        monkeypatch, "dedup.py", lambda: minhash_lsh_candidates(docs, chunk=16)
    )
    _assert_runs_once(plans)
    docs.unpersist()


def test_dedup_clusters_cached_corpus_run_once(spark, monkeypatch):
    """The shingle table feeds the band table, both verification joins and
    both size lookups; the exact-collapse keys feed the representative
    choice and the final mapping."""
    from graph_computing_go_spark.operators.dedup import dedup_clusters

    docs = _cached_docs(spark)
    plans = _run_plans(
        monkeypatch, "dedup.py", lambda: dedup_clusters(docs, min_jaccard=0.5, chunk=16)
    )
    _assert_runs_once(plans)
    docs.unpersist()


def test_ngd_and_triangles_cached_edges_run_once(spark, monkeypatch):
    """NGD's in-edge table feeds the in-degrees and both sides of the
    co-occurrence join; the triangle edge table feeds both wedge legs and
    the closing semi-join."""
    from graph_computing_go_spark.functions import google_distance
    from graph_computing_go_spark.plans import triangle_count

    e = _cached_edges(spark)
    core = spark.range(41).select("id")
    _assert_runs_once(
        _run_plans(monkeypatch, "ngd.py", lambda: google_distance(e, core, 100))
    )
    _assert_runs_once(
        _run_plans(monkeypatch, "triangles.py", lambda: triangle_count(e))
    )
    e.unpersist()


def test_supersteps_cached_edges_run_once(spark, monkeypatch):
    """Every superstep checkpoint of PageRank, CC (plain and with pointer
    jumping) and LPA runs each shuffle once.  The gather sits above the
    cached adjacency, so a state table that two joins consume must be
    computed once, or each consumer re-runs the gather (CC's jump phase)."""
    from graph_computing_go_spark.plans import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from tools.plandump import duplicated_shuffles

    e = _cached_edges(spark)
    for fn in (
        lambda: pagerank(e, tol=0.0, max_iter=3)[0],
        lambda: connected_components(e)[0],
        lambda: connected_components(e, jump=True)[0],
        lambda: label_propagation(e, exact_iters=3)[0],
    ):
        plans = _run_plans(monkeypatch, ("superstep.py", "components.py"), fn)
        assert len(plans) > 3  # initial state, >= 2 supersteps, result
        assert any("InMemoryTableScan" in p.toString() for p in plans)
        for p in plans:
            assert duplicated_shuffles(p) == 0, p.toString()
    e.unpersist()


def test_lifecycles_cached_inputs_run_once(spark, monkeypatch):
    """The member in-degree table feeds both entropies and the edge totals
    through ONE histogram aggregation: no shuffle runs twice in the yearly
    walk — its one plan for every year, nor the grouped ranking's and the
    slice helper's materializations — nor in the subject lifecycle's result
    (whose fixture lists one subject twice on some vertices), nor in the
    percent ladder."""
    from graph_computing_go_spark.operators.graph import percent_ladder_stats
    from graph_computing_go_spark.plans.subjects import subject_entropy_lifecycle
    from graph_computing_go_spark.plans.yearly import yearly_entropy_pipeline

    e = _cached_edges(spark)
    v = _cached(
        spark.range(60).select(
            "id",
            (F.lit(2000) + F.col("id") % 3).cast("int").alias("year"),
            F.when(F.col("id") % 5 == 0, F.array(F.lit("x"), F.lit("x")))
            .otherwise(F.array((F.col("id") % 3).cast("string")))
            .alias("subjects"),
        )
    )
    years = [2000, 2001, 2002]
    yearly = _run_plans(
        monkeypatch,
        ("yearly.py", "graph.py"),
        lambda: yearly_entropy_pipeline(v.select("id", "year"), e, years=years),
    )
    # the tagged edges, the range-partitioned candidates, the slice
    # vertices, the result and its scan — none of them per year
    assert len(yearly) == 5
    _assert_runs_once(yearly)
    _assert_runs_once(
        _run_plans(
            monkeypatch,
            "subjects.py",
            lambda: subject_entropy_lifecycle(v, e, years=years),
        )
    )
    _assert_runs_once(
        _run_plans(monkeypatch, "graph.py", lambda: percent_ladder_stats(e))
    )
    e.unpersist()
    v.unpersist()


def _lifecycle_inputs(spark, n_years):
    verts = spark.range(600).select(
        "id", (F.lit(2000) + F.col("id") % n_years).cast("int").alias("year")
    )
    edges = spark.range(4000).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(600)).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(300)).alias("dst"),
    )
    return verts, edges


def test_yearly_walk_job_count_independent_of_years(spark):
    """The yearly walk is ONE plan whatever the year list: the same number
    of Spark jobs at 2 and at 6 years.  Broadcasts are pinned off, as the
    benchmark runs the lifecycles, so the join strategies cannot move with
    the data size."""
    from graph_computing_go_spark.plans.yearly import yearly_entropy_pipeline

    sc = spark.sparkContext
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    jobs = {}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        for n_years in (2, 6):
            verts, edges = _lifecycle_inputs(spark, n_years)
            years = list(range(2000, 2000 + n_years))
            group = f"yearly-walk-{n_years}"
            sc.setJobGroup(group, group)
            out = yearly_entropy_pipeline(verts, edges, years=years)
            assert {r["year"] for r in out.collect()} == set(years)
            jobs[n_years] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for k, val in prev.items():
            if val is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, val)
    assert jobs[2] == jobs[6], jobs


def test_ladder_and_yearly_leave_no_cache(spark):
    """Neither the percent ladder, the yearly walk, nor the registered
    queries that derive their own edge tables pin a cache past their
    return: every RDD they leave persisted is a local checkpoint (retired
    with its lineage), none a ``.cache()``.  A query-owned ``.cache()``
    sits on the session's shared plan-keyed entry, where a later query's
    cache/unpersist of the same derived table adopts or evicts it."""
    import os

    from graph_computing_go_spark.api import QUERIES
    from graph_computing_go_spark.operators.graph import percent_ladder_stats
    from graph_computing_go_spark.plans.yearly import yearly_entropy_pipeline

    sc = spark.sparkContext
    verts, edges = _lifecycle_inputs(spark, 3)
    calls = [
        lambda: percent_ladder_stats(edges),
        lambda: yearly_entropy_pipeline(verts, edges, years=[2000, 2002]),
    ]
    sf_dir = "/root/testdata/sf0.001"
    if os.path.isdir(sf_dir):
        calls += [
            lambda q=q: QUERIES[q](spark, sf_dir)
            for q in (
                "google_distance",
                "yearly_entropy",
                "subject_entropy_lifecycle",
                "discipline_distance_complexity",
            )
        ]
    for fn in calls:
        before = set(sc._jsc.getPersistentRDDs().keySet())
        assert fn().collect()
        persisted = sc._jsc.getPersistentRDDs()
        left = [
            persisted.get(i).rdd().toDebugString()
            for i in persisted.keySet()
            if i not in before and not persisted.get(i).rdd().isCheckpointed()
        ]
        assert not left, "\n\n".join(left)
