"""Grouped subject-entropy lifecycle: the one-plan year-threaded rewrite
must reproduce the per-year loop semantics exactly (VERDICT-style grouped
== per-group pin, same as test_goldens_distance's grouped check)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_computing_go_spark.plans.subjects import subject_entropy_lifecycle


def _loop_reference(vertices, edges, years, min_in_degree=2):
    """The pre-rewrite per-year driver loop, kept as the semantic oracle."""
    rows = []
    for y in sorted(set(years), reverse=True):
        mem = vertices.filter(F.col("year") <= y).select(
            "id", F.explode("subjects").alias("subject")
        )
        circle = mem.select("id").distinct()
        e_y = (
            edges.join(circle.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(circle.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        keep = (
            e_y.groupBy(F.col("dst").alias("id"))
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= min_in_degree)
            .select("id")
        )
        memk = mem.join(keep, "id", "left_semi")
        es = (
            e_y.join(memk.select(F.col("id").alias("src"), "subject"), "src")
            .join(
                memk.select(F.col("id").alias("dst"), F.col("subject").alias("s2")),
                "dst",
            )
            .filter(F.col("subject") == F.col("s2"))
            .select("subject", "src", "dst")
        )
        deg = es.groupBy("subject", F.col("dst").alias("id")).agg(
            F.count("*").alias("d")
        )
        ind = memk.join(deg, ["subject", "id"], "left").select(
            "subject", F.coalesce("d", F.lit(0)).alias("d")
        )
        hist = ind.groupBy("subject", "d").agg(F.count("*").alias("c"))
        dd = hist.groupBy("subject").agg(
            (
                F.log2(F.sum("c").cast("double"))
                - F.sum(F.col("c") * F.log2("c")) / F.sum("c")
            ).alias("dd_h_in"),
            F.sum("c").alias("n_vertices"),
        )
        se = (
            ind.filter(F.col("d") > 0)
            .select("subject", F.col("d").cast("double").alias("d"))
            .groupBy("subject")
            .agg(
                (
                    F.log2(F.sum("d"))
                    - F.sum(F.col("d") * F.log2("d")) / F.sum("d")
                ).alias("se_h_in"),
                F.count("*").alias("n_in"),
            )
        )
        ne = es.groupBy("subject").agg(F.count("*").alias("n_edges"))
        for r in (
            dd.join(se, "subject", "left").join(ne, "subject", "left").collect()
        ):
            rows.append(
                (
                    y,
                    r["subject"],
                    r["n_vertices"],
                    r["n_edges"] or 0,
                    round(r["dd_h_in"], 6),
                    round(r["se_h_in"], 6) if r["se_h_in"] is not None else None,
                    r["n_in"] or 0,
                )
            )
    return sorted(rows)


def test_grouped_lifecycle_equals_per_year_loop(spark):
    # 40 vertices over 4 years, 3 overlapping subjects, a hub, and a vertex
    # below the min-in-degree gate in the early snapshot only
    vertices = spark.range(40).select(
        F.col("id"),
        (F.lit(2000) + (F.col("id") % 4).cast("int")).alias("year"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.array(F.lit("a"))).otherwise(
                F.array().cast("array<string>")
            ),
            F.when(F.col("id") % 3 == 0, F.array(F.lit("b"))).otherwise(
                F.array().cast("array<string>")
            ),
            F.when(F.col("id") % 7 == 0, F.array(F.lit("c"))).otherwise(
                F.array().cast("array<string>")
            ),
        ).alias("subjects"),
    )
    edges = spark.range(160).select(
        (F.col("id") % 40).alias("src"),
        F.pmod(F.col("id") * 13 + 7, F.lit(40)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    years = [2001, 2003]
    got = sorted(
        map(tuple, subject_entropy_lifecycle(vertices, edges, years).collect())
    )
    want = _loop_reference(vertices, edges, years)
    assert got == want
    # snapshots are cumulative: the later year's circle is a superset
    by_year = {}
    for r in got:
        by_year.setdefault(r[0], 0)
        by_year[r[0]] += r[2]
    assert by_year[2003] >= by_year[2001]


def _brute_subjects(vrows, erows, years, min_in_degree=2):
    """Driver-side pure-Python reference for subject_entropy_lifecycle:
    per year, membership = (vertex, subject) pairs with year <= y (NULL
    excluded, duplicate subjects kept); circle = member vertices; in-degree
    gate on the circle-induced graph; es = circle edges fanned by the
    subject-equality join (a×b rows per edge incl. duplicates); dd over the
    member in-degree histogram (zeros included), se over d>0."""
    import math
    from collections import Counter

    out = []
    for y in sorted(set(years), reverse=True):
        mem = [
            (i, s)
            for i, yr, subs in vrows
            if yr is not None and yr <= y
            for s in (subs or [])
        ]
        circle = {i for i, _ in mem}
        ey = [(s, d) for s, d in erows if s in circle and d in circle]
        indeg = Counter(d for _, d in ey)
        keep = {i for i in circle if indeg[i] >= min_in_degree}
        memk = [(i, s) for i, s in mem if i in keep]
        subs_of = {}
        for i, s in memk:
            subs_of.setdefault(i, []).append(s)
        es = [
            (s1, src, dst)
            for src, dst in ey
            for s1 in subs_of.get(src, [])
            for s2 in subs_of.get(dst, [])
            if s1 == s2
        ]
        deg = Counter((s, d) for s, _, d in es)
        ne = Counter(s for s, _, _ in es)
        for subject in sorted({s for _, s in memk}):
            degs = [deg.get((subject, i), 0) for i, s in memk if s == subject]
            hist = Counter(degs)
            nv = len(degs)
            dd = (
                math.log2(nv)
                - sum(c * math.log2(c) for c in hist.values()) / nv
            )
            pos = [d for d in degs if d > 0]
            s_ = sum(pos)
            se = (
                math.log2(s_) - sum(d * math.log2(d) for d in pos) / s_
                if pos
                else None
            )
            out.append(
                (y, subject, nv, ne.get(subject, 0), dd, se, len(pos))
            )
    return sorted(out, key=lambda t: t[:2])


def test_subject_lifecycle_matches_brute_force_on_random_graphs(spark):
    """Seeded random graphs (multi-edges, NULL years, empty/duplicate
    subject lists) vs a pure-Python reference — pins the cumulative
    membership algebra of the round-5 rewrite from first principles,
    independent of the Spark loop reference above."""
    import math
    import random

    subjects_pool = ["a", "b", "c"]
    for seed in (5, 42):
        rng = random.Random(seed)
        vrows = []
        for i in range(40):
            yr = None if rng.random() < 0.1 else 2000 + rng.randrange(4)
            k = rng.randrange(4)  # 0..3 subjects, 0 = never in a circle
            subs = [rng.choice(subjects_pool) for _ in range(k)]
            if k and rng.random() < 0.2:
                subs.append(subs[0])  # duplicate subject: a×b multiplicity
            vrows.append((i, yr, subs))
        erows = [(rng.randrange(40), rng.randrange(40)) for _ in range(250)]
        years = [2001, 2003]
        vertices = spark.createDataFrame(
            vrows, "id long, year int, subjects array<string>"
        )
        edges = spark.createDataFrame(erows, "src long, dst long")
        got = sorted(
            (
                tuple(r)
                for r in subject_entropy_lifecycle(
                    vertices, edges, years
                ).collect()
            ),
            key=lambda t: t[:2],
        )
        want = _brute_subjects(vrows, erows, years)
        assert len(got) == len(want), f"seed {seed}: row count"
        for g, w in zip(got, want):
            assert g[:4] == w[:4], f"seed {seed}: keys/counts {g} vs {w}"
            assert g[6] == w[6], f"seed {seed}: n_in {g} vs {w}"
            for gi, wi in ((g[4], w[4]), (g[5], w[5])):
                if wi is None:
                    assert gi is None, f"seed {seed}: {g} vs {w}"
                else:
                    assert math.isclose(gi, wi, abs_tol=2e-6), (
                        f"seed {seed}: {g} vs {w}"
                    )


def test_subject_lifecycle_null_subject_is_no_subject(spark):
    """A NULL element of a subject list names no subject: the lifecycle
    equals the one over the same lists with the NULLs dropped."""
    vrows = [
        (1, 2000, ["a", None]),
        (2, 2000, ["a"]),
        (3, 2000, [None]),
        (4, 2001, ["a", "b"]),
        (5, 2001, ["b", None]),
    ]
    erows = [(1, 2), (2, 1), (3, 1), (4, 1), (5, 4), (4, 5), (1, 4), (2, 4)]
    edges = spark.createDataFrame(erows, "src long, dst long")

    def run(rows):
        v = spark.createDataFrame(rows, "id long, year int, subjects array<string>")
        return sorted(
            tuple(r)
            for r in subject_entropy_lifecycle(v, edges, [2000, 2001], 1).collect()
        )

    got = run(vrows)
    assert got == run([(i, y, [s for s in subs if s]) for i, y, subs in vrows])
    assert {r[1] for r in got} == {"a", "b"}
