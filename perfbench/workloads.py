"""The benchmark workloads.

Each part has a ``setup`` (input synthesis and cache fill, untimed), a
``run`` (the timed section: one call per layer, each forced to produce its
output) and a ``check`` (output checks on the first repetition, untimed).
``run`` returns a summary per layer call (small Python values, compared
across repetitions) and the outputs the checks need.  A workload chains one
or more of these parts.
"""

from __future__ import annotations

import math
import os
import statistics

from pyspark.sql import functions as F

from graph_computing_go_spark.functions import (
    degree_distribution_entropy,
    distance_complexity,
    google_distance,
    multilayer_structural_entropy,
    structural_entropy,
)
from graph_computing_go_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_candidates,
)
from graph_computing_go_spark.operators.graph import percent_ladder_stats
from graph_computing_go_spark.plans import (
    SuperstepRunner,
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from graph_computing_go_spark.plans.subjects import subject_entropy_lifecycle
from graph_computing_go_spark.plans.yearly import yearly_entropy_pipeline
from graph_computing_go_spark.sources import (
    extract_imports,
    resolve_imports,
    synthesize_repos,
    verify_content_sha256,
)
from graph_computing_go_spark.sources.ingest import vertex_id

import inputs
import reference

# LSH geometry for the dedup workload: 16 single-row bands.  Minhash
# misses along a sliding-window chain are correlated (neighbouring windows
# share their minima), so a chain split is about as likely as one missed
# neighbour pair (Jaccard 9/11): 0.18**16, ~1e-12 here, against ~1e-4 with
# 8 bands of 2 rows, which split a chain on one seed in ten.
LSH = {"n_hashes": 16, "rows_per_band": 1, "chunk": 512}


class Ctx:
    """What a workload needs: the session, its seed and sizes, the per-run
    temp directory and the tracer."""

    def __init__(self, spark, seed, sizes, tmp, tracer):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.tmp = tmp
        self.tracer = tracer

    def span(self, name):
        return self.tracer.span(name)


def finite(*xs) -> bool:
    return all(x is not None and math.isfinite(x) for x in xs)


def same(a, b) -> bool:
    """Equality of two summaries, floats up to summation-order noise."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def superstep_metrics(runners, n_edges: int) -> dict:
    """Superstep timings of the runners' last runs; each run's first
    superstep also builds the adjacency cache, so only later ones count as
    steady."""
    first = [r.metrics[0]["wall_ms"] for r in runners if r.metrics]
    rest = [m["wall_ms"] for r in runners for m in r.metrics[1:]]
    return {
        "plans.superstep.first_step_ms": statistics.median(first) if first else 0.0,
        "plans.superstep.step_ms_p50": statistics.median(rest) if rest else 0.0,
        "edges_per_s": n_edges * len(rest) / (sum(rest) / 1000.0) if sum(rest) else 0.0,
    }


def _edge_list(edges) -> list[tuple[int, int]]:
    pdf = edges.select("src", "dst").toPandas()
    return list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))


def _collect_map(df, value: str) -> dict:
    pdf = df.select("id", value).toPandas()
    return dict(zip(pdf["id"].tolist(), pdf[value].tolist()))


def _ranks_match(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        math.isclose(got[v], want[v], rel_tol=1e-6, abs_tol=1e-12) for v in want
    )


# --------------------------------------------------------------------------
# codegraph: the paper's own pipeline on its native payload


class CodeGraph:
    name = "codegraph"

    def setup(self, ctx):
        with ctx.span("sources.repos"):
            repos = synthesize_repos(
                ctx.spark, n_files=ctx.sizes["n_files"], seed=ctx.seed
            ).cache()
            n = repos.count()
        return {"repos": repos, "n_files": n}

    def release(self, inp):
        inp["repos"].unpersist()

    def run(self, ctx, inp, res):
        spark, sz = ctx.spark, ctx.sizes
        repos, n_files = inp["repos"], inp["n_files"]
        path = os.path.join(ctx.tmp, f"repos-rep{ctx.tracer.rep}")
        with ctx.span("sources.ingest.roundtrip"):
            repos.write.mode("overwrite").parquet(path)
            ingested = spark.read.parquet(path)
            res["sources.ingest.roundtrip"] = verify_content_sha256(repos, ingested)
        with ctx.span("sources.ingest.extract"):
            refs = extract_imports(ingested).cache()
            res["sources.ingest.extract"] = refs.count()
        with ctx.span("sources.ingest.resolve"):
            # build_edge_table's projection, over the extracted refs
            r = resolve_imports(ingested, refs)
            edges = r.select(
                vertex_id(F.col("src_repo"), F.col("src_path")).alias("src"),
                vertex_id(F.col("dst_repo"), F.col("dst_path")).alias("dst"),
            ).cache()
            res["sources.ingest.resolve"] = edges.count()
        refs.unpersist()
        files = ingested.select(
            vertex_id(F.col("repo"), F.col("path")).alias("id"),
            "lang",
            F.split_part(F.col("repo"), F.lit("/"), F.lit(1)).alias("org"),
        )
        with ctx.span("functions.entropy"):
            dd = degree_distribution_entropy(edges).collect()[0].asDict()
            se = structural_entropy(edges).collect()[0].asDict()
            res["functions.entropy"] = [dd, se]
        with ctx.span("functions.multilayer"):
            cats = files.select("id", F.array("lang").alias("cats"))
            res["functions.multilayer"] = (
                multilayer_structural_entropy(cats, edges).collect()[0].asDict()
            )
        with ctx.span("functions.ngd"):
            k = sz["ngd_core"]
            core = (
                edges.groupBy("dst")
                .count()
                .orderBy(F.desc("count"), F.asc("dst"))
                .limit(k)
                .select(F.col("dst").alias("id"))
            )
            res["functions.ngd"] = (
                google_distance(edges, core, n_files, core_count=k)
                .agg(F.count("*").alias("pairs"), F.sum("distance").alias("dsum"))
                .collect()[0]
                .asDict()
            )
        with ctx.span("functions.distance_complexity"):
            # the weighted undirected code graph: one row per file pair,
            # weight = number of import edges between the two files
            wedges = (
                edges.filter(F.col("src") != F.col("dst"))
                .select(
                    F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
                )
                .groupBy("a", "b")
                .agg(F.count("*").cast("double").alias("distance"))
            )
            vcats = files.select("id", F.array("lang", "org").alias("cats"))
            res["functions.distance_complexity"] = (
                distance_complexity(wedges, vcats, assume_canonical=True)
                .collect()[0]
                .asDict()
            )
        with ctx.span("plans.triangles"):
            res["plans.triangles"] = triangle_count(edges).collect()[0]["n_triangles"]
        wall = sum(
            ctx.tracer.busy(n, ctx.tracer.rep)
            for n in (
                "sources.ingest.roundtrip",
                "sources.ingest.extract",
                "sources.ingest.resolve",
            )
        )
        n_refs = res["sources.ingest.extract"]
        metrics = {
            "files_per_s": n_files / wall,
            "sources.ingest.refs": n_refs,
            "sources.ingest.resolved_ratio": res["sources.ingest.resolve"] / n_refs,
        }
        return {"edges": edges}, metrics

    def release_out(self, out):
        out["edges"].unpersist()

    def check(self, ctx, inp, res, out):
        el = _edge_list(out["edges"])
        ent = res["functions.entropy"]
        ngd = res["functions.ngd"]
        dc = res["functions.distance_complexity"]
        n_refs = res["sources.ingest.extract"]
        return {
            "sources.ingest.roundtrip": res["sources.ingest.roundtrip"] == inp["n_files"],
            "sources.ingest.extract": n_refs > 0,
            "sources.ingest.resolve": 0 < res["sources.ingest.resolve"] <= n_refs
            and len(el) == res["sources.ingest.resolve"],
            "functions.entropy": all(finite(*d.values()) for d in ent),
            "functions.multilayer": finite(*res["functions.multilayer"].values()),
            "functions.ngd": ngd["pairs"] > 0 and finite(ngd["dsum"]),
            "functions.distance_complexity": finite(dc["big"], dc["little"]),
            "plans.triangles": res["plans.triangles"] == reference.triangles(el),
        }


# --------------------------------------------------------------------------
# linkgraph: the iterative engine, then the per-year lifecycle walk and the
# ladder, on one skewed synthetic link graph with vertex years and subjects


class LinkGraph:
    name = "linkgraph"

    def setup(self, ctx):
        sz, spark = ctx.sizes, ctx.spark
        edges = inputs.link_graph(
            spark, sz["n_edges"], sz["n_vertices"], ctx.seed
        ).cache()
        verts = inputs.lifecycle_vertices(
            spark, sz["n_vertices"], sz["n_years"], sz["n_subjects"], ctx.seed
        ).cache()
        years = list(range(inputs.FIRST_YEAR, inputs.FIRST_YEAR + sz["n_years"]))
        return {
            "edges": edges, "verts": verts, "years": years,
            "n_edges": edges.count(), "n_verts": verts.count(),
        }

    def release(self, inp):
        inp["edges"].unpersist()
        inp["verts"].unpersist()

    def run(self, ctx, inp, res):
        spark, sz, g = ctx.spark, ctx.sizes, inp["edges"]
        runners = [SuperstepRunner(spark) for _ in range(3)]
        with ctx.span("plans.pagerank"):
            ranks, pr_it = pagerank(g, tol=0.0, max_iter=sz["pr_iters"], runner=runners[0])
            res["plans.pagerank"] = _rank_summary(ranks, pr_it)
        with ctx.span("plans.components"):
            comps, cc_it = connected_components(g, runner=runners[1])
            res["plans.components"] = (
                comps.agg(
                    F.count("*").alias("n"),
                    F.countDistinct("component").alias("k"),
                ).collect()[0].asDict()
                | {"iters": cc_it}
            )
        with ctx.span("plans.labelprop"):
            labels, lp_it = label_propagation(
                g, exact_iters=sz["lpa_iters"], runner=runners[2]
            )
            res["plans.labelprop"] = (
                labels.agg(
                    F.count("*").alias("n"), F.countDistinct("label").alias("k")
                ).collect()[0].asDict()
                | {"iters": lp_it}
            )
        ck_dir = os.path.join(ctx.tmp, f"ckpt-rep{ctx.tracer.rep}")
        with ctx.span("plans.superstep.checkpoint"):
            r_ck = SuperstepRunner(spark, checkpoint_dir=ck_dir, checkpoint_every=1)
            ck, ck_it = pagerank(g, tol=0.0, max_iter=sz["ckpt_iters"], runner=r_ck)
            res["plans.superstep.checkpoint"] = _rank_summary(ck, ck_it)

        # the lifecycles run with broadcasts pinned off, as the scale bench
        # runs them: the local driver heap holds every cache, so an
        # estimate-tempted runtime broadcast risks the heap rather than
        # saving a shuffle
        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
        prev = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            verts, years = inp["verts"], inp["years"]
            with ctx.span("plans.yearly"):
                res["plans.yearly"] = _rows(
                    yearly_entropy_pipeline(
                        verts.select("id", "year"), g, years=years, min_in_degree=2
                    )
                )
            with ctx.span("plans.subjects"):
                res["plans.subjects"] = _rows(
                    subject_entropy_lifecycle(verts, g, years=years, min_in_degree=2)
                )
            with ctx.span("operators.graph.ladder"):
                res["operators.graph.ladder"] = _rows(
                    percent_ladder_stats(g, inputs.LADDER)
                )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        metrics = {
            "plans.pagerank.iters": pr_it,
            "plans.components.iters": cc_it,
            **superstep_metrics(runners, inp["n_edges"]),
        }
        out = {
            "ranks": ranks, "comps": comps, "labels": labels, "ck": ck,
            "ck_dir": ck_dir, "ck_iters": ck_it,
        }
        return out, metrics

    def release_out(self, out):
        pass

    def check(self, ctx, inp, res, out):
        el = _edge_list(inp["edges"])
        cc = _collect_map(out["comps"], "component")
        verts = set(cc)
        labels = _collect_map(out["labels"], "label")
        manifests = [
            f for f in os.listdir(os.path.join(out["ck_dir"], "pagerank"))
            if f.startswith("manifest_")
        ]
        pr_it, ck_it = res["plans.pagerank"]["iters"], out["ck_iters"]
        ny, ns = len(inp["years"]), ctx.sizes["n_subjects"]
        ladder = res["operators.graph.ladder"]
        return {
            "plans.pagerank": _ranks_match(
                _collect_map(out["ranks"], "rank"), reference.pagerank(el, pr_it)
            ),
            "plans.components": cc == reference.components(el),
            "plans.labelprop": labels.keys() == verts
            and set(labels.values()) <= verts,
            "plans.superstep.checkpoint": len(manifests) == ck_it
            and _ranks_match(
                _collect_map(out["ck"], "rank"), reference.pagerank(el, ck_it)
            ),
            "plans.yearly": len(res["plans.yearly"]) == ny * len(inputs.LADDER) * 2,
            "plans.subjects": len(res["plans.subjects"]) == ny * ns,
            # one row per ladder point; the induced subgraphs only grow
            "operators.graph.ladder": [r[0] for r in ladder] == list(inputs.LADDER)
            and all(a[1] <= b[1] and a[2] <= b[2] for a, b in zip(ladder, ladder[1:]))
            and ladder[-1][2] <= inp["n_edges"],
        }


def _rank_summary(ranks, iters) -> dict:
    return ranks.agg(
        F.count("*").alias("n"),
        F.sum("rank").alias("sum"),
        F.min("rank").alias("min"),
    ).collect()[0].asDict() | {"iters": iters}


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------------------------
# dedup: the curation path on a corpus of known duplicate topology


class Dedup:
    name = "dedup"

    def setup(self, ctx):
        spark = ctx.spark
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        docs = (
            inputs.dedup_corpus(spark, seed=ctx.seed, **ctx.sizes)
            .repartition(n_part)
            .cache()
        )
        return {"docs": docs, "n_docs": docs.count()}

    def release(self, inp):
        inp["docs"].unpersist()

    def run(self, ctx, inp, res):
        docs = inp["docs"]
        with ctx.span("operators.dedup.exact"):
            res["operators.dedup.exact"] = exact_dedup(docs).count()
        with ctx.span("operators.dedup.candidates"):
            reps = docs.dropDuplicates(["text"])
            res["operators.dedup.candidates"] = minhash_lsh_candidates(
                reps, **LSH
            ).count()
        with ctx.span("operators.dedup.clusters"):
            mapping = dedup_clusters(docs, min_jaccard=0.5, **LSH)
            row = mapping.agg(
                F.count("*").alias("n"),
                F.sum(F.col("is_canonical").cast("long")).alias("kept"),
            ).collect()[0]
            res["operators.dedup.clusters"] = row.asDict()
        n_cand = res["operators.dedup.candidates"]
        kept = row["kept"]
        wall = ctx.tracer.busy("operators.dedup.clusters", ctx.tracer.rep)
        metrics = {
            "docs_per_s": inp["n_docs"] / wall,
            "operators.dedup.candidates": n_cand,
            "operators.dedup.merge_ratio": (inp["n_docs"] - kept) / n_cand,
        }
        return {}, metrics

    def release_out(self, out):
        pass

    def check(self, ctx, inp, res, out):
        sz = ctx.sizes
        cl = res["operators.dedup.clusters"]
        return {
            "operators.dedup.exact": res["operators.dedup.exact"]
            == inputs.dedup_distinct(**sz),
            "operators.dedup.candidates": res["operators.dedup.candidates"] > 0,
            "operators.dedup.clusters": cl["n"] == inp["n_docs"]
            and cl["kept"] == inputs.dedup_kept(**sz),
        }


# --------------------------------------------------------------------------
# a workload is a chain of the parts above, run in turn in one session


class Chain:
    """Parts run one after the other in one run, each on its own seeded input
    and with its own sizes (``ctx.sizes[part.name]``), so the session start
    and the run's other fixed costs are paid once for all of them."""

    def __init__(self, name, *parts):
        self.name, self.parts = name, parts

    def _ctx(self, ctx, part):
        return Ctx(ctx.spark, ctx.seed, ctx.sizes[part.name], ctx.tmp, ctx.tracer)

    def setup(self, ctx):
        return [p.setup(self._ctx(ctx, p)) for p in self.parts]

    def release(self, inp):
        for p, i in zip(self.parts, inp):
            p.release(i)

    def run(self, ctx, inp, res):
        outs, metrics = [], {}
        for p, i in zip(self.parts, inp):
            out, m = p.run(self._ctx(ctx, p), i, res)
            outs.append(out)
            metrics.update(m)
        return outs, metrics

    def release_out(self, out):
        for p, o in zip(self.parts, out):
            p.release_out(o)

    def check(self, ctx, inp, res, out):
        checks = {}
        for p, i, o in zip(self.parts, inp, out):
            checks.update(p.check(self._ctx(ctx, p), i, res, o))
        return checks


# Two workloads, not one per part: every run pays ~15 s of session start and
# set-up, and the contract's run count (4 + 22 per workload) must fit its time
# limit.  Curation rides with the code graph: both are corpus building, and
# neither runs the superstep engine or the lifecycle walk.
WORKLOADS = {
    w.name: w
    for w in (
        Chain("codegraph", CodeGraph(), Dedup()),
        Chain("linkgraph", LinkGraph()),
    )
}
