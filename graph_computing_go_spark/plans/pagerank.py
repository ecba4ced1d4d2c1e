"""PageRank by power iteration — north-rule algorithm (no reference
counterpart; public spec: Page et al. 1999, the standard damped formulation).

DataFrame formulation per superstep (SURVEY.md §2.10), on the message core
(``plans.messages``):

    contribs = adjacency(src, deg, dsts) ⋈ ranks(src)  →  Σ_dst rank/deg
    rank'    = (1-α)/N + α·(contribs + dangling_mass/N)

- ``dangling`` policy: "redistribute" (default — the mass of out-degree-0
  vertices is spread uniformly, ranks stay a probability distribution) or
  "drop" (mass evaporates; this variant is what the SQL oracle reproduces,
  and the two coincide on graphs with no dangling vertices).
- Convergence: L1 delta < tol, evaluated in the same action that caches the
  new state — exactly one job per superstep.
- Skew: the merge is ``groupBy(dst)`` — Spark's hash aggregate already does
  map-side partial aggregation (the mandated two-stage aggregation), and an
  explicit ``salt_buckets > 0`` adds a keyed pre-shuffle stage for the case
  where one dst dominates a whole executor's input (hub repos).  The
  ranks⋈adjacency join is on src, where ranks are unique, and a hot src is
  ceil(deg/CHUNK) bounded-size rows, so join-side fan-out skew is bounded
  by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_computing_go_spark.plans.messages import MessageGraph, vertices_of
from graph_computing_go_spark.plans.superstep import SuperstepRunner


def _salted_sum(df: DataFrame, key: str, value: str, buckets: int) -> DataFrame:
    """Two-stage aggregation: groupBy(key, salt) partial sums, then
    groupBy(key) final — bounds any single reducer's input to ~1/buckets of
    a heavy hitter (BASELINE.json:6)."""
    if buckets <= 1:
        return df.groupBy(key).agg(F.sum(value).alias(value))
    # Salt must be deterministic under task retries — derive it from the src
    # column the pre-joined rows carry, never from partition id or rand().
    salted = df.withColumn("__salt", F.pmod(F.xxhash64("src"), F.lit(buckets)))
    partial = salted.groupBy(key, "__salt").agg(F.sum(value).alias(value))
    return partial.groupBy(key).agg(F.sum(value).alias(value))


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    dangling: str = "redistribute",
    salt_buckets: int = 0,
    runner: SuperstepRunner | None = None,
    resume: bool = False,
) -> tuple[DataFrame, int]:
    """Returns ((id, rank) DataFrame, iterations_run).

    ``edges``: directed (src, dst); multi-edges are honored as multi-links
    (pass ``edges.distinct()`` for simple-graph semantics).
    """
    with MessageGraph(edges, runner) as g:
        verts = g.cached(vertices_of(edges))
        n = verts.count()
        if n == 0:
            # an empty graph has an empty ranking, not a 1/0 initial rank
            # (connected_components converges on the same input; keep
            # parity); project off verts so the id column keeps the
            # caller's type.  Route through the runner as a 0-superstep run
            # (NOT an early return): a caller-supplied runner still gets its
            # begin-of-run hygiene — metrics reset and deletion of a previous
            # run's stale ahead-checkpoints, which would otherwise stay
            # silently resumable.  resume is deliberately not forwarded: an
            # empty input's result is definitionally empty, never a prior
            # checkpoint's state.  But a caller asking to RESUME over an
            # empty input most likely has an upstream filter gone empty:
            # refuse before the fresh run deletes the checkpoints that
            # resume was meant to continue.
            if resume and g.runner._manifest_iters("pagerank"):
                raise ValueError(
                    "pagerank(resume=True) got an empty edge table; the "
                    f"checkpoints under {g.runner.checkpoint_dir} are kept — "
                    "pass resume=False to start a fresh (empty) run over them"
                )
            out = verts.select("id", F.lit(0.0).alias("rank"))
            state, _ = g.runner.run(
                "pagerank", out, lambda s, _i: s, lambda *_: True, max_iter=0
            )
            return state, 0

        dangling_ids = None  # no dangling mass — skip the per-superstep agg
        if dangling == "redistribute" and g.senders < n:
            has_out = g.adj.select(F.col("src").alias("id"))
            dangling_ids = g.cached(verts.join(has_out, "id", "left_anti"))

        # State carries (id, rank, prev): prev is last iteration's rank, so
        # the convergence delta is a single aggregation over the
        # materialized state — no extra old⋈new join per superstep.
        state0 = verts.select(
            "id", F.lit(1.0 / n).alias("rank"), F.lit(1.0 / n).alias("prev")
        )

        def step(ranks: DataFrame, _i: int) -> DataFrame:
            r = ranks.select("id", "rank")
            sent = g.gather(r, (F.col("rank") / F.col("deg")).alias("contrib"))
            contribs = _salted_sum(sent, "dst", "contrib", salt_buckets).select(
                F.col("dst").alias("id"), F.col("contrib")
            )
            base = F.lit((1.0 - alpha) / n)
            carried = r.select("id", F.col("rank").alias("prev"))
            if dangling_ids is not None:
                dm = r.join(dangling_ids, "id", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
                )
                return (
                    carried.join(contribs, "id", "left")
                    .crossJoin(F.broadcast(dm))
                    .select(
                        "id",
                        (
                            base
                            + alpha
                            * (F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / n)
                        ).alias("rank"),
                        "prev",
                    )
                )
            return carried.join(contribs, "id", "left").select(
                "id",
                (base + alpha * F.coalesce("contrib", F.lit(0.0))).alias("rank"),
                "prev",
            )

        def converged(_old: DataFrame, new: DataFrame, _i: int) -> bool:
            delta = new.agg(
                F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d")
            ).collect()[0]["d"]
            g.runner.last_delta = delta  # L1 delta → iteration metrics
            return delta is not None and delta < tol

        state, iters = g.runner.run(
            "pagerank", state0, step, converged, max_iter=max_iter, resume=resume
        )
    return state.select("id", "rank"), iters
