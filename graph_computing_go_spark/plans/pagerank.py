"""PageRank by power iteration — north-rule algorithm (no reference
counterpart; public spec: Page et al. 1999, the standard damped formulation).

DataFrame formulation per superstep (SURVEY.md §2.10):

    contribs = links(src, dst, out_deg) ⋈ ranks(src)  →  Σ_dst rank/out_deg
    rank'    = (1-α)/N + α·(contribs + dangling_mass/N)

- ``dangling`` policy: "redistribute" (default — the mass of out-degree-0
  vertices is spread uniformly, ranks stay a probability distribution) or
  "drop" (mass evaporates; this variant is what the SQL oracle reproduces,
  and the two coincide on graphs with no dangling vertices).
- Convergence: L1 delta < tol, evaluated in the same action that caches the
  new state — exactly one job per superstep.
- Skew: the gather is ``groupBy(dst)`` — Spark's hash aggregate already does
  map-side partial aggregation (the mandated two-stage aggregation), and an
  explicit ``salt_buckets > 0`` adds a keyed pre-shuffle stage for the case
  where one dst dominates a whole executor's input (hub repos).  The
  ranks⋈links join is on src, where ranks are unique — and with the packed
  default a hot src is ceil(deg/chunk) bounded-size rows, so join-side
  fan-out skew is bounded by construction (AQE skew-join covers the flat
  layout).
- Layout: ``packed=True`` (default) caches the CSR-style packed adjacency
  (``packed_adjacency``) — measured 10–15% faster supersteps than the flat
  edge cache on the 60M-edge bench graph and a smaller, array-contiguous
  cache; ``packed=False`` keeps the flat layout (A/B: SPARK_GRAFT_PACKED=0
  in bench.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def vertices_of(edges: DataFrame) -> DataFrame:
    # both endpoints in one scan (union form reads the edge table twice)
    return edges.select(F.explode(F.array("src", "dst")).alias("id")).distinct()


def packed_adjacency(
    edges: DataFrame, n_part: int, chunk: int = 4096
) -> DataFrame:
    """CSR-style packed adjacency: (src, deg, dsts array<dst>) rows, arrays
    capped at ~``chunk`` entries (north rule: "CSR-style adjacency
    partitions", BASELINE.json:4).

    Per-superstep effect vs the flat edge cache: the ranks⋈links join probes
    |V|-grain rows instead of |E|-grain ones, and the edge fan-out happens
    in-place via ``explode`` inside the same stage — the gather shuffle is
    unchanged.  ``chunk`` bounds the array size so a 100M-out-degree hub
    becomes ceil(deg/chunk) rows instead of one giant cell (row-size OOM
    guard); multi-edges are preserved (collect_list keeps duplicates).
    ``deg`` is the src's TOTAL out-degree (not the chunk's length).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("deg") / F.lit(chunk))
    ).cast("int")
    packed = (
        edges.join(deg, "src")
        .withColumn("__chunk", F.pmod(F.xxhash64("dst"), n_chunks).cast("int"))
        .groupBy("src", "__chunk")
        .agg(F.collect_list("dst").alias("dsts"), F.first("deg").alias("deg"))
        .drop("__chunk")
    )
    # groupBy leaves hash(src, __chunk) partitioning — re-pin to hash(src) so
    # every superstep's join is exchange-free on this side (PERF.md §6).
    return packed.repartition(n_part, "src")


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    dangling: str = "redistribute",
    salt_buckets: int = 0,
    runner: SuperstepRunner | None = None,
    resume: bool = False,
    packed: bool = True,
) -> tuple[DataFrame, int]:
    """Returns ((id, rank) DataFrame, iterations_run).

    ``edges``: directed (src, dst); multi-edges are honored as multi-links
    (pass ``edges.distinct()`` for simple-graph semantics).
    ``packed=True`` swaps the flat edge cache for the CSR-style packed
    adjacency (see ``packed_adjacency``); results are identical.
    """
    spark = edges.sparkSession
    verts = vertices_of(edges).cache()
    n = verts.count()
    if n == 0:
        # an empty graph has an empty ranking, not a 1/0 initial rank
        # (connected_components converges on the same input; keep parity);
        # project off verts so the id column keeps the caller's type.
        # Route through the runner as a 0-superstep run (NOT an early
        # return): a caller-supplied runner still gets its begin-of-run
        # hygiene — metrics reset and deletion of a previous run's stale
        # ahead-checkpoints, which would otherwise stay silently resumable.
        # resume is deliberately not forwarded: an empty input's result is
        # definitionally empty, never a prior checkpoint's state.  But a
        # caller asking to RESUME over an empty input most likely has an
        # upstream filter gone empty: refuse before the fresh run deletes
        # the checkpoints that resume was meant to continue.
        runner = runner or SuperstepRunner(spark)
        if resume and runner._manifest_iters("pagerank"):
            verts.unpersist()
            raise ValueError(
                "pagerank(resume=True) got an empty edge table; the "
                f"checkpoints under {runner.checkpoint_dir} are kept — pass "
                "resume=False to start a fresh (empty) run over them"
            )
        out = verts.select("id", F.lit(0.0).alias("rank"))
        state, _ = runner.run(
            "pagerank", out, lambda s, _i: s, lambda *_: True, max_iter=0
        )
        verts.unpersist()
        return state, 0
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # pin the cache to hash(src): when AQE broadcasts out_deg the join output
    # keeps the scan's arbitrary partitioning, and every superstep's
    # ranks⋈links join would re-exchange the full edge table; an explicit
    # one-time repartition makes the per-superstep join co-located at any
    # scale (PERF.md §6)
    if packed:
        links = packed_adjacency(edges, n_part).withColumnRenamed(
            "deg", "out_deg"
        ).cache()
    else:
        links = edges.join(out_deg, "src").repartition(n_part, "src").cache()
    links.count()  # materialize once; reused every superstep

    dangling_ids = None
    if dangling == "redistribute":
        dangling_ids = verts.join(
            out_deg.select(F.col("src").alias("id")), "id", "left_anti"
        ).cache()
        if dangling_ids.count() == 0:
            dangling_ids = None  # no dangling mass — skip the per-superstep agg

    # State carries (id, rank, prev): prev is last iteration's rank, so the
    # convergence delta is a single aggregation over the materialized state —
    # no extra old⋈new join per superstep.
    state0 = verts.select(
        "id", F.lit(1.0 / n).alias("rank"), F.lit(1.0 / n).alias("prev")
    )

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        r = ranks.select("id", "rank")
        if packed:
            joined = (
                links.join(r.select(F.col("id").alias("src"), "rank"), "src")
                .select(
                    "src",
                    (F.col("rank") / F.col("out_deg")).alias("contrib"),
                    "dsts",
                )
                .select("src", "contrib", F.explode("dsts").alias("dst"))
                .select("dst", "contrib", "src")
            )
        else:
            joined = links.join(
                r.select(F.col("id").alias("src"), "rank"), "src"
            ).select(
                "dst", (F.col("rank") / F.col("out_deg")).alias("contrib"), "src"
            )
        contribs = _salted_sum(joined, "dst", "contrib", salt_buckets).select(
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

    runner = runner or SuperstepRunner(spark)

    def converged(_old: DataFrame, new: DataFrame, _i: int) -> bool:
        delta = new.agg(
            F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d")
        ).collect()[0]["d"]
        runner.last_delta = delta  # L1 delta → iteration metrics
        return delta is not None and delta < tol

    state, iters = runner.run(
        "pagerank", state0, step, converged, max_iter=max_iter, resume=resume
    )
    # the final state is localCheckpointed — retire the superstep caches so
    # long sessions (test suites, multi-algorithm pipelines) don't accrete
    # dead executor memory
    links.unpersist()
    verts.unpersist()
    if dangling_ids is not None:
        dangling_ids.unpersist()
    return state.select("id", "rank"), iters
