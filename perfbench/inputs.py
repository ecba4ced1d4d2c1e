"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its size arguments and ``seed``: the
same seed gives byte-equal inputs at any parallelism (hash arithmetic over
``spark.range``, or the package's own seeded repository synthesizer).  The
package under test only ever receives the DataFrames built here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# size presets per workload; "tiny" is the smoke-test scale
SIZES = {
    "full": {
        "codegraph": {"n_files": 1500, "ngd_core": 150},
        "linkgraph": {
            "n_edges": 60_000, "n_vertices": 6_000, "pr_iters": 3,
            "lpa_iters": 2, "ckpt_iters": 2, "n_years": 2, "n_subjects": 8,
        },
        "dedup": {
            "mega": 2_000, "uniques": 1_000, "cliques": 30, "clique_size": 20,
            "chains": 60, "chain_len": 10,
        },
    },
    "tiny": {
        "codegraph": {"n_files": 300, "ngd_core": 40},
        "linkgraph": {
            "n_edges": 4_000, "n_vertices": 600, "pr_iters": 3,
            "lpa_iters": 2, "ckpt_iters": 2, "n_years": 3, "n_subjects": 4,
        },
        "dedup": {
            "mega": 200, "uniques": 100, "cliques": 5, "clique_size": 6,
            "chains": 5, "chain_len": 6,
        },
    },
}

FIRST_YEAR = 2000
LADDER = (10, 20, 40, 60, 80, 100)


def _h(seed: int, *cols) -> F.Column:
    """Seeded 64-bit hash of the given columns/literals."""
    return F.xxhash64(*cols, F.lit(seed))


def link_graph(
    spark: SparkSession, n_edges: int, n_vertices: int, seed: int, hubs: int = 1000
) -> DataFrame:
    """Directed (src int, dst int) graph: 90% uniform endpoints, 10% of edges
    aimed at a ``hubs``-vertex hub set (heavy-hitter skew), self-loops
    removed — the shape of ``bench.synth_graph`` with the seed mixed in."""
    hubs = min(hubs, n_vertices)
    e = spark.range(n_edges)
    h1 = _h(seed, "id")
    h2 = _h(seed, "id", F.lit(1))
    return e.select(
        F.pmod(h1, F.lit(n_vertices)).cast("int").alias("src"),
        F.when(F.col("id") % 10 == 0, F.pmod(h2, F.lit(hubs)))
        .otherwise(F.pmod(h2, F.lit(n_vertices)))
        .cast("int")
        .alias("dst"),
    ).filter(F.col("src") != F.col("dst"))


def lifecycle_vertices(
    spark: SparkSession, n_vertices: int, n_years: int, n_subjects: int, seed: int
) -> DataFrame:
    """(id int, year int, subjects array<string>): years spread uniformly over
    ``n_years``; ~30% of vertices carry a second subject."""
    subj = F.concat(F.lit("s"), F.pmod(_h(seed, "id", F.lit(11)), F.lit(n_subjects)))
    subj2 = F.concat(F.lit("s"), F.pmod(_h(seed, "id", F.lit(13)), F.lit(n_subjects)))
    return spark.range(n_vertices).select(
        F.col("id").cast("int").alias("id"),
        (FIRST_YEAR + F.pmod(_h(seed, "id", F.lit(7)), F.lit(n_years)))
        .cast("int")
        .alias("year"),
        F.when(
            F.pmod(_h(seed, "id", F.lit(17)), F.lit(10)) < 3,
            F.array_distinct(F.array(subj, subj2)),
        )
        .otherwise(F.array(subj))
        .alias("subjects"),
    )


def _hash_words(prefix: str, key: F.Column, lo, hi, seed: int) -> F.Column:
    """Space-joined words ``prefix<hash(key, j)>`` for j in [lo, hi]."""
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(lo, hi),
            lambda j: F.concat(
                F.lit(prefix),
                F.pmod(_h(seed, key, j), F.lit(1_000_000_000)).cast("string"),
            ),
        ),
    )


def dedup_corpus(
    spark: SparkSession,
    mega: int,
    uniques: int,
    cliques: int,
    clique_size: int,
    chains: int,
    chain_len: int,
    seed: int,
) -> DataFrame:
    """(doc_id long, text string) with a known duplicate topology:

    - ``mega`` byte-identical docs (one cluster);
    - ``uniques`` docs of 10 hash words each (no near duplicates);
    - ``cliques`` groups of ``clique_size`` docs sharing 16 per-clique words
      plus one member word (every pair is a near duplicate);
    - ``chains`` of ``chain_len`` 12-word sliding windows over a per-chain
      word stream (adjacent docs share 11 words; the chain is one cluster
      only through transitivity).

    The expected survivor count is ``dedup_kept(...)``."""
    o_u = mega
    o_c = o_u + uniques
    o_h = o_c + cliques * clique_size
    end = o_h + chains * chain_len
    ids = spark.range(end)
    i = F.col("id")
    cl = ((i - o_c) / clique_size).cast("long")
    ch = ((i - o_h) / chain_len).cast("long")
    pos = ((i - o_h) % chain_len).cast("int")
    text = (
        F.when(i < o_u, F.lit("license boilerplate repeated verbatim in every file"))
        .when(i < o_c, _hash_words("u", i, F.lit(0), F.lit(9), seed))
        .when(
            i < o_h,
            F.concat(
                _hash_words("c", cl, F.lit(0), F.lit(15), seed),
                F.lit(" member "),
                i.cast("string"),
            ),
        )
        .otherwise(_hash_words("w", ch, pos, pos + 11, seed))
    )
    return ids.select(i.alias("doc_id"), text.alias("text"))


def dedup_kept(mega: int, uniques: int, cliques: int, chains: int, **_) -> int:
    """Closed-form survivor count of ``dedup_corpus``: one per mega-cluster,
    every unique, one per clique, one per chain."""
    return (1 if mega else 0) + uniques + cliques + chains


def dedup_distinct(
    mega: int, uniques: int, cliques: int, clique_size: int, chains: int,
    chain_len: int, **_,
) -> int:
    """Distinct texts of ``dedup_corpus``: the mega-cluster collapses to one."""
    return (1 if mega else 0) + uniques + cliques * clique_size + chains * chain_len
