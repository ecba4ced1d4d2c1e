"""Document deduplication family for training-data pipelines (task mandate).

Five methods, all shuffle-shaped for scale (shingle explode → hash-key
groupBy → bucket join), all deterministic, all expressible in portable SQL
so the DuckDB oracles can verify them value-for-value:

- exact: sha2(content) groupBy, keep min id (one shuffle at document grain);
- MinHash + LSH: word-k-shingles → per-seed min of md5(seed||shingle) →
  band signatures → bucket join for candidate pairs;
- SimHash: 32-bit signature from per-token md5 bits, majority vote per bit,
  plus segment-pigeonhole near-dup pairing (``simhash_near_dup``);
- n-gram Jaccard: distinct-shingle self-join → |∩| / |∪| per pair;
- embedding cosine near-dup lives in operators/similarity.py.

Scale notes: candidate generation never compares all pairs — MinHash bands
bound the join key cardinality, and the shingle self-join (Jaccard) is the
classic co-occurrence join with hub shingles ("the") removed by a document-
frequency cap before the join (df_cap), which is the salting-equivalent for
this workload.  The band/bucket self-joins (MinHash LSH, embedding LSH) run
through ``grid_self_pairs``: a mega-cluster of near-identical documents
(boilerplate, license files — common at 100 TB) would otherwise put all
k²/2 of its pairs in ONE band-key group; the bucket-pair grid spreads them
over ceil(k/chunk)·(ceil(k/chunk)+1)/2 independent tasks of ~(2·chunk)²
generated pairs each, exactly like the NGD hub grid (functions/ngd.py:81-115).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_computing_go_spark.operators.text import tokens_col
from graph_computing_go_spark.session import compute_once


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(hash, keep_id, n_dupes): one row per distinct content, keeping the
    smallest id (deterministic winner; cf. the reference's
    dedup-with-preference maps, wikiEntropy.go:163-184)."""
    return (
        df.select(
            F.sha2(F.col(text_col), 256).alias("hash"), F.col(id_col).alias("id")
        )
        .groupBy("hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dupes"))
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle): distinct word-k-shingles per document, computed
    row-locally with array expressions (transform over a position sequence +
    slice + concat_ws) — the corpus-sized token stream never shuffles; the
    only exchange left is the final distinct on (id, shingle).

    An earlier formulation posexploded tokens and ran lead() over a
    Window.partitionBy(id) — a full shuffle + sort of every token in the
    corpus, the single largest intermediate in the dedup family (shingles
    feeds MinHash/LSH, n-gram Jaccard, and dedup_clusters).  Output is
    identical (the DuckDB oracle keeps the equivalent lead() SQL, which
    doubles as the cross-formulation check)."""
    # materialize the token array as a concrete column BEFORE the shingle
    # transform: Catalyst does not common-subexpression-eliminate into
    # higher-order-function lambdas, so referencing the split expression
    # inside the per-position lambda would re-tokenize the document once per
    # shingle (O(tokens²) per doc — measured 30% slower on the dedup bench)
    return shingle_rows(df, id_col, text_col, k).distinct()


def _shingle_array(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, __sh_arr): the row-local k-gram array, position i (0-based) =
    the gram starting at token i.  The load-bearing subtleties live ONLY
    here: the token array is materialized in a child projection because
    Catalyst does not CSE into HOF lambdas (inlining re-tokenizes per
    gram, O(tokens²)/doc), and ``sequence(0, n)`` DESCENDS for n < 0 so
    short docs are guarded explicitly."""
    toked = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens_col(text_col), lambda w: F.lower(w)).alias("__toks"),
    )
    toks = F.col("__toks")
    n_sh = F.size(toks) - (k - 1)
    sh_arr = F.when(
        n_sh > 0,
        F.transform(
            F.sequence(F.lit(0), n_sh - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("id", sh_arr.alias("__sh_arr"))


def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """(id, shingle) WITH duplicates — ``shingles`` minus the distinct.
    For duplicate-insensitive consumers (per-seed MinHash minima) this
    removes the shingle-grain distinct exchange entirely: the explode is
    map-local and the next aggregation partial-aggregates to doc grain
    before its shuffle."""
    return _shingle_array(df, id_col, text_col, k).select(
        "id", F.explode("__sh_arr").alias("shingle")
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """(id, seed, minhash): per-seed min over md5(seed||':'||shingle).

    md5 of the seeded shingle is a uniform 128-bit value; the lexicographic
    min over hex strings is engine-portable.  One explode (n_hashes per
    shingle) + one groupBy — the reducer key (id, seed) is small.
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed")
    seeded = sh.select("id", "shingle", seeds)
    return seeded.groupBy("id", "seed").agg(
        F.min(
            F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("shingle")))
        ).alias("minhash")
    )


def lsh_bands(sig: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(id, band, band_key): concat the band's minhashes → md5 band key.

    Tall-form reference formulation over ``minhash_signatures`` output;
    the pipelines use the fused ``lsh_band_table`` (one aggregation, no
    seed dimension) — kept equal by test."""
    banded = sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    return banded.groupBy("id", "band").agg(
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("minhash")))).alias(
            "band_key"
        )
    )


def lsh_band_table(
    sh: DataFrame, n_hashes: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, band_key) in ONE grouped aggregation over the shingle
    table: the ``n_hashes`` per-seed minima are parallel ``min()`` columns
    (map-side partial aggregation reduces every partition to a single
    n_hashes-column row per doc — an n_hashes× smaller exchange than
    exploding a seed dimension, and no second collect_list groupBy for the
    bands), band keys are row-local md5s over the band's sorted min
    columns, and the only explode is the docs×n_bands band fan-out.
    Values identical to ``lsh_bands(minhash_signatures(sh))`` (pinned by
    test)."""
    if n_hashes % rows_per_band:
        raise ValueError("n_hashes must be a multiple of rows_per_band")
    mins = sh.groupBy("id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))
            ).alias(f"__mh{s}")
            for s in range(n_hashes)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.sort_array(
                            F.array(
                                *[
                                    F.col(f"__mh{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ]
                            )
                        ),
                    )
                ).alias("band_key"),
            )
            for b in range(n_hashes // rows_per_band)
        ]
    )
    return mins.select("id", F.explode(bands).alias("__b")).select(
        "id",
        F.col("__b.band").alias("band"),
        F.col("__b.band_key").alias("band_key"),
    )


def grid_self_pairs(
    df: DataFrame, key_cols: list[str], id_col: str, chunk: int = 1024
) -> DataFrame:
    """All unordered member pairs (id_a < id_b) within each ``key_cols``
    group, with NO group owning its whole k²/2 pair blowup in one task.

    The NGD bucket-pair grid (functions/ngd.py:81-115) generalized to any
    (group, member) table: a group with k members is hashed into
    m = ceil(k/chunk) buckets, every member replicated to the m bucket-pair
    subgroups it participates in, and the self-join keys on
    (key_cols, gi, gj) — so a mega-group spreads over m(m+1)/2 independent
    tasks of ~(2·chunk)² generated pairs each.  Exact: a pair survives only
    in the single subgroup equal to its own bucket pair (otherwise
    same-bucket pairs would surface m times).  Non-mega groups have m = 1
    and degenerate to the plain keyed join with no replication.

    Output columns: ``key_cols`` + every non-key column ``c`` twice as
    ``{c}_a`` / ``{c}_b``.
    """
    payload = [c for c in df.columns if c not in key_cols]
    # the group size comes from a window over the key, not a count
    # aggregate joined back: ``df`` then has ONE consumer, so its lineage
    # (e.g. the MinHash band table) runs once.  ``e`` feeds both join
    # sides, so it is computed once for the two of them.
    m = F.ceil(
        F.count("*").over(Window.partitionBy(*key_cols)) / F.lit(chunk)
    ).cast("int")
    e = compute_once(
        df.withColumn("__m", m).withColumn(
            "__bkt", F.pmod(F.xxhash64(id_col), F.col("__m")).cast("int")
        )
    )
    # explicit repartition on the join key: the join's INPUT is tiny relative
    # to its pair OUTPUT (~(2·chunk)× amplification), so AQE's input-size
    # coalescing would funnel many grid subgroups into a handful of tasks —
    # a user-specified repartition is never coalesced.  Both join sides are
    # projections ABOVE this one exchange, so it runs once (AQE reuses it)
    # and the join keeps its partitioning (no further exchange).
    jk = [*key_cols, "__gi", "__gj"]
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    grid = (
        e.withColumn("__x", F.explode(F.sequence(F.lit(0), F.col("__m") - 1)))
        .select(
            *key_cols,
            F.least("__bkt", "__x").alias("__gi"),
            F.greatest("__bkt", "__x").alias("__gj"),
            "__bkt",
            *payload,
        )
        .repartition(n_parts, *jk)
    )
    l = grid.select(
        *jk, F.col("__bkt").alias("__ba"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    )
    r = grid.select(
        *jk, F.col("__bkt").alias("__bb"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    return (
        l.join(r, jk)
        .filter(
            (F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
            & (F.col("__gi") == F.least("__ba", "__bb"))
            & (F.col("__gj") == F.greatest("__ba", "__bb"))
        )
        .drop("__gi", "__gj", "__ba", "__bb")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    chunk: int = 1024,
) -> DataFrame:
    """(a, b, n_bands): candidate near-dup pairs sharing >=1 LSH band.

    ``chunk`` bounds the per-task pair generation when one band key holds a
    mega-cluster of duplicates (see ``grid_self_pairs``).

    Uses the DUPLICATED shingle rows (``shingle_rows``): per-seed minima
    are duplicate-insensitive, so skipping the distinct removes the only
    shingle-grain exchange — the band table's groupBy(id) partial-
    aggregates each map task to doc grain before its shuffle.
    (``dedup_clusters`` keeps the distinct table: its exact-Jaccard
    verifier needs it, and one computed-once table serves both stages
    there.)
    """
    sh = shingle_rows(df, id_col, text_col, k)
    bands = lsh_band_table(sh, n_hashes, rows_per_band)
    pairs = grid_self_pairs(bands, ["band", "band_key"], "id", chunk)
    return (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_bands"))
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    rows_per_band: int = 4,
    min_jaccard: float = 0.8,
    chunk: int = 1024,
    max_iter: int = 50,
    collapse_exact: bool = True,
) -> DataFrame:
    """End-to-end near-duplicate clustering — the standard training-data
    dedup pipeline at 100 TB: exact-duplicate pre-collapse (sha2) →
    MinHash/LSH candidate pairs → exact shingle-Jaccard verification
    restricted to the candidates → min-label connected components over the
    verified pairs → canonical survivor per cluster.

    Returns (id, canonical_id, cluster_size, is_canonical) with ONE row per
    input document (singletons map to themselves, cluster_size 1).

    Scale shape: ``collapse_exact`` (default) runs the near-dup stages on
    ONE representative per distinct content — at 100 TB a boilerplate
    mega-cluster is mostly byte-identical, so this removes its O(k²)
    candidate/verified-pair blowup at the root (each representative is the
    min id of its exact group, so the final canonical is still the global
    min id of the merged cluster); `grid_self_pairs` bounds whatever
    near-identical-but-not-equal variants remain.  Verification joins the
    candidate pairs back to the shingle table twice (never the all-pairs
    shingle self-join — the intermediate is |candidates| × avg-shingles
    rows); transitive closure is the iterative min-label CC engine, so a
    dup "chain" (A≈B≈C but A≉C) lands in one cluster exactly like a clique
    does, with the canonical = min id of the whole component —
    deterministic under any partitioning.
    """
    from graph_computing_go_spark.plans.components import connected_components

    if collapse_exact:
        # text never enters the collapse machinery: the only shuffled /
        # cached artifact is the (sha2, rep_id) map, and representatives
        # keep their full row via a semi-join (the semi-join's shuffle of
        # df by id is one the shingle window needs anyway).  NULL text maps
        # to "" (sha2 of any non-null text is 64 hex chars, so no collision):
        # null-text docs form one exact group instead of vanishing from the
        # null-unsafe __h equi-join below.  keys and rep_ids are computed
        # ONCE for the whole call — two narrow columns each; otherwise the
        # rep_of join after connected components would re-scan + re-hash
        # the full corpus text.
        keys = compute_once(
            df.select(
                F.col(id_col).alias("__orig_id"),
                F.coalesce(F.sha2(F.col(text_col), 256), F.lit("")).alias("__h"),
            )
        )
        rep_ids = compute_once(
            keys.groupBy("__h").agg(F.min("__orig_id").alias("__rep"))
        )
        work = df.join(
            rep_ids.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
        )
    else:
        work = df

    # the shingle table feeds the band table, both verification joins and
    # both size lookups
    sh = compute_once(shingles(work, id_col, text_col, k))
    bands = lsh_band_table(sh, n_hashes, rows_per_band)
    cand = (
        grid_self_pairs(bands, ["band", "band_key"], "id", chunk)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .distinct()
    )
    # exact Jaccard, candidates only: pairs ⋈ a-shingles ⋈ b-shingles
    inter = (
        cand.join(sh.select(F.col("id").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    verified = (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("n").alias("n_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("n_b")), "b")
        .filter(
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            >= min_jaccard
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    # truncate the LSH lineage before the iterative engine: every CC
    # superstep re-ANALYZES its edge plan even though execution reads the
    # edge cache, and the full shingle→band→grid→verify tree makes that
    # Catalyst pass the dominant cost of the whole pipeline (measured 3×:
    # ~31-49 s → ~8-10 s on the 22k-doc bench case).
    verified = verified.localCheckpoint()
    # jump=True: a duplicate CHAIN (A≈B≈C≈… with no short cuts) has
    # diameter = chain length, so plain min-label relaxation would need one
    # superstep per link; pointer jumping converges in O(log chain) rounds.
    comps, _ = connected_components(verified, max_iter=max_iter, jump=True)
    if collapse_exact:
        # original id → its exact-group representative → the rep's component
        rep_of = keys.join(rep_ids, "__h").select(
            F.col("__orig_id").alias("id"), "__rep"
        )
        mapping = (
            rep_of.join(comps.withColumnRenamed("id", "__rep"), "__rep", "left")
            .select(
                "id", F.coalesce("component", F.col("__rep")).alias("canonical_id")
            )
        )
    else:
        mapping = (
            df.select(F.col(id_col).alias("id"))
            .join(comps, "id", "left")
            .select(
                "id", F.coalesce("component", F.col("id")).alias("canonical_id")
            )
        )
    csize = mapping.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    return mapping.join(csize, "canonical_id").select(
        "id",
        "canonical_id",
        "cluster_size",
        (F.col("id") == F.col("canonical_id")).alias("is_canonical"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_jaccard: float = 0.0,
    df_cap: int | None = None,
) -> DataFrame:
    """(a, b, inter, n_a, n_b, jaccard) for pairs sharing >=1 shingle.

    ``df_cap`` drops shingles appearing in more than that many documents
    before the self-join (hub-shingle mitigation; the quadratic blowup of a
    stopword shingle is the same hub problem as NGD's hub in-neighbors,
    SURVEY.md §4 skew row).  Independently of the cap, the self-join runs
    through the bucket-pair grid so even a surviving hub shingle (or a
    df_cap=None run) never owns its k²/2 pairs in one task.
    """
    sh = shingles(df, id_col, text_col, k)
    if df_cap is not None:
        rare = sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(
            F.col("df") <= df_cap
        )
        sh = sh.join(rare.select("shingle"), "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        grid_self_pairs(sh, ["shingle"], "id")
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("n").alias("n_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("n_b")), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(id, simhash): per-token md5 → first bits/4 hex chars → bit majority.

    Bit j of a token hash is extracted arithmetically from the hex nibble
    (strpos on '0123456789abcdef'), so DuckDB reproduces it exactly.  The
    explode is (tokens × bits) rows — bounded, and aggregated immediately.
    """
    # ROW-LOCAL: the bit index is a compile-time loop, so the per-doc vote
    # vector is ONE aggregate over the token-hash array (zip_with adds each
    # token's 32 votes) and the signature folds the vote signs against a
    # literal power array — zero explode, zero shuffle, where the previous
    # shape shuffled docs×bits vote rows twice (PERF.md §11's language-ID
    # argument, applied to the other per-token text operator).  The hash
    # array is materialized in a child projection (no CSE into HOF
    # lambdas); NULL text emits NO row, matching the old explode and the
    # DuckDB oracle's unnest.
    hashes = F.transform(tokens_col(text_col), lambda t: F.md5(F.lower(t)))
    base = df.select(F.col(id_col).alias("id"), hashes.alias("__h")).filter(
        F.col("__h").isNotNull()
    )

    def bit_vote(h, j):
        nib = (
            F.instr(F.lit("0123456789abcdef"), F.substring(h, j // 4 + 1, 1))
            - 1
        )
        bit = (
            F.floor(nib / F.lit(float(2 ** (3 - j % 4)))).cast("long") % 2
        )
        return (bit * 2 - 1).cast("long")

    votes = F.aggregate(
        F.col("__h"),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[bit_vote(h, j) for j in range(bits)]),
            lambda a, b: a + b,
        ),
    )
    pow_arr = F.array(*[F.lit(2**j).cast("long") for j in range(bits)])
    sim = F.aggregate(
        F.zip_with(
            votes,
            pow_arr,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return base.select("id", sim.alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n_segments: int = 4,
    max_hamming: int = 3,
    chunk: int = 1024,
) -> DataFrame:
    """(a, b, hamming, keep_id): SimHash near-duplicate pairs within
    ``max_hamming`` bit flips — the pair-generation stage the other dedup
    members already have (signature alone is not a dedup decision).

    Candidate generation is the classic segment pigeonhole: split the
    ``bits``-bit signature into ``n_segments`` equal segments; any pair with
    hamming distance < n_segments must agree exactly on at least one segment
    (max_hamming must be < n_segments for zero recall loss), so keying the
    self-join on (segment index, segment value) finds every qualifying pair
    without an all-pairs compare.  At 100 TB an empty-ish segment value (all
    zeros — short/boilerplate docs) is a mega-bucket, so the self-join runs
    through ``grid_self_pairs`` like every other band/bucket join here.
    Verification is exact: bit_count(xor(sig_a, sig_b)) <= max_hamming,
    deduped across segments (a close pair agrees on several).
    """
    if bits % n_segments:
        raise ValueError("bits must be divisible by n_segments")
    if max_hamming >= n_segments:
        raise ValueError(
            "max_hamming >= n_segments loses recall: a pair can spread its "
            "flips so no segment matches"
        )
    seg_bits = bits // n_segments
    sig = simhash(df, id_col, text_col, bits)
    # segment value extracted arithmetically (floor-div + mod, exact in
    # double up to 2^53) so the DuckDB oracle reproduces it verbatim
    segs = sig.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_segments - 1))).alias("seg"),
    ).withColumn(
        "seg_key",
        F.floor(
            F.col("simhash") / F.pow(F.lit(2.0), F.col("seg") * seg_bits)
        ).cast("long")
        % F.lit(2**seg_bits),
    )
    pairs = grid_self_pairs(
        segs.select("seg", "seg_key", "id", "simhash"),
        ["seg", "seg_key"],
        "id",
        chunk,
    )
    scored = (
        pairs.select(
            F.col("id_a").alias("a"),
            F.col("id_b").alias("b"),
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        # a pair surfaces once per agreeing segment with the SAME hamming
        # (it's a function of the full signatures), so filter BEFORE the
        # dedup groupBy — far pairs never enter the shuffle — and min()
        # just collapses the surviving duplicates
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("a", "b")
        .agg(F.min("hamming").alias("hamming"))
    )
    return scored.select("a", "b", "hamming", F.least("a", "b").alias("keep_id"))


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 1024,
) -> DataFrame:
    """(a, b, cosine, keep_id): embedding-cosine near-duplicate pairs above
    ``threshold``, candidate-generated by LSH buckets (never all-pairs), with
    the canonical survivor = min id — the embedding-space member of the
    dedup family (exact/minhash/simhash cover the lexical space).

    The within-bucket self-join runs through ``grid_self_pairs`` so a
    mega-cluster bucket (one boilerplate embedding repeated k times) spreads
    its k²/2 pairs over ceil(k/chunk)² grid tasks instead of one.
    """
    from graph_computing_go_spark.operators.similarity import (
        hyperplane_signature,
        with_norm,
        _dot,
    )

    sig = hyperplane_signature(df, n_planes, id_col, vec_col)
    vecs = with_norm(df, vec_col).join(
        sig.withColumnRenamed("id", id_col).select(id_col, "bucket"), id_col
    )
    members = vecs.select(
        "bucket", F.col(id_col).alias("id"), "_v", "_norm"
    )
    pairs = grid_self_pairs(members, ["bucket"], "id", chunk)
    scored = pairs.select(
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.round(
            _dot(F.col("_v_a"), F.col("_v_b")) / (F.col("_norm_a") * F.col("_norm_b")),
            6,
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        "a", "b", "cosine", F.least("a", "b").alias("keep_id")
    )


def _eval_gram_set(
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    broadcast_eval: bool | None,
):
    """DISTINCT eval k-grams, broadcast-hinted only on request.

    ``broadcast_eval``: True forces the broadcast fast-path (the caller
    asserts the gram set fits the driver — typical benchmark suites);
    False/None leave the strategy to AQE, which broadcast-converts the
    gram side at runtime when its MEASURED size is under the threshold and
    shuffle-joins otherwise — no eager doc count (an up-front count both
    launched a Spark job at plan-construction time, against the
    eager_results() convention, and was a poor size proxy: 50k eval docs
    can mean 50M distinct grams, multiple GB hashed).  The shuffle path
    exchanges the corpus shingle rows on the gram key — the unavoidable
    cost of a 100M-gram eval corpus; hot boilerplate grams skew that
    exchange, which AQE's skew-join handles (the eval side is DISTINCT,
    so only the corpus side fans out)."""
    grams = shingles(eval_df, id_col, text_col, k).select("shingle").distinct()
    return F.broadcast(grams) if broadcast_eval else grams


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_eval: bool | None = None,
) -> DataFrame:
    """(id, n_hits, contaminated): benchmark decontamination — flag corpus
    documents sharing any word-``k``-gram with an evaluation set.

    The standard pre-training hygiene step: training on text that overlaps
    the eval suite inflates benchmark scores, so contaminated documents are
    dropped (or their spans masked) before training.  k=8 words is the
    common operating point (large enough that sharing a k-gram is
    de-facto copying, small enough to catch partial quotes).

    Scale shape: eval suites are usually small (thousands of documents), so
    the DISTINCT eval k-gram set broadcast-joins against the corpus's raw
    shingle rows (``shingle_rows`` — duplicate-insensitive consumer, no
    distinct exchange on the corpus side); one doc-grain aggregation
    counts hits.  Every corpus document comes back exactly once
    (contaminated = n_hits > 0), ledger-style.  ``broadcast_eval=True``
    forces the broadcast fast-path; the default leaves the strategy to
    AQE's measured runtime size — a 100M-gram eval corpus exceeds any
    broadcast budget and takes the shuffle semi-join (see
    ``_eval_gram_set``).
    """
    eval_grams = _eval_gram_set(eval_df, id_col, text_col, k, broadcast_eval)
    hits = (
        shingle_rows(corpus, id_col, text_col, k)
        .join(eval_grams, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contaminated_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_eval: bool | None = None,
) -> DataFrame:
    """(id, start_token, end_token): merged token spans of every corpus
    k-gram that appears in the evaluation set — the masking-grade variant
    of ``decontaminate`` (drop-grade).  A doc quoting one eval sentence
    loses that span, not its other 50k tokens.

    Overlapping/adjacent k-gram hits merge into maximal spans row-locally:
    hit start positions are collected per doc (sorted array), then one
    ``aggregate`` pass folds starts into (start, end) intervals — two hits
    merge when the next k-gram starts before the current span ends.
    ``end_token`` is exclusive.  Only the per-doc hit-position list is
    aggregated (bounded by hits, not tokens)."""
    # positional shingle rows: shingle_rows' shared builder, posexploded so
    # each gram carries its 0-based start position
    pos_rows = _shingle_array(corpus, id_col, text_col, k).select(
        "id", F.posexplode("__sh_arr").alias("pos", "shingle")
    )
    eval_grams = _eval_gram_set(eval_df, id_col, text_col, k, broadcast_eval)
    hit_starts = (
        pos_rows.join(eval_grams, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__starts"))
    )
    # fold sorted starts into merged [start, end) intervals: extend the
    # open interval while the next hit starts inside it, else close it
    spans = F.aggregate(
        F.col("__starts"),
        F.array().cast("array<struct<s:int,e:int>>"),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1)["e"] >= p),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (p + k).cast("int").alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(p.cast("int").alias("s"), (p + k).cast("int").alias("e")))
            )
        ),
    )
    return hit_starts.select("id", F.explode(spans).alias("__sp")).select(
        "id",
        F.col("__sp.s").alias("start_token"),
        F.col("__sp.e").alias("end_token"),
    )
