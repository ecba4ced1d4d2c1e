"""Training-data toolkit tests: dedup / similarity / text / multimodal /
streaming — hand-checkable fixtures + cross-path equivalence checks.

(The value-level Spark-vs-DuckDB parity of these operators is separately
enforced by the driver oracle gate; these tests pin the SEMANTICS on tiny
inputs where the expected values are computed by hand or numpy.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from graph_computing_go_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from graph_computing_go_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
)
from graph_computing_go_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_arrow,
    lsh_ann_topk,
)
from graph_computing_go_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different words entirely unrelated text here"),
        (5, "le chat est sur la table et le chien est pour"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert got == {1: 9, 2: 9, 3: 9, 4: 7, 5: 11}


def test_exact_dedup(spark, docs):
    rows = exact_dedup(docs).collect()
    by_keep = {r["keep_id"]: r["n_dupes"] for r in rows}
    assert by_keep == {1: 2, 2: 1, 4: 1, 5: 1}  # doc 3 collapses into 1


def test_shingles_and_jaccard(spark, docs):
    sh = shingles(docs, k=3)
    n = {r["id"]: 0 for r in sh.select("id").distinct().collect()}
    for r in sh.collect():
        n[r["id"]] += 1
    assert n[1] == 7  # 9 tokens -> 7 3-shingles, all distinct
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, k=3).collect()
    }
    assert pairs[(1, 3)] == 1.0  # identical docs
    # docs 1 and 2 share 6 of 7 shingles -> J = 6/8
    assert math.isclose(pairs[(1, 2)], 6 / 8, abs_tol=1e-6)
    assert (1, 4) not in pairs  # nothing shared


def test_minhash_lsh_finds_dups(spark, docs):
    cands = {
        (r["a"], r["b"]): r["n_bands"]
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert cands[(1, 3)] == 4  # identical docs share all 4 bands
    assert (1, 4) not in cands
    # near-dup 1-2 shares at least... (probabilistic but deterministic given
    # md5 — just assert presence keys are a subset of high-jaccard pairs)
    for (a, b) in cands:
        assert (a, b) in {(1, 2), (1, 3), (2, 3)}


def test_dedup_clusters_end_to_end(spark):
    """LSH candidates → exact-Jaccard verify → CC → canonical pick, one row
    per input doc; transitivity via the component, singletons map to self."""
    rows = [
        (11, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (12, "alpha beta gamma delta epsilon zeta eta theta iota"),  # exact
        (13, "alpha beta gamma delta epsilon zeta eta theta kappa"),  # near
        (20, "one two three four five six seven eight nine ten"),
        (21, "one two three four five six seven eight nine ten"),  # exact
        (30, "completely different words entirely unrelated text here"),
        (31, "le chat est sur la table et le chien est pour"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: (r["canonical_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(df, min_jaccard=0.5, rows_per_band=2).collect()
    }
    assert got == {
        11: (11, 3, True),
        12: (11, 3, False),
        13: (11, 3, False),
        20: (20, 2, True),
        21: (20, 2, False),
        30: (30, 1, True),
        31: (31, 1, True),
    }
    # the exact pre-collapse (default) must not change the clustering —
    # only the work done to find it
    no_collapse = {
        r["id"]: (r["canonical_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup_clusters(
            df, min_jaccard=0.5, rows_per_band=2, collapse_exact=False
        ).collect()
    }
    assert no_collapse == got
    # all-distinct input: zero verified pairs, CC converges on the empty
    # graph immediately, every doc is its own canonical
    solo = df.filter("doc_id in (30, 31)")
    assert {
        r["id"]: r["canonical_id"] for r in dedup_clusters(solo).collect()
    } == {30: 30, 31: 31}


def test_grid_self_pairs_exact_vs_plain(spark):
    """The bucket-pair grid (chunk small enough to force m>1 on the dup
    cluster) must emit exactly the same candidate pairs as the plain keyed
    self-join — no duplicates from same-bucket pairs, no dropped pairs."""
    from graph_computing_go_spark.operators.dedup import embedding_near_dup

    # 12 copies of one doc (a mega-cluster in every band) + 3 distinct docs
    rows = [(i, "license boilerplate repeated verbatim in every file") for i in range(12)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "the quick brown fox jumps over the lazy cat"),
        (102, "completely different words entirely unrelated text here"),
    ]
    dup_docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = sorted(
        map(tuple, minhash_lsh_candidates(dup_docs, chunk=1_000_000).collect())
    )
    grid = sorted(map(tuple, minhash_lsh_candidates(dup_docs, chunk=3).collect()))
    assert plain == grid
    assert len(grid) >= 12 * 11 // 2  # the cluster's pairs all survive

    # embedding flavour: 10 identical vectors land in one LSH bucket
    vrows = [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(10)]
    vrows += [(50, [-1.0, 2.0, 0.5, -0.75]), (51, [0.1, -0.2, 0.3, -0.4])]
    vecs = spark.createDataFrame(vrows, "vec_id long, embedding array<float>")
    vplain = sorted(
        map(tuple, embedding_near_dup(vecs, threshold=0.0, chunk=1_000_000).collect())
    )
    vgrid = sorted(map(tuple, embedding_near_dup(vecs, threshold=0.0, chunk=3).collect()))
    assert vplain == vgrid
    assert len(vgrid) >= 10 * 9 // 2


def test_simhash_similarity_order(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[1] == sigs[3]  # identical docs -> identical signature

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[4])


def test_simhash_near_dup_matches_brute_force(spark, docs):
    from graph_computing_go_spark.operators.dedup import simhash_near_dup

    max_h = 3
    got = {
        (r["a"], r["b"]): (r["hamming"], r["keep_id"])
        for r in simhash_near_dup(docs, max_hamming=max_h).collect()
    }
    # brute-force oracle over the signatures: the segment pigeonhole
    # (max_hamming < n_segments) must lose NO pair
    sigs = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= max_h:
                want[(a, b)] = (h, a)
    assert got == want
    assert (1, 3) in got and got[(1, 3)] == (0, 1)  # exact dup pair
    with pytest.raises(ValueError):
        simhash_near_dup(docs, n_segments=4, max_hamming=4)


def test_language_id(spark, docs):
    got = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert got[1] == "en" and got[4] == "und" and got[5] == "fr"


def test_quality_score_bounds(spark, docs):
    for r in quality_score(docs).collect():
        assert 0.0 <= r["score"] <= 1.0
        assert r["alpha_ratio"] <= 1.0


def test_fingerprint_deterministic_and_normalizing(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "hello worlds")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df).collect()}
    assert fps[1] == fps[2]  # case + whitespace normalization
    assert fps[2] != fps[3]


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(40, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_matches_numpy(spark, emb):
    import numpy as np

    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norm = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norm, norm)
    queries = emb.filter("vec_id < 3")
    got = cosine_topk(emb, queries, k=4).collect()
    for r in got:
        assert math.isclose(
            r["cosine"], sims[r["q_id"], r["c_id"]], abs_tol=1e-5
        )
    for q in range(3):
        ids = [r["c_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["q_id"] == q]
        order = np.argsort(-sims[q])
        expect = [int(i) for i in order if i != q][:4]
        assert ids == expect


def test_cosine_topk_arrow_equals_dataframe(spark, emb):
    queries = emb.filter("vec_id < 3")
    a = sorted(map(tuple, cosine_topk(emb, queries, k=4).collect()))
    b = sorted(map(tuple, cosine_topk_arrow(emb, queries, k=4).collect()))
    assert a == b


def test_lsh_ann_subset_of_exact_pairs(spark, emb):
    queries = emb.filter("vec_id < 3")
    ann = lsh_ann_topk(emb, queries, k=4, n_planes=4).collect()
    # every ANN result's cosine must equal the exact cosine for that pair
    exact = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in cosine_topk(emb, queries, k=1000).collect()
    }
    assert len(ann) > 0
    for r in ann:
        assert math.isclose(exact[(r["q_id"], r["c_id"])], r["cosine"], abs_tol=1e-9)


def test_ann_kernels_string_ids_roundtrip(spark, emb):
    """hyperplane_signature / ivf_assign / lsh_ann_topk must accept
    non-integer ids (VERDICT r3 wrong #1): the id column passes through the
    Arrow kernels untouched and the output schema derives from the input
    field.  Results must be the rename-image of the integer-id run."""
    from graph_computing_go_spark.operators.similarity import (
        hyperplane_signature,
        ivf_assign,
    )

    s_emb = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    sig_int = {
        r["id"]: r["bucket"] for r in hyperplane_signature(emb, 4).collect()
    }
    sig_str = {
        r["id"]: r["bucket"] for r in hyperplane_signature(s_emb, 4).collect()
    }
    assert sig_str == {f"doc-{k}": v for k, v in sig_int.items()}

    ivf_int = {
        (r["id"], r["centroid"]): r["dot"]
        for r in ivf_assign(emb, n_centroids=4).collect()
    }
    ivf_str = {
        (r["id"], r["centroid"]): r["dot"]
        for r in ivf_assign(s_emb, n_centroids=4).collect()
    }
    assert ivf_str == {(f"doc-{k}", c): v for (k, c), v in ivf_int.items()}

    queries = s_emb.filter(F.col("vec_id").isin("doc-0", "doc-1", "doc-2"))
    ann = lsh_ann_topk(s_emb, queries, k=4, n_planes=4).collect()
    assert len(ann) > 0
    assert all(r["q_id"].startswith("doc-") for r in ann)


def test_multimodal_features(spark, docs):
    media = synthesize_media(docs, "doc_id", "text")
    rows = media.collect()
    assert all(r["meta"]["sha256"] is not None for r in rows)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert set(feats) == {1, 2, 3, 4, 5}
    for r in feats.values():
        assert math.isclose(sum(r["feature"]), 1.0, abs_tol=1e-9)
        assert r["modality"] in ("image", "audio", "video")
    # deterministic: payload of doc 1 == payload of doc 3 (same text)
    assert feats[1]["mean_byte"] == feats[3]["mean_byte"]

    import pyspark.errors

    with pytest.raises(pyspark.errors.PySparkException):
        extract_features(media, decode_stub="error").collect()


def test_multimodal_nondivisor_bins_clip_contract(spark):
    """When 256 % n_bins != 0 the feature vector is EXACTLY n_bins long and
    the last (wider) bin absorbs the remainder — pins the clipped-last-bin
    contract (ADVICE r3: the old per-row bincount emitted an n_bins+1-th
    bin; the vectorized kernel must not silently change shape again)."""
    import numpy as np

    df = spark.createDataFrame(
        [(1, bytes(range(256)))], "media_id long, payload binary"
    ).withColumn(
        "meta",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("application/x-fake-image").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.sha2(F.col("payload"), 256).alias("sha256"),
        ),
    )
    n_bins = 6  # 256 // 6 == 42; bins 0..5, last bin covers 210..255
    row = extract_features(df, n_bins=n_bins).collect()[0]
    feat = np.array(row["feature"])
    assert len(feat) == n_bins
    # bytes 0..255 uniform: bins 0..4 get 42 bytes each, bin 5 gets 46
    expected = np.array([42, 42, 42, 42, 42, 46]) / 256.0
    assert np.allclose(feat, expected, atol=1e-12)
    assert math.isclose(feat.sum(), 1.0, abs_tol=1e-12)


def test_lsh_band_table_equals_tall_form(spark, docs):
    """The fused one-aggregation band table is value-identical to the
    tall-form lsh_bands(minhash_signatures(...)) reference formulation."""
    from graph_computing_go_spark.operators.dedup import (
        lsh_band_table,
        lsh_bands,
        minhash_signatures,
    )

    sh = shingles(docs)
    tall = sorted(
        map(tuple, lsh_bands(minhash_signatures(sh, 16), 4).collect())
    )
    fused = sorted(map(tuple, lsh_band_table(sh, 16, 4).collect()))
    assert tall == fused and len(fused) > 0


def test_resize_media(spark, docs):
    from graph_computing_go_spark.operators.multimodal import resize_media

    media = synthesize_media(docs, "doc_id", "text").unionByName(
        # NULL payload row: must come back as width*height zero bytes
        spark.createDataFrame(
            [(99, None, ("image", "application/x-fake-image", None, None, None, None))],
            schema=synthesize_media(docs, "doc_id", "text").schema,
        )
    )
    out = {r["media_id"]: r for r in resize_media(media, 4, 3).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 99}
    for r in out.values():
        assert len(r["payload"]) == 12
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 3
        assert r["meta"]["sha256"] is not None
    # nearest-neighbor on a known byte string: byte j of output reads input
    # byte floor(j * L / 12)
    src = "the quick brown fox jumps over the lazy dog".encode()
    expect = bytes(src[(j * len(src)) // 12] for j in range(12))
    assert bytes(out[1]["payload"]) == expect
    assert bytes(out[99]["payload"]) == b"\x00" * 12
    # deterministic: docs 1 and 3 share text, so identical resized payloads
    assert out[1]["meta"]["sha256"] == out[3]["meta"]["sha256"]


def test_sample_frames(spark, docs):
    from graph_computing_go_spark.operators.multimodal import sample_frames

    media = synthesize_media(docs, "doc_id", "text")
    rows = sample_frames(media, 4).collect()
    # row-exploding kernel: every input row yields exactly n_frames rows
    assert len(rows) == 5 * 4
    by_media = {}
    for r in sorted(rows, key=lambda r: (r["media_id"], r["frame_idx"])):
        by_media.setdefault(r["media_id"], []).append(r)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, frames in by_media.items():
        assert [f["frame_idx"] for f in frames] == [0, 1, 2, 3]
        # frames partition the payload exactly (contiguous slices)
        assert b"".join(bytes(f["frame"]) for f in frames) == payloads[mid]
        # NULL duration_ms in the synthetic meta → NULL ts
        assert all(f["ts_ms"] is None for f in frames)


def test_streaming_matches_batch(spark, tmp_path):
    from graph_computing_go_spark.streaming import (
        hourly_event_stats_stream,
        run_stream_once,
    )

    src = str(tmp_path / "events_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    stream_df = hourly_event_stats_stream(spark, src)
    got = run_stream_once(stream_df, str(tmp_path / "ck"), "t_stream")
    import pyspark.sql.functions as F

    batch = (
        spark.read.parquet(src)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    # append mode only emits windows the watermark has closed: windows with
    # end <= max_ts - 1h; later windows stay in state when the feed drains.
    max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    g = sorted(map(tuple, got.collect()))
    b = sorted(t for t in map(tuple, batch.collect()) if t[0] <= cutoff)
    gc = [t for t in g if t[0] <= cutoff]
    assert gc == b and len(b) > 100


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """Native session_window sessionization == window-function batch twin
    on every session the watermark has closed: in a one-shot run the
    watermark ends at max_ts - 1h, and a session leaves state once its
    end + gap (30m) is behind it."""
    import datetime

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from graph_computing_go_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream_watermarked,
    )

    src = str(tmp_path / "ev")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    events = spark.read.parquet(src)
    # session_window is end-exclusive at the gap and the batch twin is not
    # (sessions.py boundary contract): the two paths agree only on a fixture
    # with no exact-gap pair
    t = events.select("user_id", F.col("ts").cast("timestamp").cast("double").alias("t"))
    gaps = t.select(
        (F.col("t") - F.lag("t").over(Window.partitionBy("user_id").orderBy("t"))).alias("g")
    )
    assert gaps.filter(F.col("g") == 30 * 60).count() == 0

    stream_df = sessionize_stream_watermarked(spark, src, gap_minutes=30)
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def keyed(df):
        return {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"],
                round(r["sum_value"], 6),
            )
            for r in df.collect()
        }

    got = keyed(spark.table("t_sessions"))
    batch = keyed(sessionize_batch(events, gap_minutes=30))
    max_ts = events.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    cutoff = max_ts - datetime.timedelta(hours=1, minutes=30)
    want = {k: v for k, v in batch.items() if k[2] <= cutoff}
    assert (len(want), len(batch)) == (944, 946)
    assert got == want


def test_trained_ivf_centroids(spark):
    """Lloyd-trained centroids: (a) the k-means objective (inertia) is
    non-increasing across training runs of growing iteration count, and
    (b) on well-separated clustered data the trained IVF index achieves
    full recall of the exact top-k while probing 1 centroid."""
    import numpy as np

    from graph_computing_go_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(7)
    centers = np.array(
        [[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0], [0, 0, 0, 10.0]]
    )
    pts = np.concatenate(
        [c + rng.normal(scale=0.3, size=(20, 4)) for c in centers]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<float>",
    ).cache()

    def spherical_obj(C):
        cos = (pts @ C.T) / np.linalg.norm(pts, axis=1, keepdims=True)
        return float(cos.max(axis=1).sum())

    c1 = train_ivf_centroids(emb, n_centroids=4, n_iters=1)
    c5 = train_ivf_centroids(emb, n_centroids=4, n_iters=5)
    assert spherical_obj(c5) >= spherical_obj(c1) - 1e-9
    # training must place the index's centroids strictly better than the
    # untrained LCG stand-in on clustered data
    from graph_computing_go_spark.operators.similarity import _lcg_matrix

    lcg = _lcg_matrix(4, 4, stride=997, offset=54321)
    lcg = lcg / np.linalg.norm(lcg, axis=1, keepdims=True)
    assert spherical_obj(c5) > spherical_obj(lcg)

    queries = emb.filter("vec_id < 3")
    exact = {
        (r["q_id"], r["c_id"]) for r in cosine_topk(emb, queries, k=4).collect()
    }
    trained = {
        (r["q_id"], r["c_id"])
        for r in ivf_ann_topk(
            emb, queries, k=4, n_centroids=4, n_probe=1, centroids=c5
        ).collect()
    }
    assert trained == exact  # same-cluster neighbors -> full recall at probe 1


def test_trained_ivf_recall_floor(spark):
    """CI fence for the measured recall curve (BENCH/BASELINE.md §5,
    VERDICT r4 #7): on a seeded 10k-vector noisy-cluster corpus — the small
    sibling of the historical 100k corpus, same hash-arithmetic generator —
    recall@10 vs exact brute force must hold for
    - the TRAINED IVF index at the shipped sqrt(n)-ish geometry: >= 0.9;
    - ``lsh_ann_topk`` at its DEFAULT ``n_planes``: >= 0.95 (this corpus
      measured 0.995 at 3 planes, 0.93 at 4, 0.885 at 6, 0.79 at 8, so
      raising the default past 3 fails here);
    - ``ivf_ann_topk`` at its defaults: >= 0.9 (measured 1.0).
    A refactor that silently degrades either shipped default, or the
    trained index, fails loudly (the floors sit below the measured values
    to absorb the corpus-size change, not to tolerate regressions of the
    method)."""
    from graph_computing_go_spark.operators.similarity import (
        cosine_topk_arrow,
        ivf_ann_topk,
        train_ivf_centroids,
    )

    dim, n_vec, topk = 32, 10_000, 10
    vec = F.array(
        *[
            (
                (
                    F.pmod(
                        F.xxhash64((F.col("id") % 50).cast("long"), F.lit(d)),
                        F.lit(1000),
                    )
                    / 500.0
                    - 1.0
                )
                + 0.25
                * (
                    F.pmod(F.xxhash64("id", F.lit(d + 100)), F.lit(1000))
                    / 500.0
                    - 1.0
                )
            ).cast("double")
            for d in range(dim)
        ]
    )
    vecs = (
        spark.range(n_vec)
        .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        .repartition(8)
        .cache()
    )
    qs = vecs.filter(F.col("vec_id") % 500 == 17)  # 20 queries

    def pairs(df):
        return {(r["q_id"], r["c_id"]) for r in df.collect()}

    exact = pairs(cosine_topk_arrow(vecs, qs, k=topk))

    def recall(df):
        return len(pairs(df) & exact) / len(exact)

    C = train_ivf_centroids(vecs, n_centroids=16, n_iters=3)
    trained = recall(
        ivf_ann_topk(vecs, qs, k=topk, n_centroids=16, n_probe=4, centroids=C)
    )
    lsh = recall(lsh_ann_topk(vecs, qs, k=topk))
    ivf = recall(ivf_ann_topk(vecs, qs, k=topk))
    vecs.unpersist()
    assert trained >= 0.9, f"trained-IVF recall@10 {trained:.4f} < 0.9 floor"
    assert lsh >= 0.95, f"default-LSH recall@10 {lsh:.4f} < 0.95 floor"
    assert ivf >= 0.9, f"default-IVF recall@10 {ivf:.4f} < 0.9 floor"


def test_centroid_persistence_roundtrip(spark, tmp_path):
    """save_centroids → load_centroids is bit-exact and the loaded index
    searches identically to the in-memory one."""
    import numpy as np

    from graph_computing_go_spark.operators.similarity import (
        ivf_ann_topk,
        load_centroids,
        save_centroids,
        train_ivf_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    C = train_ivf_centroids(emb, n_centroids=3, n_iters=2)
    path = str(tmp_path / "centroids")
    save_centroids(spark, C, path)
    C2 = load_centroids(spark, path)
    assert C2.shape == C.shape and np.array_equal(C, C2)
    q = emb.filter("vec_id < 2")
    a = sorted(
        map(tuple, ivf_ann_topk(emb, q, k=3, n_centroids=3, centroids=C).collect())
    )
    b = sorted(
        map(tuple, ivf_ann_topk(emb, q, k=3, n_centroids=3, centroids=C2).collect())
    )
    assert a == b


def test_chunk_documents(spark):
    from graph_computing_go_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "short doc"),  # 2 tokens -> one chunk
            (3, None),  # no row
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["id"], r["chunk_idx"])):
        by_doc.setdefault(r["id"], []).append(r)
    assert set(by_doc) == {1, 2}
    # step 3: windows start at tokens 0,3,6 -> 3 chunks cover all 10 tokens
    c1 = by_doc[1]
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert c1[1]["chunk_text"] == "w3 w4 w5 w6"  # overlap of 1
    assert c1[2]["chunk_text"] == "w6 w7 w8 w9"
    assert all(r["n_tokens"] <= 4 for r in out)
    assert by_doc[2] == [by_doc[2][0]] and by_doc[2][0]["chunk_text"] == "short doc"


def test_pack_sequences(spark):
    from graph_computing_go_spark.operators.chunking import pack_sequences

    docs = spark.createDataFrame(
        [(i, 100 + (i * 37) % 900) for i in range(200)],
        "doc_id long, n_tokens long",
    ).withColumn("n_tokens", F.col("n_tokens").cast("long"))
    out = pack_sequences(docs, target_tokens=1000, n_shards=8).collect()
    # every doc packed exactly once
    assert sorted(r["id"] for r in out) == list(range(200))
    fills = {}
    for r in out:
        fills.setdefault(r["pack_id"], []).append(r["n_tokens"])
    # no pack over target unless it is a single oversized doc (none here)
    assert all(sum(v) <= 1000 for v in fills.values())
    # deterministic under a different input partitioning
    out2 = pack_sequences(
        docs.repartition(13), target_tokens=1000, n_shards=8
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # an oversized doc forms its own pack
    big = spark.createDataFrame(
        [(1, 5000), (2, 10), (3, 20)], "doc_id long, n_tokens long"
    )
    outb = pack_sequences(big, target_tokens=100, n_shards=1)
    packs = {r["id"]: r["pack_id"] for r in outb.collect()}
    assert packs[2] == packs[3] != packs[1]


def test_tokenizer_seam(spark):
    """chunk/pack/token_count accept an Arrow-batched tokenizer hook; the
    whitespace default stays the oracle-pinned fast path (VERDICT r3 #4)."""
    from graph_computing_go_spark.operators.chunking import (
        chunk_documents,
        pack_sequences,
    )
    from graph_computing_go_spark.operators.text import token_count

    def _stub_bpe(series):
        # deterministic non-whitespace stub: whitespace-split, then break
        # every word into <=3-char pieces (BPE-ish — counts diverge from
        # whitespace counts on any word longer than 3).  Defined INSIDE the
        # test so cloudpickle ships it by value (tests/ is not importable
        # on executors).
        return series.map(
            lambda t: None
            if t is None
            else [w[i : i + 3] for w in t.split() for i in range(0, len(w), 3)]
        )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "hi"), (3, None)],
        "doc_id long, text string",
    )
    # token_count: default counts words, stub counts 3-char pieces
    tc_ws = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert tc_ws[1] == 3 and tc_ws[2] == 1
    tc_bpe = {
        r["doc_id"]: r["n_tokens"]
        for r in token_count(docs, tokenizer=_stub_bpe).collect()
    }
    # alpha->al|pha? no: 3-char pieces: alp,ha / bet,a / gam,ma = 6
    assert tc_bpe[1] == 6 and tc_bpe[2] == 1
    # NULL text: same ledger row both paths (size(NULL) = -1, Spark default)
    assert tc_bpe[3] == tc_ws[3] == -1

    # chunking in stub-tokenizer units: doc 1 has 6 stub tokens -> windows
    # of 4 with step 4 -> 2 chunks of 4 and 2 tokens
    chunks = chunk_documents(docs, max_tokens=4, tokenizer=_stub_bpe).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["id"], []).append(r)
    assert [r["n_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])] == [4, 2]
    assert by_doc[1][0]["chunk_text"] == "alp ha bet a"
    assert by_doc[2][0]["chunk_text"] == "hi"
    assert 3 not in by_doc  # NULL text yields no chunk row
    # packing budgets are in tokenizer units and stay deterministic
    ch = chunk_documents(docs, max_tokens=4, tokenizer=_stub_bpe)
    packed = pack_sequences(
        ch.selectExpr("id * 1048576 + chunk_idx as doc_id", "n_tokens"),
        target_tokens=5,
        n_shards=2,
    )
    rows = sorted(map(tuple, packed.collect()))
    assert rows == sorted(map(tuple, packed.collect()))
    fills = {}
    for pid, _id, n in rows:
        fills.setdefault(pid, 0)
        fills[pid] += n
    assert all(v <= 5 for v in fills.values())

    # whitespace default unchanged: n_tokens from window arithmetic equals
    # the old re-tokenize-the-chunk values
    ws = chunk_documents(docs, max_tokens=2, overlap=1).collect()
    for r in ws:
        assert r["n_tokens"] == len(r["chunk_text"].split())


def test_toy_bpe_through_seam(spark):
    """The tokenizer seam under a REAL sub-word model (VERDICT r4 #5): a
    50-merge BPE trained in-repo changes token counts, chunk windows, and
    pack boundaries vs the whitespace default, and everything re-derives
    deterministically (same model -> same packs under any partitioning)."""
    from graph_computing_go_spark.operators.bpe import ToyBPE
    from graph_computing_go_spark.operators.chunking import (
        chunk_documents,
        pack_sequences,
    )

    corpus = [
        "low lower lowest lowly low low lower",
        "new newer newest newly new new newer",
        "wide wider widest widely wide wide wider",
        None,
    ]
    bpe = ToyBPE.train(corpus, n_merges=50)
    # deterministic training: identical merge tables on re-train
    assert bpe.merges == ToyBPE.train(corpus, n_merges=50).merges
    assert len(bpe.merges) > 0
    # lossless encode: concatenating subwords reconstructs the word
    for w in ("lowest", "newest", "unseenword"):
        toks = bpe.encode_word(w)
        assert "".join(toks).replace("</w>", "") == w
        assert toks[-1].endswith("</w>")
    # trained merges actually fuse: frequent stems become single tokens
    assert len(bpe.encode_word("low")) < len("low") + 0  # fused below chars
    # suffix sharing: 'lowest'/'newest'/'widest' share a fused 'est' piece
    est_counts = [bpe.encode_word(w) for w in ("lowest", "newest", "widest")]
    assert all(any("est" in t for t in toks) for toks in est_counts)

    docs = spark.createDataFrame(
        [(i, corpus[i % 3] + f" marker{i}") for i in range(30)] + [(99, None)],
        "doc_id long, text string",
    )
    tc_ws = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    tc_bpe = {
        r["doc_id"]: r["n_tokens"]
        for r in token_count(docs, tokenizer=bpe).collect()
    }
    # sub-word counts exceed word counts (markerN words shatter), and the
    # Spark-side count equals the driver-side model applied by hand
    for i in range(30):
        assert tc_bpe[i] > tc_ws[i]
        want = sum(
            len(bpe.encode_word(w.lower()))
            for w in (corpus[i % 3] + f" marker{i}").split()
        )
        assert tc_bpe[i] == want
    assert tc_bpe[99] == tc_ws[99] == -1  # NULL ledger row, both paths

    # chunk windows measured in BPE tokens: budgets re-derive under the
    # model, and boundaries differ from the whitespace path
    ch_bpe = chunk_documents(docs, max_tokens=8, tokenizer=bpe)
    ch_ws = chunk_documents(docs, max_tokens=8)
    rows_bpe = ch_bpe.collect()
    n_chunks = {}
    for r in rows_bpe:
        n_chunks[r["id"]] = n_chunks.get(r["id"], 0) + 1
        assert r["n_tokens"] <= 8
    for i in range(30):
        assert n_chunks[i] == -(-tc_bpe[i] // 8)
    assert ch_ws.count() < len(rows_bpe)  # more (smaller-unit) chunks

    # pack boundaries shift under the sub-word budget and stay deterministic
    packed = pack_sequences(
        ch_bpe.selectExpr("id * 1048576 + chunk_idx as doc_id", "n_tokens"),
        target_tokens=16,
        n_shards=4,
    )
    rows1 = sorted(map(tuple, packed.collect()))
    rows2 = sorted(
        map(
            tuple,
            pack_sequences(
                ch_bpe.selectExpr(
                    "id * 1048576 + chunk_idx as doc_id", "n_tokens"
                ).repartition(7),
                target_tokens=16,
                n_shards=4,
            ).collect(),
        )
    )
    assert rows1 == rows2
    fills: dict[int, int] = {}
    for pid, _id, n in rows1:
        fills[pid] = fills.get(pid, 0) + n
    assert all(v <= 16 for v in fills.values())
    # the whitespace packing of the SAME docs differs — non-whitespace
    # tokens genuinely moved pack boundaries (the r4 'done' criterion)
    packed_ws = pack_sequences(
        ch_ws.selectExpr("id * 1048576 + chunk_idx as doc_id", "n_tokens"),
        target_tokens=16,
        n_shards=4,
    )
    assert sorted(map(tuple, packed_ws.collect())) != rows1


def test_toy_bpe_properties():
    """Pure-Python BPE invariants under random corpora (no Spark): encoding
    is lossless (subword concat reconstructs the word), deterministic
    (retrain + re-encode reproduce), and every emitted token is either a
    learned merge product or a single character (+</w>)."""
    from hypothesis import given, settings, strategies as st

    from graph_computing_go_spark.operators.bpe import ToyBPE

    words = st.text(alphabet="abcdef", min_size=1, max_size=8)

    @settings(max_examples=50, deadline=None)
    @given(st.lists(words, min_size=1, max_size=30), st.lists(words, max_size=10))
    def check(corpus_words, query_words):
        corpus = [" ".join(corpus_words)]
        bpe = ToyBPE.train(corpus, n_merges=20)
        assert bpe.merges == ToyBPE.train(corpus, n_merges=20).merges
        vocab = {a + b for a, b in bpe.merges}
        for w in corpus_words + query_words:
            toks = bpe.encode_word(w.lower())
            assert "".join(toks).replace("</w>", "") == w.lower()
            assert toks[-1].endswith("</w>")
            for t in toks:
                base = t.replace("</w>", "")
                assert t in vocab or len(base) <= 1 or (
                    t.endswith("</w>") and len(base) == 1
                ), (t, bpe.merges)
        # encode twice (cache path) -> identical
        import pandas as pd

        s = pd.Series([" ".join(query_words) or None])
        first = bpe(s).tolist()
        assert bpe(s).tolist() == first

    check()


def test_next_fit_vectorized_matches_loop():
    """The vectorized next-fit kernel must be bit-identical to the
    sequential rule it replaced (VERDICT r3 #8), including zero-size items,
    oversized items, carried fill, and arbitrary batch splits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from graph_computing_go_spark.operators.chunking import _next_fit_ordinals

    def loop_ref(sizes, target, fill0):
        ordinal, fill, out = 0, fill0, []
        for n in sizes:
            n = int(n)
            if fill + n > target and fill > 0:
                ordinal, fill = ordinal + 1, n
            else:
                fill += n
            out.append(ordinal)
        return out, fill

    @settings(max_examples=300, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=150), max_size=60),
        target=st.integers(min_value=1, max_value=120),
        fill0=st.integers(min_value=0, max_value=200),
        split=st.integers(min_value=0, max_value=60),
    )
    def check(sizes, target, fill0, split):
        want, want_fill = loop_ref(sizes, target, fill0)
        got, got_fill = _next_fit_ordinals(sizes, target, fill0)
        assert list(got) == want
        if sizes:
            assert got_fill == want_fill
        # batch-split composition: segment 2 resumes from segment 1's
        # (ordinal, fill) exactly like the kernel's carried state
        k = min(split, len(sizes))
        o1, f1 = _next_fit_ordinals(sizes[:k], target, fill0)
        o2, f2 = _next_fit_ordinals(sizes[k:], target, f1)
        base = int(o1[-1]) if len(o1) else 0
        joined = list(o1) + [base + int(o) for o in o2]
        assert joined == want
        if sizes:
            assert f2 == want_fill

    check()
    # pinned edges the strategy may not hit every run
    assert list(_next_fit_ordinals([5000, 10, 20], 100)[0]) == [0, 1, 1]
    assert list(_next_fit_ordinals([0, 0, 5000, 10], 100)[0]) == [0, 0, 0, 1]
    e, f = _next_fit_ordinals([], 100, 7)  # empty segment returns ([], fill0)
    assert len(e) == 0 and f == 7


def test_decontaminate(spark, docs):
    from graph_computing_go_spark.operators.dedup import decontaminate

    # eval doc quotes doc 1's text verbatim (8 shared 3-grams); docs 4/5
    # share no 3-gram with it
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog indeed")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in decontaminate(docs, eval_df, k=3).collect()}
    # ledger-style: every corpus doc comes back exactly once
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1]["contaminated"] and out[3]["contaminated"]  # verbatim
    assert out[2]["contaminated"]  # shares the 7-gram prefix
    assert not out[4]["contaminated"] and not out[5]["contaminated"]
    assert out[1]["n_hits"] == 7  # all 7 of doc 1's 3-grams appear

    # the shuffle fallback (100M-gram eval corpora exceed any broadcast
    # budget) must produce the identical ledger
    shuffled = decontaminate(docs, eval_df, k=3, broadcast_eval=False)
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        (r["id"], r["n_hits"], r["contaminated"]) for r in out.values()
    )
    # plan pins: broadcast_eval=True carries the hint through to a
    # BroadcastExchange; the default and the explicit fallback must NOT
    # force one (AQE still runtime-converts genuinely tiny gram sets, so
    # check the HINT, not the runtime strategy)
    bq = decontaminate(docs, eval_df, k=3, broadcast_eval=True)
    assert "strategy=broadcast" in bq._jdf.queryExecution().optimizedPlan().toString()
    assert "BroadcastExchange" in bq._jdf.queryExecution().executedPlan().toString()
    for unforced in (
        shuffled,
        decontaminate(docs, eval_df, k=3),  # default: AQE decides by size
    ):
        assert (
            "strategy=broadcast"
            not in unforced._jdf.queryExecution().optimizedPlan().toString()
        )


def test_contaminated_spans(spark):
    from graph_computing_go_spark.operators.dedup import contaminated_spans

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),  # hits at pos 2,3 merge; 9 alone
            (2, "x y z c d e"),
            (3, "no overlap here at all"),
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame(
        [(100, "c d e f"), (101, "j k l")], "doc_id long, text string"
    )
    rows = sorted(map(tuple, contaminated_spans(corpus, evald, k=3).collect()))
    # overlapping k-gram hits merge into maximal [start, end) token spans
    assert rows == [(1, 2, 6), (1, 9, 12), (2, 3, 6)]
    # shuffle fallback (over-broadcast-budget eval corpora) — same spans
    rows_sh = sorted(
        map(
            tuple,
            contaminated_spans(corpus, evald, k=3, broadcast_eval=False).collect(),
        )
    )
    assert rows_sh == rows


def test_multimodal_error_stubs(spark, docs):
    import pyspark.errors

    from graph_computing_go_spark.operators.multimodal import (
        resize_media,
        sample_frames,
    )

    media = synthesize_media(docs, "doc_id", "text")
    with pytest.raises(pyspark.errors.PySparkException):
        resize_media(media, 2, 2, decode_stub="error").collect()
    with pytest.raises(pyspark.errors.PySparkException):
        sample_frames(media, 2, decode_stub="error").collect()


def test_stratified_sample(spark):
    from graph_computing_go_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "web" if i % 2 else "books") for i in range(2000)],
        "doc_id long, source string",
    )
    got = stratified_sample(df, {"web": 0.3, "books": 1.0})
    by_src = {
        r["source"]: r["n"]
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src["books"] == 1000  # rate 1.0 admits everything
    assert 200 <= by_src["web"] <= 400  # ~0.3 of 1000
    # deterministic: same input, same sample, under any partitioning
    again = stratified_sample(df.repartition(17), {"web": 0.3, "books": 1.0})
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # unlisted strata get default_fraction
    assert (
        stratified_sample(df, {"books": 1.0}, default_fraction=0.0)
        .filter("source = 'web'")
        .count()
        == 0
    )
    # a different salt draws a different sample at the same rate
    other = stratified_sample(df, {"web": 0.3, "books": 1.0}, salt="v2")
    assert {r["doc_id"] for r in other.collect()} != {
        r["doc_id"] for r in got.collect()
    }


def test_stratified_split_disjoint_windows(spark):
    """stratified_split: disjoint hash windows on ONE salt partition the
    ids — the split primitive stratified_sample's docstring points at
    (ADVICE r3: different salts do NOT guarantee disjointness)."""
    from graph_computing_go_spark.operators.sampling import (
        stratified_sample,
        stratified_split,
    )

    df = spark.createDataFrame(
        [(i, "web") for i in range(2000)], "doc_id long, source string"
    )
    train = {r["doc_id"] for r in
             stratified_split(df, {"web": (0.0, 0.30)}).collect()}
    held = {r["doc_id"] for r in
            stratified_split(df, {"web": (0.30, 0.35)}).collect()}
    assert train and held
    assert not (train & held)  # disjoint by construction
    # window (0, r) is exactly the same set stratified_sample(rate=r) admits
    samp = {r["doc_id"] for r in
            stratified_sample(df, {"web": 0.30}).collect()}
    assert train == samp
    # unlisted strata are dropped; bad windows rejected loudly
    df2 = spark.createDataFrame(
        [(1, "books")], "doc_id long, source string"
    )
    assert stratified_split(df2, {"web": (0.0, 1.0)}).count() == 0
    with pytest.raises(ValueError):
        stratified_split(df, {"web": (0.5, 0.4)})


def test_stream_then_batch_compaction(spark, tmp_path):
    """The documented 100 TB split end-to-end: the stream admits exact-
    distinct gated content incrementally, then a periodic batch
    dedup_clusters compaction over the accumulated kept set sweeps the
    near-duplicates the stream cannot — the surviving canonical content
    equals the all-batch pipeline's kept set over the same corpus."""
    import datetime

    from graph_computing_go_spark.operators.pipeline import (
        prepare_training_corpus,
    )
    from graph_computing_go_spark.streaming import (
        prepare_corpus_stream,
        run_stream_once_to_dir,
    )

    t0 = datetime.datetime(2024, 1, 1)
    good = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green forest before the sun finally sets"
    )
    other = (
        "a completely different english document that talks at length "
        "about the distributed analytics engine we build here with joins"
    )
    ddl = "doc_id long, text string, ts timestamp"
    src = str(tmp_path / "src")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    # near-dup pair (1, 2): different bytes, so BOTH pass the stream's
    # exact dedup
    spark.createDataFrame(
        [(1, good, t0), (2, good + " tonight", t0), (4, other, t0)], ddl
    ).write.mode("append").parquet(src)
    run_stream_once_to_dir(
        prepare_corpus_stream(spark, src, watermark="10 minutes"), ck, out
    )
    # second delivery: 3 is an exact dup of ADMITTED content — dropped by
    # persisted state (a separate delivery, so first-seen is deterministic;
    # within ONE micro-batch the winner among equal rows is arbitrary)
    spark.createDataFrame(
        [(3, good, t0 + datetime.timedelta(minutes=1))], ddl
    ).write.mode("append").parquet(src)
    kept_stream = run_stream_once_to_dir(
        prepare_corpus_stream(spark, src, watermark="10 minutes"), ck, out
    )
    assert sorted(r.id for r in kept_stream.collect()) == [1, 2, 4]

    compacted = dedup_clusters(
        spark.read.parquet(src)
        .withColumnRenamed("doc_id", "id")
        .join(kept_stream.select("id"), "id", "left_semi")
        .select("id", "text"),
        id_col="id",
        min_jaccard=0.5,
    )
    survivors = {r.id for r in compacted.filter("is_canonical").collect()}

    batch = prepare_training_corpus(
        spark.read.parquet(src).select("doc_id", "text"), min_jaccard=0.5
    )
    batch_kept = {r.id for r in batch.collect() if r.status == "kept"}
    assert survivors == batch_kept == {1, 4}


def test_watermarked_sessionization_out_of_order_batches(spark, tmp_path):
    """Native session_window + watermark handles cross-batch stragglers BY
    SPEC: an out-of-order event arriving in a later micro-batch bridges two
    provisional sessions into one, and the merged session equals the batch
    twin on the union of all events."""
    import datetime

    from graph_computing_go_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream_watermarked,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mins(m):
        return t0 + datetime.timedelta(minutes=m)

    src = str(tmp_path / "wm_src")
    batch_a = [(7, mins(0), 1.0), (7, mins(10), 2.0), (7, mins(50), 4.0)]
    # straggler: 12:25 arrives one micro-batch later; it is within the
    # 1h lateness and BRIDGES the two provisional sessions of batch A
    batch_b = [(7, mins(25), 8.0)]
    # sentinel far in the future: advances the watermark so user 7's merged
    # session closes and is emitted before the one-shot run drains
    batch_c = [(99, t0 + datetime.timedelta(days=2), 0.0)]
    schema = "user_id long, ts timestamp, value double"
    # one file per micro-batch (maxFilesPerTrigger=1); file order by name
    for i, rows in enumerate([batch_a, batch_b, batch_c]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        import glob as _glob
        import os as _os

        for f in _glob.glob(f"{src}/part-*"):
            if not _os.path.basename(f).startswith(f"b{i}-"):
                _os.rename(f, f"{src}/b{i}-{_os.path.basename(f)}")

    stream_df = sessionize_stream_watermarked(
        spark, src, gap_minutes=30, max_lateness="1 hour", max_files_per_trigger=1
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wm_sessions")
        .option("checkpointLocation", str(tmp_path / "wm_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in spark.table("t_wm_sessions").collect()
    }
    # user 7's four events form ONE merged session 12:00-12:50 (the 12:25
    # straggler closed both 40-minute gaps); the sentinel stays open in state
    assert got == {(7, mins(0), mins(50)): (4, 15.0)}

    union = spark.createDataFrame(batch_a + batch_b + batch_c, schema)
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in sessionize_batch(union, gap_minutes=30).collect()
        if r["user_id"] != 99  # sentinel's session is still open in state
    }
    assert got == want


def test_cosine_topk_arrow_tie_break_parity(spark):
    """k-boundary ties after 6-decimal rounding must break identically
    (rounded cosine desc, c_id asc) in the exact and Arrow paths."""
    base = [1.0, 2.0, 3.0, 4.0]
    rows = [(0, base)] + [(i, base) for i in range(1, 7)]  # 6 identical cands
    rows += [(7, [-1.0, 0.5, 2.0, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0")
    a = sorted(map(tuple, cosine_topk(emb, q, k=3).collect()))
    b = sorted(map(tuple, cosine_topk_arrow(emb, q, k=3).collect()))
    assert a == b
    assert [r[1] for r in sorted(a, key=lambda r: r[3])] == [1, 2, 3]


def test_streaming_exact_dedup_incremental(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup: the kept HASH SET equals the
    batch exact_dedup groups, duplicates arriving in a LATER micro-batch
    run (same checkpoint) are dropped by persisted state, and only genuinely
    new content is emitted incrementally."""
    import datetime

    from graph_computing_go_spark.operators.dedup import exact_dedup
    from graph_computing_go_spark.streaming import (
        exact_dedup_stream,
        run_stream_once_to_dir,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def m(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    ddl = "doc_id long, text string, ts timestamp"
    src, ck = str(tmp_path / "docs"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, "alpha text", m(0)), (2, "beta text", m(1)), (3, "alpha text", m(2))],
        ddl,
    ).write.mode("append").parquet(src)
    out = str(tmp_path / "out")
    got1 = run_stream_once_to_dir(
        exact_dedup_stream(spark, src, watermark="10 minutes"), ck, out
    ).collect()
    assert len(got1) == 2  # alpha once, beta once

    # second delivery: two duplicates of already-seen content + one new doc;
    # the SAME checkpoint resumes state, so only the new content is emitted
    spark.createDataFrame(
        [(4, "alpha text", m(3)), (5, "gamma text", m(4)), (6, "beta text", m(5))],
        ddl,
    ).write.mode("append").parquet(src)
    got2 = run_stream_once_to_dir(
        exact_dedup_stream(spark, src, watermark="10 minutes"), ck, out
    ).collect()
    new = [r for r in got2 if r.id not in {g.id for g in got1}]
    assert len(got2) == 3 and len(new) == 1 and new[0].id == 5

    stream_hashes = {r.hash for r in got2}
    batch = exact_dedup(spark.read.parquet(src)).collect()
    assert stream_hashes == {r.hash for r in batch} and len(batch) == 3


def test_prepare_training_corpus_ledger(spark):
    """Every input doc returns exactly once with first-dropping-stage
    attribution; kept+duplicate rows carry the cluster canonical."""
    from graph_computing_go_spark.operators.pipeline import (
        prepare_training_corpus,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green forest before the sun finally sets"
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + " tonight"),  # near-dup of 1
            (3, "x 1 2 3 ~~ !!"),  # low quality: short, non-alpha
            (4, "el rapido zorro marron salta sobre el perro perezoso y "
                "luego corre lejos hacia el bosque verde con una calma"),
            (5, "a completely different english document that talks at "
                "length about the distributed analytics engine we build "
                "here with joins and aggregations over the document table"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in prepare_training_corpus(docs).collect()}
    assert len(out) == 5
    assert out[3].status == "low_quality" and out[3].canonical_id is None
    assert out[4].status == "language" and out[4].pred_lang != "en"
    dup_pair = {out[1].status, out[2].status}
    assert dup_pair == {"kept", "duplicate"}
    assert out[1].canonical_id == out[2].canonical_id == 1
    assert out[5].status == "kept" and out[5].canonical_id == 5

    # optional repetition gate: a good-quality english doc that is mostly a
    # repeated nav-bar line drops as 'repetitive' (after quality, before
    # language); with the gate off (default above) the same ledger stands
    nav = "home products about contact the best site on the entire web"
    docs_r = docs.unionByName(
        spark.createDataFrame(
            [(6, "\n".join([nav] * 9 + ["one real line of text here"]))],
            "doc_id long, text string",
        )
    )
    out_r = {
        r.id: r
        for r in prepare_training_corpus(
            docs_r, max_dup_line_frac=0.3
        ).collect()
    }
    assert len(out_r) == 6
    assert out_r[6].status == "repetitive" and out_r[6].canonical_id is None
    # the other verdicts are unchanged by enabling the gate
    for i in (1, 2, 3, 4, 5):
        assert out_r[i].status == out[i].status


def test_prepare_corpus_stream_matches_batch(spark, tmp_path):
    """Streaming gates+exact-dedup admit the same content hash-set as the
    batch pipeline's kept rows (exact-duplicate-only corpus), duplicates
    and gate failures in a LATER delivery are dropped by persisted state /
    the same row-local predicates, and NULL text never crashes the
    stream."""
    import datetime

    from graph_computing_go_spark.operators.pipeline import (
        prepare_training_corpus,
    )
    from graph_computing_go_spark.streaming import (
        prepare_corpus_stream,
        run_stream_once_to_dir,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def m(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    good_a = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green forest before the sun finally sets"
    )
    good_b = (
        "a completely different english document that talks at length "
        "about the distributed analytics engine we build here with joins"
    )
    bad_lang = (
        "el rapido zorro marron salta sobre el perro perezoso y luego "
        "corre lejos hacia el bosque verde con una calma"
    )
    ddl = "doc_id long, text string, ts timestamp"
    src, ck = str(tmp_path / "docs"), str(tmp_path / "ck")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [
            (1, good_a, m(0)),
            (2, "x 1 2 3 ~~ !!", m(1)),  # low quality
            (3, bad_lang, m(2)),  # language gate
            (4, good_a, m(3)),  # exact dup of 1, same micro-batch
            (5, None, m(4)),  # NULL text: quality gate, no crash
        ],
        ddl,
    ).write.mode("append").parquet(src)
    got1 = run_stream_once_to_dir(
        prepare_corpus_stream(spark, src, watermark="10 minutes"), ck, out
    ).collect()
    # docs 1 and 4 share content INSIDE one micro-batch: exactly one is
    # admitted, but which one is processing-order-dependent — assert the
    # content decision, not the winner id
    assert len(got1) == 1 and got1[0].id in (1, 4)
    winner = got1[0].id

    # later delivery: dup of admitted content (persisted state drops it),
    # one genuinely new kept doc, one more gate failure
    spark.createDataFrame(
        [(6, good_a, m(5)), (7, good_b, m(6)), (8, "!! ~~ ??", m(7))], ddl
    ).write.mode("append").parquet(src)
    got2 = run_stream_once_to_dir(
        prepare_corpus_stream(spark, src, watermark="10 minutes"), ck, out
    ).collect()
    assert sorted(r.id for r in got2) == sorted([winner, 7])
    assert all(r.pred_lang == "en" and r.score >= 0.35 for r in got2)

    # batch pipeline over the full corpus keeps the same CONTENT set
    batch = prepare_training_corpus(
        spark.read.parquet(src).select("doc_id", "text")
    ).collect()
    kept_texts = {r.id for r in batch if r.status == "kept"}
    batch_hashes = {
        r.hash
        for r in spark.read.parquet(src)
        .filter(F.col("doc_id").isin(*kept_texts))
        .select(F.sha2("text", 256).alias("hash"))
        .collect()
    }
    assert {r.hash for r in got2} == batch_hashes

    # repetition gate streams too (row-local): a fresh stream over the same
    # corpus plus a repetitive doc, gate on — the nav-bar doc is dropped,
    # the batch twin with the same gate keeps the identical content set
    nav = "home products about contact everything on the best site online"
    spark.createDataFrame(
        [(9, "\n".join([nav] * 9 + ["one real line of text here"]), m(8))], ddl
    ).write.mode("append").parquet(src)
    ck2, out2 = str(tmp_path / "ck2"), str(tmp_path / "out2")
    got3 = run_stream_once_to_dir(
        prepare_corpus_stream(
            spark, src, watermark="10 minutes", max_dup_line_frac=0.3
        ),
        ck2,
        out2,
    ).collect()
    assert 9 not in {r.id for r in got3}
    batch_r = prepare_training_corpus(
        spark.read.parquet(src).select("doc_id", "text"), max_dup_line_frac=0.3
    ).collect()
    assert {r.id: r.status for r in batch_r}[9] == "repetitive"
    kept_ids = {r.id for r in batch_r if r.status == "kept"}
    rep_hashes = {
        r.hash
        for r in spark.read.parquet(src)
        .filter(F.col("doc_id").isin(*kept_ids))
        .select(F.sha2("text", 256).alias("hash"))
        .collect()
    }
    assert {r.hash for r in got3} == rep_hashes


def test_repetition_filters(spark):
    """Gopher/RefinedWeb-style repetition signals + repeated-line removal —
    row-local, zero-exchange (plan-pinned below)."""
    from graph_computing_go_spark.operators.text import (
        remove_repeated_lines,
        repetition_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "home | products | about\nreal content here\nhome | products | about\nmore real text\nhome | products | about"),
            (2, "the cat sat on the mat the cat sat again"),
            (3, "unique one\nunique two"),
            (4, None),
            (5, "one"),  # single token: no 2-grams -> NULL fraction
        ],
        "doc_id long, text string",
    )
    rs = {r["doc_id"]: r for r in repetition_score(docs).collect()}
    # doc 1: 5 non-blank lines, 3 copies of the nav bar -> 2/5 duplicates
    assert rs[1]["dup_line_frac"] == 0.4
    assert rs[3]["dup_line_frac"] == 0.0
    # doc 2: 9 2-grams, 'the cat'/'cat sat' repeat -> 2 dups
    assert rs[2]["dup_2gram_frac"] == round(2 / 9, 6)
    assert rs[2]["dup_line_frac"] == 0.0
    assert rs[4]["dup_line_frac"] is None  # NULL text -> NULL signals
    assert rs[5]["dup_2gram_frac"] is None  # no 2-grams

    cleaned = {r["doc_id"]: r["text"] for r in remove_repeated_lines(docs).collect()}
    assert cleaned[1] == "home | products | about\nreal content here\nmore real text"
    assert cleaned[3] == "unique one\nunique two"
    assert cleaned[4] is None
    # blank-line structure survives
    blanky = spark.createDataFrame(
        [(9, "a\n\nb\n\na")], "doc_id long, text string"
    )
    assert (
        remove_repeated_lines(blanky).collect()[0]["text"] == "a\n\nb\n"
        or remove_repeated_lines(blanky).collect()[0]["text"] == "a\n\nb\n\n"
    )
    # zero-exchange plan pin (same invariant class as language_id/simhash)
    plan = repetition_score(
        docs.repartition(3)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan and "Generate" not in plan
