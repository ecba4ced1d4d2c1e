"""Code-repository ingest → link extraction → import resolution → edge table.

This is the engine's analogue of the reference's entity-resolution pipeline
(/root/reference/internal/wikiEntropy/wikiEntropy.go:156-279): out-link
strings (import refs) resolve to canonical vertices through an exact join
with a normalized-key fallback, self-links dropped (:266), unresolved refs
dropped (like titles that never resolve).  Extraction is one JVM
expression, ``regexp_extract_all`` chosen by language like the reference's
plain Go regexes — no Python worker, so the optimizer sees through it — and
every ingested row carries a sha256 that must equal the source's
(``verify_content_sha256``).

Vertex ids are ``xxhash64(repo || '/' || path)`` — deterministic across
runs/clusters (monotonically_increasing_id is not; SURVEY.md §7 hard-part 1).

Scale shape: extraction is a narrow map over the (huge) repos scan;
resolution joins shuffle on the ref key where hub files (imported
everywhere) are the skew — the joins are plain equi-joins so AQE skew
splitting applies; the file-dimension side of each join is repo-metadata
sized (no content column — column pruning keeps the scan narrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Import-reference patterns per language (match the synthetic corpus and the
# common real-world forms; refs normalize to "repo:path_stem").  The
# `code_edge_table` oracle (api._CODE_REFS_SQL) runs the same patterns on
# DuckDB's RE2: both engines read `\s`/`\S` as ASCII classes (only Java's
# `\s` also matches `\v`, so no pattern may rely on it) and, with the `d`
# flag, end lines only at line feeds (tests/test_ingest.py pins the edge
# cases).
_PATTERNS = {
    "python": r"^import\s+(\S+:\S+)$",
    "go": r'^import\s+"([^"]+)"$',
    "js": r"require\('([^']+)'\)",
}


def extract_imports(repos: DataFrame) -> DataFrame:
    """(repo, path, ref): one row per import reference found in content.

    One ``regexp_extract_all`` per language, picked by ``lang`` (other
    languages and NULL content yield no rows).  ``(?md)``: multi-line
    anchors with UNIX_LINES, so ``^``/``$`` break only at line feeds —
    Java's plain MULTILINE ``$`` also matches before CRLF and U+0085, where
    RE2 and Python ``re`` do not.
    """
    refs = None
    for lang, pat in _PATTERNS.items():
        cond = F.col("lang") == lang
        found = F.regexp_extract_all("content", F.lit("(?md)" + pat), F.lit(1))
        refs = F.when(cond, found) if refs is None else refs.when(cond, found)
    return repos.select("repo", "path", F.explode(refs).alias("ref"))


def _ref_to_target(refs: DataFrame) -> DataFrame:
    """Parse "repo:dotted.or/slashed/stem" (python/js) or "repo/seg/stem"
    (go) into (tgt_repo, tgt_stem)."""
    has_colon = F.col("ref").contains(":")
    tgt_repo = F.when(has_colon, F.split_part(F.col("ref"), F.lit(":"), F.lit(1))).otherwise(
        F.concat_ws(
            "/",
            F.split_part(F.col("ref"), F.lit("/"), F.lit(1)),
            F.split_part(F.col("ref"), F.lit("/"), F.lit(2)),
        )
    )
    rest = F.when(
        has_colon, F.split_part(F.col("ref"), F.lit(":"), F.lit(2))
    ).otherwise(
        F.regexp_replace(F.col("ref"), r"^[^/]+/[^/]+/", "")
    )
    tgt_stem = F.regexp_replace(rest, r"\.", "/")
    return refs.select(
        "repo", "path", "ref", tgt_repo.alias("tgt_repo"), tgt_stem.alias("tgt_stem")
    )


def resolve_imports(repos: DataFrame, refs: DataFrame) -> DataFrame:
    """Resolve each ref to a concrete (repo, path) — exact stem match first,
    lowercase-normalized fallback (wikiEntropy.go:232-273 two-map pattern:
    exact title map, then normalized map).  Unresolved refs drop out;
    self-imports drop (:266).

    Returns (src_repo, src_path, dst_repo, dst_path).
    """
    targets = _ref_to_target(refs)
    file_dim = repos.select(
        F.col("repo").alias("tgt_repo"),
        F.col("path").alias("dst_path"),
        F.regexp_replace("path", r"\.[a-z]+$", "").alias("stem"),
    )
    # winner-selection on BOTH keys: two files can share a stem (util.py vs
    # util.js); the reference's map insertion keeps one winner, so do we
    # (deterministic: smallest path)
    exact = (
        file_dim.select(
            "tgt_repo",
            F.col("stem").alias("tgt_stem"),
            F.col("dst_path").alias("dst_exact"),
        )
        .groupBy("tgt_repo", "tgt_stem")
        .agg(F.min("dst_exact").alias("dst_exact"))
    )
    norm = (
        file_dim.select(
            "tgt_repo",
            F.lower("stem").alias("norm_stem"),
            F.col("dst_path").alias("dst_norm"),
        )
        # dedup-with-preference on the normalized key: smallest path wins
        # (the reference prefers non-redirect pages; our deterministic rule
        # is lexicographic, J2 pattern)
        .groupBy("tgt_repo", "norm_stem")
        .agg(F.min("dst_norm").alias("dst_norm"))
    )
    j = (
        targets.join(exact, ["tgt_repo", "tgt_stem"], "left")
        .withColumn("norm_stem", F.lower("tgt_stem"))
        .join(norm, ["tgt_repo", "norm_stem"], "left")
    )
    resolved = j.select(
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.col("tgt_repo").alias("dst_repo"),
        F.coalesce("dst_exact", "dst_norm").alias("dst_path"),
    ).filter(F.col("dst_path").isNotNull())
    return resolved.filter(
        ~((F.col("src_repo") == F.col("dst_repo")) & (F.col("src_path") == F.col("dst_path")))
    )


def vertex_id(repo_col, path_col):
    """Deterministic 64-bit vertex id (stable across runs and cluster
    layouts, unlike monotonically_increasing_id)."""
    return F.xxhash64(F.concat(repo_col, F.lit("/"), path_col))


def build_edge_table(repos: DataFrame) -> DataFrame:
    """Full pipeline: extract → resolve → (src, dst, provenance) edges."""
    refs = extract_imports(repos)
    resolved = resolve_imports(repos, refs)
    return resolved.select(
        vertex_id(F.col("src_repo"), F.col("src_path")).alias("src"),
        vertex_id(F.col("dst_repo"), F.col("dst_path")).alias("dst"),
        "src_repo",
        "src_path",
        "dst_repo",
        "dst_path",
    )


def verify_content_sha256(source: DataFrame, ingested: DataFrame) -> int:
    """Assert the per-row content-sha256 invariant (BASELINE.json:15);
    returns the number of verified rows, raises on any mismatch."""
    s = source.select(
        "repo", "path", F.sha2("content", 256).alias("sha_src")
    )
    t = ingested.select(
        "repo", "path", F.sha2("content", 256).alias("sha_dst")
    )
    joined = s.join(t, ["repo", "path"], "full_outer")
    # one aggregation = one job (content is hashed on both sides — doing a
    # second count() would re-execute the whole join)
    row = joined.agg(
        F.count("*").alias("total"),
        F.sum(
            (
                F.col("sha_src").isNull()
                | F.col("sha_dst").isNull()
                | (F.col("sha_src") != F.col("sha_dst"))
            ).cast("long")
        ).alias("bad"),
    ).collect()[0]
    if row["bad"]:
        raise AssertionError(f"content sha256 mismatch on {row['bad']} rows")
    return row["total"]
