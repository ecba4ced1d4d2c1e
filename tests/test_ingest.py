"""Ingest-pipeline tests: generator determinism, sha256 invariant, link
extraction + resolution semantics, end-to-end code-graph statistics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_computing_go_spark.functions.entropy import structural_entropy
from graph_computing_go_spark.sources import (
    build_edge_table,
    extract_imports,
    resolve_imports,
    synthesize_repos,
    verify_content_sha256,
)


@pytest.fixture(scope="module")
def repos(spark):
    return synthesize_repos(spark, n_files=200, seed=42).cache()


def test_generator_deterministic(spark, repos):
    again = synthesize_repos(spark, n_files=200, seed=42)
    a = sorted(
        (r["repo"], r["path"], r["sha"])
        for r in repos.select("repo", "path", F.sha2("content", 256).alias("sha")).collect()
    )
    b = sorted(
        (r["repo"], r["path"], r["sha"])
        for r in again.select("repo", "path", F.sha2("content", 256).alias("sha")).collect()
    )
    assert a == b and len(a) == 200


def test_ingest_sha256_invariant(spark, repos, tmp_path):
    path = str(tmp_path / "repos_ingested")
    repos.write.parquet(path)
    ingested = spark.read.parquet(path)
    assert verify_content_sha256(repos, ingested) == 200
    # corruption is detected
    corrupted = ingested.withColumn(
        "content",
        F.when(F.col("path").startswith("a"), F.lit("tampered")).otherwise(
            F.col("content")
        ),
    )
    n_tampered = corrupted.filter(F.col("content") == "tampered").count()
    if n_tampered:
        with pytest.raises(AssertionError):
            verify_content_sha256(repos, corrupted)


def test_handwritten_resolution_cases(spark):
    rows = [
        ("o/r1", "a/b_1.py", "c", "python", "import o/r1:a.target_2"),
        ("o/r1", "a/target_2.py", "c", "python", "x"),
        # case-mangled ref -> resolves via normalized fallback
        ("o/r1", "a/b_3.py", "c", "python", "import o/r1:A.TARGET_2"),
        # dangling -> dropped
        ("o/r1", "a/b_4.py", "c", "python", "import o/r1:missing.mod"),
        # self-import -> dropped
        ("o/r1", "a/b_5.py", "c", "python", "import o/r1:a.b_5"),
        # go cross-repo
        ("o/r2", "x/y_6.go", "c", "go", 'import "o/r1/a/target_2"'),
        # js require
        ("o/r2", "x/y_7.js", "c", "js", "const m = require('o/r1:a/target_2')"),
    ]
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    refs = extract_imports(repos)
    assert refs.count() == 6  # 'x' body line has no import
    got = {
        (r["src_repo"], r["src_path"], r["dst_repo"], r["dst_path"])
        for r in resolve_imports(repos, refs).collect()
    }
    assert got == {
        ("o/r1", "a/b_1.py", "o/r1", "a/target_2.py"),
        ("o/r1", "a/b_3.py", "o/r1", "a/target_2.py"),
        ("o/r2", "x/y_6.go", "o/r1", "a/target_2.py"),
        ("o/r2", "x/y_7.js", "o/r1", "a/target_2.py"),
    }


def test_edge_table_end_to_end(spark, repos):
    edges = build_edge_table(repos).cache()
    n = edges.count()
    assert n > 50  # the corpus plants ~3 imports/file, most resolvable
    # vertex ids deterministic: rebuild gives identical edge set
    again = build_edge_table(synthesize_repos(spark, n_files=200, seed=42))
    assert sorted(map(tuple, edges.select("src", "dst").collect())) == sorted(
        map(tuple, again.select("src", "dst").collect())
    )
    # no self-loops survived
    assert edges.filter(F.col("src") == F.col("dst")).count() == 0
    # the flagship statistics run on the code graph
    se = structural_entropy(edges.select("src", "dst")).collect()[0]
    assert se["h_in"] is not None and se["h_in"] > 0


def test_stem_collision_single_winner(spark):
    """Two files sharing a stem (util.py / util.js): one import ref must
    resolve to exactly ONE edge (smallest path wins), like the reference's
    map insertion keeps one winner."""
    rows = [
        ("o/r1", "lib/util.py", "c", "python", "x"),
        ("o/r1", "lib/util.js", "c", "js", "x"),
        ("o/r1", "a/b.py", "c", "python", "import o/r1:lib.util"),
    ]
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    got = resolve_imports(repos, extract_imports(repos)).collect()
    assert len(got) == 1
    assert got[0]["dst_path"] == "lib/util.js"  # lexicographically smallest


def test_extraction_edge_cases(spark):
    """Null content, unknown language, and empty repos must not crash the
    vectorized extraction path."""
    rows = [
        ("o/r1", "a.py", "c", "python", None),
        ("o/r1", "b.rs", "c", "rust", "use foo::bar;"),  # no extractor
        ("o/r1", "c.py", "c", "python", ""),
    ]
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    assert extract_imports(repos).count() == 0
    empty = repos.filter("1=0")
    assert extract_imports(empty).count() == 0
    assert build_edge_table(repos).count() == 0


def test_code_edge_table_roundtrip_under_spark_files_root(spark):
    """code_edge_table's round-trip copy lives under the driver's SparkFiles
    root (private to this driver, deleted by Spark at stop()), and a second
    call in the same session reuses that one directory."""
    import os

    from pyspark import SparkFiles

    from graph_computing_go_spark.api import q_code_edge_table

    root = SparkFiles.getRootDirectory()
    rt = os.path.join(root, "code_repos_roundtrip")
    first = q_code_edge_table(spark, "")
    files = first.inputFiles()
    assert files and all(rt in f for f in files), files
    n = first.count()
    entries = sorted(os.listdir(root))
    second = q_code_edge_table(spark, "")
    assert second.count() == n > 0
    assert sorted(os.listdir(root)) == entries  # same directory, no sibling


def test_regex_dialect_matches_duckdb_oracle(spark):
    """extract_imports (Java regex) and the code_edge_table oracle's refs
    CTE (DuckDB's RE2) return the same refs where the regex dialects could
    part ways: line terminators other than LF, non-ASCII whitespace, and
    tabs.  Vertical tab is left out on purpose: Java's and Python's `\\s`
    match it and RE2's does not, so no pattern may rely on it."""
    import duckdb
    import pandas as pd

    from graph_computing_go_spark.api import _CODE_REFS_SQL

    nbsp = "\u00a0"
    rows = [
        # CRLF: plain Java MULTILINE `$` would match before "\r\n"
        ("o/r", "crlf.py", "python", "import o/x:crlf\r\nimport o/x:lf\nx"),
        # U+0085 ends a line for plain Java MULTILINE, never for RE2
        ("o/r", "nel.py", "python", "import o/x:a\u0085import o/x:b\nx"),
        # NBSP is whitespace to Python's `\s`, to neither Java nor RE2
        ("o/r", "nbsp_sep.py", "python", f"import{nbsp}o/x:nb\nx"),
        ("o/r", "nbsp_ref.py", "python", f"import o/x:n{nbsp}b\nx"),
        ("o/r", "tab.go", "go", 'import\t"o/x/tab"\nimport "o/x/sp"'),
    ]
    df = spark.createDataFrame(
        [(r, p, "c", lg, c) for r, p, lg, c in rows],
        "repo string, path string, commit string, lang string, content string",
    )
    got = sorted(map(tuple, extract_imports(df).collect()))
    con = duckdb.connect()
    con.register(
        "hand", pd.DataFrame(rows, columns=["repo", "path", "lang", "content"])
    )
    want = sorted(
        con.execute(
            f"WITH repos AS (SELECT * FROM hand), {_CODE_REFS_SQL} "
            "SELECT repo, path, ref FROM refs"
        ).fetchall()
    )
    con.close()
    assert got == want
    # non-vacuous: the tab and NBSP-inside-ref rows extract on both sides
    assert ("o/r", "tab.go", "o/x/tab") in got
    assert ("o/r", "nbsp_ref.py", f"o/x:n{nbsp}b") in got
