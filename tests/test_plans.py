"""Iterative-algorithm tests against pure-Python oracles.

North-rule gates (BASELINE.json:14): PageRank allclose 1e-6, components and
labels exact, triangle counts exact.  Oracles implement the same public
specs independently (dict/Counter graphs), so agreement checks the Spark
dataflow, not a copied implementation.
"""

from __future__ import annotations

import json
import math
import random
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from tests.conftest import edge_df

from graph_computing_go_spark.plans import (
    SuperstepRunner,
    connected_components,
    label_propagation,
    messages,
    pagerank,
    triangle_count,
    triangles_per_vertex,
)

# ---------------------------------------------------------------- fixtures

TWO_COMPONENTS = [(1, 2), (2, 3), (4, 5)]
STAR = [(i, 0) for i in range(1, 21)] + [(0, 1), (5, 6), (6, 7)]
TRI_FAN = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 1), (2, 5)]


def random_graph(n=60, m=300, seed=42):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < m:
        s, d = rng.randrange(n), rng.randrange(n)
        if s != d:
            edges.add((s, d))
    return sorted(edges)


# the exact tests pack this input's adjacency in rows of 3 dsts: its
# vertices have undirected degree ~6, so most span several rows
MULTI_CHUNK = random_graph(40, 120, seed=5)


def _chunked(monkeypatch, edges):
    if edges is MULTI_CHUNK:
        monkeypatch.setattr(messages, "CHUNK", 3)


# ---------------------------------------------------------------- oracles


def pr_oracle(edges, alpha=0.85, tol=1e-6, max_iter=100):
    verts = sorted({u for e in edges for u in e})
    n = len(verts)
    out = Counter(s for s, _ in edges)
    r = dict.fromkeys(verts, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        contrib = defaultdict(float)
        for s, d in edges:
            contrib[d] += r[s] / out[s]
        dm = sum(r[v] for v in verts if out[v] == 0)
        new = {
            v: (1 - alpha) / n + alpha * (contrib[v] + dm / n) for v in verts
        }
        delta = sum(abs(new[v] - r[v]) for v in verts)
        r = new
        if delta < tol:
            break
    return r, it


def undirected_adj(edges):
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def cc_oracle(edges):
    adj = undirected_adj(edges)
    verts = sorted({u for e in edges for u in e})
    comp = {}
    for v in verts:
        if v in comp:
            continue
        stack, members = [v], []
        seen = {v}
        while stack:
            u = stack.pop()
            members.append(u)
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        label = min(members)
        for u in members:
            comp[u] = label
    return comp


def lp_oracle(edges, max_iter=20, exact_iters=None):
    adj = undirected_adj(edges)
    verts = sorted({u for e in edges for u in e})
    labels = {v: v for v in verts}
    for i in range(1, max_iter + 1):
        new = {}
        for v in verts:
            nbrs = adj[v]
            if not nbrs:
                new[v] = labels[v]
                continue
            cnt = Counter(labels[u] for u in nbrs)
            new[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        changed = new != labels
        labels = new
        if exact_iters is not None:
            if i >= exact_iters:
                break
        elif not changed:
            break
    return labels


def tri_oracle(edges):
    adj = undirected_adj(edges)
    verts = sorted(adj)
    per_vertex = Counter()
    total = 0
    for a, b, c in combinations(verts, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            total += 1
            per_vertex.update([a, b, c])
    return total, dict(per_vertex)


# ------------------------------------------------------------------ tests


@pytest.mark.parametrize("edges", [TWO_COMPONENTS, STAR, random_graph()])
def test_pagerank_fixed_iterations(spark, edges):
    got, iters = pagerank(edge_df(spark, edges), tol=0.0, max_iter=12)
    want, _ = pr_oracle(edges, tol=0.0, max_iter=12)
    rows = {r["id"]: r["rank"] for r in got.collect()}
    assert rows.keys() == want.keys()
    for v, r in want.items():
        assert math.isclose(rows[v], r, abs_tol=1e-9)


def test_pagerank_convergence_and_mass(spark):
    edges = TWO_COMPONENTS  # has dangling vertices (3, 5)
    got, iters = pagerank(edge_df(spark, edges), tol=1e-6, max_iter=200)
    want, oiters = pr_oracle(edges, tol=1e-6, max_iter=200)
    rows = {r["id"]: r["rank"] for r in got.collect()}
    assert iters == oiters
    for v, r in want.items():
        assert math.isclose(rows[v], r, abs_tol=1e-6)
    assert math.isclose(sum(rows.values()), 1.0, abs_tol=1e-9)  # redistribute


def test_pagerank_salted_equals_plain(spark):
    df = edge_df(spark, STAR)
    plain, _ = pagerank(df, tol=0.0, max_iter=8)
    salted, _ = pagerank(df, tol=0.0, max_iter=8, salt_buckets=4)
    p = {r["id"]: r["rank"] for r in plain.collect()}
    s = {r["id"]: r["rank"] for r in salted.collect()}
    for v in p:
        assert math.isclose(p[v], s[v], abs_tol=1e-12)


def test_pagerank_packed_equals_plain(spark, monkeypatch):
    # CHUNK=3 packs every src of out-degree > 3 into several adjacency rows,
    # so the per-src deg vs per-row array length distinction is exercised
    # against the plain power iteration of the python oracle
    edges = random_graph(30, 90)
    assert max(Counter(s for s, _ in edges).values()) > 3
    monkeypatch.setattr(messages, "CHUNK", 3)
    got, _ = pagerank(edge_df(spark, edges), tol=0.0, max_iter=8)
    want, _ = pr_oracle(edges, tol=0.0, max_iter=8)
    rows = {r["id"]: r["rank"] for r in got.collect()}
    assert rows.keys() == want.keys()
    for v, r in want.items():
        assert math.isclose(rows[v], r, abs_tol=1e-9)


@pytest.mark.parametrize(
    "edges", [TWO_COMPONENTS, STAR, random_graph(40, 60), MULTI_CHUNK]
)
def test_connected_components_exact(spark, monkeypatch, edges):
    _chunked(monkeypatch, edges)
    got, _ = connected_components(edge_df(spark, edges))
    want = cc_oracle(edges)
    assert {r["id"]: r["component"] for r in got.collect()} == want


def test_connected_components_pointer_jump(spark):
    # exactness: jump == relax-only labeling on a random graph
    edges = random_graph(40, 60)
    got, _ = connected_components(edge_df(spark, edges), jump=True)
    assert {r["id"]: r["component"] for r in got.collect()} == cc_oracle(edges)
    # O(log diameter): a 64-vertex path would take 64 relax-only supersteps
    # (one hop of label travel each); pointer jumping doubles the travel
    # distance per round
    path = [(i, i + 1) for i in range(63)]
    got, iters = connected_components(edge_df(spark, path), jump=True)
    assert {r["id"]: r["component"] for r in got.collect()} == cc_oracle(path)
    assert iters <= 9


@pytest.mark.parametrize("edges", [TRI_FAN, random_graph(40, 120), MULTI_CHUNK])
def test_label_propagation_exact(spark, monkeypatch, edges):
    _chunked(monkeypatch, edges)
    got, _ = label_propagation(edge_df(spark, edges), exact_iters=4)
    want = lp_oracle(edges, exact_iters=4)
    assert {r["id"]: r["label"] for r in got.collect()} == want


@pytest.mark.parametrize("edges", [TRI_FAN, STAR, random_graph(40, 160)])
def test_triangles_exact(spark, edges):
    df = edge_df(spark, edges)
    total, per_vertex = tri_oracle(edges)
    assert triangle_count(df).collect()[0]["n_triangles"] == total
    assert (
        triangle_count(df, degree_oriented=True).collect()[0]["n_triangles"]
        == total
    )
    got_pv = {
        r["id"]: r["n_triangles"] for r in triangles_per_vertex(df).collect()
    }
    assert got_pv == per_vertex


def test_superstep_checkpoint_resume(spark, tmp_path):
    edges = random_graph(30, 90, seed=7)
    df = edge_df(spark, edges)
    clean, _ = pagerank(df, tol=0.0, max_iter=10)
    want = {r["id"]: r["rank"] for r in clean.collect()}

    ckdir = str(tmp_path / "ck")
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    # simulate a killed run: stop after 6 supersteps
    pagerank(df, tol=0.0, max_iter=6, runner=runner)
    ck = runner.latest_checkpoint("pagerank")
    assert ck is not None and ck[0] == 6
    # resume and finish
    resumed, iters = pagerank(
        df, tol=0.0, max_iter=10, runner=runner, resume=True
    )
    assert iters == 10
    rows = {r["id"]: r["rank"] for r in resumed.collect()}
    for v, r in want.items():
        assert math.isclose(rows[v], r, abs_tol=1e-12)


def test_resume_skips_torn_checkpoint(spark, tmp_path):
    """A checkpoint whose manifest row count disagrees with the parquet
    (torn write) must be skipped; resume falls back to the previous
    complete iteration."""
    import json
    import os

    edges = random_graph(20, 50, seed=3)
    df = edge_df(spark, edges)
    ckdir = str(tmp_path / "ck")
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(df, tol=0.0, max_iter=4, runner=runner)
    base = os.path.join(ckdir, "pagerank")
    # corrupt the newest manifest: claim one extra row in partition 0
    manifests = sorted(
        f for f in os.listdir(base) if f.startswith("manifest_")
    )
    newest = os.path.join(base, manifests[-1])
    with open(newest) as f:
        m = json.load(f)
    m["partitions"][0]["rows"] += 1
    with open(newest, "w") as f:
        json.dump(m, f)
    it, _state = runner.latest_checkpoint("pagerank")
    assert it == int(manifests[-2][len("manifest_"):-len(".json")])


def test_fresh_run_clears_stale_ahead_checkpoints(spark, tmp_path):
    """A fresh run in a reused checkpoint dir must delete the previous
    run's HIGHER-iteration checkpoints: they are internally checksum-
    consistent, so a later resume would otherwise silently load the OLD
    run's state (round-5 review finding)."""
    import os

    ckdir = str(tmp_path / "ck")
    graph_a = edge_df(spark, random_graph(30, 90, seed=11))
    graph_b = edge_df(spark, random_graph(30, 90, seed=12))
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(graph_a, tol=0.0, max_iter=8, runner=runner)  # ckpts ..8
    # fresh (non-resume) run on a DIFFERENT graph, converging earlier
    pagerank(graph_b, tol=0.0, max_iter=4, runner=runner)
    base = os.path.join(ckdir, "pagerank")
    iters = sorted(
        int(f[len("manifest_"):-len(".json")])
        for f in os.listdir(base)
        if f.startswith("manifest_")
    )
    assert max(iters) <= 4, iters  # graph A's iters 6/8 are gone
    # resume now extends graph B's run, not graph A's
    it, state = runner.latest_checkpoint("pagerank")
    assert it == 4
    want = {
        r["id"]: r["rank"]
        for r in pagerank(graph_b, tol=0.0, max_iter=4)[0].collect()
    }
    got = {r["id"]: r["rank"] for r in state.collect()}
    assert set(got) == set(want)
    for v in want:
        assert math.isclose(got[v], want[v], abs_tol=1e-12)


def test_torn_metrics_line_does_not_break_next_run(spark, tmp_path):
    """A partially-written metrics.jsonl line (kill -9 mid-append) must be
    skipped by the next run's truncation pass, not crash it."""
    import os

    ckdir = str(tmp_path / "ck")
    df = edge_df(spark, random_graph(20, 50, seed=5))
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(df, tol=0.0, max_iter=4, runner=runner)
    mpath = os.path.join(ckdir, "pagerank", "metrics.jsonl")
    with open(mpath, "a") as f:
        f.write('{"iter": 5, "wall_')  # torn tail
    _res, iters = pagerank(df, tol=0.0, max_iter=6, runner=runner, resume=True)
    assert iters == 6
    with open(mpath) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    assert [r["iter"] for r in recs] == [1, 2, 3, 4, 5, 6]


def test_unterminated_valid_tail_line_is_reterminated(spark, tmp_path):
    """A kill between the JSON bytes and the '\\n' of a metrics append
    leaves a VALID but unterminated tail line; the next run must
    re-terminate it when keeping it, or its first append concatenates onto
    it and silently corrupts two records."""
    import os

    ckdir = str(tmp_path / "ck")
    df = edge_df(spark, random_graph(20, 50, seed=5))
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(df, tol=0.0, max_iter=4, runner=runner)
    mpath = os.path.join(ckdir, "pagerank", "metrics.jsonl")
    with open(mpath) as f:
        lines = f.readlines()
    with open(mpath, "w") as f:
        f.writelines(lines[:-1])
        f.write(lines[-1].rstrip("\n"))  # valid JSON, missing its newline
    _res, iters = pagerank(df, tol=0.0, max_iter=6, runner=runner, resume=True)
    assert iters == 6
    with open(mpath) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    assert [r["iter"] for r in recs] == [1, 2, 3, 4, 5, 6]


def test_foreign_manifest_file_is_skipped(spark, tmp_path):
    """A stray ``manifest_x.json`` in the checkpoint dir is not a manifest:
    fresh runs and resumes skip it instead of failing to parse its stem,
    and it is left in place."""
    import os

    ckdir = str(tmp_path / "ck")
    df = edge_df(spark, random_graph(20, 50, seed=7))
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(df, tol=0.0, max_iter=4, runner=runner)
    foreign = os.path.join(ckdir, "pagerank", "manifest_x.json")
    with open(foreign, "w") as f:
        f.write("{}")
    assert runner.latest_checkpoint("pagerank")[0] == 4
    _res, iters = pagerank(df, tol=0.0, max_iter=6, runner=runner, resume=True)
    assert iters == 6
    _res, iters = pagerank(df, tol=0.0, max_iter=2, runner=runner)  # fresh
    assert iters == 2 and runner.latest_checkpoint("pagerank")[0] == 2
    assert os.path.exists(foreign)


def test_empty_resume_keeps_prior_checkpoints(spark, tmp_path):
    """pagerank(empty, resume=True) must refuse rather than run the fresh
    0-superstep run that deletes the previous run's checkpoints: an
    upstream filter gone empty must not destroy recoverable state."""
    ckdir = str(tmp_path / "ck")
    graph_a = edge_df(spark, random_graph(30, 90, seed=11))
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(graph_a, tol=0.0, max_iter=6, runner=runner)  # ckpts ..6
    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="resume=True"):
        pagerank(empty, runner=runner, resume=True)
    it, _state = runner.latest_checkpoint("pagerank")
    assert it == 6
    _res, iters = pagerank(graph_a, tol=0.0, max_iter=8, runner=runner, resume=True)
    assert iters == 8


def test_empty_graph_degenerates_gracefully(spark):
    """Empty edge tables: PR returns an empty typed ranking (no 1/0), LPA
    converges at iteration 1 instead of running max_iter supersteps."""
    empty = spark.createDataFrame([], "src long, dst long")
    df, iters = pagerank(empty)
    assert df.count() == 0 and iters == 0
    assert [f.name for f in df.schema.fields] == ["id", "rank"]
    res, iters = label_propagation(empty, max_iter=20)
    assert res.count() == 0 and iters == 1


def test_empty_graph_run_still_clears_stale_runner_state(spark, tmp_path):
    """pagerank(empty) must not BYPASS the runner: a caller-supplied runner
    still needs its begin-of-run hygiene (metrics reset + stale checkpoint
    deletion), or the previous run's state stays silently resumable
    (round-5 review finding on the early-return path)."""
    import os

    ckdir = str(tmp_path / "ck")
    graph_a = edge_df(spark, random_graph(30, 90, seed=11))
    runner = SuperstepRunner(spark, checkpoint_dir=ckdir, checkpoint_every=2)
    pagerank(graph_a, tol=0.0, max_iter=6, runner=runner)  # ckpts ..6
    assert runner.latest_checkpoint("pagerank") is not None
    empty = spark.createDataFrame([], "src long, dst long")
    df, iters = pagerank(empty, runner=runner)
    assert df.count() == 0 and iters == 0
    assert runner.metrics == []  # not graph A's 6 iterations
    # graph A's checkpoints are gone: nothing to resume from
    assert runner.latest_checkpoint("pagerank") is None
    with open(os.path.join(ckdir, "pagerank", "metrics.jsonl")) as f:
        assert [ln for ln in f if ln.strip()] == []
