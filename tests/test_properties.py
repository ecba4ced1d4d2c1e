"""Property-based tests (hypothesis) — the engine's analogue of the
reference's generated-graph sanity checks (lab/test.ipynb cells 8-9 feed
random BA graphs through the entropy functions; SURVEY.md §5).

Each property is checked against an independent numpy/pure-python
computation on randomly drawn small graphs.  deadline=None because Spark
job latency is orders beyond hypothesis' default budget; examples are kept
small and few.
"""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graph_computing_go_spark.functions.distance_complexity import distance_complexity
from graph_computing_go_spark.functions.entropy import structural_entropy
from graph_computing_go_spark.plans import connected_components, pagerank

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def edge_lists(draw, max_n=12, max_m=30):
    n = draw(st.integers(min_value=2, max_value=max_n))
    m = draw(st.integers(min_value=1, max_value=max_m))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 1),
                st.integers(min_value=0, max_value=n - 1),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=m,
            unique=True,
        )
    )
    return edges


def _entropy(degs):
    pos = [d for d in degs if d > 0]
    if not pos:
        return None
    s = sum(pos)
    return -sum((d / s) * math.log2(d / s) for d in pos)


@given(edges=edge_lists())
@SETTINGS
def test_structural_entropy_matches_formula(spark, edges):
    from tests.conftest import edge_df

    row = structural_entropy(edge_df(spark, edges)).collect()[0]
    indeg = Counter(d for _, d in edges)
    want = _entropy(list(indeg.values()))
    assert math.isclose(row["h_in"], want, abs_tol=1e-9)
    # entropy of a degree sequence is bounded by log2(#positive-degree nodes)
    assert row["h_in"] <= math.log2(max(row["n_in"], 1)) + 1e-9


@given(edges=edge_lists())
@SETTINGS
def test_pagerank_is_a_distribution(spark, edges):
    from tests.conftest import edge_df

    ranks, _ = pagerank(edge_df(spark, edges), tol=0.0, max_iter=6)
    vals = [r["rank"] for r in ranks.collect()]
    assert math.isclose(sum(vals), 1.0, abs_tol=1e-9)  # redistribute keeps mass
    assert all(v > 0 for v in vals)


@given(edges=edge_lists())
@SETTINGS
def test_connected_components_invariants(spark, edges):
    from tests.conftest import edge_df

    comps, _ = connected_components(edge_df(spark, edges))
    label = {r["id"]: r["component"] for r in comps.collect()}
    # endpoints of every edge share a component; labels are component minima
    for s, d in edges:
        assert label[s] == label[d]
    for v, c in label.items():
        assert c <= v
        assert label[c] == c  # the representative is its own label


@given(
    wedges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=1, max_value=8),
            st.floats(min_value=0.1, max_value=10.0, allow_nan=False),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
        unique_by=lambda e: (max(e[0], e[1]), min(e[0], e[1])),
    )
)
@SETTINGS
def test_distance_complexity_big_matches_python(spark, wedges):
    from tests.conftest import wedge_df

    row = distance_complexity(wedge_df(spark, wedges)).collect()[0]
    incident: dict[int, list[float]] = {}
    for a, b, w in wedges:
        incident.setdefault(a, []).append(w)
        incident.setdefault(b, []).append(w)
    g = sum(sum(v) for v in incident.values())
    big = 0.0
    for ws in incident.values():
        r = sum(ws)
        h = -sum((w / r) * math.log2(w / r) for w in ws)
        big += h * r / g
    assert math.isclose(row["big"], big, abs_tol=1e-9)


# ---- category-module statistics: multi-category vertices (the copy paths) --

CATS = st.lists(st.sampled_from("abc"), min_size=1, max_size=3)


def _copies(cats: dict, top: int) -> tuple[dict, dict]:
    """(node → module, vertex → its copy ids): a vertex keeps its first
    category and gets one fresh id above ``top`` per further category, in
    (id, position) order."""
    node_cat = {i: c[0] for i, c in cats.items()}
    copies: dict[int, list[int]] = {}
    for i in sorted(cats):
        for c in cats[i][1:]:
            top += 1
            node_cat[top] = c
            copies.setdefault(i, []).append(top)
    return node_cat, copies


def _multilayer_python(cats: dict, edges: list) -> tuple:
    """entropy.go:46-164 over plain lists: shrink to known vertices, fan
    every edge out over the copies on BOTH sides, then in-degree entropies
    per module.  little is None when no module has an intra edge."""
    node_cat, copies = _copies(cats, max(cats))
    e = [
        (s, t)
        for u, v in edges
        if u in cats and v in cats
        for s in [u, *copies.get(u, [])]
        for t in [v, *copies.get(v, [])]
    ]
    if not e:
        return None, None
    m = len(e)
    big = _entropy(list(Counter(t for _, t in e).values()))
    indeg: dict[str, Counter] = {}
    g: Counter = Counter()
    for s, t in e:
        if node_cat[s] == node_cat[t]:
            indeg.setdefault(node_cat[s], Counter())[t] += 1
        else:
            g[node_cat[s]] += 1
    if not indeg:
        return big, None
    little = 0.0
    for j, d in indeg.items():
        vol = sum(d.values())
        little += _entropy(list(d.values())) * vol / m - math.log2(vol / m) * g[j] / m
    return big, little


def _distance_complexity_python(wedges: list, cats: dict) -> tuple:
    """distanceComplexity.go:91-287 over plain lists: copies share only the
    a-side (larger-id) edges of their vertex; big counts every edge, little
    only edges between known nodes.  little is None when no module has an
    intra edge."""
    edges = [(max(a, b), min(a, b), w) for a, b, w in wedges]
    top = max([*cats, *(x for a, b, _ in edges for x in (a, b))])
    node_cat, copies = _copies(cats, top)
    edges += [(c, b, w) for a, b, w in edges for c in copies.get(a, [])]

    def node_entropies(pairs):
        incident: dict = {}
        for key, w in pairs:
            incident.setdefault(key, []).append(w)
        return {
            k: (sum(ws), -sum((w / sum(ws)) * math.log2(w / sum(ws)) for w in ws))
            for k, ws in incident.items()
        }

    per_node = node_entropies((x, w) for a, b, w in edges for x in (a, b))
    g = sum(s for s, _ in per_node.values())
    big = sum(h * s / g for s, h in per_node.values())
    known = [(a, b, w) for a, b, w in edges if a in node_cat and b in node_cat]
    vall = 2 * sum(w for _, _, w in known)
    intra = node_entropies(
        ((node_cat[a], x), w)
        for a, b, w in known
        if node_cat[a] == node_cat[b]
        for x in (a, b)
    )
    if not intra:
        return big, None
    inner: Counter = Counter()
    h_inner: Counter = Counter()
    for (mod, _), (s, h) in intra.items():
        inner[mod] += s
        h_inner[mod] += s * h
    outer: Counter = Counter()
    for a, b, w in known:
        if node_cat[a] != node_cat[b]:
            outer[node_cat[a]] += w
            outer[node_cat[b]] += w
    little = sum(
        h_inner[j] / vall - math.log2(inner[j] / vall) * outer[j] / vall
        for j in inner
    )
    return big, little


def _close(got, want) -> bool:
    if want is None or got is None:
        return got is None and want is None
    return math.isclose(got, want, abs_tol=1e-9)


@st.composite
def category_graphs(draw, max_n=8, max_m=16):
    """Vertices 0..n-1 with 1-3 categories each (repeats allowed); edge
    endpoints range to n+1, so some edges leave the vertex set."""
    n = draw(st.integers(min_value=2, max_value=max_n))
    cats = {i: draw(CATS) for i in range(n)}
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n + 1),
                st.integers(min_value=0, max_value=n + 1),
            ),
            min_size=1,
            max_size=max_m,
        )
    )
    return cats, edges


@given(graph=category_graphs())
@SETTINGS
def test_multilayer_matches_python(spark, graph):
    """Both-side copy fan-out (entropy.go:79-85): multilayer big and little
    against the pure-Python reference."""
    from graph_computing_go_spark.functions import multilayer_structural_entropy
    from tests.conftest import edge_df, vert_df

    cats, edges = graph
    row = multilayer_structural_entropy(
        vert_df(spark, cats), edge_df(spark, edges)
    ).collect()[0]
    big, little = _multilayer_python(cats, edges)
    assert _close(row["big"], big), (row, big)
    assert _close(row["little"], little), (row, little)


@st.composite
def weighted_category_graphs(draw, max_id=9):
    """Canonical weighted edges over ids 1..max_id and 1-3 categories for a
    random subset of ids, some never an endpoint."""
    wedges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=max_id),
                st.integers(min_value=1, max_value=max_id),
                st.floats(min_value=0.1, max_value=10.0, allow_nan=False),
            ).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=15,
            unique_by=lambda e: (max(e[0], e[1]), min(e[0], e[1])),
        )
    )
    ids = draw(
        st.sets(st.integers(min_value=1, max_value=max_id + 2), min_size=1)
    )
    return wedges, {i: draw(CATS) for i in sorted(ids)}


@given(graphs=st.lists(weighted_category_graphs(), min_size=1, max_size=2))
@SETTINGS
def test_distance_complexity_matches_python(spark, graphs):
    """A-side copy edges (distanceComplexity.go:109), grouped: each work
    key's big and little against the pure-Python reference."""
    from pyspark.sql import functions as F

    from tests.conftest import vert_df, wedge_df

    wedges = cats = None
    for k, (w, c) in enumerate(graphs):
        wk = wedge_df(spark, w).select(F.lit(k).alias("k"), "*")
        ck = vert_df(spark, c).select(F.lit(k).alias("k"), "*")
        wedges = wk if wedges is None else wedges.unionByName(wk)
        cats = ck if cats is None else cats.unionByName(ck)
    got = {
        r["k"]: (r["big"], r["little"])
        for r in distance_complexity(wedges, cats, group=["k"]).collect()
    }
    assert set(got) == set(range(len(graphs)))
    for k, (w, c) in enumerate(graphs):
        big, little = _distance_complexity_python(w, c)
        assert _close(got[k][0], big), (k, got[k], big)
        assert _close(got[k][1], little), (k, got[k], little)
