"""PageRank (operators.graph) — verified against a dense NumPy
power-iteration reference on the same graph."""

from __future__ import annotations

import numpy as np
import pytest

from sap_data_pipeline_spark.operators.graph import pagerank


def numpy_pagerank(edges, *, damping=0.85, iterations=3):
    """Dense reference: same semantics (distinct edges, uniform init,
    dangling mass redistributed uniformly each step)."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    m = np.zeros((n, n))
    for u, v in edges:
        m[idx[v], idx[u]] += 1.0
    outdeg = m.sum(axis=0)
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = pr[outdeg == 0].sum()
        contrib = m @ np.divide(
            pr, outdeg, out=np.zeros(n), where=outdeg > 0
        )
        pr = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return {v: pr[idx[v]] for v in nodes}


def run(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["node"]: r["pr"] for r in pagerank(df, **kw).collect()}


def test_matches_numpy_reference(spark):
    # many-to-many core + a sink (4) + a self-loop (3,3) + dup edge
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 4), (3, 3), (3, 4), (0, 1)]
    got = run(spark, edges, iterations=4)
    want = numpy_pagerank(edges, iterations=4)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_ranks_sum_to_one_with_dangling(spark):
    # node 9 is a pure sink: its mass must be redistributed, not lost
    edges = [(1, 2), (2, 3), (3, 1), (1, 9), (2, 9)]
    got = run(spark, edges, iterations=5)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got[9] > (1 - 0.85) / len(got)  # sink still accrues rank


def test_uniform_on_cycle(spark):
    # a pure cycle is symmetric: every node keeps exactly 1/n
    n = 6
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = run(spark, edges, iterations=3)
    for v, pr in got.items():
        assert pr == pytest.approx(1.0 / n, abs=1e-12)


def test_authority_ordering(spark):
    # everyone links to 0; 0 links out to 1 — 0 must outrank the rest
    edges = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    got = run(spark, edges, iterations=3)
    assert got[0] == max(got.values())
    assert got[1] > got[2]  # 1 gets 0's entire out-mass


def test_empty_edge_frame_yields_empty_ranks(spark):
    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank(df, iterations=3)
    assert out.columns == ["node", "pr"]
    assert out.count() == 0


@pytest.mark.parametrize("use_dir", [False, True])
def test_returned_frame_survives_internal_unpersist(spark, tmp_path, use_dir):
    """Persistence contract (graph.py): pagerank unpersists its internal
    `e`/`nodes` frames on exit — the returned frame must stay consumable
    and CORRECT afterwards, including after every cached/persisted block
    in the session is dropped and the plan re-evaluates from scratch.
    Pinned under both localCheckpoint (checkpoint_dir=None) and reliable
    checkpoint modes."""
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 4), (3, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    kw = {"checkpoint_dir": str(tmp_path / "ck")} if use_dir else {}
    ranks = pagerank(df, iterations=3, **kw)

    want = numpy_pagerank(edges, iterations=3)
    first = {r["node"]: r["pr"] for r in ranks.collect()}

    # drop every SQL-cached block, force JVM GC, then re-consume: the
    # frame must re-evaluate (from checkpoint data or lineage) without
    # touching the now-unpersisted internals
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    second = {r["node"]: r["pr"] for r in ranks.collect()}

    assert first == second
    for v in want:
        assert second[v] == pytest.approx(want[v], abs=1e-12)


@pytest.mark.parametrize("use_dir", [False, True])
def test_tree_root_depth_forest_and_roots(spark, tmp_path, use_dir):
    """A two-tree forest: every node resolves to ITS root with the
    right depth; a self-loop counts as a root declaration.  Pinned under
    both localCheckpoint and reliable checkpoint modes."""
    from sap_data_pipeline_spark.operators.graph import tree_root_depth

    edges = [(1, 0), (2, 0), (3, 1), (4, 3),     # tree rooted at 0
             (11, 10), (12, 11),                  # tree rooted at 10
             (20, 20)]                            # isolated root self-loop
    df = spark.createDataFrame(edges, "child long, parent long")
    kw = {"checkpoint_dir": str(tmp_path / "ck")} if use_dir else {}
    got = {r["node"]: (r["root"], r["depth"])
           for r in tree_root_depth(df, **kw).collect()}
    assert got[0] == (0, 0) and got[4] == (0, 3) and got[3] == (0, 2)
    assert got[10] == (10, 0) and got[12] == (10, 2)
    assert got[20] == (20, 0)


def test_tree_root_depth_cycle_raises(spark):
    """A cycle (bad data) must raise, not spin."""
    from sap_data_pipeline_spark.operators.graph import tree_root_depth

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "child long, parent long")
    with pytest.raises(RuntimeError, match="cycle"):
        tree_root_depth(df, max_iter=6)


def test_tree_root_depth_log_rounds(spark):
    """A 200-deep chain converges inside a log-bounded round budget —
    the pointer-doubling pin (level-at-a-time recursion would need 200
    rounds and trip the budget)."""
    import math

    from sap_data_pipeline_spark.operators.graph import tree_root_depth

    n = 200
    df = spark.createDataFrame([(i, i - 1) for i in range(1, n + 1)],
                               "child long, parent long")
    budget = math.ceil(math.log2(n)) + 4  # 12
    got = {r["node"]: r["depth"]
           for r in tree_root_depth(df, max_iter=budget).collect()}
    assert got[n] == n and got[0] == 0


# ---------------------------------------------------------------------------
# label_propagation (r7)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("use_dir", [False, True])
def test_label_propagation_two_triangles(spark, tmp_path, use_dir):
    """Hand-traced sync LPA with min-label ties: two triangles joined
    by one bridge settle into their own communities (min labels 0 and
    10 after 4 rounds — the bridge keeps the triangles from merging
    because in-triangle labels always outvote the single cross edge).
    Pinned under both localCheckpoint and reliable checkpoint modes."""
    from sap_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)],
        "src long, dst long",
    )
    kw = {"checkpoint_dir": str(tmp_path / "ck")} if use_dir else {}
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, iterations=4, **kw).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}

    again = {r["node"]: r["community"]
             for r in label_propagation(edges, iterations=4, **kw).collect()}
    assert got == again  # deterministic re-run


def test_label_propagation_string_hosts(spark):
    """The advertised use case: string hostnames as node ids.  Unary
    minus on a string implicitly casts to NULL, so the numeric
    struct-max tie-break would silently freeze every node at its own
    label (all-singleton communities); the type-agnostic window path
    must find the same two triangle communities as the numeric test,
    ties toward the lexicographically smallest hostname."""
    from sap_data_pipeline_spark.operators.graph import label_propagation

    name = {0: "a.example", 1: "b.example", 2: "c.example",
            10: "x.example", 11: "y.example", 12: "z.example"}
    edges = spark.createDataFrame(
        [(name[s], name[d])
         for s, d in [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12),
                      (10, 12), (2, 10)]],
        "src string, dst string",
    )
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, iterations=4).collect()}
    assert got == {name[n]: name[c] for n, c in
                   {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}.items()}


def test_label_propagation_drops_self_loops_and_directions(spark):
    """Self-loops carry no community information (dropped, and a
    self-loop-only node does not appear at all); edge direction is
    ignored (symmetrized), duplicate edges collapse."""
    from sap_data_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2)], "src long, dst long"
    )
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, iterations=2).collect()}
    assert got == {1: 1, 2: 1}


def test_pagerank_checkpoint_every_zero_same_ranks(spark):
    """checkpoint_every=0 (one-shot lazy plan) must agree with the
    per-round-checkpoint default to 6 dp — double summation order over
    shuffles is the only divergence allowed."""
    from sap_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3), (4, 0)],
        "src long, dst long",
    )
    a = {r["node"]: round(r["pr"], 6)
         for r in pagerank(edges, iterations=4).collect()}
    b = {r["node"]: round(r["pr"], 6)
         for r in pagerank(edges, iterations=4, checkpoint_every=0).collect()}
    assert a == b


def test_triangle_counts_k4_plus_pendant(spark):
    """Hand-computed: K4 (every node deg 3, 3 triangles, clustering 1)
    plus a pendant hung off node 0 (deg 4, still 3 triangles,
    clustering 0.5; the pendant itself deg 1, clustering 0).  Edge
    direction/duplicates/self-loops must not change anything."""
    from sap_data_pipeline_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(0, 5), (5, 0), (2, 1), (3, 3)], "src long, dst long"
    )
    got = {r["node"]: (r["degree"], r["triangles"], r["clustering"])
           for r in triangle_counts(edges).collect()}
    assert got[1] == (3, 3, 1.0) and got[2] == (3, 3, 1.0)
    assert got[3] == (3, 3, 1.0)
    assert got[0] == (4, 3, 0.5)
    assert got[5] == (1, 0, 0.0)
    assert sum(t for _, t, _ in got.values()) == 3 * 4  # 4 triangles x 3 nodes


def test_triangle_counts_degree_orientation_same_output(spark):
    """orient='degree' (√|E|-bounded wedge fan-out for power-law
    graphs) must produce EXACTLY the id-oriented output — orientation
    is a cost knob, never a semantics change.  Star-plus-ring shape so
    the two orientations genuinely differ."""
    import random

    from sap_data_pipeline_spark.operators.graph import triangle_counts

    rng = random.Random(3)
    hub_edges = [(99, i) for i in range(30)]  # high-id hub (id-orient sends ALL its edges out)
    ring = [(i, (i + 1) % 30) for i in range(30)]
    extra = [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
    edges = spark.createDataFrame(
        hub_edges + ring + [e for e in extra if e[0] != e[1]],
        "src long, dst long",
    )
    a = sorted(map(tuple, triangle_counts(edges, orient="id").collect()))
    b = sorted(map(tuple, triangle_counts(edges, orient="degree").collect()))
    assert a == b and len(a) == 31
