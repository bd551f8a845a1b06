"""Fixpoint-loop scope (operators.fixpoint) as seen through the four
iterative operators: no global checkpoint-dir side effect, and
concurrent invocations in one session stay independent."""

from __future__ import annotations

import pathlib
from concurrent.futures import ThreadPoolExecutor

import pytest

from sap_data_pipeline_spark.operators import dedup as D
from sap_data_pipeline_spark.operators import graph as G


def _run(spark, op, **kw):
    """Run one operator on a small fixed graph; result as a sorted list
    (pagerank's doubles rounded: summation order may differ per run)."""
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 3), (11, 10), (12, 11)], "a long, b long"
    )
    if op == "connected_components":
        ids = spark.createDataFrame([(i,) for i in range(15)], "doc_id long")
        out = D.connected_components(
            ids, edges.toDF("id_a", "id_b"), **kw)
    elif op == "tree_root_depth":
        out = G.tree_root_depth(edges.toDF("child", "parent"), **kw)
    else:
        out = getattr(G, op)(edges.toDF("src", "dst"), **kw)
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in out.collect()
    )


OPS = ["connected_components", "pagerank", "label_propagation", "tree_root_depth"]


@pytest.mark.parametrize("prior", [None, "prior"])
@pytest.mark.parametrize("op", OPS)
def test_checkpoint_dir_restored_after_call(spark, tmp_path, op, prior):
    """A call with ``checkpoint_dir=`` leaves the SparkContext's global
    checkpoint dir exactly as it found it (unset, or a caller's own
    dir), writes its reliable checkpoints, and returns a frame that is
    still readable after the restore."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / prior) if prior else None)
    try:
        before = sc.getCheckpointDir()
        ckdir = tmp_path / "ck"
        got = _run(spark, op, checkpoint_dir=str(ckdir))
        assert sc.getCheckpointDir() == before
        assert any(ckdir.rglob("*")), "no reliable checkpoint written"
        assert got == _run(spark, op)
    finally:
        sc.setCheckpointDir(None)


def test_concurrent_connected_components_in_one_session(spark):
    """Two CC calls running at once in one session (streaming batches
    call CC from the stream thread) each see only their own per-round
    temp views and return their own clusters."""
    key = "spark.sql.shuffle.partitions"
    conf = spark.conf.get(key)

    def chain(offset, n):
        """An n-node path starting at ``offset`` plus two singletons."""
        ids = spark.createDataFrame(
            [(offset + i,) for i in range(n + 2)], "doc_id long")
        pairs = spark.createDataFrame(
            [(offset + i, offset + i + 1) for i in range(n - 1)],
            "id_a long, id_b long")
        return {r["doc_id"]: r["cluster_id"]
                for r in D.connected_components(ids, pairs).collect()}

    def want(offset, n):
        return {offset + i: offset if i < n else offset + i for i in range(n + 2)}

    try:
        with ThreadPoolExecutor(2) as pool:
            got = list(pool.map(chain, [0, 1000], [60, 90], timeout=600))
        assert got == [want(0, 60), want(1000, 90)]
    finally:
        # the per-call shuffle-partition pin is session-wide conf; two
        # interleaved pins may restore each other's value
        spark.conf.set(key, conf)
