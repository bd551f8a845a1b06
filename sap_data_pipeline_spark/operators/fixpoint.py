"""Driver-loop scope shared by the iterative operators.

Spark SQL has no recursive CTE, so ``dedup.connected_components`` and
``graph.pagerank`` / ``label_propagation`` / ``tree_root_depth`` are
driver loops: each round is one parsed ``spark.sql`` statement over temp
views of the previous round's frame.  :class:`Fixpoint` owns what the
loops share; round bodies and convergence tests stay with the operators.

Checkpoint / lineage contract:

* Round frames are checkpointed (:meth:`Fixpoint.ckpt`): an uncut loop
  re-executes round 1 under round N, and a self-join over deep iterative
  lineage trips Spark's attribute disambiguation.  The plan is cut to a
  ``LogicalRDD`` immediately in either mode.
* ``checkpoint_dir=None`` (default) uses ``localCheckpoint``: correct in
  local mode, but executor loss invalidates the blocks and kills the job.
  On a cluster pass a reliable ``checkpoint_dir`` (HDFS/S3 path); rounds
  then go through ``df.checkpoint()`` and survive executor loss.
* ``lazy=True`` leaves materialization to the caller's next full-scan
  action (a count or convergence aggregate), so a round and its probe are
  one job.  Reliable checkpoints stay eager: a lazy one computes the frame
  once for the action and again for the checkpoint write.
* The checkpoint dir is SparkContext-global: the scope sets it on entry
  and restores the previous value on exit (frames checkpointed inside stay
  readable).  With ``checkpoint_dir=None`` it makes no SparkContext call.
* Temp views (:meth:`Fixpoint.view`, thread-safe names) are dropped and
  :meth:`Fixpoint.persist` frames unpersisted on exit; a returned frame
  is checkpointed, so it never reads those caches.
* :meth:`Fixpoint.pinned` pins ``spark.sql.shuffle.partitions``
  (``functions.sizing.shuffle_partitions``) as its own scope, so a result
  can be built outside the pin but inside the checkpoint scope.
"""

from __future__ import annotations

from contextlib import AbstractContextManager

from pyspark.sql import DataFrame, SparkSession

from sap_data_pipeline_spark.functions.sizing import shuffle_partitions
from sap_data_pipeline_spark.utils import temp_view_name


class Fixpoint:
    """Scope of one fixpoint loop (see the module docstring)."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None) -> None:
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self._views: list[str] = []
        self._persisted: list[DataFrame] = []

    def __enter__(self) -> Fixpoint:
        if self.checkpoint_dir is not None:
            self._prev_dir = self.spark.sparkContext.getCheckpointDir()
            self.spark.sparkContext.setCheckpointDir(self.checkpoint_dir)
        return self

    def __exit__(self, *exc: object) -> None:
        for v in self._views:
            try:
                self.spark.catalog.dropTempView(v)
            except Exception:
                pass
        for df in self._persisted:
            df.unpersist()
        if self.checkpoint_dir is not None:
            # setCheckpointDir would mint a fresh sub-dir: restore the
            # exact previous Option (None included) instead
            sc = self.spark.sparkContext
            prev = sc._jvm.scala.Option.apply(self._prev_dir)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(prev)

    def ckpt(self, df: DataFrame, *, lazy: bool = False) -> DataFrame:
        if self.checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=not lazy)

    def view(self, prefix: str) -> str:
        self._views.append(temp_view_name(prefix))
        return self._views[-1]

    def persist(self, df: DataFrame) -> DataFrame:
        self._persisted.append(df.persist())
        return df

    def pinned(self, n: int) -> AbstractContextManager[None]:
        return shuffle_partitions(self.spark, n)
