"""Keyed MERGE upsert — the reference system's signature operator.

Reference contract (``common/loader.py:41-153``): ``upsert_batch(df,
target, unique_keys)`` creates the target if missing, stages the batch,
then runs a SQL ``MERGE`` — matched rows UPDATE all non-key columns,
unmatched rows INSERT.  Idempotent: replaying a batch changes nothing.

Spark-native design (Delta unavailable in this env, SURVEY §7.4 fallback):
a ``ParquetMergeTable`` that implements MERGE as

    new_target = source_dedup  UNION ALL  (target ANTI-JOIN source_keys)

i.e. every key present in the source takes the source row (UPDATE-all +
INSERT), everything else keeps the target row — exactly the reference's
matched/not-matched semantics — then an atomic directory swap.

Scale notes:
* The anti-join shuffles on the merge key; with the target partitioned by
  a stable high-level column (e.g. date) and the source covering few
  partitions, ``merge`` prunes untouched partitions and only rewrites the
  affected ones (dynamic partition overwrite) — the same I/O profile as
  Delta's file-level MERGE.
* Source-side duplicate keys would make MERGE nondeterministic; like SQL
  Server's MERGE the reference would error — we dedup keep-last by an
  explicit ordering column when given, else arbitrary (documented).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sap_data_pipeline_spark.operators.relational import dedup_keep_last
from sap_data_pipeline_spark.sources.sinks import write_parquet_atomic


def merge_upsert_frames(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Pure-plan MERGE: source rows win on key, target rows otherwise.

    whenMatchedUpdateAll + whenNotMatchedInsertAll over DataFrames
    (reference MERGE SQL built at ``common/loader.py:60-78``).

    The anti-join uses null-safe key equality (``<=>``) so a NULL-keyed
    source row REPLACES a NULL-keyed target row instead of being
    re-inserted beside it — without this, replaying a batch containing
    NULL keys would grow the table on every replay, breaking the
    idempotency contract.  ``<=>`` is still an equi-join predicate, so
    the join stays hash-partitioned (broadcast/shuffled hash), never a
    cartesian fallback.
    """
    keys = list(keys)
    source = source.select(*target.columns)  # align column order
    t = target.alias("__mt")
    s = source.select(*keys).dropDuplicates(keys).alias("__ms")
    cond = reduce(
        Column.__and__, [F.col(f"__mt.{k}").eqNullSafe(F.col(f"__ms.{k}")) for k in keys]
    )
    keep = t.join(s, cond, "left_anti")
    return keep.unionByName(source)


def _observed_rows(obs: Observation) -> int:
    """An Observation's ``rows``.  AQE prunes an observed branch that
    turns out empty, leaving no metrics (``obs.get`` then fails): 0 rows."""
    row = obs._jo.getRow()
    return row.getLong(0) if row.length() else 0


def _partition_predicate(cols: Sequence[str], values: Sequence[Sequence]) -> Column:
    """Rows whose partition columns equal one of ``values`` (null-safe).

    One column: ``isin`` over the non-null values, OR ``isNull()`` when a
    null is present.  Several columns: the per-partition conjunctions
    combine as a balanced OR tree.  A left-deep OR chain is as deep as the
    partition count and overflows the JVM stack while converting the
    Column (a few hundred ``Date`` partitions — a backfill — is enough).
    """
    if len(cols) == 1:
        col = F.col(cols[0])
        present = [v[0] for v in values if v[0] is not None]
        terms = [col.isin(present)] if present else []
        if len(present) < len(values):
            terms.append(col.isNull())
    else:
        terms = [
            reduce(Column.__and__, [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(cols, vals)])
            for vals in values
        ]
    while len(terms) > 1:
        terms = [reduce(Column.__or__, terms[i:i + 2]) for i in range(0, len(terms), 2)]
    return terms[0]


class ParquetMergeTable:
    """A keyed, upsertable Parquet table (reference SQL-Server table + PK).

    ``merge`` = the loader.py staged-MERGE; ``history`` row-count audits
    mirror its before/after counts (``common/loader.py:104-134``).
    """

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str],
                 partition_by: Sequence[str] | None = None,
                 retries: int = 3, retry_delay_s: float = 5.0) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.partition_by = list(partition_by or [])
        self.history: list[dict] = []
        # write retry policy mirrors upsert_batch (common/loader.py:81,150)
        self.retries = retries
        self.retry_delay_s = retry_delay_s

    # An unpartitioned MERGE rewrites the WHOLE table per batch; above
    # this many existing rows that is an operational smell — facts should
    # pass partition_by (typically the date column) so each batch only
    # rewrites the partitions it touches.
    UNPARTITIONED_WARN_ROWS = 10_000_000

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _warn_if_large_unpartitioned(self, target_rows: int) -> None:
        if target_rows >= self.UNPARTITIONED_WARN_ROWS:
            import warnings

            warnings.warn(
                f"MERGE into unpartitioned table {self.path!r} with "
                f"{target_rows} existing rows rewrites the whole table per "
                "batch; pass partition_by (e.g. the date column) to rewrite "
                "only touched partitions",
                stacklevel=3,
            )

    def merge(self, source: DataFrame, *, order_by: Sequence[Column] | None = None) -> dict:
        """Upsert ``source``; returns the audit record.

        ``order_by``: explicit within-key ordering for source-side dedup
        (keep-last, matching the reference's last-file-wins behavior when
        the same key re-arrives within one batch).
        """
        if order_by is not None:
            source = dedup_keep_last(source, self.keys, order_by)
        else:
            source = source.dropDuplicates(self.keys)

        from sap_data_pipeline_spark.utils import retry_call

        if not self.exists():
            # auto-CREATE TABLE if missing (common/loader.py:85-102)
            before = 0
            merged = source
        elif self.partition_by:
            # Partition-pruned MERGE: only the partitions the source
            # touches are read, merged, and rewritten — a daily batch
            # against a years-deep fact rewrites 1-2 date partitions,
            # not the table.  The touched-partition list is collected
            # driver-side (bounded by partitions-per-batch, not data).
            target = self.read()
            before = target.count()
            pvals = source.select(*self.partition_by).distinct().collect()
            if not pvals:
                # Empty batch (all rows filtered upstream, or an empty
                # streaming micro-batch): MERGE of nothing is a no-op.
                audit = {"op": "merge", "rows_before": before,
                         "rows_after": before, "inserted": 0,
                         "empty_source": True}
                self.history.append(audit)
                return audit
            pred = _partition_predicate(self.partition_by, pvals)

            def _write_pruned() -> tuple[int, int]:
                # Fresh Observations per attempt: an Observation is
                # single-use, and a retried write must re-register its
                # metrics.  rows_after is derived from write-side metrics
                # (before - affected + merged) — no post-write re-read.
                obs_affected, obs_merged = Observation(), Observation()
                affected = target.filter(pred).observe(  # pruned at the scan
                    obs_affected, F.count(F.lit(1)).alias("rows")
                )
                merged = merge_upsert_frames(affected, source, self.keys).observe(
                    obs_merged, F.count(F.lit(1)).alias("rows")
                )
                (
                    merged.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*self.partition_by)
                    .parquet(self.path)
                )
                return _observed_rows(obs_affected), _observed_rows(obs_merged)

            # Dynamic partition overwrite replaces exactly the partitions
            # present in `merged`.  Tradeoff vs the unpartitioned rename
            # swap: atomic per partition, not across partitions; a retry
            # rewrites the same partitions, so replay is idempotent.
            n_affected, n_merged = retry_call(
                _write_pruned, attempts=self.retries, delay_s=self.retry_delay_s
            )
            after = before - n_affected + n_merged
            audit = {"op": "merge", "rows_before": before, "rows_after": after,
                     "inserted": after - before}
            self.history.append(audit)
            return audit
        else:
            target = self.read()
            before = target.count()
            self._warn_if_large_unpartitioned(before)
            merged = merge_upsert_frames(target, source, self.keys)

        after = retry_call(
            lambda: write_parquet_atomic(
                merged, self.path, partition_by=self.partition_by or None
            ),
            attempts=self.retries,
            delay_s=self.retry_delay_s,
        )
        audit = {"op": "merge", "rows_before": before, "rows_after": after,
                 "inserted": after - before}
        self.history.append(audit)
        return audit

    def delete_keys(self, keys_df: DataFrame) -> dict:
        """Forget-list DELETE (reference analog: ``MERGE … WHEN MATCHED
        THEN DELETE`` / ``DELETE FROM t WHERE pk IN (…)``): remove every
        row whose key appears in ``keys_df`` — the GDPR-erasure /
        takedown primitive a corpus store needs as a first-class op.

        Scale shape: the forget list is DISTINCT-ed and broadcast (it is
        human-sized next to the table); with a partitioned table a
        key-probe discovers the touched partitions and ONLY those
        rewrite via dynamic partition overwrite — untouched partition
        files stay byte-identical.  A partition whose rows are ALL
        deleted cannot be expressed through dynamic overwrite (no rows
        to write), so its directory is dropped explicitly.  Replay is
        idempotent: re-deleting the same keys matches nothing and
        no-ops.
        """
        from sap_data_pipeline_spark.utils import retry_call

        target = self.read()
        before = target.count()
        src = F.broadcast(keys_df.select(*self.keys).distinct())
        if self.partition_by:
            touched = [
                tuple(r[c] for c in self.partition_by)
                for r in target.join(src, self.keys, "left_semi")
                .select(*self.partition_by)
                .distinct()
                .collect()  # bounded by the forget list, not the table
            ]
            if not touched:
                audit = {"op": "delete", "rows_before": before,
                         "rows_after": before, "deleted": 0,
                         "empty_match": True}
                self.history.append(audit)
                return audit
            pred = _partition_predicate(self.partition_by, touched)

            # partitions that keep at least one row — resolved BEFORE the
            # overwrite (afterwards the emptied ones are indistinguishable
            # from untouched ones on a re-read, since dynamic overwrite
            # never writes them)
            kept_parts = {
                tuple(r[c] for c in self.partition_by)
                for r in target.filter(pred)
                .join(src, self.keys, "left_anti")
                .select(*self.partition_by)
                .distinct()
                .collect()
            }

            def _write_pruned() -> tuple[int, int]:
                obs_affected, obs_kept = Observation(), Observation()
                affected = target.filter(pred).observe(
                    obs_affected, F.count(F.lit(1)).alias("rows")
                )
                kept = affected.join(src, self.keys, "left_anti").observe(
                    obs_kept, F.count(F.lit(1)).alias("rows")
                )
                (
                    kept.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*self.partition_by)
                    .parquet(self.path)
                )
                return _observed_rows(obs_affected), _observed_rows(obs_kept)

            n_affected, n_kept = retry_call(
                _write_pruned, attempts=self.retries, delay_s=self.retry_delay_s
            )
            # dynamic overwrite only replaces partitions PRESENT in the
            # written frame — a fully-emptied partition must be dropped
            # by path (values here are dates/ints; exotic characters
            # would need Spark's full escapePathName)
            import shutil

            for vals in touched:
                if tuple(vals) not in kept_parts:
                    sub = "/".join(
                        f"{c}={v}" for c, v in zip(self.partition_by, vals)
                    )
                    shutil.rmtree(os.path.join(self.path, sub), ignore_errors=True)
            after = before - (n_affected - n_kept)
            audit = {"op": "delete", "rows_before": before, "rows_after": after,
                     "deleted": n_affected - n_kept}
            self.history.append(audit)
            return audit

        kept = target.join(src, self.keys, "left_anti")
        after = retry_call(
            lambda: write_parquet_atomic(kept, self.path, partition_by=None),
            attempts=self.retries,
            delay_s=self.retry_delay_s,
        )
        audit = {"op": "delete", "rows_before": before, "rows_after": after,
                 "deleted": before - after}
        self.history.append(audit)
        return audit

    def update_from(self, source: DataFrame, set_cols: Sequence[str]) -> dict:
        """Dim-enrichment UPDATE-join (``pipelines/etl_weekly_sales.py:98-106``):
        matched rows get ``set_cols`` from ``source``; no inserts."""
        target = self.read()
        before = target.count()
        src = source.select(*self.keys, *set_cols).dropDuplicates(self.keys)
        renamed = src.select(
            *self.keys, *[F.col(c).alias(f"_new_{c}") for c in set_cols]
        )
        joined = target.join(renamed, self.keys, "left")
        out = joined.select(
            *[
                F.coalesce(F.col(f"_new_{c}"), F.col(c)).alias(c) if c in set_cols else F.col(c)
                for c in target.columns
            ]
        )
        after = write_parquet_atomic(out, self.path, partition_by=self.partition_by or None)
        audit = {"op": "update_from", "rows_before": before, "rows_after": after}
        self.history.append(audit)
        return audit

    def sync_snapshot(self, source: DataFrame) -> dict:
        """Full snapshot sync — the tri-clause MERGE (``WHEN MATCHED
        UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT MATCHED BY SOURCE
        DELETE``): after the call the table's content equals ``source``
        exactly, including deleting keys the source no longer carries —
        the dim-refresh shape where the upstream export IS the truth.

        Scale shape (partitioned table): both sides reduce to one
        content digest per partition (order-insensitive bit_xor of full
        row hashes — the shard-manifest trick); only partitions whose
        digests differ rewrite via dynamic partition overwrite,
        source-only partitions write fresh, target-only partitions drop
        by path, and every identical partition's files stay
        byte-identical on disk.  Replaying the same source is a
        ZERO-rewrite no-op — digest equality short-circuits before any
        write.  Unpartitioned tables atomically full-rewrite (no
        sub-table unit to share).
        """
        import shutil

        source = source.dropDuplicates(self.keys)
        if not self.exists():
            after = write_parquet_atomic(
                source, self.path, partition_by=self.partition_by or None
            )
            audit = {"op": "sync_snapshot", "rows_before": 0, "rows_after": after,
                     "partitions_rewritten": "all"}
            self.history.append(audit)
            return audit
        target = self.read()
        before = target.count()
        if not self.partition_by:
            after = write_parquet_atomic(source, self.path)
            audit = {"op": "sync_snapshot", "rows_before": before,
                     "rows_after": after, "partitions_rewritten": "all"}
            self.history.append(audit)
            return audit

        cols = sorted(target.columns)
        hcol = F.conv(
            F.substring(F.md5(F.to_json(F.struct(*cols))), 1, 15), 16, 10
        ).cast("long")
        tdig = {
            tuple(r[c] for c in self.partition_by): r["_dig"]
            for r in target.withColumn("h", hcol)
            .groupBy(*self.partition_by).agg(F.expr("bit_xor(h)").alias("_dig"))
            .collect()
        }
        sdig = {
            tuple(r[c] for c in self.partition_by): r["_dig"]
            for r in source.withColumn("h", hcol)
            .groupBy(*self.partition_by).agg(F.expr("bit_xor(h)").alias("_dig"))
            .collect()
        }
        changed = sorted(
            p for p in set(tdig) | set(sdig)
            if tdig.get(p) != sdig.get(p) and p in sdig
        )
        dropped = sorted(set(tdig) - set(sdig))
        if changed:
            (
                source.filter(_partition_predicate(self.partition_by, changed))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*self.partition_by)
                .parquet(self.path)
            )
        for p in dropped:
            sub = "/".join(
                f"{c}={v}" for c, v in zip(self.partition_by, p)
            )
            shutil.rmtree(f"{self.path}/{sub}", ignore_errors=True)
        after = self.read().count()
        audit = {
            "op": "sync_snapshot",
            "rows_before": before,
            "rows_after": after,
            "partitions_rewritten": len(changed),
            "partitions_dropped": len(dropped),
            "partitions_unchanged": len(set(tdig) & set(sdig)) - len(changed),
        }
        self.history.append(audit)
        return audit


def scd2_apply(
    history: DataFrame | None,
    updates: DataFrame,
    *,
    keys: Sequence[str],
    tracked: Sequence[str],
    effective: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 merge: versioned dimension
    history with validity ranges, the warehouse pattern for "what did
    this customer's segment look like WHEN the order shipped" (query
    the result with :func:`operators.temporal.asof_join` or a
    ``BETWEEN valid_from AND valid_to`` join).

    Per update batch (``effective`` = that batch's effective-date
    column): current rows (``valid_to IS NULL``) whose ``tracked``
    values differ (null-safely) close at the update's effective date; a
    new open version inserts for every changed or brand-new key;
    unchanged keys and already-closed versions pass through untouched.
    Re-applying the same batch is a no-op (current values then equal
    the update — idempotent replay, same contract as ``merge``).

    Pure frame transform (compose with ``write_parquet_atomic`` /
    ``ParquetMergeTable`` for storage).  Scale shape: one key-keyed
    join of the update batch against CURRENT rows only (closed history
    — the bulk at 10-year depth — is untouched and never shuffles
    when the table is stored partitioned on ``valid_to IS NULL``).
    Batches must apply in effective-date order; out-of-order history
    rewrites need a full rebuild, as in any warehouse.
    """
    upd = updates.select(
        *keys,
        *[F.col(c).alias(f"_u_{c}") for c in tracked],
        F.col(effective).alias("_eff"),
    ).dropDuplicates(list(keys))

    if history is None:
        return upd.select(
            *keys,
            *[F.col(f"_u_{c}").alias(c) for c in tracked],
            F.col("_eff").alias(valid_from_col),
            F.lit(None).cast(upd.schema["_eff"].dataType).alias(valid_to_col),
        )

    closed_history = history.filter(F.col(valid_to_col).isNotNull())
    current = history.filter(F.col(valid_to_col).isNull())
    joined = current.join(upd, list(keys), "left")
    differs = reduce(
        Column.__or__,
        [~F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in tracked],
    )
    unchanged_current = joined.filter(F.col("_eff").isNull() | ~differs).select(
        *history.columns
    )
    closing = joined.filter(F.col("_eff").isNotNull() & differs).select(
        *[F.col(c) for c in keys],
        *[F.col(c) for c in tracked],
        F.col(valid_from_col),
        F.col("_eff").alias(valid_to_col),
    )
    # new versions: changed keys + keys with no current row at all
    changed_keys = joined.filter(F.col("_eff").isNotNull() & differs).select(*keys)
    new_keys = upd.join(current.select(*keys), list(keys), "left_anti").select(*keys)
    opening = upd.join(
        changed_keys.unionByName(new_keys).distinct(), list(keys), "left_semi"
    ).select(
        *keys,
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        F.col("_eff").alias(valid_from_col),
        F.lit(None).cast(upd.schema["_eff"].dataType).alias(valid_to_col),
    )
    return (
        closed_history.select(*history.columns)
        .unionByName(unchanged_current)
        .unionByName(closing.select(*history.columns))
        .unionByName(opening.select(*history.columns))
    )
