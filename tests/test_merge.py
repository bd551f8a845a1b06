"""MERGE upsert contract tests (reference common/loader.py:41-153):
matched ⇒ update all non-key columns, unmatched ⇒ insert, idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from sap_data_pipeline_spark.operators.merge import ParquetMergeTable, merge_upsert_frames


def test_merge_frames_update_and_insert(spark):
    target = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], "k string, d int, v double"
    )
    source = spark.createDataFrame(
        [("b", 1, 99.0), ("c", 1, 30.0)], "k string, d int, v double"
    )
    out = merge_upsert_frames(target, source, ["k", "d"])
    rows = {(r["k"], r["d"]): r["v"] for r in out.collect()}
    assert rows == {("a", 1): 10.0, ("b", 1): 99.0, ("c", 1): 30.0}


def test_parquet_merge_table_lifecycle(spark, tmp_path):
    path = str(tmp_path / "fact")
    t = ParquetMergeTable(spark, path, keys=["k"])

    first = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    audit = t.merge(first)
    assert audit["rows_before"] == 0 and audit["rows_after"] == 2

    second = spark.createDataFrame([("b", 5.0), ("c", 3.0)], "k string, v double")
    audit = t.merge(second)
    assert audit["rows_after"] == 3
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {"a": 1.0, "b": 5.0, "c": 3.0}

    # idempotency: replaying the same batch changes nothing
    audit = t.merge(second)
    assert audit["rows_after"] == 3
    assert {r["k"]: r["v"] for r in t.read().collect()} == rows


def test_merge_source_dedup_keep_last(spark, tmp_path):
    path = str(tmp_path / "fact2")
    t = ParquetMergeTable(spark, path, keys=["k"])
    batch = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 9.0, 2)], "k string, v double, seq int"
    )
    t.merge(batch, order_by=[F.col("seq")])
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {"a": 9.0}


def test_update_from(spark, tmp_path):
    path = str(tmp_path / "fact3")
    t = ParquetMergeTable(spark, path, keys=["k"])
    t.merge(spark.createDataFrame([("a", 1.0, None), ("b", 2.0, None)],
                                  "k string, v double, mch string"))
    dim = spark.createDataFrame([("a", "M1")], "k string, mch string")
    t.update_from(dim, set_cols=["mch"])
    rows = {r["k"]: r["mch"] for r in t.read().collect()}
    assert rows == {"a": "M1", "b": None}


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """A batch touching one Date partition must leave every other
    partition's files physically untouched (the 100 TB contract: daily
    MERGE cost scales with the batch, not the table)."""
    import os
    from pathlib import Path

    from sap_data_pipeline_spark.operators.merge import ParquetMergeTable

    path = str(tmp_path / "fact_part")
    table = ParquetMergeTable(
        spark, path, keys=["Article", "Date"], partition_by=["Date"],
        retry_delay_s=0.0,
    )
    base = spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 2.0),
         ("A", "2024-01-02", 3.0), ("C", "2024-01-03", 4.0)],
        "Article string, Date string, Qty double",
    )
    table.merge(base)

    def files_in(p):
        return {
            str(f): os.stat(f).st_mtime_ns
            for f in Path(p).rglob("*.parquet")
        }

    untouched_before = {k: v for k, v in files_in(path).items()
                        if "Date=2024-01-02" not in k and "Date=2024-01-01" in k
                        or "Date=2024-01-03" in k}

    # batch updates A@01-02 and inserts D@01-02: only that partition moves
    batch = spark.createDataFrame(
        [("A", "2024-01-02", 30.0), ("D", "2024-01-02", 5.0)],
        "Article string, Date string, Qty double",
    )
    audit = table.merge(batch)
    assert audit["rows_before"] == 4 and audit["rows_after"] == 5

    after = files_in(path)
    for f, mtime in untouched_before.items():
        assert f in after and after[f] == mtime, f"partition file rewritten: {f}"

    rows = {(r["Article"], str(r["Date"])): r["Qty"] for r in table.read().collect()}
    assert rows[("A", "2024-01-02")] == 30.0   # matched key updated
    assert rows[("D", "2024-01-02")] == 5.0    # new key inserted
    assert rows[("A", "2024-01-01")] == 1.0    # untouched partition intact
    assert rows[("C", "2024-01-03")] == 4.0

    # idempotent replay
    audit2 = table.merge(batch)
    assert audit2["rows_after"] == 5


def test_merge_null_keys_idempotent(spark, tmp_path):
    """NULL merge keys must match null-safely: replaying a batch with a
    NULL-keyed row replaces it instead of inserting a duplicate."""
    path = str(tmp_path / "fact_nullkey")
    t = ParquetMergeTable(spark, path, keys=["k"], retry_delay_s=0.0)
    batch = spark.createDataFrame([("a", 1.0), (None, 7.0)], "k string, v double")
    t.merge(batch)
    audit = t.merge(batch)  # replay
    assert audit["rows_after"] == 2, "NULL-keyed row duplicated on replay"
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {"a": 1.0, None: 7.0}

    # and the NULL-keyed row is updatable like any other key
    t.merge(spark.createDataFrame([(None, 9.0)], "k string, v double"))
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1.0, None: 9.0}


def test_partitioned_merge_empty_source_noop(spark, tmp_path):
    """An all-filtered file or empty streaming micro-batch must no-op,
    not crash building the partition predicate."""
    path = str(tmp_path / "fact_empty")
    t = ParquetMergeTable(
        spark, path, keys=["k", "d"], partition_by=["d"], retry_delay_s=0.0
    )
    base = spark.createDataFrame([("a", "2024-01-01", 1.0)], "k string, d string, v double")
    t.merge(base)
    empty = base.filter(F.lit(False))
    audit = t.merge(empty)
    assert audit == {"op": "merge", "rows_before": 1, "rows_after": 1,
                     "inserted": 0, "empty_source": True}
    assert t.read().count() == 1


def test_export_excel_row_guard(spark, tmp_path):
    """Excel export is driver-side (stdlib codec) with a hard row cap —
    a fact-table-sized frame must be refused, never collected."""
    import pytest

    from sap_data_pipeline_spark.sources.readers import read_dim_table
    from sap_data_pipeline_spark.sources.sinks import export_excel

    df = spark.range(3).toDF("x")
    target = str(tmp_path / "out.xlsx")
    assert export_excel(df, target) == 3
    assert read_dim_table(spark, target).count() == 3

    with pytest.raises(ValueError, match="export_csv"):
        export_excel(spark.range(10).toDF("x"), target, max_rows=5)


def test_compact_parquet_table(spark, tmp_path):
    """Many small files bin-pack into few; values survive; re-run no-ops."""
    from sap_data_pipeline_spark.sources.sinks import compact_parquet_table

    path = str(tmp_path / "smallfiles")
    # 16 appends of 16 partitions each -> hundreds of tiny files
    for i in range(16):
        spark.range(i * 100, (i + 1) * 100).repartition(16).write.mode("append").parquet(path)
    want = sorted(r["id"] for r in spark.read.parquet(path).collect())

    before, after = compact_parquet_table(spark, path, target_file_bytes=1 << 20)
    assert before > 100 and after <= 4
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == want

    b2, a2 = compact_parquet_table(spark, path, target_file_bytes=1 << 20)
    assert (b2, a2) == (after, after)  # already compact -> no rewrite


def test_write_clustered_file_pruning(spark, tmp_path):
    """Clustered layout: each file covers a narrow id range, so footer
    min/max stats are selective for range predicates."""
    import pyarrow.parquet as pq

    from sap_data_pipeline_spark.sources.sinks import write_clustered

    df = spark.range(100_000).toDF("id").withColumn(
        "payload", F.col("id").cast("string")
    ).repartition(8)  # scatter ids across partitions first
    path = str(tmp_path / "clustered")
    n = write_clustered(df, path, cluster_by=["id"])
    assert n == 100_000

    import os as _os
    files = [
        _os.path.join(path, f) for f in _os.listdir(path) if f.endswith(".parquet")
    ]
    assert len(files) > 1
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        mins = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        maxs = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        spans.append((mins, maxs))
    spans.sort()
    # narrow, non-overlapping ranges: total span per file ~ N/files, and
    # each file's range must not cover the whole table
    for lo, hi in spans:
        assert hi - lo < 100_000 / len(files) * 1.5
    for (_, hi), (lo2, _) in zip(spans, spans[1:]):
        assert hi <= lo2  # disjoint


def test_delete_keys_unpartitioned(spark, tmp_path):
    from sap_data_pipeline_spark.operators.merge import ParquetMergeTable

    path = str(tmp_path / "fact_del")
    t = ParquetMergeTable(spark, path, keys=["k"], retry_delay_s=0.0)
    t.merge(spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "k string, v double"))
    audit = t.delete_keys(spark.createDataFrame([("b",), ("zz",)], "k string"))
    assert audit["deleted"] == 1 and audit["rows_after"] == 2
    assert {r["k"] for r in t.read().collect()} == {"a", "c"}
    # replay: same forget list matches nothing
    audit2 = t.delete_keys(spark.createDataFrame([("b",)], "k string"))
    assert audit2["deleted"] == 0 and audit2["rows_after"] == 2


def test_delete_keys_partitioned_prunes_and_drops_emptied(spark, tmp_path):
    """Partitioned forget-list DELETE: untouched partitions stay
    byte-identical; a partition whose rows are ALL deleted disappears
    from the table (dynamic overwrite can't express an empty one)."""
    import os
    from pathlib import Path

    from sap_data_pipeline_spark.operators.merge import ParquetMergeTable

    path = str(tmp_path / "fact_del_part")
    t = ParquetMergeTable(
        spark, path, keys=["Article", "Date"], partition_by=["Date"],
        retry_delay_s=0.0,
    )
    t.merge(spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 2.0),
         ("C", "2024-01-02", 3.0), ("D", "2024-01-03", 4.0)],
        "Article string, Date string, Qty double",
    ))

    def files_in(p):
        return {str(f): os.stat(f).st_mtime_ns
                for f in Path(p).rglob("*.parquet")}

    day3_before = {k: v for k, v in files_in(path).items()
                   if "Date=2024-01-03" in k}
    assert day3_before

    # delete B@01-01 (partition keeps A) and C@01-02 (partition empties)
    forget = spark.createDataFrame(
        [("B", "2024-01-01"), ("C", "2024-01-02")],
        "Article string, Date string",
    )
    audit = t.delete_keys(forget)
    assert audit["deleted"] == 2 and audit["rows_after"] == 2

    rows = {(r["Article"], str(r["Date"])) for r in t.read().collect()}
    assert rows == {("A", "2024-01-01"), ("D", "2024-01-03")}
    # emptied partition directory is gone
    assert not (Path(path) / "Date=2024-01-02").exists()
    # untouched partition files byte-identical
    after = files_in(path)
    for f, mtime in day3_before.items():
        assert f in after and after[f] == mtime

    # no-match replay is a no-op audit
    audit2 = t.delete_keys(forget)
    assert audit2.get("empty_match") and audit2["rows_after"] == 2


def test_merge_and_delete_span_450_partitions(spark, tmp_path):
    """A backfill touching 450 new Date partitions: MERGE and then DELETE
    of keys across all of them succeed with the right row counts, and the
    files of untouched partitions keep their mtime.  A left-deep OR chain
    with one term per partition overflows the JVM stack at this size, and
    the all-new partitions leave the observed target branch empty."""
    import datetime as dt
    import os
    from pathlib import Path

    path = str(tmp_path / "fact_backfill")
    t = ParquetMergeTable(
        spark, path, keys=["Article", "Date"], partition_by=["Date"],
        retry_delay_s=0.0,
    )
    schema = "Article string, Date date, Qty double"
    t.merge(spark.createDataFrame(
        [("A", dt.date(2020, 1, d), 1.0) for d in (1, 2, 3)], schema))

    def files_in(p):
        return {str(f): os.stat(f).st_mtime_ns
                for f in Path(p).rglob("*.parquet")}

    untouched = files_in(path)
    assert untouched
    days = [dt.date(2021, 1, 1) + dt.timedelta(days=i) for i in range(450)]
    audit = t.merge(spark.createDataFrame(
        [(a, d, 2.0) for d in days for a in ("A", "B")], schema))
    assert audit["rows_before"] == 3 and audit["rows_after"] == 903
    assert t.read().count() == 903

    audit = t.delete_keys(spark.createDataFrame(
        [("A", d) for d in days], "Article string, Date date"))
    assert audit["deleted"] == 450 and audit["rows_after"] == 453
    rows = t.read().groupBy("Article").count().collect()
    assert {r["Article"]: r["count"] for r in rows} == {"A": 3, "B": 450}
    # emptying every touched partition: nothing is left to write
    audit = t.delete_keys(spark.createDataFrame(
        [("B", d) for d in days], "Article string, Date date"))
    assert audit["deleted"] == 450 and audit["rows_after"] == 3
    assert t.read().count() == 3

    after = files_in(path)
    for f, mtime in untouched.items():
        assert f in after and after[f] == mtime, f"partition file rewritten: {f}"


def test_partition_predicate_null_safe_one_and_many_columns(spark):
    """The touched-partition filter matches NULL partition values
    null-safely, for one column (isin + isNull) and for several
    (balanced OR of conjunctions)."""
    from sap_data_pipeline_spark.operators.merge import _partition_predicate

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "x"), (3, None), (None, None)],
        "a int, b string",
    )

    def hits(cols, values):
        return {tuple(r) for r in df.filter(_partition_predicate(cols, values))
                .collect()}

    assert hits(["a"], [(1,), (None,)]) == {(1, "x"), (None, "x"), (None, None)}
    assert hits(["a"], [(2,)]) == {(2, "y")}
    assert hits(["a"], [(None,)]) == {(None, "x"), (None, None)}
    assert hits(["a", "b"], [(1, "x"), (3, None), (None, "x")]) == {
        (1, "x"), (3, None), (None, "x")}


def test_write_zordered_narrows_both_columns(spark, tmp_path):
    """Z-order vs single-axis clustering on (x, y): the z-ordered layout
    must make per-file min/max spans narrow on BOTH columns, while
    single-axis clustering leaves the second column's spans ~global
    (its footer stats prune nothing)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from sap_data_pipeline_spark.sources.sinks import write_clustered, write_zordered

    # 64x64 grid, shuffled arrival order
    rows = [((i * 37) % 64, (i * 53) % 64, float(i)) for i in range(4096)]
    df = spark.createDataFrame(rows, "x int, y int, v double").repartition(8)

    zpath, cpath = str(tmp_path / "zord"), str(tmp_path / "clus")
    write_zordered(df, zpath, zorder_by=["x", "y"], bits=6, n_files=16)
    write_clustered(df.repartition(16), cpath, cluster_by=["x"])

    def spans(path, col):
        out = []
        for f in Path(path).rglob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            ci = names.index(col)
            stats = [md.row_group(i).column(ci).statistics
                     for i in range(md.num_row_groups)]
            out.append(max(s.max for s in stats) - min(s.min for s in stats))
        return sum(out) / len(out)

    z_x, z_y = spans(zpath, "x"), spans(zpath, "y")
    c_y = spans(cpath, "y")
    # both axes narrow under z-order (16 files over a 64x64 grid ->
    # file hypercubes ~16x16; allow generous slack for bin fuzz)
    assert z_x <= 40 and z_y <= 40, (z_x, z_y)
    # single-axis clustering leaves y unpruned
    assert c_y >= 55, c_y
    assert z_y < c_y


def test_write_zordered_rejects_bad_args(spark, tmp_path):
    import pytest

    from sap_data_pipeline_spark.sources.sinks import write_zordered

    df = spark.createDataFrame([(1, 2)], "x int, y int")
    with pytest.raises(ValueError):
        write_zordered(df, str(tmp_path / "z1"), zorder_by=["x"])
    with pytest.raises(ValueError):
        write_zordered(df, str(tmp_path / "z2"), zorder_by=["x", "y"], bits=32)


def test_scd2_versions_close_and_open(spark):
    from sap_data_pipeline_spark.operators.merge import scd2_apply

    b1 = spark.createDataFrame(
        [(1, "GOLD", "2024-01-01"), (2, "SILVER", "2024-01-01")],
        "k long, tier string, eff string",
    )
    h1 = scd2_apply(None, b1, keys=["k"], tracked=["tier"], effective="eff")
    assert {(r["k"], r["tier"], r["valid_from"], r["valid_to"])
            for r in h1.collect()} == {
        (1, "GOLD", "2024-01-01", None), (2, "SILVER", "2024-01-01", None)}

    # batch 2: key 1 changes tier, key 2 unchanged, key 3 brand-new
    b2 = spark.createDataFrame(
        [(1, "PLAT", "2024-02-01"), (2, "SILVER", "2024-02-01"),
         (3, "GOLD", "2024-02-01")],
        "k long, tier string, eff string",
    )
    h2 = scd2_apply(h1, b2, keys=["k"], tracked=["tier"], effective="eff")
    got = {(r["k"], r["tier"], r["valid_from"], r["valid_to"])
           for r in h2.collect()}
    assert got == {
        (1, "GOLD", "2024-01-01", "2024-02-01"),   # closed
        (1, "PLAT", "2024-02-01", None),           # new version
        (2, "SILVER", "2024-01-01", None),         # untouched
        (3, "GOLD", "2024-02-01", None),           # brand-new key
    }

    # idempotent replay: same batch again changes nothing
    h3 = scd2_apply(h2, b2, keys=["k"], tracked=["tier"], effective="eff")
    assert {(r["k"], r["tier"], r["valid_from"], r["valid_to"])
            for r in h3.collect()} == got

    # a third change closes only the current version, never reopens v1
    b3 = spark.createDataFrame([(1, "IRON", "2024-03-01")],
                               "k long, tier string, eff string")
    h4 = scd2_apply(h3, b3, keys=["k"], tracked=["tier"], effective="eff")
    v1 = [r for r in h4.collect() if r["k"] == 1]
    assert {(r["tier"], r["valid_to"]) for r in v1} == {
        ("GOLD", "2024-02-01"), ("PLAT", "2024-03-01"), ("IRON", None)}


def test_scd2_null_safe_tracking(spark):
    """NULL -> value and value -> NULL both count as changes; NULL ->
    NULL does not (eqNullSafe semantics)."""
    from sap_data_pipeline_spark.operators.merge import scd2_apply

    b1 = spark.createDataFrame([(1, None, "d1"), (2, None, "d1")],
                               "k long, v string, eff string")
    h1 = scd2_apply(None, b1, keys=["k"], tracked=["v"], effective="eff")
    b2 = spark.createDataFrame([(1, "x", "d2"), (2, None, "d2")],
                               "k long, v string, eff string")
    h2 = scd2_apply(h1, b2, keys=["k"], tracked=["v"], effective="eff")
    rows = {(r["k"], r["v"], r["valid_to"]) for r in h2.collect()}
    assert rows == {(1, None, "d2"), (1, "x", None), (2, None, None)}


def test_sync_snapshot_partitioned_shares_unchanged_partitions(spark, tmp_path):
    """Tri-clause MERGE (snapshot sync): after the call the table equals
    the source exactly — updates applied, missing keys DELETED — while
    partitions whose content didn't change keep byte-identical files,
    and replaying the same source rewrites NOTHING."""
    import os

    from sap_data_pipeline_spark.operators.merge import ParquetMergeTable

    def digest(root):
        out = {}
        for dp, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    part = [x for x in dp.split(os.sep) if x.startswith("Region=")]
                    with open(os.path.join(dp, f), "rb") as fh:
                        out.setdefault(part[0] if part else "", []).append(
                            hash(fh.read()))
        return {k: sorted(v) for k, v in out.items()}

    t = ParquetMergeTable(
        spark, str(tmp_path / "dim"), keys=["Article"], partition_by=["Region"]
    )
    t.merge(spark.createDataFrame(
        [(1, "N", 10.0), (2, "N", 20.0), (3, "S", 30.0), (4, "W", 40.0)],
        "Article long, Region string, Price double"))
    base = digest(str(tmp_path / "dim"))

    # source: updates article 1 (N changes), drops article 3 (S empties),
    # leaves W untouched
    src = spark.createDataFrame(
        [(1, "N", 11.0), (2, "N", 20.0), (4, "W", 40.0)],
        "Article long, Region string, Price double")
    a1 = t.sync_snapshot(src)
    assert a1["partitions_rewritten"] == 1      # N only
    assert a1["partitions_dropped"] == 1        # S gone
    assert a1["partitions_unchanged"] == 1      # W untouched
    after = digest(str(tmp_path / "dim"))
    assert after["Region=W"] == base["Region=W"]  # byte-identical
    rows = {(r["Article"], r["Region"], r["Price"]) for r in t.read().collect()}
    assert rows == {(1, "N", 11.0), (2, "N", 20.0), (4, "W", 40.0)}

    # idempotent replay: zero rewrites, bytes untouched everywhere
    a2 = t.sync_snapshot(src)
    assert a2["partitions_rewritten"] == 0 and a2["partitions_dropped"] == 0
    assert digest(str(tmp_path / "dim")) == after


def test_sync_snapshot_unpartitioned_full_replace(spark, tmp_path):
    from sap_data_pipeline_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "d2"), keys=["k"])
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.sync_snapshot(spark.createDataFrame([(2, "B"), (5, "e")], "k long, v string"))
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {(2, "B"), (5, "e")}
