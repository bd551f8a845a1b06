"""Data-quality expectations — declarative checks, one pass, long report.

The reference's only quality machinery is operational: before/after
row-count audits (``common/loader.py:17,30``), duplicate counting
(``pipelines/etl_zmmidr_bun.py:63-67``), and max-length profiling
(``pipelines/etl_zrssale.py:66-69``).  This operator generalizes those
into the expectations pattern (dbt tests / Deequ constraints): a config
of named checks evaluated in a SINGLE aggregate pass over the table —
at 100 TB the difference between one scan and one scan *per check*.

Checks are plain ``Column`` aggregate expressions returning a violation
count, so arbitrary constraints compose (row predicates via
:func:`violation`, uniqueness via :func:`duplicate_count`) and
everything stays in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def violation(cond: Column) -> Column:
    """Aggregate counting rows where ``cond`` (the VIOLATION predicate,
    null-safe: null counts as a violation for not-null style checks only
    if the caller writes it so) is true."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


def duplicate_count(cols: Sequence[str]) -> Column:
    """Aggregate counting surplus rows beyond one per distinct key —
    the uniqueness expectation.  Rows with a NULL key column are not
    counted by ``countDistinct``; pair with a not-null check on the
    same columns."""
    return (
        F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in cols])
    ).cast("long")


def quality_report(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Evaluate every check in one aggregate pass; return the long-format
    report ``(check_name, n_violations)``.

    One scan, one (partial-aggregated) reduction to a single row, then a
    driver-free unpivot — the report is check-count-sized regardless of
    table size.
    """
    wide = df.agg(*[expr.alias(name) for name, expr in checks.items()])
    return wide.unpivot([], list(checks), "check_name", "n_violations")


def feature_bucket_counts(df: DataFrame,
                          features: dict[str, Column]) -> DataFrame:
    """Per-(feature, bucket) row counts for every feature in ONE grouped
    aggregate over one scan: the bucket expressions are projected side
    by side, then unpivoted map-side with a ``stack()``, so F features
    cost one shuffle, not F.  NULL buckets become the ``'<null>'``
    sentinel so they survive the downstream join keys.  Returns
    (feature, bucket, cnt) — the mergeable distribution sketch
    :func:`psi_from_counts` consumes (and the thing to persist for a
    100 TB reference snapshot: bucket-cardinality-sized, re-usable
    across every later comparison without rescanning the corpus)."""
    if not features:
        raise ValueError("features must be non-empty")
    names = sorted(features)
    stack_expr = "stack({n}, {args}) as (feature, bucket)".format(
        n=len(names),
        args=", ".join(f"'{n}', _fb_{i}" for i, n in enumerate(names)),
    )
    projected = df.select(
        *[
            features[n].cast("string").alias(f"_fb_{i}")
            for i, n in enumerate(names)
        ]
    )
    return (
        projected.selectExpr(stack_expr)
        .na.fill({"bucket": "<null>"})
        .groupBy("feature", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi_from_counts(ref_counts: DataFrame, cur_counts: DataFrame, *,
                    eps: float = 1e-6) -> DataFrame:
    """PSI per feature from two pre-aggregated (feature, bucket, cnt)
    distributions (``ref_cnt`` / ``cur_cnt`` column names, as produced
    by :func:`feature_bucket_counts` + a rename): FULL OUTER join on
    (feature, bucket), shares floored at ``eps`` so one-sided buckets
    contribute a finite penalty, PSI = Σ (p_cur − p_ref) ·
    ln(p_cur / p_ref), rounded to 6 decimals.  Everything here is
    bucket-cardinality-sized — the corpus-scale work happened in the
    counts."""
    joined = ref_counts.join(
        cur_counts, ["feature", "bucket"], "full_outer"
    ).na.fill({"ref_cnt": 0, "cur_cnt": 0})
    totals = Window.partitionBy("feature")
    p_ref = F.greatest(
        F.col("ref_cnt").cast("double") / F.sum("ref_cnt").over(totals),
        F.lit(eps),
    )
    p_cur = F.greatest(
        F.col("cur_cnt").cast("double") / F.sum("cur_cnt").over(totals),
        F.lit(eps),
    )
    contrib = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        joined.select("feature", contrib.alias("_c"))
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.round(F.sum("_c"), 6).alias("psi"),
        )
    )


def drift_psi(ref: DataFrame, cur: DataFrame,
              features: dict[str, Column], *,
              eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between a reference corpus snapshot and
    a current one, per feature — the standard distribution-drift gate a
    training-data pipeline runs before admitting a new crawl/refresh
    (PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 investigate).

    ``features`` maps a feature name to a BUCKET expression evaluable on
    both frames (categorical value, or a deterministic binning of a
    numeric — fixed-edge buckets, never data-dependent quantiles, so
    the same bucket ids mean the same thing on both sides and at every
    scale factor).  Returns one row per feature: (feature, n_buckets,
    psi) with psi rounded to 6 decimals.

    Scale shape: one pass over each frame
    (:func:`feature_bucket_counts` — a single grouped aggregate per
    frame, F features ≠ F shuffles) followed by the
    bucket-cardinality-sized :func:`psi_from_counts` tail.  Nothing
    downstream of the two corpus scans is data-sized.
    """
    r = feature_bucket_counts(ref, features).withColumnRenamed("cnt", "ref_cnt")
    c = feature_bucket_counts(cur, features).withColumnRenamed("cnt", "cur_cnt")
    return psi_from_counts(r, c, eps=eps)


def k_anonymity_report(df: DataFrame, qid_cols: Sequence[str], k: int) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: every QID
    group with fewer than ``k`` rows is a re-identification risk (its
    members are distinguishable by attributes an adversary may know) —
    the release gate run before publishing corpus metadata or sampling
    user-adjacent records into a training set.

    Returns the at-risk groups: one row per QID combination with
    ``group_size < k`` — (qid columns..., group_size).  An empty result
    IS the pass verdict.  Null QID values group as themselves (null is
    a distinguishing value to an adversary too).

    Scale shape: one grouped count on the QID key — map-side partial
    aggregation collapses large (safe) groups to one row per partition
    before the shuffle, so the exchange carries ~distinct-QID rows; the
    ``< k`` filter is post-aggregate.  Output is risk-proportional,
    never data-sized.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not qid_cols:
        raise ValueError("qid_cols must be non-empty")
    return (
        df.groupBy(*qid_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def reference_distribution(df: "DataFrame", features: dict[str, Column], *,
                           sf_dir: str | None, table: str = "documents",
                           params: str = "") -> DataFrame:
    """The persisted form of :func:`feature_bucket_counts`: serve the
    reference snapshot's (feature, bucket, cnt) distribution from the
    content-addressed artifact store, building it with ONE corpus scan
    only when the (corpus bytes, feature set, params) key has never
    been seen — so at 100 TB the reference is aggregated once per
    snapshot and every later PSI comparison / streaming micro-batch
    score is bucket-cardinality-sized work.

    ``sf_dir``/``table`` locate the corpus files for fingerprinting
    (metadata only, never a scan); a None ``sf_dir`` (in-memory test
    frames) falls back to an in-process build with no persistence —
    the ``sources.artifacts.serve`` contract.
    """
    from sap_data_pipeline_spark.sources import artifacts as A

    return A.serve(
        df.sparkSession, "reference_distribution",
        lambda: {"counts": feature_bucket_counts(df, features)},
        sf_dir=sf_dir, table=table,
        params=f"refdist|{sorted(features)}|{params}",
    )["counts"]


def host_quality_gate(
    scored: DataFrame,
    *,
    host_col: str = "host",
    low_col: str = "is_low",
    min_docs: int = 5,
    max_low_pct: int = 50,
) -> DataFrame:
    """Domain-level admission verdict (the CCNet/RefinedWeb host-tier
    cut): a host is BLOCKED when at least ``max_low_pct`` percent of its
    documents are low-quality AND it has ``min_docs`` or more documents
    (small hosts never block — not enough evidence).

    Input is one row per document with a boolean ``low_col`` (the
    per-doc quality verdict, computed map-side by the caller); output is
    one row per host: ``(host, n_docs, n_low, blocked)``.  The gate is
    exact integer arithmetic (``100·n_low >= max_low_pct·n_docs``) — no
    float ratios, so verdicts are engine-portable and re-run stable.

    Scale: one partial-aggregated shuffle on the host key (hosts are
    many and the aggregate is two counters, so skew is bounded by the
    largest single host); the verdict table is hosts-sized — small
    enough to broadcast back against the corpus for the doc-level
    admission anti-join (:func:`blocklist_filter`).
    """
    return (
        scored.groupBy(host_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(low_col).cast("long")).alias("n_low"),
        )
        .withColumn(
            "blocked",
            (F.col("n_docs") >= min_docs)
            & (F.col("n_low") * 100 >= F.col("n_docs") * max_low_pct),
        )
    )


def blocklist_filter(docs: DataFrame, verdict: DataFrame,
                     *, host_col: str = "host") -> DataFrame:
    """Doc-level admission: drop every document on a blocked host.

    The verdict frame is hosts-sized → broadcast left-anti join; the
    corpus never shuffles."""
    blocked = verdict.filter(F.col("blocked")).select(host_col)
    return docs.join(F.broadcast(blocked), host_col, "left_anti")


def admission_funnel(df: DataFrame, rules: "dict[str, Column]", *,
                     group_col: str | None = None,
                     admitted_label: str = "admitted") -> DataFrame:
    """Final-gate accounting: every document gets exactly ONE verdict —
    the FIRST failing rule in the given order, or ``admitted`` — and
    the funnel reports counts per verdict (optionally per group).
    This is the dashboard that explains corpus shrinkage: "of 4B
    crawled pages, 1.1B too short, 0.6B routed to code, 0.8B below the
    quality bar, 1.5B admitted", with rule ORDER making the numbers
    sum exactly to the input (overlapping-rule double counting is what
    makes naive per-filter stats unreconcilable).

    ``rules`` is an ORDERED mapping reason → boolean Column (True =
    fails that rule).  Pure CASE ladder over whatever kernel columns
    the caller composes (token counts, code votes, quality scores) —
    one scan, one small aggregate; at 100 TB this is a map stage plus
    a reasons×groups-sized exchange.
    """
    verdict = None
    for reason, cond in rules.items():
        step = F.when(cond, F.lit(reason))
        verdict = step if verdict is None else verdict.when(cond, F.lit(reason))
    verdict = (verdict.otherwise(F.lit(admitted_label))
               if verdict is not None else F.lit(admitted_label))
    keys = [F.col(group_col)] if group_col else []
    return (
        df.select(verdict.alias("reason"), *keys)
        .groupBy("reason", *([group_col] if group_col else []))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
