"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process, one client, one workload:
set up (session, seeded inputs, expected answers, a few generic warm-up
jobs), then run the workload's fixed op sequence back to back for
``--seconds`` (always at least one whole pass), check every op's output,
and print one JSON result as the last line of stdout.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs traced
with Spark's event log on and reports the per-layer metrics instead (see
``layers.py``).  Scratch data lives under
``.perfbench/`` in the checkout and is removed on exit; a per-run detail
file is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREP_REPS = 2          # set-up repetitions whose median goes into setup_s
MAX_RUN_S = 150.0      # stop starting passes past this, so a run ends within 3 minutes

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
    ("rows_per_s", "rows/s"), ("ok_frac", "ratio"), ("peak_rss_mb", "MB"),
    ("write_amp", "B/B"), ("space_amp", "B/B"),
]


def _pin_environment(run_dir: str) -> dict[str, str]:
    """Cores, heap and every scratch location; returns extra Spark conf."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "artifacts", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(run_dir, "artifacts"),
        "TMPDIR": tmp,
    })
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.chdir(run_dir)
    # A fixed young generation: G1's adaptive young sizing follows pause
    # times, so on a loaded machine the heap's resident size would wander.
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn512m",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _warm_up(spark, path: str) -> float:
    """A few generic jobs (aggregate, shuffle, parquet write and read) so the
    JVM's first-job start-up lands in set-up rather than in the first op."""
    t = time.perf_counter()
    df = spark.range(200_000).selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()
    shutil.rmtree(path, ignore_errors=True)
    return time.perf_counter() - t


def _summary(passes, setup_s: float, input_bytes: int, rss_mb: float) -> dict[str, float]:
    from perfbench.core import median, tail

    lat = [o.latency_s for p in passes for o in p.ops]
    pct, beyond, tail_v = tail(lat)
    print(f"ops={len(lat)} op_tail_s=p{pct} ({beyond} ops beyond it)")
    attempted = len(lat)
    failed = sum(not o.ok for p in passes for o in p.ops)
    return {
        "setup_s": setup_s,
        "wall_s": median([p.wall_s for p in passes]),
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": median([p.rows_in / p.wall_s for p in passes]),
        "ok_frac": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": rss_mb,
        "write_amp": median([p.created_bytes / input_bytes for p in passes]),
        "space_amp": median([p.final_bytes / input_bytes for p in passes]),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sap_data_pipeline_spark", "__init__.py")):
        print("perfbench: sap_data_pipeline_spark is not in this checkout", file=sys.stderr)
        return 2
    # the checkout root, not this script's directory, heads the import path
    # (the script directory would shadow stdlib modules such as ``trace``)
    sys.path[0] = ROOT
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(results_dir, exist_ok=True)
    try:
        return _run(args, run_dir, results_dir, WORKLOADS[args.workload])
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, results_dir: str, workload_cls) -> int:
    from perfbench import layers
    from perfbench.core import Pass, median, process_age_s, vm_hwm_mb
    from perfbench.trace import EVENT_LOG_CONF, Tracer, read_event_log

    t_start = time.perf_counter()
    conf = _pin_environment(run_dir)
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + event_dir})

    import sap_data_pipeline_spark
    from sap_data_pipeline_spark import session

    if not os.path.abspath(sap_data_pipeline_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: imported the package from outside the checkout", file=sys.stderr)
        return 2
    t = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    session_ready_s = process_age_s()

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    w = workload_cls(args.seed, os.path.join(run_dir, "w"))
    prep = []
    for _ in range(PREP_REPS):
        t = time.perf_counter()
        w.prepare(spark)
        prep.append(time.perf_counter() - t)

    def one_pass(label: str, tracer, before_cleanup=None) -> Pass:
        p = Pass(label, spark, tracer, w.out_roots(label))
        w.run_pass(p)
        p.finish()
        if before_cleanup:
            before_cleanup()
        for d in p.out_roots:
            shutil.rmtree(d, ignore_errors=True)
        print(f"pass {label}: wall {p.wall_s:.3f}s, {len(p.ops)} ops, "
              f"{sum(not o.ok for o in p.ops)} failed")
        return p

    warmup_s = _warm_up(spark, os.path.join(run_dir, "warmup"))
    setup_s = session_ready_s + median(prep) + warmup_s
    print(f"setup: session {session_ready_s:.2f}s, prepare {median(prep):.2f}s, "
          f"warm-up {warmup_s:.2f}s")

    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cpus": os.environ["SPARK_GRAFT_CPUS"],
                    "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "spark": spark.version,
                    "setup": {"session_s": session_ready_s, "prepare_s": prep,
                              "warmup_s": warmup_s}}
    passes: list[Pass] = []
    if not args.trace:
        # The pass runs in a young JVM, as the nightly batch does; at these
        # input sizes a pass outlasts --seconds on a 4-core host, so a run
        # is one pass.
        t_loop = time.perf_counter()
        while True:
            passes.append(one_pass(f"p{len(passes)}", Tracer(False)))
            elapsed = time.perf_counter() - t_loop
            if (elapsed >= args.seconds
                    or time.perf_counter() - t_start + elapsed / len(passes) > MAX_RUN_S):
                break
    else:
        # One traced pass, after the same warm-up, then the traced-only
        # probe (the SAP backfill) on the pass's outputs, under its own
        # tracer so its spans stay out of the pass's layer totals.
        tracer = Tracer(True)
        probe: dict[str, float] = {}

        def run_probe() -> None:
            tracer.unpatch()
            probe_tracer = Tracer(True)
            layers.install(probe_tracer)
            try:
                probe.update(w.trace_probe(spark, probe_tracer))
            finally:
                probe_tracer.unpatch()
            tracer.count("operators.merge.retries",
                         probe_tracer.counters.get("operators.merge.retries", 0))

        layers.install(tracer)
        try:
            traced = one_pass("traced", tracer, before_cleanup=run_probe)
        finally:
            tracer.unpatch()
        passes = [traced]
    rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    _stop(spark)

    ops_failed = sum(not o.ok for p in passes for o in p.ops)
    checks_failed = [c for p in passes for c in p.checks_failed]
    correct = not checks_failed and not ops_failed
    attempted = sum(len(p.ops) for p in passes)
    detail["passes"] = [{"label": p.label, "wall_s": p.wall_s, "rows_in": p.rows_in,
                         "created_bytes": p.created_bytes, "final_bytes": p.final_bytes,
                         "ops": [o.__dict__ for o in p.ops]} for p in passes]
    detail["checks_failed"] = checks_failed

    if args.trace:
        jobs = read_event_log(event_dir)
        layer_metrics = layers.metrics(tracer, jobs, traced.epoch, w.progress)
        layer_metrics["session.get_spark_s"] = get_spark_s
        # traced / untraced wall - 1, with the untraced wall estimated in
        # process as the traced wall minus the instrument's own time
        layer_metrics["trace.overhead_frac"] = tracer.overhead_s / (
            traced.wall_s - tracer.overhead_s)
        layer_metrics["trace.op_span_coverage"] = (
            sum(o.latency_s for o in traced.ops) / traced.wall_s)
        layer_metrics.update(probe)
        detail["probe"] = probe
        detail["per_op_spark"] = layers.per_op_spark(jobs, tracer)
        detail["span_self_s"] = tracer.self_times()
        tracer.dump(os.path.join(results_dir, f"{args.workload}-{args.seed}-spans.json"))
        if not 0.9 <= layer_metrics["trace.op_span_coverage"] <= 1.0001:
            print(f"warning: op spans cover {layer_metrics['trace.op_span_coverage']:.3f} "
                  "of the traced wall time", file=sys.stderr)
        metrics = {n: {"value": float(layer_metrics.get(n, 0.0)), "unit": u}
                   for n, u in layers.PER_LAYER}
    else:
        e2e = _summary(passes, setup_s, w.input_bytes, rss_mb)
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    detail["metrics"] = metrics
    with open(os.path.join(results_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for p in passes:
        for o in p.ops:
            print(f"  {p.label} {o.name:<40} {o.latency_s:8.3f}s {'ok' if o.ok else 'FAILED'}")
    if checks_failed:
        print("failed checks: " + "; ".join(checks_failed[:10]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": ops_failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
