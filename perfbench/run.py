"""CDC replay benchmark: one command for every workload and metric.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``,
drives the engine in ``embulk_filter_copy_spark`` (imported from the
current directory, never from an installed copy), checks the final table
state against the golden replayer, prints a report and, as the last line of
standard output, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same untraced pass first, then a traced pass on fresh tables in a
new SparkContext of the same JVM with Spark's event log on, and reports the
per-layer metrics of the traced pass and its cost against the untraced one.
Workloads, metrics and layers are described in
``perfbench/design.json``. Exit code 0 = correct run, 1 = an operation
failed or the oracle gate found a mismatch, 2 = the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

WORKLOADS = ("bulk_cow", "stream_fanout", "mor_read_mix")
ENGINE = "embulk_filter_copy_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt-oracle", action="store_true",
        help="flip one expected digest row; the run must then fail (self-test)",
    )
    return p.parse_args(argv)


def bytes_under(paths) -> int:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def host_probe() -> float:
    """Median seconds of a fixed pure-Python loop. Printed before and after
    a run, it tells a slower host apart from a slower engine."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ----------------------------------------------------------------------
# Spark session
# ----------------------------------------------------------------------


def start_spark(work: str, cores: int, event_log: str | None):
    from embulk_filter_copy_spark.session import get_spark

    conf = {
        # fits a 4-core, 15 GB host with room to spare
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log is not None:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def stop_context(spark) -> None:
    """Stop the SparkContext; the JVM, and what its JIT compiled, stays."""
    try:
        # the streaming state-store maintenance thread races context teardown
        spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass
    spark.stop()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    stop_context(spark)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------------
# one run
# ----------------------------------------------------------------------


def run(args, work: str) -> tuple[bool, int, int, dict, list[str]]:
    # imported here: the engine they import resolves from the checkout root,
    # which main() puts on sys.path
    from perfbench import layers, workloads as W
    from perfbench.stats import median, tail
    from perfbench.oracle_gate import Oracle, check_lookups, check_tables, hashed_frames
    from perfbench.tracing import (
        Tracer, fold_event_log, install_epoch_timer, install_layer_spans, uninstall,
    )

    cores = min(os.cpu_count() or 1, 4)
    shape = W.shape_for(args.workload, args.seconds)
    stream = args.workload == "stream_fanout"
    event_log = os.path.join(work, "eventlog")
    report: list[str] = []

    def bootstrap(spark, i):
        return W.bootstrap_tables(spark, args.workload, os.path.join(work, f"tables{i}"), inputs)

    def one_pass(spark, tables, i, traced):
        tracer = Tracer(spark.sparkContext, tag_jobs=traced)
        undo = install_epoch_timer(tracer)
        if traced:
            undo += install_layer_spans(tracer)
        progress = os.path.join(work, f"progress{i}") if traced and stream else None
        try:
            res = W.run_pass(args.workload, spark, tracer, inputs, shape, tables, keys,
                             os.path.join(work, f"ckpt{i}"), progress)
        finally:
            uninstall(undo)
        return tables, tracer, res, progress

    t0 = time.perf_counter()
    spark = start_spark(work, cores, event_log=None)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        inputs = W.generate(spark, os.path.join(work, "input"), args.seed, shape, cores, stream)
        gen_s = time.perf_counter() - t0

        # set-up repeats the table bootstrap until it has two samples, so
        # the median stands for one bootstrap; spare tables are dropped
        tables, boot = bootstrap(spark, 0)
        spare = 0
        while len(boot) < 2:
            spare += 1
            paths, times = bootstrap(spark, f"spare{spare}")
            boot.extend(times)
            for p in paths.values():
                shutil.rmtree(p)

        # oracle inputs and the seeded lookup keys (untimed)
        t0 = time.perf_counter()
        base_pdf, events_pdf = hashed_frames(spark, inputs)
        per_slice = ((events_pdf["lsn"] - 1) // shape.slice_events).value_counts()
        inputs.n_events = [int(per_slice.get(k, 0)) for k in range(shape.slices)]
        keys = W.lookup_plan(base_pdf, events_pdf, args.seed, shape.slices, shape.lookups)
        oracle_prep_s = time.perf_counter() - t0

        # the untraced pass is the one the end-to-end metrics come from
        passes = [one_pass(spark, tables, 0, traced=False)]
        if args.trace:
            # the event log can only be switched on for a new SparkContext;
            # the JVM stays, so the traced pass keeps the JIT state the
            # untraced pass left and trace_slowdown is a lower bound
            stop_context(spark)
            spark = start_spark(work, cores, event_log=event_log)
            tables1, _ = bootstrap(spark, 1)
            passes.append(one_pass(spark, tables1, 1, traced=True))

        # the oracle gate (untimed)
        t0 = time.perf_counter()
        oracle = Oracle(base_pdf, events_pdf)
        if args.corrupt_oracle:
            oracle.corrupt_one_row()
        problems = []
        for tables_i, _, res, _ in passes:
            found = check_tables(spark, oracle, tables_i) + check_lookups(oracle, res.final_lookups)
            found += [
                f"scan counted {n} rows, oracle {len(oracle.state)}"
                for n in res.final_counts if n != len(oracle.state)
            ]
            if found:
                # an oracle mismatch fails every ingest operation of the pass
                res.failed += res.ingest_ops
            problems += found
        gate_s = time.perf_counter() - t0
        # the warm-up is the untimed first epoch (and first reads) of a pass
        warm_s = passes[0][2].warm_s
        setup_s = session_s + gen_s + len(tables) * median(boot) + warm_s
    finally:
        stop_spark(spark)

    res0 = passes[0][2]
    attempted = sum(p[2].attempted for p in passes)
    failed = sum(p[2].failed for p in passes)
    errors = [e for p in passes for e in p[2].errors]
    correct = not problems and not errors
    disk_mb = bytes_under(tables.values()) / 1e6
    eps = res0.events / res0.ingest_s if res0.ingest_s else 0.0

    e2e = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (eps, "events/s"),
        "epoch_p50_s": (median(res0.epoch_s), "s"),
        "scan_s": (median(res0.scan_s), "s"),
        "disk_mb": (disk_mb, "MB"),
    }

    def timing(name, xs):
        t = tail(xs)
        tail_txt = (f"p{t[0]} {t[1]:.3f} s" if t else
                    "no tail: one above the median with 10 samples beyond needs n >= 22")
        return (f"  {name:16s} {median(xs):10.3f} s         n={len(xs)}; {tail_txt}; "
                f"in order [{' '.join(f'{x:.2f}' for x in xs)}]")

    report += [
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={cores} shape={shape}",
        f"  setup_s          {setup_s:10.3f} s         session {session_s:.2f} + input {gen_s:.2f}"
        f" + {len(tables)} x median bootstrap {median(boot):.2f} (n={len(boot)}) + warm-up {warm_s:.2f}",
        f"  events_per_s     {eps:10.1f} events/s  {res0.events} events in {res0.ingest_s:.2f} s",
        timing("epoch_p50_s", res0.epoch_s),
        timing("lookup_p50_s", res0.lookup_s),
        timing("scan_s", res0.scan_s),
        f"  compact_s        {res0.compact_s:10.3f} s         n=1"
        + (f"; scan after it {res0.post_compact_scan_s:.3f} s" if res0.post_compact_scan_s else ""),
        f"  disk_mb          {disk_mb:10.3f} MB",
        f"  ops_failed_ratio {failed / max(attempted, 1):10.4f} ratio     {failed}/{attempted} operations",
        f"  oracle gate      {'pass' if not problems else 'FAIL'} ({gate_s:.1f} s untimed, "
        f"oracle inputs {oracle_prep_s:.1f} s)",
    ]
    report += [f"  ! {p}" for p in problems + errors]

    if not args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return correct, attempted, failed, metrics, report

    tables1, tracer1, res1, progress1 = passes[1]
    fold = fold_event_log(_single_file(event_log))
    per_layer = layers.per_layer_metrics(tracer1, fold, res1, res0, tables1, progress1)
    report.append("  per-layer (traced pass):")
    report += [f"    {k:40s} {v:14.4f} {u}" for k, (v, u) in per_layer.items()]
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    return correct, attempted, failed, metrics, report


def _single_file(directory: str) -> str:
    (name,) = [n for n in os.listdir(directory) if not n.startswith(".")]
    return os.path.join(directory, name)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep the JVM's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    tempfile.tempdir = None
    probe_before = host_probe()
    try:
        correct, attempted, failed, metrics, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report.append(f"  host probe       {1e3 * probe_before:.1f} ms before, {1e3 * host_probe():.1f} ms after"
                  " (fixed pure-Python loop, median of 5)")
    print("\n".join(report))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
