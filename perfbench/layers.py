"""Per-layer metrics of a traced pass, named after the engine's modules.

Times come from spans (``tracing.Tracer``) and from Spark task metrics
folded into them; counts come from the engine's return values, the on-disk
manifest and the event log's SQL metrics, so they repeat exactly for a
given seed. ``design.json`` lists which end-to-end metric each one should
move, on which workload.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

from perfbench.stats import median

WRITE_SPANS = ("replace_buckets", "append_delta")
MERGE_SPANS = ("merge_into", "append_delta_batch")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _sql_metric(fold, span_ids, node_filter, metric: str) -> int:
    """Sum one SQL metric over the plan nodes the spans ran, once per
    accumulator."""
    seen: dict[int, int] = {}
    for sid in span_ids:
        for name, simple, metrics, child_agg in fold.sql_nodes.get(str(sid), []):
            if metric in metrics and node_filter(name, simple, child_agg):
                acc_id, value = metrics[metric]
                seen[acc_id] = value
    return sum(seen.values())


def _is_lww_final(name: str, simple: str, _child) -> bool:
    return "Aggregate" in name and "max_by(" in simple and "partial_max_by" not in simple


def _is_lww_exchange(name: str, _simple: str, child_agg) -> bool:
    return name == "Exchange" and child_agg is not None and "partial_max_by" in child_agg


def _is_scan(name: str, _simple: str, _child) -> bool:
    return name.startswith("Scan ")


def _meta_bytes(paths) -> int:
    total = 0
    for p in paths:
        meta = os.path.join(p, "_meta")
        total += sum(os.path.getsize(os.path.join(meta, f)) for f in os.listdir(meta))
    return total


def _snapshot_bytes(path: str) -> int:
    meta = os.path.join(path, "_meta")
    with open(os.path.join(meta, "CURRENT")) as f:
        v = int(f.read().strip())
    return os.path.getsize(os.path.join(meta, f"v{v:08d}.json"))


def _trigger_overheads(progress_dir: str) -> list[float]:
    """Per micro-batch ``triggerExecution - addBatch`` from the engine's
    ``ProgressRecorder`` output, for the measured batches: not the warm-up
    batch 0, and not data-less ones."""
    out = []
    with open(os.path.join(progress_dir, "progress.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            d = rec.get("durationMs") or {}
            if (
                rec.get("event") == "progress" and rec.get("batchId") and rec.get("numInputRows")
                and "addBatch" in d and "triggerExecution" in d
            ):
                out.append((d["triggerExecution"] - d["addBatch"]) / 1000.0)
    return out


def per_layer_metrics(tracer, fold, res, untraced, tables, progress_dir) -> dict:
    """``{name: (value, unit)}`` for one traced pass; ``untraced`` is the
    same workload's untraced pass, run earlier in the same JVM under a
    SparkContext without the event log."""
    from perfbench.workloads import primary

    spans = tracer.spans
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def subtree(root: dict) -> list[dict]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children[s["id"]])
        return out

    epochs = tracer.measured_epochs()
    ingest = [s for e in epochs for s in subtree(e)]
    ingest_ids = [s["id"] for s in ingest]
    applies = [s for s in ingest if s["name"] == "apply_batch"]
    writes = [s for s in ingest if s["name"] in WRITE_SPANS]
    lookups = tracer.named("lookup", warm=False)
    scans = tracer.named("scan", warm=False)
    compacts = tracer.named("compact")

    def task(sid, key):
        return fold.per_span.get(str(sid), {}).get(key, 0)

    n_epochs = max(len(epochs), 1)
    m: dict[str, tuple[float, str]] = {}

    # cdc.replayer
    m["epoch_self_s"] = (median([
        _dur(e) - _covered((c["start"], c["end"]) for c in children[e["id"]]) for e in epochs
    ]), "s")
    if progress_dir is not None:
        trig = _trigger_overheads(progress_dir)
    else:
        # batch replay: the replayer's time outside the sink applies
        trig = [
            _dur(e) - sum(_dur(c) for c in children[e["id"]] if c["name"] == "apply_batch")
            for e in epochs
        ]
    m["trigger_overhead_s"] = (median(trig), "s")

    # cdc.splitter
    m["sink_overlap"] = (median([
        sum(_dur(c) for c in children[e["id"]] if c["name"] == "apply_batch") / _dur(e)
        for e in epochs
    ]), "ratio")
    # a share, not seconds: a workload without sink transforms reads 0 here
    m["transforms_share"] = (median([
        sum(_dur(c) for c in children[e["id"]] if c["name"] == "apply_transforms") / _dur(e)
        for e in epochs
    ]), "ratio")

    # cdc.dedup: raw events offered vs rows out of the LWW aggregate
    rows_out = _sql_metric(fold, ingest_ids, _is_lww_final, "number of output rows")
    m["dedup_rows_in"] = (float(res.events), "rows")
    m["dedup_rows_out"] = (float(rows_out), "rows")
    m["dedup_keep_ratio"] = (rows_out / res.events if res.events else 0.0, "ratio")
    m["dedup_shuffle_write_mb"] = (
        _sql_metric(fold, ingest_ids, _is_lww_exchange, "shuffle bytes written") / 1e6, "MB"
    )

    # cdc.apply
    m["prepass_s"] = (median([
        _dur(a) - sum(_dur(c) for c in children[a["id"]] if c["name"] in MERGE_SPANS)
        for a in applies
    ]), "s")
    m["jobs_per_epoch"] = (sum(task(i, "jobs") for i in ingest_ids) / n_epochs, "count")
    results = [a["attrs"]["result"] for a in applies]
    m["buckets_touched_per_epoch"] = (
        sum(len(r.get("buckets", [])) for r in results) / max(len(results), 1), "count"
    )

    # lake.table write path
    m["write_s"] = (median([_dur(w) for w in writes]), "s")
    m["write_task_s"] = (median([task(w["id"], "run_s") for w in writes]), "s")
    m["write_driver_s"] = (median([
        _dur(w) - _covered(fold.job_windows.get(str(w["id"]), [])) for w in writes
    ]), "s")
    written = [w["attrs"].get("result") or {} for w in writes]
    m["files_written_per_epoch"] = (
        sum(r.get("files_added", 0) for r in written) / max(len(writes), 1), "count"
    )
    applied = sum(r.get("rows_applied", 0) for r in results)
    m["rows_rewritten_per_row_applied"] = (
        sum(r.get("rows", 0) for r in written) / applied if applied else 0.0, "ratio"
    )
    m["snapshot_bytes"] = (float(_snapshot_bytes(primary(tables))), "bytes")
    m["meta_mb"] = (_meta_bytes(tables.values()) / 1e6, "MB")

    # lake.table read path
    m["delta_files_at_read"] = (median([s["attrs"]["delta_files"] for s in scans]), "count")
    lookup_ids = [s["id"] for s in lookups]
    m["lookup_files_opened"] = (
        _sql_metric(fold, lookup_ids, _is_scan, "number of files read") / max(len(lookups), 1),
        "count",
    )
    returned = sum(s["attrs"].get("rows", 0) for s in lookups)
    m["lookup_rows_examined_per_row_returned"] = (
        _sql_metric(fold, lookup_ids, _is_scan, "number of output rows") / max(returned, 1),
        "ratio",
    )
    m["scan_task_s"] = (median([task(s["id"], "run_s") for s in scans]), "s")
    m["compact_s"] = (median([_dur(c) for c in compacts]), "s")
    m["compact_rows_rewritten"] = (
        float(sum((c["attrs"].get("result") or {}).get("rows", 0) for c in compacts)), "rows"
    )

    # Spark, over every measured operation of the pass
    warm = {s["id"] for w in spans if w["attrs"].get("warm") for s in subtree(w)}
    every = [str(s["id"]) for s in spans if s["id"] not in warm]
    tot = {k: sum(fold.per_span.get(i, {}).get(k, 0) for i in every)
           for k in ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")}
    m["spark_jobs"] = (float(tot["jobs"]), "count")
    m["spark_tasks"] = (float(tot["tasks"]), "count")
    m["executor_run_s"] = (tot["run_s"], "s")
    m["executor_cpu_s"] = (tot["cpu_s"], "s")
    m["gc_s"] = (tot["gc_s"], "s")
    m["shuffle_write_mb"] = (tot["shuffle_write_mb"], "MB")
    m["spill_mb"] = (tot["spill_mb"], "MB")

    # lookup latency of the untraced pass, and what tracing cost against it
    m["lookup_p50_s"] = (median(untraced.lookup_s), "s")
    eps_plain = untraced.events / untraced.ingest_s if untraced.ingest_s else 0.0
    eps_traced = res.events / res.ingest_s if res.ingest_s else 0.0
    m["traced_events_per_s"] = (eps_traced, "events/s")
    m["trace_slowdown"] = (eps_plain / eps_traced if eps_traced else 0.0, "ratio")
    return m
