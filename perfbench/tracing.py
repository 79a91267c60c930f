"""Spans around calls into the engine's layers, and Spark's own metrics
folded into them.

Every timed operation of a workload runs inside :meth:`Tracer.span`. In an
untraced run a span is only a timer. In a traced run each span also sets the
``perfbench.span`` local property on the calling thread, so every Spark job
the call submits carries the span id into the event log, and
:func:`install_layer_spans` wraps the public functions that the engine's own
modules call into each other with (``cdc.replayer`` → ``cdc.splitter`` /
``cdc.apply``, ``cdc.apply`` → ``lake.table``). :func:`fold_event_log` then
reads the event log with the standard ``json`` module and attributes task
metrics and SQL metrics to spans.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Keeps spans in memory: ``{id, layer, name, parent, start, end, wall_start,
    wall_end, attrs}``. A span opened on a thread with no open span (a sink
    thread of the fan-out applier) takes the innermost open epoch span as its
    parent."""

    def __init__(self, spark_context, tag_jobs: bool):
        self._sc = spark_context
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self.current_epoch: int | None = None

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.current_epoch
        rec = {
            "id": next(self._ids), "layer": layer, "name": name, "parent": parent,
            "attrs": attrs, "wall_start": time.time(), "start": time.perf_counter(),
        }
        prev = None
        if self.tag_jobs:
            prev = self._sc.getLocalProperty(SPAN_PROPERTY)
            self._sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]))
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            stack.pop()
            if self.tag_jobs:
                self._sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def epoch(self, **attrs):
        """An epoch span (layer ``cdc.replayer``): sink threads started while
        it is open attach their spans to it."""
        with self.span("cdc.replayer", "epoch", **attrs) as rec:
            self.current_epoch = rec["id"]
            try:
                yield rec
            finally:
                self.current_epoch = None

    def measured_epochs(self) -> list[dict]:
        """Epoch spans that carried data, outside the warm-up, in order."""
        return sorted(
            (s for s in self.named("epoch", warm=False) if not s["attrs"].get("empty")),
            key=lambda s: s["start"],
        )

    def named(self, name: str, warm: bool | None = None) -> list[dict]:
        """Spans called ``name``; with ``warm`` set, only warm-up spans
        (True) or only measured ones (False)."""
        return [
            s for s in self.spans
            if s["name"] == name and (warm is None or bool(s["attrs"].get("warm")) == warm)
        ]


def _patch(undo: list, owner, attr: str, make_wrapper) -> None:
    original = getattr(owner, attr)
    setattr(owner, attr, make_wrapper(original))
    undo.append((owner, attr, original))


def install_epoch_timer(tracer: Tracer) -> list:
    """Time each streaming epoch: wrap ``FanoutApplier.__call__``, the
    ``foreachBatch`` callable ``replay_stream`` builds. Returns the undo list
    for :func:`uninstall`."""
    from embulk_filter_copy_spark.cdc import replayer

    undo: list = []

    def wrap(call):
        def traced_call(self, batch_df, epoch_id):
            # micro-batch 0 (query start, first JIT) is the untimed warm-up
            epoch_id = int(epoch_id)
            before = len(self.results)
            with tracer.epoch(kind="stream", epoch=epoch_id, warm=epoch_id == 0) as rec:
                out = call(self, batch_df, epoch_id)
                # a watermark-advancing micro-batch carries no data
                rec["attrs"]["empty"] = not any(
                    r.get("rows_applied") for r in self.results[before:]
                )
                return out

        return traced_call

    _patch(undo, replayer.FanoutApplier, "__call__", wrap)
    return undo


def install_layer_spans(tracer: Tracer) -> list:
    """Wrap the names through which one engine layer calls the next, so each
    call gets a span on the thread that makes it. The wrapper on the
    ``apply_batch`` name that ``cdc.replayer`` imported runs on the fan-out
    applier's sink threads, which do not inherit local properties, so it is
    where those threads' jobs get tagged."""
    from embulk_filter_copy_spark.cdc import apply as apply_mod
    from embulk_filter_copy_spark.cdc import replayer
    from embulk_filter_copy_spark.lake.table import LakeTable

    undo: list = []

    def sink_of(table) -> str:
        return os.path.basename(table.path)

    def wrap_apply_batch(fn):
        def traced_apply_batch(table, batch, *args, **kwargs):
            with tracer.span("cdc.apply", "apply_batch", sink=sink_of(table)) as rec:
                res = fn(table, batch, *args, **kwargs)
                rec["attrs"]["result"] = res
                return res

        return traced_apply_batch

    def wrap_transforms(fn):
        def traced_apply_transforms(df, transforms, *args, **kwargs):
            with tracer.span("cdc.splitter", "apply_transforms"):
                return fn(df, transforms, *args, **kwargs)

        return traced_apply_transforms

    def wrap_merge(name):
        def wrap(fn):
            def traced_merge(table, *args, **kwargs):
                with tracer.span("cdc.apply", name, sink=sink_of(table)):
                    return fn(table, *args, **kwargs)

            return traced_merge

        return wrap

    def wrap_write(name):
        def wrap(fn):
            def traced_write(table, *args, **kwargs):
                with tracer.span("lake.table", name, sink=sink_of(table)) as rec:
                    res = fn(table, *args, **kwargs)
                    rec["attrs"]["result"] = res
                    return res

            return traced_write

        return wrap

    _patch(undo, replayer, "apply_batch", wrap_apply_batch)
    _patch(undo, replayer, "apply_transforms", wrap_transforms)
    _patch(undo, apply_mod, "merge_into", wrap_merge("merge_into"))
    _patch(undo, apply_mod, "append_delta_batch", wrap_merge("append_delta_batch"))
    _patch(undo, LakeTable, "replace_buckets", wrap_write("replace_buckets"))
    _patch(undo, LakeTable, "append_delta", wrap_write("append_delta"))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)
    undo.clear()


# ----------------------------------------------------------------------
# event log folding
# ----------------------------------------------------------------------


class SparkFold:
    """Task and SQL metrics from one event log, keyed by span id.

    ``per_span[span_id]`` sums the task metrics of every job tagged with that
    span; ``job_windows[span_id]`` lists the (submit, complete) wall times of
    those jobs; ``sql_nodes[span_id]`` lists ``(node_name, simple_string,
    {metric name: (accumulator id, value)}, child aggregate)`` for every plan
    node of every SQL execution the span's jobs ran. A cached plan shows up
    again under every execution that reads the cache, so a caller summing a
    metric over executions dedupes by accumulator id."""

    def __init__(self):
        self.per_span: dict[str, dict] = {}
        self.job_windows: dict[str, list[tuple[float, float]]] = {}
        self.sql_nodes: dict[str, list[tuple[str, str, dict]]] = {}


def _plan_nodes(info: dict, out: list) -> None:
    """Flatten a ``sparkPlanInfo`` tree into ``(name, simpleString, {metric:
    accumulator id}, child aggregate simpleString)``; the last field lets a
    caller tell an Exchange that carries a partial aggregate."""
    metrics = {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])}
    child_agg = None
    for c in info.get("children", []):
        # the aggregate directly below an Exchange sits under a codegen wrapper
        probe = c
        while probe.get("nodeName", "").startswith("WholeStageCodegen") and probe.get("children"):
            probe = probe["children"][0]
        if "Aggregate" in probe.get("nodeName", ""):
            child_agg = probe.get("simpleString", "")
    out.append((info.get("nodeName", ""), info.get("simpleString", ""), metrics, child_agg))
    for c in info.get("children", []):
        _plan_nodes(c, out)


def fold_event_log(path: str) -> SparkFold:
    """Read one uncompressed, unrolled Spark event log."""
    job_span: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, dict] = {}
    acc_total: dict[int, int] = {}
    fold = SparkFold()

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
                span = props.get(SPAN_PROPERTY)
                if span is not None:
                    job_span[jid] = span
                if props.get("spark.sql.execution.id") is not None:
                    job_exec[jid] = int(props["spark.sql.execution.id"])
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                span = job_span.get(jid)
                if span is not None:
                    fold.job_windows.setdefault(span, []).append(
                        (job_submit.get(jid, 0.0), ev.get("Completion Time", 0) / 1000.0)
                    )
                    agg = fold.per_span.setdefault(span, _empty_task_metrics())
                    agg["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                for acc in info.get("Accumulables", []):
                    upd = acc.get("Update")
                    if acc.get("Metadata") == "sql" and upd is not None:
                        try:
                            acc_total[acc["ID"]] = acc_total.get(acc["ID"], 0) + int(upd)
                        except ValueError:
                            pass
                jid = stage_job.get(ev.get("Stage ID"))
                span = job_span.get(jid)
                if span is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                agg = fold.per_span.setdefault(span, _empty_task_metrics())
                agg["tasks"] += 1
                agg["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                agg["shuffle_write_mb"] += (
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                agg["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, val in ev.get("accumUpdates", []):
                    acc_total[acc_id] = acc_total.get(acc_id, 0) + int(val)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last plan an execution reports is the one that ran
                plans[ev["executionId"]] = ev["sparkPlanInfo"]

    exec_span: dict[int, str] = {}
    for jid, eid in job_exec.items():
        if jid in job_span:
            exec_span.setdefault(eid, job_span[jid])
    for eid, span in exec_span.items():
        if eid not in plans:
            continue
        nodes: list = []
        _plan_nodes(plans[eid], nodes)
        out = fold.sql_nodes.setdefault(span, [])
        for name, simple, metrics, child_agg in nodes:
            vals = {m: (acc_id, acc_total.get(acc_id, 0)) for m, acc_id in metrics.items()}
            out.append((name, simple, vals, child_agg))
    return fold


def _empty_task_metrics() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0}
