"""Inputs, table bootstrap and the three workloads.

Each workload is a closed loop with one client. The benchmark generates its
inputs from the seed as parquet first, then drives the engine only through
``cdc.replayer.replay_batch`` / ``replay_stream``, ``cdc.apply.apply_batch``
and ``LakeTable.read`` / ``lookup`` / ``compact``. The work in a run is fixed
by ``--seconds`` (a number of epochs sized so that the timed region takes
about that long on a 4-core machine), so two runs with the same seed do the
same work and their counts repeat exactly.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from embulk_filter_copy_spark.cdc.apply import apply_batch
from embulk_filter_copy_spark.cdc.replayer import replay_batch, replay_stream
from embulk_filter_copy_spark.cdc.splitter import SinkSpec
from embulk_filter_copy_spark.fixtures import (
    REPO_FILES_SCHEMA,
    gen_change_events,
    gen_repo_files,
)
from embulk_filter_copy_spark.lake.table import LakeTable

N_BUCKETS = 64
DUP_RATE = 0.02
SKEW = 3.0
KEYS = ["repo", "path"]
# full scans after ingest (bulk_cow, stream_fanout). On 4 cores the first
# six after a stream ingest ran 15-55% slower than the settled time while the
# JIT warmed the read path, so those are untimed; the timed ones are
# interleaved with the lookups to spread them over more of the run
READ_WARM_SCANS = 6
READ_SCANS = 10
MOR_SCAN_EVERY = 2  # mor_read_mix: scan after timed epochs 1, 3, 5, ...
# mor_read_mix: untimed epochs first; behind a single warm-up epoch the next
# one still ran 20-30% slower than the rest while the JIT warmed
MOR_WARM_EPOCHS = 2


@dataclass(frozen=True)
class Shape:
    """Input size of one workload. ``slices`` epochs (or stream files) of
    ``slice_events`` change events each over a ``base_rows`` snapshot."""

    base_rows: int
    slice_events: int
    slices: int
    lookups: int  # per lookup batch


# seconds one timed slice takes, with the reads that follow it, on a 4-core
# machine: sizes the run to about --seconds
_SLICE_SECONDS = {"bulk_cow": 4.0, "stream_fanout": 5.0, "mor_read_mix": 1.7}


def shape_for(workload: str, seconds: int) -> Shape:
    # timed slices, after the untimed warm-up slices
    n = max(2, round(seconds / _SLICE_SECONDS[workload]))
    if workload == "bulk_cow":
        return Shape(base_rows=10_000, slice_events=50_000, slices=n + 1, lookups=8)
    if workload == "stream_fanout":
        return Shape(base_rows=10_000, slice_events=10_000, slices=n + 1, lookups=6)
    if workload == "mor_read_mix":
        return Shape(base_rows=10_000, slice_events=5_000, slices=n + MOR_WARM_EPOCHS, lookups=2)
    raise ValueError(f"unknown workload {workload!r}")


# ----------------------------------------------------------------------
# inputs
# ----------------------------------------------------------------------


@dataclass
class Inputs:
    base: str  # parquet dir of the base snapshot
    events: str  # parquet dir of the whole log, partitioned by _slice
    slices: list[str]  # parquet dir per epoch, in LSN order
    stream_dir: str | None  # the slices as one file each, for the stream source
    n_events: list[int] = field(default_factory=list)  # per slice, duplicates included


def generate(spark, root: str, seed: int, shape: Shape, cores: int, stream: bool) -> Inputs:
    """Write the base snapshot and the change log, cut into ``shape.slices``
    contiguous LSN ranges, as parquet under ``root``; with ``stream`` also
    lay the slices out as one directory of files, oldest first."""
    base_dir = os.path.join(root, "base")
    ev_dir = os.path.join(root, "events")
    gen_repo_files(
        spark, shape.base_rows, seed=seed, skew=SKEW, partitions=cores
    ).write.parquet(base_dir)
    n_events = shape.slice_events * shape.slices
    ev = gen_change_events(
        spark, shape.base_rows, n_events, seed=seed, skew=SKEW,
        dup_rate=DUP_RATE, partitions=cores,
    ).withColumn("_slice", F.floor((F.col("lsn") - 1) / shape.slice_events).cast("int"))
    # one file per slice: every row of a slice lands in one write task
    ev.repartition(F.col("_slice")).write.partitionBy("_slice").parquet(ev_dir)
    slices = [os.path.join(ev_dir, f"_slice={k}") for k in range(shape.slices)]
    stream_dir = None
    if stream:
        stream_dir = os.path.join(root, "stream")
        os.makedirs(stream_dir)
        t0 = int(time.time()) - len(slices) - 10
        for k, d in enumerate(slices):
            (part,) = glob.glob(os.path.join(d, "*.parquet"))
            dst = os.path.join(stream_dir, f"events-{k:05d}.parquet")
            shutil.copyfile(part, dst)
            # the file source hands out files oldest first: keep LSN order
            os.utime(dst, (t0 + k, t0 + k))
    return Inputs(base=base_dir, events=ev_dir, slices=slices, stream_dir=stream_dir)


# ----------------------------------------------------------------------
# tables
# ----------------------------------------------------------------------

HASHED_SCHEMA = REPO_FILES_SCHEMA + [("content_sha", "string")]
SLIM_SCHEMA = [c for c in REPO_FILES_SCHEMA if c[0] != "content"]


def _bootstrap(spark, path: str, schema, base_df) -> float:
    t0 = time.perf_counter()
    t = LakeTable.create(spark, path, schema, key_columns=KEYS, n_buckets=N_BUCKETS)
    t.append(base_df.withColumn("_lsn", F.lit(0)))
    return time.perf_counter() - t0


def bootstrap_tables(spark, workload: str, root: str, inputs: Inputs) -> tuple[dict, list[float]]:
    """Create the workload's table set under ``root`` from the base
    snapshot. Returns ``({name: path}, [seconds per table])``."""
    base = spark.read.parquet(inputs.base)
    if workload == "stream_fanout":
        specs = {
            "full": (REPO_FILES_SCHEMA, base),
            "slim": (SLIM_SCHEMA, base.drop("content")),
            # the sink's transform applied to the snapshot it starts from
            "hashed": (HASHED_SCHEMA, base.withColumn("content_sha", F.sha2("content", 256))),
        }
    else:
        specs = {"main": (REPO_FILES_SCHEMA, base)}
    paths, times = {}, []
    for name, (schema, df) in specs.items():
        paths[name] = os.path.join(root, name)
        times.append(_bootstrap(spark, paths[name], schema, df))
    return paths, times


def primary(tables: dict) -> str:
    return tables.get("main") or tables["full"]


# ----------------------------------------------------------------------
# lookup keys
# ----------------------------------------------------------------------


def lookup_plan(base_pdf, events_pdf, seed: int, n_batches: int, per_batch: int) -> list[list[tuple]]:
    """Seeded lookup batches: every other lookup of the plan is a hot key
    (most events); the rest cycle through a deleted key, a key that never
    existed and a key uniform over every key the log or snapshot names."""
    rng = random.Random(seed)
    data = events_pdf[events_pdf["op"] != "S"]
    counts = data.groupby(["repo", "path"]).size().sort_values(ascending=False, kind="stable")
    hot = [tuple(k) for k in counts.index[:32]]
    pool = sorted(
        set(map(tuple, base_pdf[["repo", "path"]].itertuples(index=False)))
        | set(map(tuple, data[["repo", "path"]].itertuples(index=False)))
    )
    deleted = sorted(set(map(tuple, data[data["op"] == "D"][["repo", "path"]].itertuples(index=False))))
    batches = []
    for b in range(n_batches):
        keys = []
        for i in range(per_batch):
            j = b * per_batch + i  # position in the whole plan
            if j % 2 == 0:
                keys.append(rng.choice(hot))
            elif j % 6 == 1 and deleted:
                keys.append(rng.choice(deleted))
            elif j % 6 == 3:
                keys.append(("org0/repo0", f"src/never/{seed}-{b}-{i}.py"))
            else:
                keys.append(rng.choice(pool))
        batches.append(keys)
    return batches


# ----------------------------------------------------------------------
# passes
# ----------------------------------------------------------------------


@dataclass
class PassResult:
    events: int = 0  # change events in the timed epochs
    ingest_s: float = 0.0  # wall time of the timed ingest region
    warm_s: float = 0.0  # untimed warm-up operations
    epoch_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    compact_s: float = 0.0
    post_compact_scan_s: float = 0.0
    attempted: int = 0
    ingest_ops: int = 0  # replay/apply calls: what an oracle mismatch fails
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # (key, rows) of lookups made against the final state
    final_lookups: list[tuple] = field(default_factory=list)
    final_counts: list[int] = field(default_factory=list)


def _op(res: PassResult, span, kind: str, fn, warm: bool):
    """Run one operation inside ``span``; returns ``(value, seconds)``, or
    None when it failed (a failure is counted, not raised)."""
    res.attempted += 1
    if kind == "ingest":
        res.ingest_ops += 1
    try:
        with span as rec:
            value = fn(rec)
    except Exception as e:  # a failed operation is a measured outcome
        res.failed += 1
        res.errors.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
        return None
    seconds = rec["end"] - rec["start"]
    if warm:
        res.warm_s += seconds
    return value, seconds


def _lookup(res: PassResult, tracer, table, key, final: bool = False, warm: bool = False) -> None:
    def run(rec):
        rows = table.lookup({"repo": key[0], "path": key[1]}).collect()
        rec["attrs"]["rows"] = len(rows)
        return rows

    out = _op(res, tracer.span("lake.table", "lookup", warm=warm), "lookup", run, warm)
    if out is not None and not warm:
        res.lookup_s.append(out[1])
        if final:
            res.final_lookups.append((key, [r.asDict() for r in out[0]]))


def _scan(res: PassResult, tracer, table, out: list, final: bool = False, warm: bool = False) -> None:
    span = tracer.span("lake.table", "scan", warm=warm, delta_files=table.delta_file_count())
    got = _op(res, span, "scan", lambda rec: table.read().count(), warm)
    if got is not None and not warm:
        out.append(got[1])
        if final:
            res.final_counts.append(got[0])


def _compact(res: PassResult, tracer, table) -> None:
    def run(rec):
        rec["attrs"]["result"] = table.compact()

    out = _op(res, tracer.span("lake.table", "compact"), "compact", run, False)
    if out is not None:
        res.compact_s = out[1]


def _read_phase(res: PassResult, spark, tracer, table, keys: list) -> None:
    """Reads after ingest: one untimed warm-up lookup and
    ``READ_WARM_SCANS`` untimed scans, then ``READ_SCANS`` full scans with
    the point lookups spread between them, and one compaction."""
    # start the reads on a collected heap, not amid the ingest's garbage
    spark.sparkContext._jvm.System.gc()
    _lookup(res, tracer, table, keys[0], warm=True)
    for _ in range(READ_WARM_SCANS):
        _scan(res, tracer, table, [], warm=True)
    for i in range(max(READ_SCANS, len(keys))):
        if i < READ_SCANS:
            _scan(res, tracer, table, res.scan_s, final=True)
        if i < len(keys):
            _lookup(res, tracer, table, keys[i], final=True)
    _compact(res, tracer, table)


def _batch_epochs(res: PassResult, spark, tracer, inputs: Inputs, apply, after=None,
                  n_warm: int = 1) -> None:
    """Apply the slices in order, one epoch each; the first ``n_warm`` are
    the untimed warm-up. ``after(k)`` runs the reads that follow epoch ``k``."""
    for k, path in enumerate(inputs.slices):
        ev = spark.read.parquet(path)
        warm = k < n_warm
        out = _op(res, tracer.epoch(kind="batch", epoch=k, warm=warm), "ingest",
                  lambda rec, k=k, ev=ev: apply(k, ev), warm)
        if out is None:
            break
        if not warm:
            res.epoch_s.append(out[1])
            res.events += inputs.n_events[k]
        if after is not None:
            after(k)
    res.ingest_s = sum(res.epoch_s)


def run_pass(workload: str, spark, tracer, inputs: Inputs, shape: Shape, tables: dict,
             lookups: list[list[tuple]], checkpoint: str, progress_dir: str | None) -> PassResult:
    """One pass of ``workload`` over fresh ``tables``; ``lookups[k]`` are the
    keys looked up after epoch ``k`` (mor_read_mix) or after ingest."""
    res = PassResult()
    main = LakeTable.load(spark, primary(tables))
    if workload == "bulk_cow":
        _batch_epochs(res, spark, tracer, inputs, lambda k, ev: replay_batch(
            spark, ev, main, run_id=f"bulk-{k}", n_epochs=1, merge_mode="cow"
        ))
        _read_phase(res, spark, tracer, main, lookups[-1])
    elif workload == "stream_fanout":
        sinks = [
            SinkSpec(name="full", path=tables["full"]),
            SinkSpec(name="slim", path=tables["slim"], transforms=(("drop", ["content"]),)),
            SinkSpec(
                name="hashed", path=tables["hashed"],
                transforms=(("with_column", "content_sha", "sha2(content, 256)"),),
            ),
        ]
        out = _op(res, tracer.span("cdc.replayer", "replay_stream"), "ingest",
                  lambda rec: replay_stream(
                      spark, inputs.stream_dir, sinks, checkpoint=checkpoint,
                      max_files_per_trigger=1, merge_mode="cow", progress_dir=progress_dir,
                  ), False)
        # one file per micro-batch; batch 0 is the untimed warm-up, and the
        # timed region runs from the start of batch 1 to the end of the last
        # batch that carried data
        res.warm_s += sum(s["end"] - s["start"] for s in tracer.named("epoch", warm=True))
        timed = tracer.measured_epochs()
        if out is not None and timed:
            res.epoch_s = [s["end"] - s["start"] for s in timed]
            res.ingest_s = timed[-1]["end"] - timed[0]["start"]
            res.events = sum(inputs.n_events[1:])
        _read_phase(res, spark, tracer, main, lookups[-1])
    elif workload == "mor_read_mix":
        last = len(inputs.slices) - 1

        def apply(k, ev):
            with tracer.span("cdc.apply", "apply_batch", sink="main") as rec:
                out = apply_batch(main, ev, run_id="mor", epoch=k, merge_mode="mor")
                rec["attrs"]["result"] = out

        def reads(k):
            warm = k < MOR_WARM_EPOCHS
            for key in lookups[k]:
                _lookup(res, tracer, main, key, final=k == last, warm=warm)
            if k == 0 or (not warm and (k - MOR_WARM_EPOCHS) % MOR_SCAN_EVERY == 0):
                _scan(res, tracer, main, res.scan_s, warm=warm)

        _batch_epochs(res, spark, tracer, inputs, apply, after=reads, n_warm=MOR_WARM_EPOCHS)
        _compact(res, tracer, main)
        post: list[float] = []
        _scan(res, tracer, main, post, final=True)
        res.post_compact_scan_s = post[0] if post else 0.0
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return res
