"""Per-layer metrics of the traced run, computed from its spans.

Times are medians over the calls of one layer function; counts are per
call unless named otherwise. ``spark.*`` metrics are per operation, summed
over every span of the operation (each Spark job belongs to exactly one
span). Metrics of a layer the workload never calls read 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracing import covered


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _jobs(spans) -> list:
    return [j for s in spans for j in s.jobs]


def _stage(spans, key: str) -> float:
    return sum(s.stages.get(key, 0) for s in spans)


def per_layer(wl, tracer, ops, elapsed: float, session_start_s: float, spans_path: str) -> dict:
    spans = tracer.spans
    extra = {s.span_id: [s.attrs["stream_group"]] for s in spans if "stream_group" in s.attrs}
    tracer.collect_jobs(spans, extra)
    tracer.dump(spans_path)
    by_op = defaultdict(list)
    for s in spans:
        by_op[s.op_id].append(s)
    loop = [s for s in spans if s.op_id >= 0]
    named = lambda n: [s for s in loop if s.name == n]  # noqa: E731
    m: dict[str, float] = {"session.start_s": session_start_s,
                           "trace.ops_per_min": 60 * len(ops) / elapsed}

    # -- spark, per operation -------------------------------------------------
    cores = wl.spark.sparkContext.defaultParallelism
    per_op = [by_op[o.index] for o in ops]
    for key, stage_key in (("tasks", "tasks"), ("executor_s", "executor_s"), ("cpu_s", "cpu_s"),
                           ("shuffle_write_bytes", "shuffle_write_bytes"), ("stages", "stages")):
        m[f"spark.{key}"] = _mean(_stage(sp, stage_key) for sp in per_op)
    m["spark.jobs"] = _mean(len(_jobs(sp)) for sp in per_op)
    m["spark.spill_bytes"] = _mean(_stage(sp, "spill_bytes") + _stage(sp, "disk_spill_bytes") for sp in per_op)
    m["spark.failed_tasks"] = sum(_stage(sp, "failed_tasks") for sp in per_op)
    wall = sum(o.dur for o in ops)
    m["spark.slot_idle_share"] = 1 - sum(_stage(sp, "executor_s") for sp in per_op) / (wall * cores)
    gaps = []
    for sp in per_op:
        for r in (s for s in sp if s.parent is None):  # the operation's own span
            gaps.append(r.dur - covered([(j[1], j[2]) for j in _jobs(sp)], r.start, r.end))
    m["spark.driver_gap_s"] = _mean(gaps)

    # -- sources ------------------------------------------------------------------
    csv = named("sources.csv.read")
    m["sources.csv.input_bytes"] = _med(s.attrs.get("input_bytes", 0) for s in csv)
    m["sources.csv.tasks"] = _med(s.attrs.get("partitions", 0) for s in csv)
    loads = defaultdict(list)
    for s in named("sources.tables.load"):
        loads[s.op_id].append(s)
    m["sources.tables.load_s"] = _med(sum(s.dur for s in v) for v in loads.values())
    m["sources.tables.scan_bytes"] = _med(sum(s.attrs.get("scan_bytes", 0) for s in v) for v in loads.values())

    # -- schema ---------------------------------------------------------------------
    cv = named("schema.cast_and_validate")
    m["schema.cast_and_validate_s"] = _med(s.dur for s in cv)
    m["schema.cast_and_validate_jobs"] = _mean(len(s.jobs) for s in cv)

    # -- plans and operators, per registry query ------------------------------------
    kinds = {o.kind for o in ops}
    for q in sorted(kinds):
        b = [s for s in named("plans.build") if s.attrs.get("query") == q]
        if not b:
            continue
        m[f"plans.{q}.build_s"] = _med(s.dur for s in b)
        m[f"plans.{q}.build_jobs"] = _mean(len(s.jobs) for s in b)
        m[f"plans.{q}.execute_s"] = _med(s.dur for s in named("plans.execute") if s.attrs.get("query") == q)
        m[f"plans.{q}.exchanges"] = _med(o.attrs["exchanges"] for o in ops if o.kind == q and "exchanges" in o.attrs)
        qops = [by_op[o.index] for o in ops if o.kind == q]
        m[f"operators.{q}.executor_s"] = _med(_stage(sp, "executor_s") for sp in qops)
        m[f"operators.{q}.shuffle_bytes"] = _med(_stage(sp, "shuffle_write_bytes") for sp in qops)
        m[f"operators.{q}.spill_bytes"] = _med(_stage(sp, "spill_bytes") + _stage(sp, "disk_spill_bytes")
                                               for sp in qops)
    setup = [s for s in spans if s.op_id < 0]
    m["operators.similarity.ivf_build_s"] = _med(
        s.dur for s in setup if s.name == "operators.similarity.ivf_build")
    m["operators.pq.build_s"] = _med(s.dur for s in setup if s.name == "operators.pq.build")
    m.update(getattr(wl, "recalls", lambda ops: {})(ops))

    # -- sinks, manifest, streaming ---------------------------------------------------
    w = named("sinks.writer.write")
    m["sinks.writer.write_s"] = _med(s.dur for s in w)
    m["sinks.writer.output_bytes"] = _med(s.attrs.get("output_bytes", 0) for s in w)
    m["sinks.writer.files"] = _med(s.attrs.get("files", 0) for s in w)
    mf = named("manifest.write")
    m["manifest.write_s"] = _med(s.dur for s in mf)
    m["manifest.jobs"] = _mean(len(s.jobs) for s in mf)
    commits = named("sinks.txlog.commit")
    m["sinks.txlog.commit_s"] = _med(s.dur for s in commits)
    m["sinks.txlog.commit_driver_s"] = _med(
        s.dur - covered([(j[1], j[2]) for j in s.jobs], s.start, s.end) for s in commits)
    m["sinks.txlog.upsert_s"] = _med(s.dur for s in named("sinks.txlog.upsert"))
    comp = named("sinks.txlog.compact")
    m["sinks.txlog.compact_s"] = _med(s.dur for s in comp)
    m["sinks.txlog.compact_bytes_rewritten"] = _med(s.attrs.get("bytes_rewritten", 0) for s in comp)
    m.update(getattr(wl, "log_counts", lambda: {})())
    snaps = named("sinks.txlog.snapshot")
    m["sinks.txlog.snapshot_s"] = _med(s.dur for s in snaps)
    pruned = [s for s in snaps if s.attrs.get("pruning")]
    live = sum(s.attrs["files_live"] for s in pruned)
    m["sinks.txlog.files_pruned_share"] = 1 - sum(s.attrs["files_read"] for s in pruned) / live if live else 0.0
    m["sinks.matview.refresh_s"] = _med(s.dur for s in named("sinks.matview.refresh"))
    m["streaming.medallion.hop_s"] = _med(s.dur for s in named("streaming.medallion.hop"))
    return m
