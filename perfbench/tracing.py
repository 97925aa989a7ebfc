"""Span tracing for the traced benchmark run.

A span is opened around each call into one of the program's layers. Every
span gets its own Spark job group, so each Spark job is attributed to the
innermost span that submitted it; after the operation the job and stage
metrics are read from Spark's status store (it works with the UI off).

Spans stay in memory and are written out as JSON when the run ends. The
program is never edited: the layer functions the pipeline and registry
modules call are rebound in those modules' namespaces (``install_patches``).
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

_EXCHANGE = re.compile(r"^[\s:+\-*|]*(\w*Exchange)\b")


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    span_id: int
    start: float = 0.0
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # [(job_id, submit_s, end_s, stage_ids)]
    stages: dict = field(default_factory=dict)  # summed stage metrics

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Thread-aware span recorder. ``enabled=False`` makes every call a
    plain pass-through, so the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    # -- span stack ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            span_id = next(self._ids)
        sp = Span(name, op_id if op_id is not None else (parent.op_id if parent else 0),
                  parent.span_id if parent else None, span_id, attrs=dict(attrs))
        sp.group = f"pb-{sp.span_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        st.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            st.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn, after=None):
        """``fn`` wrapped in a span; ``after(span, result, args, kwargs)``
        records counts once the call returns."""

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if sp is not None and after is not None:
                after(sp, out, args, kwargs)
            return out

        traced.__wrapped__ = fn
        return traced

    # -- status store ---------------------------------------------------------
    def collect_jobs(self, spans: list[Span], extra_groups: dict | None = None) -> None:
        """Attach each span's Spark jobs and summed stage metrics.
        ``extra_groups`` maps span id -> job groups Spark itself assigned
        (streaming queries run under their run id)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for sp in spans:
            groups = [sp.group] + list((extra_groups or {}).get(sp.span_id, []))
            for g in groups:
                for jid in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(jid)
                    try:
                        sp.jobs.append(_job_record(store, jid, list(info.stageIds) if info else []))
                    except Py4JJavaError:  # job evicted from the store (retainedJobs)
                        continue
            for _jid, _s, _e, stage_ids in sp.jobs:
                for sid in stage_ids:
                    _add_stage(sp.stages, sc, sid)

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as a JSON list."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        rows = [{**asdict(s), "self_s": self_time(s, children.get(s.span_id, []))} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f)


def job_ids(spark) -> set[int]:
    """Ids of every job in Spark's status store."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}


def input_records(spark, jids) -> int:
    """Records read from input (file scans) by the stages of jobs ``jids``;
    a stage shared by several jobs counts once."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for jid in jids:
        ids = store.job(jid).stageIds()
        stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
    acc: dict = {}
    for sid in stage_ids:
        _add_stage(acc, sc, sid)
    return int(acc.get("input_records", 0))


def _job_record(store, jid: int, stage_ids: list) -> tuple:
    jd = store.job(jid)
    sub, comp = jd.submissionTime(), jd.completionTime()
    s = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
    e = comp.get().getTime() / 1000 if comp.isDefined() else s
    return (int(jid), s, e, [int(x) for x in stage_ids])


_STAGE_FIELDS = {
    "executor_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def _add_stage(acc: dict, sc, sid: int) -> None:
    """Sum every attempt of stage ``sid`` into ``acc``; a skipped stage
    (reused shuffle output) adds nothing."""
    jvm = sc._jvm
    try:
        attempts = sc._jsc.sc().statusStore().stageData(
            sid, False, jvm.java.util.ArrayList(), False, sc._gateway.new_array(jvm.double, 0))
    except Py4JJavaError:  # stage evicted from the store
        return
    for i in range(attempts.size()):
        sd = attempts.apply(i)
        if sd.status().toString() == "SKIPPED":
            continue
        acc["stages"] = acc.get("stages", 0) + 1
        for key, (getter, scale) in _STAGE_FIELDS.items():
            acc[key] = acc.get(key, 0) + getattr(sd, getter)() * scale


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast, reused ones included) in the
    executed plan of an already-executed DataFrame."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:  # adaptive plans also print the initial plan
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return sum(1 for line in plan.splitlines() if _EXCHANGE.match(line))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part its child spans cover."""
    return span.dur - covered([(c.start, c.end) for c in children], span.start, span.end)


def dir_size(path: str) -> tuple[int, int]:
    """Bytes of every file under ``path``, and the number of data files
    (names not starting with ``.`` or ``_``: no checksums or markers)."""
    n = size = 0
    for root, _d, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(root, f))
            n += not f.startswith((".", "_"))
    return size, n


def install_patches(tracer: Tracer) -> None:
    """Rebind the layer functions where the pipeline, registry and operator
    modules look them up, so each call opens a span."""
    from data_ingestion_bra_spark.operators import pq, similarity
    from data_ingestion_bra_spark.pipelines import ingest_csv
    from data_ingestion_bra_spark.plans import llm_ops, relational, temporal
    from data_ingestion_bra_spark.sources.tables import _input_bytes

    def csv_counts(sp, df, args, kwargs):
        sp.attrs["partitions"] = df.rdd.getNumPartitions()
        sp.attrs["input_bytes"] = _input_bytes(df) or 0

    def writer_counts(sp, part_dir, args, kwargs):
        sp.attrs["output_bytes"], sp.attrs["files"] = dir_size(part_dir)

    def scan_bytes(sp, df, args, kwargs):
        sp.attrs["scan_bytes"] = _input_bytes(df) or 0

    for name, span in (("read_csv_asserted", "sources.csv.read"),
                       ("cast_and_validate", "schema.cast_and_validate"),
                       ("write_partitioned", "sinks.writer.write"),
                       ("write_metadata_from_df", "manifest.write")):
        after = {"sources.csv.read": csv_counts, "sinks.writer.write": writer_counts}.get(span)
        setattr(ingest_csv, name, tracer.wrap(span, getattr(ingest_csv, name), after))
    for mod in (relational, temporal, llm_ops):
        mod.load_table = tracer.wrap("sources.tables.load", mod.load_table, scan_bytes)
    similarity.load_or_build_ivf_index = tracer.wrap(
        "operators.similarity.ivf_build", similarity.load_or_build_ivf_index)
    pq.load_or_build_pq_index = tracer.wrap("operators.pq.build", pq.load_or_build_pq_index)
