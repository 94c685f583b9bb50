"""Span tracing for the benchmark's traced run.

The tracer wraps the product's public functions from outside — the
module attribute a caller looks up (``scheduler_spark.pipeline.extract_mentions``)
or a method of the ``Catalog`` instance the benchmark passes in — so no
product file changes.  Each wrapped call becomes a span:

1. the real product function runs inside the wrapper;
2. a Spark job group names the span while it runs;
3. a returned DataFrame is forced with ``localCheckpoint()`` so lazy
   work lands in the span that built it;
4. executor metrics for the span are read from the driver's status
   store by job group.

A span's own stages are those of its job group that completed and were
submitted inside the span but outside its child spans.  That rule
counts a stage id once, skips attempts that did not complete, and skips
a reused shuffle stage that a later job lists with its first run's
metrics.  The store keeps only the last ``spark.ui.retainedJobs`` jobs,
so a span's stages are read at each child start and at its own end,
never once at the end of the run.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

# per-span executor counters read from the status store
COUNTERS = ("jobs", "task_s", "jvm_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


@dataclass(frozen=True)
class StageAttempt:
    """One stage attempt as the status store reports it."""

    stage_id: int
    attempt_id: int
    status: str
    submitted_ms: int | None
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


def own_stage_totals(
    attempts: Iterable[StageAttempt],
    since_ms: int,
    until_ms: int,
    excluded: list[tuple[int, int]],
    seen: set[int],
) -> dict[str, float]:
    """Sum the attempts that belong to one span window.

    An attempt belongs when it COMPLETED, was submitted in
    [since_ms, until_ms] and not inside an ``excluded`` (child span)
    interval, and its stage id is not in ``seen``.  ``seen`` is updated,
    so a stage listed by several jobs, or read again at the span's next
    boundary, counts once.
    """
    out = dict.fromkeys(COUNTERS[1:], 0.0)
    fresh: dict[int, list[StageAttempt]] = {}
    for a in attempts:
        if a.stage_id in seen or a.status != "COMPLETE" or a.submitted_ms is None:
            continue
        t = a.submitted_ms
        if not since_ms <= t <= until_ms or any(lo <= t <= hi for lo, hi in excluded):
            continue
        fresh.setdefault(a.stage_id, [])
        if all(a.attempt_id != b.attempt_id for b in fresh[a.stage_id]):
            fresh[a.stage_id].append(a)
    for sid, stage_attempts in fresh.items():
        seen.add(sid)
        for a in stage_attempts:
            out["task_s"] += a.run_ms / 1e3
            out["jvm_cpu_s"] += a.cpu_ns / 1e9
            out["gc_s"] += a.gc_ms / 1e3
            out["shuffle_write_bytes"] += a.shuffle_write_bytes
            out["spill_bytes"] += a.spill_bytes
    return out


class StatusReader:
    """Reads stage attempts of a job group from the driver status store."""

    def __init__(self, sc) -> None:
        self._sc = sc
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Block until every queued listener event reached the store;
        without this a just-finished stage may still read as empty."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def attempts(self, job_ids: Iterable[int]) -> list[StageAttempt]:
        tracker = self._sc.statusTracker()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = []
        for sid in sorted(stage_ids):
            rows = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(rows.size()):
                sd = rows.apply(i)
                sub = sd.submissionTime()
                out.append(
                    StageAttempt(
                        stage_id=sd.stageId(),
                        attempt_id=sd.attemptId(),
                        status=sd.status().toString(),
                        submitted_ms=sub.get().getTime() if sub.isDefined() else None,
                        run_ms=sd.executorRunTime(),
                        cpu_ns=sd.executorCpuTime(),
                        gc_ms=sd.jvmGcTime(),
                        shuffle_write_bytes=sd.shuffleWriteBytes(),
                        spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    )
                )
        return out


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op_id: int | None
    start: float  # time.time() seconds
    end: float = 0.0
    own: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    extra: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)
    _seen_stages: set[int] = field(default_factory=set, repr=False)
    _seen_jobs: set[int] = field(default_factory=set, repr=False)
    group: str = ""  # the Spark job group, unique per tracer and span

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_seconds(span: Span, spans: dict[int, Span]) -> float:
    """Wall time of `span` not covered by any child span (children run
    one after another on the driver thread, so they never overlap)."""
    return span.wall - sum(spans[c].wall for c in span.children)


def inclusive(span: Span, spans: dict[int, Span]) -> dict[str, float]:
    """A span's counters plus those of all its descendants."""
    out = dict(span.own)
    for c in span.children:
        for k, v in inclusive(spans[c], spans).items():
            out[k] += v
    return out


class Tracer:
    """Records spans around wrapped product calls.

    ``wrap``/``wrap_method`` patch a callable in place and remember the
    original; ``restore`` puts every original back.  Only one thread
    may drive traced calls.
    """

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self.reader = StatusReader(self.sc)
        self.spans: dict[int, Span] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._tag = uuid.uuid4().hex[:12]
        self._patched: list[tuple[Any, str, Any, bool]] = []

    # -- spans ----------------------------------------------------------
    def _collect(self, span: Span, until: float) -> None:
        """Add the stages `span` ran since its last read to its own counters."""
        self.reader.drain()
        jobs = self.reader.job_ids(span.group)
        span._seen_jobs.update(jobs)
        excluded = [
            (int(self.spans[c].start * 1e3), int(self.spans[c].end * 1e3))
            for c in span.children
        ]
        totals = own_stage_totals(
            self.reader.attempts(jobs),
            int(span.start * 1e3),
            int(until * 1e3) + 1,
            excluded,
            span._seen_stages,
        )
        for k, v in totals.items():
            span.own[k] += v
        span.own["jobs"] = float(len(span._seen_jobs))

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name, False)

    def begin(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self._collect(parent, time.time())
        sid = next(self._ids)
        op_id = sid if parent is None else parent.op_id
        span = Span(sid, name, parent.span_id if parent else None, op_id, time.time(),
                    group=f"perfbench-{self._tag}-{sid}")
        self.spans[sid] = span
        if parent is not None:
            parent.children.append(sid)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name!r} ended out of order; spans must nest")
        span.end = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self._collect(span, span.end)

    def call(self, name: str, fn: Callable[[], Any]) -> Any:
        """Run fn as a span (an op span: its result is not forced)."""
        span = self.begin(name)
        try:
            return fn()
        finally:
            self.end(span)

    def probe(self, fn: Callable[[], Any]) -> Any:
        """Tracing-only work (row counts): a `trace.probe` span, so it is
        excluded from the op's self time and shows as overhead."""
        return self.call("trace.probe", fn)

    # -- wrapping -------------------------------------------------------
    def _wrapper(self, name: str, fn: Callable, rows_in: bool, rows_out: bool,
                 table_dir: Callable[..., str] | None) -> Callable:
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n_in = None
            if rows_in and args and isinstance(args[0], DataFrame):
                n_in = self.probe(args[0].count)
            before = time.time()
            span = self.begin(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint()
            finally:
                self.end(span)
            if n_in is not None:
                span.extra["rows_in"] = float(n_in)
            if rows_out and isinstance(out, DataFrame):
                span.extra["rows_out"] = float(self.probe(out.count))
            if table_dir is not None:
                files, size = written_since(table_dir(*args, **kwargs), before)
                span.extra["files_written"] = float(files)
                span.extra["bytes_written"] = float(size)
            return out

        return traced

    def wrap(self, module, attr: str, name: str, rows_in: bool = False,
             rows_out: bool = False) -> None:
        """Replace module.attr (a function callers look up at call time)."""
        original = getattr(module, attr)
        self._patched.append((module, attr, original, False))
        setattr(module, attr, self._wrapper(name, original, rows_in, rows_out, None))

    def wrap_method(self, obj, attr: str, name: str, table_arg: int) -> None:
        """Shadow a bound method on one instance; `table_arg` is the index
        of the table-name argument, used to count the files written."""
        original = getattr(obj, attr)

        def table_dir(*args, **kwargs) -> str:
            return obj.table_path(args[table_arg] if len(args) > table_arg else kwargs["name"])

        self._patched.append((obj, attr, original, True))
        setattr(obj, attr, self._wrapper(name, original, False, False, table_dir))

    def restore(self) -> None:
        while self._patched:
            target, attr, original, on_instance = self._patched.pop()
            if on_instance:
                delattr(target, attr)
            else:
                setattr(target, attr, original)

    # -- reporting ------------------------------------------------------
    def records(self) -> list[dict]:
        out = []
        for s in self.spans.values():
            rec = {
                "span_id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "op_id": s.op_id,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall,
                "self_s": self_seconds(s, self.spans),
                "own": s.own,
                "inclusive": inclusive(s, self.spans),
            }
            rec.update(s.extra)
            out.append(rec)
        return out


def written_since(root: str, since: float) -> tuple[int, int]:
    """Parquet files under `root` modified at or after `since`, and their bytes."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= since - 1e-3:
                files += 1
                size += st.st_size
    return files, size
