"""Spans, per-stage Spark metrics and the statistics the benchmark reports.

A :class:`Tracer` records one span per layer call the benchmark makes:
name, layer, start, end, parent span and run id. Each span runs under its
own Spark job group, so the jobs a layer launches can be looked up after
the span ends, and their stages' metrics read from the status store
(``statusStore().lastStageAttempt``, which works with the UI disabled).
Jobs run inside a child span belong to the child, so a span's stage
metrics are its own, never its children's. Spans stay in memory until
:meth:`Tracer.dump` writes them out at the end of the run.

The untraced run uses :class:`NullTracer`, whose spans cost one clock
read and launch no Spark calls.

Everything below the tracers is plain Python with no Spark dependency, so
the self-tests in ``test_perfbench.py`` run without a session.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# stage fields read from the status store, summed per span
STAGE_FIELDS = (
    "executorRunTime",      # ms
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "diskBytesSpilled",
    "memoryBytesSpilled",
    "inputRecords",
    "outputRecords",
    "jvmGcTime",            # ms
    "numCompleteTasks",
)

MB = 1024.0 * 1024.0

# the span the validate workload opens around each checkpointed bucket
BUCKET_SPAN = "checkpoint.run_bucketed"


class Span:
    __slots__ = (
        "span_id", "name", "layer", "parent", "run_id", "start", "end",
        "rows_in", "rows_out", "jobs", "stages",
    )

    def __init__(self, span_id, name, layer, parent, run_id, start):
        self.span_id = span_id
        self.name = name
        self.layer = layer
        self.parent = parent
        self.run_id = run_id
        self.start = start
        self.end = None
        self.rows_in = 0
        self.rows_out = 0
        self.jobs = 0
        self.stages = dict.fromkeys(STAGE_FIELDS, 0)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def as_dict(self, self_s: float) -> dict:
        return {
            "span_id": self.span_id, "name": self.name, "layer": self.layer,
            "parent": self.parent, "run_id": self.run_id,
            "start": self.start, "end": self.end, "self_s": self_s,
            "rows_in": self.rows_in, "rows_out": self.rows_out,
            "jobs": self.jobs, "stages": self.stages,
        }


class NullTracer:
    """Untraced run: spans only give the caller somewhere to put counts."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str = "bench", rows_in: int = 0):
        yield Span(0, name, layer, None, "", 0.0)


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()

    def _group(self, span: Span) -> str:
        return f"{self.run_id}-{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span.name, False)

    @contextmanager
    def span(self, name: str, layer: str = "bench", rows_in: int = 0):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans) + 1, name, layer,
            parent.span_id if parent else None, self.run_id, time.perf_counter(),
        )
        sp.rows_in = rows_in
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._collect(sp)
            self._set_group(parent)

    def _collect(self, sp: Span) -> None:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # stages of jobs that just finished are visible
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self._group(sp))
        sp.jobs = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                # a stage reused by a later job shows up under both jobs
                # (as SKIPPED under the second): count it once
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage never ran / evicted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                for f in STAGE_FIELDS:
                    sp.stages[f] += int(getattr(sd, f)())
        # boundary counts the caller did not set: records the span's jobs
        # read from storage, and wrote
        sp.rows_in = sp.rows_in or sp.stages["inputRecords"]
        sp.rows_out = sp.rows_out or sp.stages["outputRecords"]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([s.as_dict(selfs[s.span_id]) for s in self.spans], f)


# ---------------------------------------------------------------------------
# statistics


def tail_percentile(samples, beyond: int = 10):
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it: the ``n - beyond``-th smallest sample.

    With fewer than ``2 * beyond`` samples that percentile would sit at or
    below the median, so the maximum is reported instead (percentile 100).
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n >= 2 * beyond:
        return 100.0 * (n - beyond) / n, s[n - beyond - 1]
    return 100.0, s[-1]


def _covered(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """span_id → the span's duration minus the part of it covered by its
    children's intervals (clipped to the span)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        iv = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = (s.end - s.start) - _covered(iv)
    return out


# ---------------------------------------------------------------------------
# per-layer report

LAYERS = (
    "sources", "resolve", "rules", "sinks", "checkpoint", "tiles",
    "knn", "pip", "spatial_join", "overlay",
)
COMMON = (
    ("busy_s", "s"), ("exec_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("jobs", "count"), ("rows_in", "count"),
    ("rows_out", "count"),
)
SPECIFIC = (
    ("sources.extract_identical_ratio", "ratio"),
    ("resolve.dropped_ratio", "ratio"),
    ("rules.flag_ratio", "ratio"),
    ("sinks.bytes_written_mb", "MB"),
    ("checkpoint.s_per_bucket", "s"),
    ("checkpoint.jobs_per_bucket", "count"),
    ("checkpoint.write_amp", "ratio"),
    ("tiles.pairs_per_s", "1/s"),
    ("knn.driver_share", "ratio"),
    ("pip.hit_ratio", "ratio"),
    ("spatial_join.replication", "ratio"),
    ("spatial_join.pairs_per_point", "ratio"),
    ("overlay.pairs_out", "count"),
    ("spark.gc_s", "s"),
    ("spark.tasks", "count"),
)


def per_layer_units() -> dict:
    units = {
        f"{layer}.{m}": u for layer in LAYERS + ("spark",) for m, u in COMMON
    }
    units.update(SPECIFIC)
    return units


def _zero() -> dict:
    return {"busy_s": 0.0, "jobs": 0, "rows_in": 0, "rows_out": 0,
            **dict.fromkeys(STAGE_FIELDS, 0)}


def layer_totals(spans) -> dict:
    """layer → summed self time, stage metrics, jobs and boundary rows."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        t = out.setdefault(s.layer, _zero())
        t["busy_s"] += selfs[s.span_id]
        t["jobs"] += s.jobs
        t["rows_in"] += s.rows_in
        t["rows_out"] += s.rows_out
        for f in STAGE_FIELDS:
            t[f] += s.stages[f]
    return out


def common_metrics(t: dict) -> dict:
    return {
        "busy_s": t["busy_s"],
        "exec_s": t["executorRunTime"] / 1000.0,
        "shuffle_write_mb": t["shuffleWriteBytes"] / MB,
        "spill_mb": t["diskBytesSpilled"] / MB,
        "jobs": t["jobs"],
        "rows_in": t["rows_in"],
        "rows_out": t["rows_out"],
    }


def driver_share(exec_s: float, busy_s: float, cores: int) -> float:
    """Share of a layer's core-seconds not spent in executor tasks: the
    driver-side planning, job launch and Python round trips."""
    return 1.0 - exec_s / (busy_s * cores) if busy_s > 0 else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer_report(spans, cores: int, counters: dict) -> dict:
    """Every per-layer metric, by name. ``counters`` holds the counts the
    workload measured at its own boundaries (pages, ways, hits, pairs,
    bytes written); a counter it did not measure reads as 0."""
    totals = layer_totals(spans)
    m = {}
    for layer in LAYERS:
        for k, v in common_metrics(totals.get(layer, _zero())).items():
            m[f"{layer}.{k}"] = v
    everything = _zero()
    for t in totals.values():
        for k in everything:
            everything[k] += t[k]
    root = [s for s in spans if s.parent is None]
    spark = common_metrics(everything)
    spark["busy_s"] = sum(s.wall_s for s in root)
    for k, v in spark.items():
        m[f"spark.{k}"] = v
    m["spark.gc_s"] = everything["jvmGcTime"] / 1000.0
    m["spark.tasks"] = everything["numCompleteTasks"]

    c = counters
    m["sources.extract_identical_ratio"] = ratio(
        c.get("pages_identical", 0), c.get("pages", 0))
    m["resolve.dropped_ratio"] = ratio(
        c.get("ways_parsed", 0) - c.get("ways_resolved", 0), c.get("ways_parsed", 0))
    m["rules.flag_ratio"] = ratio(c.get("ways_flagged", 0), c.get("ways_checked", 0))
    m["sinks.bytes_written_mb"] = c.get("sink_bytes", 0) / MB
    # per bucket: the checkpointed loop's own spans, not the one-off staging
    selfs = self_times(spans)
    per_bucket = [s for s in spans if s.name == BUCKET_SPAN]
    m["checkpoint.s_per_bucket"] = ratio(
        sum(selfs[s.span_id] for s in per_bucket), len(per_bucket))
    m["checkpoint.jobs_per_bucket"] = ratio(sum(s.jobs for s in per_bucket), len(per_bucket))
    m["checkpoint.write_amp"] = ratio(c.get("bytes_written", 0), c.get("bucket_out_bytes", 0))
    m["tiles.pairs_per_s"] = ratio(c.get("tile_pairs", 0), m["tiles.busy_s"])
    m["knn.driver_share"] = driver_share(m["knn.exec_s"], m["knn.busy_s"], cores)
    m["pip.hit_ratio"] = ratio(c.get("pip_hits", 0), c.get("pip_points", 0))
    # shuffle records written per input point
    sj = totals.get("spatial_join", _zero())
    m["spatial_join.replication"] = ratio(sj["shuffleWriteRecords"], c.get("range_points", 0))
    m["spatial_join.pairs_per_point"] = ratio(
        c.get("range_pairs", 0), c.get("range_points", 0))
    m["overlay.pairs_out"] = c.get("overlay_pairs", 0)
    return m
