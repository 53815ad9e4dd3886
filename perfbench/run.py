#!/usr/bin/env python3
"""The repository benchmark: one workload per run, outputs checked.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json and
``workloads.py``): ``validate`` (the checkpointed wayproblems job) and
``relayer`` (index rebuilds, overlay, skewed backfill and tile pyramid).

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the
same workload with a span around each engine call and prints every
per-layer metric instead, plus each span's self time and the tracing
overhead against the untraced runs recorded in this checkout. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.bench_work/`` in the current
directory; the run's own scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "items_per_s": "1/s",
}
SETUP_REPS = 3


def _status_kb(pid: int, key: str = "VmHWM:") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass  # the process exited between listing and reading
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


class PeakRss:
    """Peak resident memory of the driver JVM and its Python workers:
    the largest sum of their ``VmHWM`` seen while polling ``/proc``."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _sample(self) -> None:
        # only the JVM and its Python workers: a process the JVM has just
        # forked to exec something else briefly shows the JVM's own pages
        procs = [self.jvm_pid] + [p for p in _tree(self.jvm_pid)[1:] if _is_python(p)]
        kb = sum(_status_kb(p) for p in procs)
        self.peak_kb = max(self.peak_kb, kb)

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def _session(cores: int, work: str):
    from wayproblems_spark.session import get_spark

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: G1's heap resizing follows GC timing, which
            # made the JVM's peak RSS swing by a third between equal runs
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


HISTORY = os.path.join(WORK, "history.jsonl")


def _record_untraced(workload: str, seed: int, e2e: dict) -> None:
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "metrics": e2e}) + "\n")


def _untraced_runs(workload: str) -> list[dict]:
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    return [r for r in runs if r["workload"] == workload]


def _trace_summary(tracer, workload: str, e2e: dict) -> None:
    from perfbench.trace import self_times

    selfs = self_times(tracer.spans)
    print(f"# spans ({workload}): self time, wall, jobs")
    by_name: dict = {}
    for s in tracer.spans:
        t = by_name.setdefault((s.layer, s.name), [0.0, 0.0, 0, 0])
        t[0] += selfs[s.span_id]
        t[1] += s.wall_s
        t[2] += s.jobs
        t[3] += 1
    for (layer, name), (self_s, wall, jobs, n) in sorted(by_name.items()):
        print(f"#   {name:<40} {layer:<13} self {self_s:8.3f} s  wall {wall:8.3f} s"
              f"  jobs {jobs:4d}  spans {n}")
    root = [s for s in tracer.spans if s.parent is None]
    traced_wall = sum(s.wall_s for s in root)
    layer_self = sum(v for s in tracer.spans if s.layer != "bench" for v in [selfs[s.span_id]])
    print(f"# traced wall {traced_wall:.3f} s = layer self {layer_self:.3f} s"
          f" + unattributed {traced_wall - layer_self:.3f} s")
    base = _untraced_runs(workload)
    if not base:
        print("# tracing overhead: no untraced run of this workload recorded here")
        return
    for k in ("build_s", "op_p50_s"):
        ref = statistics.median(r["metrics"][k] for r in base)
        print(f"# tracing overhead {k}: traced {e2e[k]:.3f} s - untraced median "
              f"{ref:.3f} s ({len(base)} runs) = {e2e[k] - ref:+.3f} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import wayproblems_spark  # noqa: F401  the engine, built from this checkout
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace
    from perfbench.workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    os.makedirs(work, exist_ok=True)
    # Python workers import the engine from the checkout and keep their
    # temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts: temp files inside the checkout and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")

    t_start = time.perf_counter()
    spark = _session(cores, work)
    phases = {"session": time.perf_counter() - t_start}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        tracer = (trace.Tracer(spark.sparkContext, run_id) if args.trace
                  else trace.NullTracer())
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds)
        res = Outcome()
        with PeakRss(SparkContext._gateway.proc.pid) as rss:
            setups = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup(rep)
                setups.append(time.perf_counter() - t)
            phases["setup"] = sum(setups)
            t = time.perf_counter()
            e2e = wl.run(res)
            phases["run"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.check(res)
        phases["check"] = time.perf_counter() - t
        notes = e2e.pop("_notes")
        e2e["setup_s"] = statistics.median(setups)
        e2e["peak_rss_mb"] = rss.peak_kb / 1024.0

        print(f"# workload {args.workload} seed {args.seed} cores {cores} "
              f"trace {args.trace}")
        print(f"# setup reps (s): {', '.join(f'{s:.3f}' for s in setups)}")
        print("# phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        print(f"# {json.dumps(notes)}")
        print(f"# attempted {res.attempted} failed {res.failed} "
              f"failed_share {res.failed / max(res.attempted, 1):.4f}")
        for err in res.errors:
            print(f"# {err}", file=sys.stderr)
        if args.trace:
            tracer.dump(os.path.join(WORK, f"trace-{run_id}.json"))
            _trace_summary(tracer, args.workload, e2e)
            units = trace.per_layer_units()
            values = trace.per_layer_report(tracer.spans, cores, wl.counters)
        else:
            _record_untraced(args.workload, args.seed, e2e)
            units, values = END_TO_END, e2e
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        for k, m in metrics.items():
            print(f"# {k:<36} {m['value']:>16.6f} {m['unit']}")
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
