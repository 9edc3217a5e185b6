"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository.  Generates the
workload's inputs from ``--seed`` under ``.perfbench_work/``, starts the
package's Spark session, measures, checks every output against DuckDB,
and prints one JSON object as the last line of standard output:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  ``--size tiny`` shrinks every input (the self-test runs
``--selftest``: every workload, both trace modes, at tiny size).

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "isaac_kafka_streaming_spark"
WORKLOADS = ("stream_live", "batch_board")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "work_s": "s",
    "events_per_s": "1/s",
}


@dataclass(frozen=True)
class Workload:
    customers: int
    documents: int
    embeddings: int
    batch_events: int = 0  # batch_board: rows of the events table
    interval: float = 0.0  # stream_live: seconds between live publishes
    events_per_file: int = 0  # stream_live: events in each file
    warm_s: float = 0.0  # stream_live: open-loop seconds before the measured window
    bursts: int = 0  # stream_live: backlog files published after the live phase
    burst_events: int = 0  # stream_live: events in each backlog file

    def live_files(self, seconds: int) -> int:
        return round(seconds / self.interval)

    def warm_files(self) -> int:
        return round(self.warm_s / self.interval)

    def size(self, seconds: int):
        from gen import Size

        if self.batch_events:
            file_events, stream = (self.batch_events,), False
        else:
            # the warm-up file, one file per open-loop interval, then the backlogs
            file_events = ((self.events_per_file,)
                           * (1 + self.warm_files() + self.live_files(seconds))
                           + (self.burst_events,) * self.bursts)
            stream = True
        return Size(self.customers, self.documents, self.embeddings, file_events, stream)


SIZES = {
    "full": {
        "stream_live": Workload(15000, 10, 10, interval=0.3, events_per_file=75,
                                warm_s=6.0, bursts=2, burst_events=2000),
        "batch_board": Workload(15000, 400, 200, batch_events=15_000),
    },
    "tiny": {
        "stream_live": Workload(2000, 10, 10, interval=0.25, events_per_file=50,
                                warm_s=1.0, bursts=1, burst_events=200),
        "batch_board": Workload(2000, 200, 200, batch_events=10_000),
    },
}


def _layer_names() -> list[str]:
    from batch import BATCH_LAYERS, LAYER_METRICS
    from stream import OUTPUTS

    names = ["session.get_spark_s", "session.warmup_s", "plans.views.user_dim_build_ms"]
    names += [f"{layer}.{m}" for layer in BATCH_LAYERS for m in LAYER_METRICS]
    names += ["operators.wall_s", "extensions.wall_s"]
    for output, _, stateful in OUTPUTS:
        names += [
            f"streaming.{output}.{m}"
            for m in ("trigger_ms", "source_ms", "queryPlanning_ms", "addBatch_ms",
                      "commit_ms")
        ]
        if stateful:
            names += [f"streaming.{output}.{m}"
                      for m in ("state_rows", "state_mem_bytes", "state_commit_ms")]
    names += ["streaming.state.python_s", "sources.file.rows_in", "sources.file.backlog_files",
              "generator.late_ms", "latency.last_output_p50_s", "latency.last_output_p90_s",
              "latency.samples", "session.peak_rss_mb", "traced.work_s"]
    return names


LAYER_UNITS = {
    "_s": "s", "_ms": "ms", "_bytes": "bytes", "jobs": "count", "tasks": "count",
    "rows_in": "count", "state_rows": "count", "backlog_files": "count",
    "samples": "count", "_mb": "MB",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise ValueError(name)


class Context:
    """What a workload needs and what it reports back."""

    def __init__(self, args, work: str) -> None:
        self.traced = bool(args.trace)
        self.seconds = args.seconds
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.tables = os.path.join(self.inputs, "tables")
        self.size = SIZES[args.size][args.workload]
        self.spark = None
        import measure

        self.spans = measure.Spans()
        self.layer: dict[str, float] = {}
        self.plan_ms: dict[str, float] = {}
        self.attempted = 0
        self.failures: dict[str, str] = {}  # operation -> first reason
        self.latencies: list[float] = []
        self.work_s = 0.0
        self.events_per_s = 0.0
        self._setup_start = None
        self.setup_s = None
        self._duck = None

    def start_setup(self) -> None:
        self._setup_start = time.time()

    @contextmanager
    def setup_phase(self, metric: str):
        t0 = time.time()
        with self.spans.timed(metric.rsplit("_", 1)[0], "session"):
            yield
        self.layer[metric] = time.time() - t0

    def end_setup(self) -> None:
        self.setup_s = time.time() - self._setup_start

    def record_latencies(self, values: list[float]) -> None:
        self.latencies = values
        self.layer["latency.samples"] = len(values)

    def fail(self, operation: str, reason: str) -> None:
        self.failures.setdefault(operation, reason)

    def duck(self):
        import check

        if self._duck is None:
            self._duck = check.connect(self.tables)
        return self._duck


def _environment(work: str, traced: bool) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``;
    size the session to this machine's cores."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONWARNINGS": "ignore::FutureWarning",
        "PYSPARK_SUBMIT_ARGS": f"{args} --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker under it have exited."""
    import measure
    from pyspark import SparkContext

    pids = measure.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") and _alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args) -> dict:
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"error: package {PACKAGE!r} not found under {ROOT}")
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, bool(args.trace))

    import batch
    import gen
    import stream
    import measure

    ctx = Context(args, work)
    with ctx.spans.timed("generate", "generator"):
        ctx.props = gen.generate(args.seed, ctx.size.size(args.seconds), ctx.inputs)
    if ctx.size.interval:
        ctx.props["events"].update(
            publish_events_per_s=ctx.size.events_per_file / ctx.size.interval,
            backlog_files=ctx.size.bursts, backlog_file_events=ctx.size.burst_events,
        )
    print(json.dumps({"workload": args.workload, "inputs": ctx.props}), file=sys.stderr)

    cpu0 = measure.cpu_times()
    rss = measure.PeakRss()
    rss.start()
    ctx.start_setup()
    with ctx.setup_phase("session.get_spark_s"):
        from isaac_kafka_streaming_spark.session import get_spark

        ctx.spark = spark = get_spark("perfbench")
    try:
        {"stream_live": stream.stream_live, "batch_board": batch.batch_board}[args.workload](ctx)
    finally:
        peak_mb = rss.stop()
        with ctx.spans.timed("stop", "session"):
            _stop_spark(spark)
    ctx.spans.write(os.path.join(work, "spans.json"))
    # other machines' load on the same host is the largest source of
    # run-to-run spread; this line lets a slow run be told apart
    print(f"cpu steal during the run: {measure.steal_share(cpu0, measure.cpu_times()):.1%}",
          file=sys.stderr)
    print("phases: " + ", ".join(
        f"{s['name']} {s['end'] - s['start']:.2f}s" for s in ctx.spans.spans
        if s["parent"] is None
    ), file=sys.stderr)

    for operation, reason in ctx.failures.items():
        print(f"FAILED {operation}: {reason}", file=sys.stderr)
    lat = ctx.latencies
    e2e = {
        "setup_s": ctx.setup_s,
        "latency_p50_s": measure.pct(lat, 0.5),
        "latency_p90_s": measure.pct(lat, 0.9),
        "work_s": ctx.work_s,
        "events_per_s": ctx.events_per_s,
    }
    ctx.layer["session.peak_rss_mb"] = peak_mb
    if args.trace:
        layer = {n: 0.0 for n in _layer_names()}
        layer.update({k: v for k, v in ctx.layer.items() if k in layer})
        jobs = measure.read_event_log(os.path.join(work, "eventlog"))
        if args.workload == "batch_board":
            layer.update(batch.layer_metrics(ctx.spans, jobs, ctx.plan_ms))
        else:
            # only the applyInPandasWithState machines start Python workers
            layer["streaming.state.python_s"] = sum(j["python_ms"] for j in jobs.values()) / 1000
        layer["traced.work_s"] = ctx.work_s
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layer.items()}
        print(json.dumps({"workload": args.workload, "end_to_end_traced": e2e}), file=sys.stderr)
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": metrics,
    }


def _declared() -> dict:
    """Metric names BENCHMARK.json declares, checked against this file."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        "workloads": [w["name"] for w in bench["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    expected = {
        "workloads": list(WORKLOADS),
        "end_to_end": END_TO_END,
        "per_layer": {n: layer_unit(n) for n in _layer_names()},
    }
    return {k: v for k, v in declared.items() if v != expected[k]}


def selftest() -> int:
    """Every workload, both trace modes, tiny inputs, a second seed: each
    run must pass every check and print every named metric."""
    sys.path.insert(0, HERE)
    mismatch = _declared()
    print(f"{'FAIL' if mismatch else 'ok  '} BENCHMARK.json matches run.py {sorted(mismatch)}")
    bad = bool(mismatch)
    for workload in WORKLOADS:
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "2", "--seconds", "2", "--trace", str(traced), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                result = {}
            names = _layer_names() if traced else list(END_TO_END)
            missing = [n for n in names if n not in result.get("metrics", {})]
            ok = proc.returncode == 0 and result.get("correct") and not result.get("failed") and not missing
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {workload} trace={traced} "
                  f"attempted={result.get('attempted')} failed={result.get('failed')} "
                  f"missing={missing}")
            if not ok:
                print(proc.stderr[-3000:])
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()
    if args.selftest:
        return selftest()
    if args.workload is None:
        p.error("--workload is required")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
