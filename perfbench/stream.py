"""The stream workload over the reference topology.

``stream_live``: an open-loop publisher moves pre-written event files
into a file-source directory on a fixed schedule while the full topology
runs as seven concurrent queries (the five ``run_full_topology``
materialises, built with its builders, output modes and memory sink,
plus the streak and threshold state machines).  A file's latency to an
output runs from the moment the file was due to be published to the
commit of that output's micro-batch holding it.  After the live phase,
a few backlog files are published one by one, each onto a drained
topology; a backlog's drain time runs from its publish to the last
output's commit holding it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pyarrow.parquet as pq

import check
import measure
from measure import pct

# (output, output mode, stateful) — the five outputs run_full_topology
# materialises, then the two state machines
OUTPUTS = (
    ("anonymous_events", "append", False),
    ("latest_per_user", "complete", True),
    ("event_type_counts", "complete", True),
    ("daily_counts", "complete", True),
    ("enriched_events", "append", False),
    ("streak_state", "update", True),
    ("threshold_crossings", "append", True),
)
ORDERED = ("streak_state", "threshold_crossings")


def _plans(spark, source_dir: str, user_dim) -> dict:
    """The seven outputs, built with the package's public builders and
    the output modes ``run_full_topology`` uses."""
    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.plans.views import question_attempts_from
    from isaac_kafka_streaming_spark.streaming import state
    from isaac_kafka_streaming_spark.streaming import topology as topo

    logged = topo.as_logged_events(topo.stream_events(spark, source_dir))
    reg = logged.filter(~F.col("anonymous_user"))
    correct = question_attempts_from(reg).filter(F.col("correct"))
    return {
        "anonymous_events": logged.filter(F.col("anonymous_user")),
        "latest_per_user": topo.streaming_latest_per_user(reg),
        "event_type_counts": topo.streaming_event_type_counts(reg),
        "daily_counts": topo.streaming_daily_counts(reg),
        "enriched_events": topo.streaming_enriched_events(reg, user_dim),
        "streak_state": state.streak_state_stream(reg),
        "threshold_crossings": state.threshold_crossing_stream(correct),
    }


# ---- checkpoint reading ---------------------------------------------------


def file_batches(ckpt: str) -> dict[str, int]:
    """{file name: micro-batch id} from a file-source query's
    ``sources/0`` log (plain and compacted entries)."""
    out = {}
    log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """{micro-batch id: commit time} from the mtimes of ``commits/<id>``."""
    log = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(log, n)).st_mtime
        for n in os.listdir(log)
        if n.isdigit()
    }


def file_latencies(ckpts: dict[str, str], due: dict[str, float]) -> tuple[dict, dict]:
    """Per output, {file: commit time of the output's batch holding the
    file, minus the time the file was due}; and per output, how many
    files it never committed (those files get no latency there)."""
    lat: dict[str, dict[str, float]] = {}
    missing: dict[str, int] = {}
    for output, ckpt in ckpts.items():
        batches, commits = file_batches(ckpt), commit_times(ckpt)
        lat[output] = {
            f: commits[batches[f]] - d
            for f, d in due.items()
            if batches.get(f) in commits
        }
        if len(lat[output]) < len(due):
            missing[output] = len(due) - len(lat[output])
    return lat, missing


# ---- correctness --------------------------------------------------------


def check_outputs(ctx, source_dir: str, tables: dict, ckpts: dict) -> None:
    """Compare every output's final state with DuckDB; record a failure
    per output that differs or raises."""
    want = check.expected_stream(
        ctx.duck(), source_dir, {o: file_batches(ckpts[o]) for o in ORDERED}
    )
    for name, _, _ in OUTPUTS:
        ctx.attempted += 1
        try:
            got = tables[name].toPandas()
            if name == "streak_state":
                got = check.final_streaks(got)
            reason = check.same_rows(got, want[name])
        except Exception as exc:  # a failed output is counted, not fatal
            reason = f"{type(exc).__name__}: {exc}"
        if reason:
            ctx.fail(name, reason)


# ---- workloads -------------------------------------------------------------


def _publish(files: list[str], src: str, interval: float, t0: float, log: list) -> None:
    """Move each file into the source directory at t0 + i * interval,
    whatever the system's state (open loop); record (name, due, done)."""
    for i, path in enumerate(files):
        due = t0 + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = os.path.basename(path)
        dest = os.path.join(src, name)
        os.rename(path, dest)
        os.utime(dest)
        log.append((name, due, time.time()))


def _max_backlog(log, committed_at: list[float]) -> int:
    """Most files published but not yet committed by every output, over
    the instants just after each publish."""
    done = sorted(committed_at)
    worst = 0
    for i, (_, _, published) in enumerate(log):
        committed = sum(1 for t in done if t <= published)
        worst = max(worst, i + 1 - committed)
    return worst


def _await_progress(listener, queries: dict, timeout: float = 10.0) -> None:
    """The listener bus delivers progress events asynchronously: wait
    until each query's last batch that read input has reached it."""
    deadline = time.time() + timeout
    for name, q in queries.items():
        last = max((p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0), default=-1)
        while time.time() < deadline and not any(
            p["batchId"] == last for p in listener.progress.get(f"live_{name}", [])
        ):
            time.sleep(0.05)


def _layer_metrics(ctx, listener) -> None:
    rows_in = []
    for name, _, stateful in OUTPUTS:
        progress = listener.progress.get(f"live_{name}", [])
        metrics = measure.stream_layer_metrics(progress, stateful)
        rows_in.append(metrics.pop("rows_in"))
        for k, v in metrics.items():
            ctx.layer[f"streaming.{name}.{k}"] = v
    # every output reads the whole published log; the fewest rows any
    # output's progress reports shows an output that missed input
    ctx.layer["sources.file.rows_in"] = min(rows_in)


def stream_live(ctx) -> None:
    from isaac_kafka_streaming_spark.plans import views

    spark = ctx.spark
    ckpt_root = os.path.join(ctx.work, "checkpoints")
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_root)
    ckpts = {name: os.path.join(ckpt_root, f"live_{name}") for name, _, _ in OUTPUTS}
    files_dir = os.path.join(ctx.inputs, "stream")
    files = sorted(os.path.join(files_dir, n) for n in os.listdir(files_dir))
    warm = files[1:1 + ctx.size.warm_files()]
    live = files[1 + len(warm):1 + len(warm) + ctx.size.live_files(ctx.seconds)]
    # a backlog is one file, so that one trigger of each query takes it whole
    bursts = files[1 + len(warm) + len(live):]
    src = os.path.join(ctx.work, "source")
    os.makedirs(src)
    # the first file is published before the clock starts: it carries
    # the queries' first (compiling) trigger, which is set-up
    os.rename(files[0], os.path.join(src, os.path.basename(files[0])))
    listener = measure.make_progress_listener() if ctx.traced else None
    if listener is not None:
        spark.streams.addListener(listener)
    queries = {}

    def drain() -> None:
        for q in queries.values():
            q.processAllAvailable()

    try:
        with ctx.setup_phase("session.warmup_s"):
            t0 = time.time()
            user_dim = views.users(spark, ctx.tables)
            ctx.layer["plans.views.user_dim_build_ms"] = (time.time() - t0) * 1000
            plans = _plans(spark, src, user_dim)
            for name, mode, _ in OUTPUTS:
                queries[name] = (
                    plans[name].writeStream.format("memory")
                    .queryName(f"live_{name}").outputMode(mode).start()
                )
            drain()
        ctx.end_setup()

        with ctx.spans.timed("live", "streaming.topology"):
            # one open-loop schedule; the files of its first warm_s seconds
            # let the seven queries' trigger cycles settle and are not timed
            log: list = []
            _publish(warm + live, src, ctx.size.interval, time.time() + 0.05, log)
            drain()
            log = log[len(warm):]
        # each backlog is published at once onto a drained topology, so
        # the program alone sets the time until every output holds it
        burst_events = {os.path.basename(f): pq.ParquetFile(f).metadata.num_rows for f in bursts}
        with ctx.spans.timed("backlog", "streaming.topology"):
            burst_log: list = []
            for burst in bursts:
                _publish([burst], src, 0.0, time.time(), burst_log)
                drain()
        if listener is not None:
            _await_progress(listener, queries)
        for q in queries.values():
            q.stop()

        due = {name: d for name, d, _ in log}
        burst_due = {name: d for name, d, _ in burst_log}
        lat, missing = file_latencies(ckpts, {**due, **burst_due})
        for output, n in missing.items():
            ctx.fail(output, f"{n} published files never committed")
        held = [f for f in due if all(f in lat[o] for o in lat)]
        # a file's latency: the mean over outputs, so that one slow
        # output's trigger cycle does not set the whole figure ...
        ctx.record_latencies([sum(lat[o][f] for o in lat) / len(lat) for f in held])
        # ... and, per layer, until the last output holds it
        last = [max(lat[o][f] for o in lat) for f in held]
        ctx.layer["latency.last_output_p50_s"] = pct(last, 0.5)
        ctx.layer["latency.last_output_p90_s"] = pct(last, 0.9)
        ctx.layer["sources.file.backlog_files"] = _max_backlog(
            log, [due[f] + v for f, v in zip(held, last)]
        )
        ctx.layer["generator.late_ms"] = pct([(done - d) * 1000 for _, d, done in log], 0.9)
        # a backlog's drain time: until the last output holds it
        drains = {f: max(lat[o][f] for o in lat) for f in burst_due
                  if all(f in lat[o] for o in lat)}
        print("backlog drains: " + ", ".join(f"{d:.2f}s" for d in drains.values()),
              file=sys.stderr)
        ctx.work_s = statistics.median(drains.values()) if drains else 0.0
        ctx.events_per_s = statistics.median(
            burst_events[f] / d for f, d in drains.items()
        ) if drains else 0.0
        if listener is not None:
            _layer_metrics(ctx, listener)

        with ctx.spans.timed("check", "check"):
            tables = {name: spark.table(f"live_{name}") for name, _, _ in OUTPUTS}
            check_outputs(ctx, src, tables, ckpts)
    finally:
        for q in queries.values():
            q.stop()
        # remove the listener before the session stops, or the Python
        # callback server logs a stack trace at exit
        if listener is not None:
            spark.streams.removeListener(listener)
