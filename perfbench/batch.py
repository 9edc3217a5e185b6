"""The batch board: each Isaac batch twin and each LLM extension once,
closed loop, one client, through the noop sink.

A query's wall is its registry call (the build, including any driver
round loops and eager checkpoints) plus the noop write.  The traced run
also forces ``executedPlan`` between the two to read Catalyst's phase
times, and tags each phase's Spark jobs with a job group so the event
log can attribute tasks, CPU, GC, shuffle, spill and Python-worker time
to a layer.  Cache clearing and a JVM GC run between queries, outside
the timed region.
"""

from __future__ import annotations

import time

import check
import measure

ISAAC = (
    "event_type_counts", "daily_role_counts", "user_snapshot", "last_seen",
    "enriched_events", "anonymous_events", "user_streaks",
    "threshold_achievements", "question_part_counts", "question_completion",
)
EXTENSIONS = (
    "pagerank_pages", "page_components", "dedup_clusters",
    "dedup_minhash_lsh_md5", "knn_pq", "tfidf_top_terms", "bpe_tokenize_stats",
)
BATCH_LAYERS = (
    "operators", "extensions.graph", "extensions.dedup",
    "extensions.similarity", "extensions.text",
)
LAYER_METRICS = (
    "build_s", "plan_ms", "exec_s", "self_s", "jobs", "tasks", "task_cpu_s",
    "gc_s", "shuffle_bytes", "spill_bytes", "driver_gap_s", "python_s",
)


def layer_of(fn) -> str:
    """The package module a registry function lives in, as a layer name."""
    mod = fn.__module__.removeprefix("isaac_kafka_streaming_spark.")
    return mod if mod.startswith("extensions.") else "operators"


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s plan,
    after forcing the executed plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def batch_board(ctx) -> None:
    from isaac_kafka_streaming_spark.queries import all_queries

    spark = ctx.spark
    sc = spark.sparkContext
    registry = all_queries()
    with ctx.setup_phase("session.warmup_s"):
        # JVM, JIT and codegen warm-up: one untimed pass of the Isaac twins
        for name in ISAAC:
            registry[name].fn(spark, ctx.tables).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    ctx.end_setup()

    con = ctx.duck()
    walls: dict[str, float] = {}
    spans = ctx.spans
    for name in ISAAC + EXTENSIONS:
        ctx.attempted += 1
        qd = registry[name]
        layer = layer_of(qd.fn)
        try:
            if ctx.traced:
                sc.setJobGroup(f"{layer}|{name}|build", name)
            t0 = time.time()
            df = qd.fn(spark, ctx.tables)
            t1 = time.time()
            plan_ms = 0.0
            if ctx.traced:
                plan_ms = _plan_ms(df)
                sc.setJobGroup(f"{layer}|{name}|exec", name)
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            walls[name] = (t1 - t0) + (t3 - t2)
            root = spans.add(name, layer, t0, t3)
            spans.add("build", layer, t0, t1, root)
            spans.add("plan", layer, t1, t2, root)
            spans.add("exec", layer, t2, t3, root)
            ctx.plan_ms[layer] = ctx.plan_ms.get(layer, 0.0) + plan_ms
            if ctx.traced:
                sc.setJobGroup(f"check|{name}", name)
            # untimed: DuckDB compare of the same DataFrame's rows
            with spans.timed(f"check.{name}", "check"):
                reason = check.same_rows(df.toPandas(), con.execute(qd.sql).fetchdf())
        except Exception as exc:  # a failed query is counted, not fatal
            reason = f"{type(exc).__name__}: {exc}"
        if reason:
            ctx.fail(name, reason)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    if ctx.traced:
        sc.setJobGroup("idle", "idle")

    ctx.record_latencies(list(walls.values()))
    isaac_s = sum(walls.get(n, 0.0) for n in ISAAC)
    ctx.work_s = sum(walls.values())
    # the Isaac twins read the whole event log once each
    if isaac_s:
        ctx.events_per_s = ctx.props["events"]["events"] * len(ISAAC) / isaac_s
    ctx.layer["operators.wall_s"] = isaac_s
    ctx.layer["extensions.wall_s"] = ctx.work_s - isaac_s


def layer_metrics(spans: measure.Spans, jobs: dict, plan_ms: dict) -> dict:
    """``<layer>.<metric>`` for every batch layer from the query spans
    and the event log's per-job records."""
    by_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        if job["group"] and job["end"] is not None:
            by_group.setdefault(job["group"], []).append(job)
    out = {f"{layer}.{m}": 0.0 for layer in BATCH_LAYERS for m in LAYER_METRICS}
    children: dict[int, dict[str, tuple]] = {}
    for s in spans.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], {})[s["name"]] = (s["start"], s["end"])
    for s in spans.spans:
        if s["parent"] is not None or s["layer"] not in BATCH_LAYERS:
            continue
        layer, name = s["layer"], s["name"]
        kids = children.get(s["id"], {})
        b0, b1 = kids["build"]
        e0, e1 = kids["exec"]
        build = by_group.get(f"{layer}|{name}|build", [])
        execs = by_group.get(f"{layer}|{name}|exec", [])
        spans_all = [(j["start"], j["end"]) for j in build + execs]
        out[f"{layer}.build_s"] += b1 - b0
        out[f"{layer}.exec_s"] += e1 - e0
        out[f"{layer}.driver_gap_s"] += (e1 - e0) - measure.covered(
            [(j["start"], j["end"]) for j in execs]
        )
        out[f"{layer}.self_s"] += (b1 - b0) + (e1 - e0) - measure.covered(spans_all)
        for j in build + execs:
            out[f"{layer}.jobs"] += 1
            out[f"{layer}.tasks"] += j["tasks"]
            out[f"{layer}.task_cpu_s"] += j["cpu_ns"] / 1e9
            out[f"{layer}.gc_s"] += j["gc_ms"] / 1000
            out[f"{layer}.shuffle_bytes"] += j["shuffle_bytes"]
            out[f"{layer}.spill_bytes"] += j["spill_bytes"]
            out[f"{layer}.python_s"] += j["python_ms"] / 1000
    for layer, ms in plan_ms.items():
        out[f"{layer}.plan_ms"] = ms
    return out
