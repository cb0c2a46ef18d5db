"""Per-layer metrics of a traced run: span times, the counts the traced
iteration collected, and Spark task metrics from the event log,
attributed to spans by job group (or, for streaming jobs, by time)."""

from __future__ import annotations

import tracing

# layer -> span names recorded for it (see batch.traced_iteration and
# run.traced_ingest)
LAYER_SPANS = {
    "udfs": ["functions.udfs"],
    "pipeline": ["plans.pipeline.reps", "plans.pipeline.build_edges"],
    "exact": ["operators.exact"],
    "candidates": ["operators.candidates", "operators.candidates.dropped"],
    "verify": ["operators.verify.minhash", "operators.verify.simhash"],
    "containment": ["operators.containment"],
    "connected_components": [
        "operators.connected_components", "operators.connected_components.summary",
    ],
    "table_io": ["sources.table_io.write", "sources.table_io.read"],
    "incremental": ["streaming.incremental"],
}

# every per-layer metric, in BENCHMARK.json order, with its unit
METRICS = {
    "udfs.busy_s": "s", "udfs.self_s": "s", "udfs.rows": "count",
    "udfs.quarantined": "count", "udfs.exec_run_s": "s", "udfs.gc_s": "s",
    "pipeline.reps_s": "s", "pipeline.text_reps": "count", "pipeline.audio_reps": "count",
    "pipeline.shuffle_mb": "MB", "pipeline.build_edges_self_s": "s", "pipeline.self_s": "s",
    "exact.busy_s": "s", "exact.self_s": "s", "exact.edges": "count",
    "candidates.busy_s": "s", "candidates.self_s": "s", "candidates.posting_rows": "count",
    "candidates.pairs": "count", "candidates.dropped_buckets": "count",
    "candidates.shuffle_mb": "MB", "candidates.spill_mb": "MB", "candidates.task_skew": "ratio",
    "verify.minhash_s": "s", "verify.simhash_s": "s", "verify.self_s": "s",
    "verify.minhash_edges": "count", "verify.simhash_edges": "count",
    "verify.minhash_yield": "ratio", "verify.shuffle_mb": "MB", "verify.task_skew": "ratio",
    "containment.busy_s": "s", "containment.self_s": "s", "containment.edges": "count",
    "containment.shuffle_mb": "MB", "containment.task_skew": "ratio",
    "connected_components.busy_s": "s", "connected_components.self_s": "s",
    "connected_components.edges_in": "count", "connected_components.clusters": "count",
    "connected_components.max_cluster": "count", "connected_components.summary_s": "s",
    "table_io.write_s": "s", "table_io.read_s": "s", "table_io.self_s": "s",
    "table_io.written_mb": "MB", "table_io.files": "count",
    "incremental.batch_s": "s", "incremental.add_batch_s": "s", "incremental.planning_s": "s",
    "incremental.wal_s": "s", "incremental.wait_s": "s", "incremental.self_s": "s",
    "incremental.store_rows": "count", "incremental.store_files": "count",
    "incremental.match_rows": "count",
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.exec_run_s": "s", "session.gc_s": "s", "session.sched_delay_s": "s",
    "trace.untraced_clips_per_s": "clips/s", "trace.traced_clips_per_s": "clips/s",
    "trace.overhead_clips_per_s": "clips/s", "trace.premise_held": "count",
}


def _premise(workload: str, self_s: dict, m: dict) -> tuple[bool, str]:
    if workload == "batch_zipf":
        lsh = self_s["candidates"] + self_s["verify"]
        return lsh > self_s["udfs"], (
            f"candidates+verify self {lsh:.2f}s vs functions.udfs self {self_s['udfs']:.2f}s"
        )
    # ingest: fixed per-micro-batch cost dominates the drop, i.e. the
    # drop's signature pass is under half of its micro-batch time
    return self_s["udfs"] < 0.5 * m["incremental.batch_s"], (
        f"functions.udfs {self_s['udfs']:.2f}s vs micro-batch {m['incremental.batch_s']:.2f}s"
    )


def per_layer(rec: tracing.Recorder, counts: dict, event_dir: str, workload: str) -> dict:
    log = tracing.parse_event_log(tracing.find_event_log(event_dir))
    jobs_of = log.span_jobs(rec)
    selfs = rec.self_times()
    by_name: dict[str, list[tracing.Span]] = {}
    for sp in rec.spans:
        by_name.setdefault(sp.name, []).append(sp)

    def spans(*names):
        return [sp for n in names for sp in by_name.get(n, [])]

    m = {k: 0.0 for k in METRICS}
    m.update(counts)
    self_s = {}
    for layer, names in LAYER_SPANS.items():
        ss = spans(*names)
        self_s[layer] = sum(selfs[sp.id] for sp in ss)
        jobs = set().union(*(jobs_of[sp.id] for sp in ss)) if ss else set()
        t = log.totals(jobs)
        for key, val in (
            ("busy_s", sum(sp.dur for sp in ss)),
            ("self_s", self_s[layer]),
            ("exec_run_s", t["exec_run_s"]),
            ("gc_s", t["gc_s"]),
            ("shuffle_mb", t["shuffle_mb"]),
            ("spill_mb", t["spill_mb"]),
            ("task_skew", t["task_skew"]),
        ):
            if f"{layer}.{key}" in METRICS:
                m[f"{layer}.{key}"] = val
    m["pipeline.reps_s"] = sum(sp.dur for sp in spans("plans.pipeline.reps"))
    m["pipeline.build_edges_self_s"] = sum(selfs[sp.id] for sp in spans("plans.pipeline.build_edges"))
    m["verify.minhash_s"] = sum(sp.dur for sp in spans("operators.verify.minhash"))
    m["verify.simhash_s"] = sum(sp.dur for sp in spans("operators.verify.simhash"))
    m["connected_components.summary_s"] = sum(
        sp.dur for sp in spans("operators.connected_components.summary")
    )
    m["table_io.write_s"] = sum(sp.dur for sp in spans("sources.table_io.write"))
    m["table_io.read_s"] = sum(sp.dur for sp in spans("sources.table_io.read"))

    root_jobs = set().union(*(jobs_of[sp.id] for sp in rec.spans))
    t = log.totals(root_jobs)
    for key in ("jobs", "stages", "tasks", "exec_run_s", "gc_s", "sched_delay_s"):
        m[f"session.{key}"] = t[key]
    m["trace.overhead_clips_per_s"] = m["trace.untraced_clips_per_s"] - m["trace.traced_clips_per_s"]
    held, why = _premise(workload, self_s, m)
    m["trace.premise_held"] = 1 if held else 0

    order = sorted(self_s.items(), key=lambda kv: -kv[1])
    print("self time by layer: " + ", ".join(f"{k} {v:.3f}s" for k, v in order))
    print(f"tracing overhead: {m['trace.overhead_clips_per_s']:.3f} clips/s "
          f"(untraced {m['trace.untraced_clips_per_s']:.3f}, traced {m['trace.traced_clips_per_s']:.3f})")
    print(f"workload premise {'held' if held else 'did NOT hold'}: {why}")
    return {k: {"value": float(m[k]), "unit": u} for k, u in METRICS.items()}
