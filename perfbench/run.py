#!/usr/bin/env python3
"""Dedup benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload batch_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed and
cached under .perfbench/cache; each run builds its own SparkSession on
local[nproc] (that is setup_s), measures closed-loop iterations until
--seconds have passed (always at least one; the first runs on a cold
JVM), checks every output, and prints one line per metric followed by a
JSON object as the last line.  Every process the run started has ended
when it exits.  --trace 1 runs the traced variant instead and prints
the per-layer metrics.  The exit code is non-zero when an output check
failed or the program could not be imported.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# run sizes; --toy shrinks them for the smoke test
SIZES = {
    "batch_zipf": {"n": 1000, "max_family": 220},
    "ingest_drops": {"drop_size": 100, "drops": 3},
}
TOY_SIZES = {
    "batch_zipf": {"n": 400, "max_family": 60},
    "ingest_drops": {"drop_size": 60, "drops": 3},
}
# no new iteration starts past this many seconds into the run, so the
# run ends well inside 180 s
DEADLINE_S = 110

E2E_UNITS = {
    "setup_s": "s",
    "clips_per_s": "clips/s",
    "latency_s.p50": "s",
    "resume_s": "s",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
    "distractor_separation": "ratio",
    "peak_rss_mb": "MB",
}
QUALITY = ("dup_pair_recall", "dup_pair_precision", "planted_recall",
           "distractor_merged", "distractor_pairs")


class Samples:
    """Named metric samples plus the attempted/failed run count."""

    def __init__(self) -> None:
        self.values: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(float(value))

    def add_quality(self, q: dict) -> None:
        for k in QUALITY:
            self.add(k, q[k])

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}")
        traceback.print_exc(file=sys.stderr)


class Clock:
    """Seconds since measurement started, and since the run started."""

    def __init__(self) -> None:
        self.t_run = self.t_measure = time.perf_counter()

    def start_measuring(self) -> None:
        self.t_measure = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t_measure

    def total(self) -> float:
        return time.perf_counter() - self.t_run

    def more(self, seconds: float, done: int) -> bool:
        """Closed loop: at least one iteration, then until `seconds`."""
        return done == 0 or (self() < seconds and self.total() < DEADLINE_S)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="toy sizes (smoke test)")
    return p.parse_args(argv)


# --------------------------------------------------------------- batch


def run_batch(spark, inp, seconds, work, cfg, s: Samples, clock: Clock) -> None:
    import batch

    clips = spark.read.parquet(inp.clips_dir)
    i = 0
    while clock.more(seconds, i):
        s.attempted += 1
        try:
            r = batch.iteration(spark, clips, inp, cfg, os.path.join(work, f"ck-{i}"))
        except Exception as exc:  # one failed run is counted, the loop goes on
            s.fail(f"iteration {i}", exc)
        else:
            s.add("clips_per_s", inp.n / r["latency_s"])
            s.add("latency_s.p50", r["latency_s"])
            for v in r["resume_s"]:
                s.add("resume_s", v)
            s.add_quality(r)
        i += 1


def traced_batch(spark, inp, work, cfg, s: Samples, rec) -> dict:
    import batch

    clips = spark.read.parquet(inp.clips_dir)
    s.attempted += 2
    r = batch.iteration(spark, clips, inp, cfg, os.path.join(work, "ck-untraced"), resume=False)
    m = batch.traced_iteration(spark, clips, inp, cfg, os.path.join(work, "ck-traced"), rec)
    root = next(sp for sp in rec.spans if sp.name == "run")
    m["trace.untraced_clips_per_s"] = inp.n / r["latency_s"]
    m["trace.traced_clips_per_s"] = inp.n / root.dur
    return m


# -------------------------------------------------------------- ingest


def run_ingest(stream, seconds, s: Samples, clock: Clock) -> None:
    from inputs import CheckFailed

    latencies = []
    while stream.has_more() and clock.more(seconds, len(latencies)):
        s.attempted += 1
        try:
            latency, _ = stream.drop()
        except Exception as exc:
            s.fail(f"drop {stream.next_drop - 1}", exc)
            return  # later drops would probe a broken store
        s.add("latency_s.p50", latency)
        latencies.append(latency)
        if len(latencies) == 1:
            s.attempted += 1
            try:
                before = stream.matches()
                s.add("resume_s", stream.replay(stream.crash_last()))
                if not stream.matches().equals(before):
                    raise CheckFailed("the replayed micro-batch changed the match rows")
            except Exception as exc:
                s.fail("replay", exc)
                return
    s.add("clips_per_s", len(latencies) * stream.inp.drop_size / sum(latencies))
    s.attempted += 1
    try:
        s.add_quality(stream.check())
    except Exception as exc:
        s.fail("output check", exc)


def traced_ingest(spark, stream, inp, cfg, s: Samples, rec) -> dict:
    from pyspark.sql import functions as F

    import ingest
    from file_dedup_rust_spark.functions.udfs import compute_signatures

    s.attempted += 2
    latency, _ = stream.drop()
    m = {"trace.untraced_clips_per_s": inp.drop_size / latency}
    k = stream.next_drop
    with rec.span("run"):
        # the drop's signature pass, run as a batch beside the stream:
        # the query's own UDF time cannot be split out from outside
        with rec.span("functions.udfs"):
            sigs = compute_signatures(spark.read.parquet(inp.drop_files[k]), cfg).persist()
            m["udfs.rows"] = sigs.count()
            m["udfs.quarantined"] = sigs.filter(~F.col("decode_ok")).count()
            sigs.unpersist()
        with rec.span("streaming.incremental") as sp:
            latency, q = stream.drop()
    b = ingest.progress_breakdown(q)
    m.update({f"incremental.{name}": v for name, v in b.items()})
    m["incremental.wait_s"] = max(0.0, sp.dur - b["batch_s"])
    m["incremental.store_rows"], m["incremental.store_files"] = ingest.store_listing(stream.store)
    m["incremental.match_rows"] = stream.check()["match_rows"]
    m["trace.traced_clips_per_s"] = inp.drop_size / latency
    return m


# ------------------------------------------------------------- output


def e2e_metrics(s: Samples, peak_mb: float, setup_s: float) -> dict:
    s.add("setup_s", setup_s)
    s.add("peak_rss_mb", peak_mb)
    merged = sum(s.values.get("distractor_merged", []))
    pairs = sum(s.values.get("distractor_pairs", []))
    if "dup_pair_recall" in s.values:
        s.values["distractor_separation"] = [1.0 - merged / pairs if pairs else 1.0]
    lat = s.values.get("latency_s.p50", [])
    for name in ("latency_s.p50", "resume_s"):
        if name in s.values:
            print(f"{name} samples: " + " ".join(f"{v:.3f}" for v in s.values[name]))
    if lat:
        print(f"latency_s.tail: {max(lat):.4f} s (max of n={len(lat)}; no percentile "
              f"has ten samples beyond it within one run)")
    if "planted_recall" in s.values:
        print(f"planted_recall: {statistics.median(s.values['planted_recall']):.6f} ratio "
              f"(pairs of planted families, both clips present)")
    print(f"distractor_merge_rate: {merged / pairs if pairs else 0.0:.6f} ratio "
          f"({merged:.0f} of {pairs:.0f} planted distractor pairs)")
    print(f"failed_ratio: {s.failed / max(s.attempted, 1):.4f} ratio "
          f"({s.failed} of {s.attempted} runs/drops)")
    return {
        name: {"value": statistics.median(s.values[name]), "unit": unit, "n": len(s.values[name])}
        for name, unit in E2E_UNITS.items() if name in s.values
    }


def report(s: Samples, metrics: dict, ok: bool) -> int:
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']} (n={m.get('n', 1)})")
    for e in s.errors:
        print(f"failed: {e}")
    correct = ok and s.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(s.attempted, 1),
        "failed": s.failed if s.failed or correct else 1,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "file_dedup_rust_spark")):
        print(f"error: no file_dedup_rust_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import sparkenv

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", uuid.uuid4().hex[:12])
    sparkenv.prepare_process_env(ROOT, work)
    sparkenv.become_subreaper()
    # a SIGTERM unwinds through the finally below instead of leaving the
    # JVM and its workers behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, base, work)
    finally:
        left = sparkenv.stop_descendants()
        if left:
            print(f"stopped {len(left)} process(es) that outlived the run: {left}",
                  file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def run(args, base: str, work: str) -> int:
    import inputs
    import sparkenv
    from file_dedup_rust_spark.config import DedupConfig

    clock = Clock()
    cfg = DedupConfig()
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    sizes = (TOY_SIZES if args.toy else SIZES)[args.workload]
    workers = sparkenv.nproc()
    if args.workload == "batch_zipf":
        inp = inputs.batch_zipf_inputs(cache, args.seed, sizes["n"], sizes["max_family"], workers)
    else:
        inp = inputs.ingest_inputs(cache, args.seed, sizes["drop_size"], sizes["drops"], workers)
    t_inputs = clock.total()

    s = Samples()
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    cpu0 = sparkenv.cpu_times()
    t0 = time.perf_counter()
    spark = sparkenv.build(f"perfbench-{args.workload}", work, event_dir)
    t_session = time.perf_counter() - t0
    layer, rec, rss = {}, None, None
    try:
        print("env: " + json.dumps(sparkenv.env_record(spark, args.seed, work), sort_keys=True))
        stream = None
        try:
            if args.workload == "ingest_drops":
                import ingest

                stream = ingest.Stream(spark, inp, work, cfg)
            if args.trace:
                # the traced run compares an untraced with a traced
                # iteration; both must run on a warm JVM
                s.attempted += 1
                if stream is not None:
                    stream.drop()
                else:
                    import batch

                    batch.iteration(spark, spark.read.parquet(inp.clips_dir), inp, cfg,
                                    os.path.join(work, "ck-warm-up"), resume=False)
        except Exception as exc:
            s.fail("warm-up", exc)
            return report(s, {}, False)
        setup_s = time.perf_counter() - t0
        print(f"setup: session {t_session:.2f} s + the rest {setup_s - t_session:.2f} s "
              f"(inputs ready after {t_inputs:.2f} s)")
        clock.start_measuring()
        if args.trace:
            from tracing import Recorder

            rec = Recorder(uuid.uuid4().hex[:8], spark.sparkContext)
            try:
                if args.workload == "batch_zipf":
                    layer = traced_batch(spark, inp, work, cfg, s, rec)
                else:
                    layer = traced_ingest(spark, stream, inp, cfg, s, rec)
            except Exception as exc:
                s.fail("traced run", exc)
        else:
            with sparkenv.RssSampler() as rss:
                if args.workload == "batch_zipf":
                    run_batch(spark, inp, args.seconds, work, cfg, s, clock)
                else:
                    run_ingest(stream, args.seconds, s, clock)
    finally:
        sparkenv.shutdown(spark)
    print(f"host: {100 * sparkenv.steal_share(cpu0, sparkenv.cpu_times()):.1f} % of CPU time "
          f"stolen by other guests during the run")

    if not args.trace:
        return report(s, e2e_metrics(s, rss.peak_mb, setup_s), True)
    if not layer:
        return report(s, {}, False)
    import layers

    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    rec.write(os.path.join(traces, f"{args.workload}-s{args.seed}-{rec.run_id}.jsonl"))
    return report(s, layers.per_layer(rec, layer, event_dir, args.workload), True)


if __name__ == "__main__":
    sys.exit(main())
