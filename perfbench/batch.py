"""batch_zipf: heavy-tailed duplicate families through run_pipeline.

Untraced, one iteration is a fresh checkpointed run (clips_per_s,
latency) followed by a resume of the same checkpoint after the stages
past ``edges`` are deleted — the state a run killed with
``stop_after="edges"`` leaves behind (resume_s).  The traced iteration
calls each layer's public function in run_pipeline's order, forcing
every output inside its own span.
"""

from __future__ import annotations

import os
import shutil
import time
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.functions.udfs import compute_signatures
from file_dedup_rust_spark.operators import candidates as C
from file_dedup_rust_spark.operators import verify as V
from file_dedup_rust_spark.operators.connected_components import (
    cluster_summary,
    connected_components,
)
from file_dedup_rust_spark.operators.containment import containment_edges
from file_dedup_rust_spark.operators.exact import exact_dup_edges, pcm_exact_edges
from file_dedup_rust_spark.plans.pipeline import (
    audio_reps,
    build_edges,
    exact_transcript_edges,
    run_pipeline,
    text_reps,
)
from file_dedup_rust_spark.sources.table_io import TableIO

from inputs import BatchInputs, CheckFailed, quality
from sparkenv import settle
from tracing import Recorder

# stages a run killed right after `edges` committed has not written yet
AFTER_EDGES = ("dropped_buckets", "assignments", "clusters")
# a resume takes about 5 s, short enough for timer and GC noise to show,
# so each iteration times this many and reports each
RESUMES = 3


def check_assignments(assign: pd.DataFrame, clusters: pd.DataFrame, inp: BatchInputs) -> dict:
    """Every input clip assigned exactly once, clusters consistent with
    the assignments; quality against the oracle and the planted
    families.  Raises CheckFailed on a broken invariant."""
    ids = inp.oracle["clip_id"]
    if len(assign) != len(ids) or assign["clip_id"].nunique() != len(ids):
        raise CheckFailed(f"{len(assign)} assignment rows for {len(ids)} clips")
    if set(assign["clip_id"]) != set(ids):
        raise CheckFailed("assignment clip ids differ from the input")
    sizes = assign.groupby("cluster_id").size()
    multi = sizes[sizes > 1]
    got = dict(zip(clusters["cluster_id"], clusters["size"]))
    if got != multi.to_dict():
        raise CheckFailed("clusters table disagrees with the assignments")
    return quality(assign.rename(columns={"cluster_id": "f"}), inp.oracle, inp.truth,
                   inp.distractors)


def _outputs(res) -> tuple[pd.DataFrame, pd.DataFrame]:
    return (
        res.assignments.select("clip_id", "cluster_id").toPandas(),
        res.clusters.select("cluster_id", "size").toPandas(),
    )


def iteration(spark, clips, inp: BatchInputs, cfg: DedupConfig, ck: str,
              resume: bool = True) -> dict:
    settle(spark)
    t0 = time.perf_counter()
    res = run_pipeline(spark, clips, cfg, ck)
    latency = time.perf_counter() - t0
    assign, clusters = _outputs(res)
    out = {**check_assignments(assign, clusters, inp), "latency_s": latency}
    if not resume:
        shutil.rmtree(ck)
        return out

    io = TableIO(spark, ck)
    want = {"signatures": True, "edges": True, **{s: False for s in AFTER_EDGES}}
    a = assign.sort_values("clip_id").reset_index(drop=True)
    resumes = []
    for _ in range(RESUMES):
        for stage in AFTER_EDGES:
            io.delete_stage(stage)
        settle(spark)
        t1 = time.perf_counter()
        res2 = run_pipeline(spark, clips, cfg, ck)
        resumes.append(time.perf_counter() - t1)
        skipped = {s.name: s.skipped for s in res2.stages}
        if skipped != want:
            raise CheckFailed(f"resume ran the wrong stages: {skipped}")
        assign2, _ = _outputs(res2)
        b = assign2.sort_values("clip_id").reset_index(drop=True)
        if not a.equals(b):
            raise CheckFailed("resumed run assigned clusters differently")
    shutil.rmtree(ck)
    return {**out, "resume_s": resumes}


# ------------------------------------------------------------- traced


def _forced(df):
    """persist + count: the output exists when the span closes."""
    df = df.persist()
    return df, df.count()


def _noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_iteration(spark, clips, inp: BatchInputs, cfg: DedupConfig, ck: str,
                     rec: Recorder) -> dict:
    """run_pipeline's stage order, one span per layer call.  Returns the
    layer counts; the outputs are checked like an untraced run's."""
    io = TableIO(spark, ck)
    fp = cfg.fingerprint()
    cap = cfg.band_cap
    m: dict[str, float] = {}

    def write(name: str, df) -> None:
        with rec.span("sources.table_io.write", table=name):
            io.write(name, df, fp)

    def read(name: str):
        with rec.span("sources.table_io.read", table=name):
            _noop_scan(io.read(name))
        return io.read(name)

    settle(spark)
    with rec.span("run"):
        with rec.span("functions.udfs"):
            sigs_df, m["udfs.rows"] = _forced(compute_signatures(clips, cfg))
            m["udfs.quarantined"] = sigs_df.filter(~F.col("decode_ok")).count()
        write("signatures", sigs_df)
        sigs_df.unpersist()
        sigs = read("signatures")

        with rec.span("plans.pipeline.reps"):
            treps, m["pipeline.text_reps"] = _forced(text_reps(sigs))
            areps, m["pipeline.audio_reps"] = _forced(audio_reps(sigs))

        with rec.span("plans.pipeline.build_edges"):
            branches = []
            with rec.span("operators.exact"):
                for df in (exact_dup_edges(sigs), exact_transcript_edges(sigs),
                           pcm_exact_edges(areps)):
                    branches.append(_forced(df))
                m["exact.edges"] = sum(n for _, n in branches)
            with rec.span("operators.candidates"):
                posting = C.explode_keys(treps, "mh_bands")
                m["candidates.posting_rows"] = posting.count()
                mh_pairs, m["candidates.pairs"] = _forced(C.candidate_pairs(posting, cap))
            with rec.span("operators.verify.minhash"):
                branches.append(_forced(V.verify_minhash(mh_pairs, treps, cfg)))
                m["verify.minhash_edges"] = branches[-1][1]
            mh_pairs.unpersist()
            with rec.span("operators.verify.simhash"):
                branches.append(_forced(V.simhash_edges_in_bucket(areps, cfg, cap)))
                m["verify.simhash_edges"] = branches[-1][1]
            with rec.span("operators.containment"):
                branches.append(_forced(containment_edges(treps, cfg)))
                m["containment.edges"] = branches[-1][1]
            # build_edges' own work: the union of its branches
            edges_df, _ = _forced(reduce(DataFrame.unionByName, [df for df, _ in branches]))
        write("edges", edges_df)
        edges_df.unpersist()
        for df, _ in branches:
            df.unpersist()

        with rec.span("operators.candidates.dropped"):
            dropped = (
                C.dropped_buckets(C.explode_keys(treps, "mh_bands"), cap)
                .withColumn("path", F.lit("minhash"))
                .unionByName(C.dropped_buckets(C.explode_keys(areps, "sim_keys"), cap)
                             .withColumn("path", F.lit("simhash")))
                .unionByName(C.dropped_buckets(C.explode_keys(treps, "fps"), cap)
                             .withColumn("path", F.lit("winnow")))
            )
            dropped, m["candidates.dropped_buckets"] = _forced(dropped)
        write("dropped_buckets", dropped)
        dropped.unpersist()
        treps.unpersist()
        areps.unpersist()

        edges = read("edges")
        with rec.span("operators.connected_components"):
            assign, _ = _forced(connected_components(edges.select("a", "b"), sigs.select("clip_id")))
        write("assignments", assign)
        assign.unpersist()
        assign = read("assignments")
        with rec.span("operators.connected_components.summary"):
            clusters, _ = _forced(cluster_summary(assign, edges))
        write("clusters", clusters)
        clusters.unpersist()

    # the program's build_edges must union as many branches as the trace
    # mirrors; a branch added there but not here fails the traced run
    plan = build_edges(sigs, cfg, treps=treps, areps=areps)._jdf.queryExecution().logical()
    n_program = plan.children().size() if plan.nodeName() == "Union" else 1
    if n_program != len(branches):
        raise CheckFailed(f"build_edges unions {n_program} branches, the trace {len(branches)}")
    m["verify.minhash_yield"] = (
        m["verify.minhash_edges"] / m["candidates.pairs"] if m["candidates.pairs"] else 0.0
    )
    m["connected_components.edges_in"] = (io.manifest_entry("edges") or {}).get("row_count", 0)
    clusters_pd = io.read("clusters").select("cluster_id", "size").toPandas()
    m["connected_components.clusters"] = len(clusters_pd)
    m["connected_components.max_cluster"] = int(clusters_pd["size"].max()) if len(clusters_pd) else 1
    written = [os.path.join(dp, f) for dp, _, fs in os.walk(ck) for f in fs if f.endswith(".parquet")]
    m["table_io.written_mb"] = sum(os.path.getsize(f) for f in written) / 2**20
    m["table_io.files"] = len(written)
    assign_pd = io.read("assignments").select("clip_id", "cluster_id").toPandas()
    check_assignments(assign_pd, clusters_pd, inp)
    shutil.rmtree(ck)
    return m
