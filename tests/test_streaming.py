"""Structured Streaming surface: incremental dedup across micro-batches,
stateful cluster assignment, watermarked windowed stats.

Streams run with trigger(availableNow=True) so each test drains the
landing directory and terminates (the reference's drain-the-queue
semantics, job_queue.rs:59-78).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_dedup_rust_spark import datagen
from file_dedup_rust_spark.streaming.incremental import (
    incremental_exact_dedup,
    streaming_cluster_assign,
    windowed_ingest_stats,
)


@pytest.fixture(scope="module")
def two_batches(spark, tmp_path_factory):
    """Two parquet drops where batch 2 contains byte-identical copies
    of batch 1 rows (cross-batch exact dups by construction: datagen's
    'exact' role copies its base's bytes)."""
    root = tmp_path_factory.mktemp("stream")
    landing = str(root / "landing")
    pdf = datagen.generate_clips_pandas(120, seed=42)
    plan = datagen.build_plan(120, seed=42)
    base_id = {int(r.idx): r.clip_id for r in plan.itertuples() if r.role == "base"}
    exact_children = [
        (r.clip_id, base_id[int(r.source)])
        for r in plan.itertuples() if r.role == "exact"
    ]
    assert len(exact_children) > 0
    base_ids = {b for _, b in exact_children}
    b1 = pdf[pdf.clip_id.isin(base_ids)]
    b2 = pdf[~pdf.clip_id.isin(base_ids)]
    os.makedirs(landing, exist_ok=True)
    spark.createDataFrame(b1, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{landing}/batch=1")
    spark.createDataFrame(b2, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{landing}/batch=2")
    return landing, root, exact_children


def test_incremental_exact_dedup_finds_cross_batch_dups(spark, two_batches, tmp_path):
    """Drop 1 (bases) drains, drop 2 (children) arrives, the SAME
    checkpoint resumes — real restart semantics, so batch numbering
    continues and the idempotent batch_id partitions stay distinct."""
    from file_dedup_rust_spark.streaming.incremental import read_store

    landing, root, exact_children = two_batches
    flat = str(tmp_path / "flat-landing")
    out = str(tmp_path / "matches")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck1")
    # drop 1: bases only
    spark.read.parquet(f"{landing}/batch=1").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q = incremental_exact_dedup(spark, flat, store, out, ck)
    q.awaitTermination(120)
    # drop 2: children land; same checkpoint picks up only the new file
    spark.read.parquet(f"{landing}/batch=2").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q2 = incremental_exact_dedup(spark, flat, store, out, ck)
    q2.awaitTermination(120)

    matches = read_store(spark, out)
    got = {
        (r.clip_id, r.matched_clip_id) for r in matches.collect()
    }
    # every planted exact child (batch 2) must match its base (batch 1)
    want = set(exact_children)
    missing = want - got
    assert not missing, f"missed cross-batch exact dups: {missing}"
    # store accumulated both batches
    assert read_store(spark, store).count() == 120


def test_streaming_cluster_assign_stateful(spark, two_batches):
    landing, root, exact_children = two_batches
    out = str(root / "assigned")
    ck = str(root / "ck-state")
    q = streaming_cluster_assign(spark, landing, out, ck)
    q.awaitTermination(180)
    assigned = spark.read.parquet(out)
    rows = {r.clip_id: r.cluster_rep for r in assigned.collect()}
    assert len(rows) == 120
    # exact dup pairs share a representative
    for child, base in exact_children:
        assert rows[child] == rows[base]


def test_windowed_ingest_stats_schema(spark, two_batches):
    landing, root, _ = two_batches
    out = str(root / "winstats")
    ck = str(root / "ck-win")
    q = windowed_ingest_stats(spark, landing, out, ck, window="10 seconds",
                              watermark="10 seconds", event_time_col=None)
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    assert set(df.columns) == {
        "window_start", "window_end", "codec", "n_clips", "total_dur_ms"
    }
    # append mode only emits windows closed by the watermark; with
    # availableNow + processing-time windows that may be zero rows —
    # the schema/plumbing is what this asserts. Run a second drop to
    # close the first window if rows exist.
    assert df.count() >= 0


@pytest.fixture(scope="module")
def near_batches(spark, tmp_path_factory):
    """Batch 1 = audio bases, batch 2 = their SNR-perturbed near-dup
    children (role 'audio_near') plus everything else."""
    root = tmp_path_factory.mktemp("stream-near")
    landing = str(root / "landing")
    pdf = datagen.generate_clips_pandas(150, seed=43)
    plan = datagen.build_plan(150, seed=43)
    base_id = {int(r.idx): r.clip_id for r in plan.itertuples() if r.role == "base"}
    near_children = [
        (r.clip_id, base_id[int(r.source)])
        for r in plan.itertuples() if r.role == "audio_near"
    ]
    assert len(near_children) > 0
    base_ids = {b for _, b in near_children}
    b1 = pdf[pdf.clip_id.isin(base_ids)]
    b2 = pdf[~pdf.clip_id.isin(base_ids)]
    os.makedirs(landing, exist_ok=True)
    spark.createDataFrame(b1, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{landing}/batch=1")
    spark.createDataFrame(b2, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{landing}/batch=2")
    return landing, root, near_children


def test_incremental_near_dedup_cross_batch(spark, near_batches, cfg, tmp_path):
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    landing, root, near_children = near_batches
    flat = str(tmp_path / "flat-landing")
    out = str(tmp_path / "matches")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck1")
    spark.read.parquet(f"{landing}/batch=1").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q = incremental_near_dedup(spark, flat, store, out, ck, cfg)
    q.awaitTermination(180)
    spark.read.parquet(f"{landing}/batch=2").coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q2 = incremental_near_dedup(spark, flat, store, out, ck, cfg)
    q2.awaitTermination(180)
    m = read_store(spark, out)
    audio = {(r.clip_id, r.matched_clip_id) for r in m.filter("match_kind='audio'").collect()}
    missing = set(near_children) - audio
    assert not missing, f"missed cross-batch near dups: {missing}"
    # every match passed the Hamming threshold
    sims = [r.sim for r in m.filter("match_kind='audio'").collect()]
    assert all(s >= 1.0 - cfg.hamming_max / cfg.simhash_bits - 1e-9 for s in sims)
    # stores accumulated both batches
    assert read_store(spark, f"{store}/sigs").count() == 150


def test_store_write_is_idempotent_on_retry(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch_id must
    overwrite its own partition, not append a duplicate (ADVICE round 1
    — a retried micro-batch previously doubled the stores and every
    future probe)."""
    from file_dedup_rust_spark.streaming.incremental import read_store, store_write

    store = str(tmp_path / "store")
    df = spark.range(10).select(F.col("id").alias("clip_id"))
    store_write(df, store, 0)
    store_write(df, store, 0)  # simulated retry of the same micro-batch
    assert read_store(spark, store).count() == 10
    store_write(spark.range(5).select(F.col("id").alias("clip_id")), store, 1)
    assert read_store(spark, store).count() == 15


def test_compact_store_preserves_contents(spark, tmp_path):
    """Folding committed batch partitions into the base snapshot must
    not change what read_store returns, must be idempotent, and newer
    partitions must keep accumulating on top of the base."""
    import os

    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "store")
    for i in range(4):
        store_write(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("clip_id")),
            store, i,
        )
    before = {r.clip_id for r in read_store(spark, store).collect()}
    compact_store(spark, store, 2)  # fold batches 0..2, keep 3 live
    after = {r.clip_id for r in read_store(spark, store).collect()}
    assert before == after == set(range(40))
    # folded partitions are physically gone, batch 3 survives as inc
    inc_parts = os.listdir(os.path.join(store, "inc"))
    assert "batch_id=3" in inc_parts
    assert not any(p == f"batch_id={i}" for i in range(3) for p in inc_parts)
    # idempotent + a retried old write cannot resurrect folded rows
    compact_store(spark, store, 2)
    assert {r.clip_id for r in read_store(spark, store).collect()} == before
    store_write(
        spark.range(100, 105).select(F.col("id").alias("clip_id")), store, 4
    )
    assert read_store(spark, store).count() == 45


def test_streaming_matches_batch_pipeline_parity(spark, cfg, tmp_path):
    """Draining the incremental near-dedup over a corpus must produce
    the same duplicate GROUPS as the batch pipeline's edge kinds on
    the same input (co-membership, the recall-gate quantity — pair
    lists differ by construction: streaming probes every prior copy,
    batch stars through representatives; batch MinHash/containment
    pairs join text reps, streaming pairs join copies of the same
    t_norm, which the exact-transcript stars fold into identical
    components).  Round 4: containment probes stream too (both
    arrival orders).  Round 5: pcm_exact streams too — planted
    container FLIPS (same audio re-uploaded raw — and, round-5, as
    lossless FLAC — after arriving as wav, in a LATER drop, with a
    different transcript) must match at ingest, completing modality
    parity with build_edges."""
    import pandas as pd

    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.functions.audio import decode_wav
    from file_dedup_rust_spark.functions.udfs import compute_signatures
    from file_dedup_rust_spark.operators.connected_components import (
        connected_components,
    )
    from file_dedup_rust_spark.plans.pipeline import build_edges
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    n = 150
    pdf = datagen.generate_clips_pandas(n, seed=44)
    # plant container flips: two wav clips re-shipped as raw pcm_s16le
    # (identical decoded samples, different bytes) in the LAST drop,
    # with fresh transcripts so only the audio tiers can connect them
    import numpy as np

    first_third = pdf.iloc[: n // 3]
    wavs = first_third[first_third["codec"] == "wav"].iloc[:3]
    flips = []
    for j, r in enumerate(wavs.itertuples(index=False)):
        pcm = decode_wav(bytes(r.bytes))
        i16 = np.clip(np.round(pcm * 32768.0), -32768, 32767)
        if j == 2:
            # round 5: a COMPRESSED lossless flip — wav re-shipped as
            # FLAC.  encode_flac quantizes at *32767, decode_flac
            # normalizes at /32768 (the decode_wav convention), so
            # feed i16/32767 to store exactly the wav's samples.
            from file_dedup_rust_spark.functions.flac import encode_flac

            payload = encode_flac(i16 / 32767.0, int(r.sr_hz))
            codec = "flac"
        else:
            payload = i16.astype("<i2").tobytes()
            codec = "pcm_s16le"
        flips.append(
            {
                "clip_id": f"flip_{j}_{r.clip_id}",
                "bytes": payload,
                "sr_hz": r.sr_hz,
                "dur_ms": r.dur_ms,
                "codec": codec,
                "transcript": f"container flip resend number {j} "
                              "with its own unrelated transcript text",
            }
        )
    flips_pdf = pd.DataFrame(flips)[list(pdf.columns)]
    pdf = pd.concat([pdf, flips_pdf], ignore_index=True)
    clips = spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA)
    landing = str(tmp_path / "landing")
    # three drops -> at least three micro-batches through the store
    third = n // 3
    for i in range(3):
        spark.createDataFrame(
            pdf.iloc[i * third : (i + 1) * third if i < 2 else len(pdf)],
            schema=datagen.CLIP_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(landing)
        q = incremental_near_dedup(
            spark, landing, str(tmp_path / "store"), str(tmp_path / "out"),
            str(tmp_path / "ck"), cfg,
        )
        q.awaitTermination(180)
    n = len(pdf)

    out = read_store(spark, str(tmp_path / "out"))
    sigs = compute_signatures(clips, cfg)
    batch = build_edges(sigs, cfg)
    verts = clips.select("clip_id")
    # parity per modality subset AND over the full streaming surface
    for kinds in (
        ["exact", "audio"],
        ["exact", "pcm_exact"],
        ["exact", "transcript", "audio"],
        ["exact", "pcm_exact", "transcript", "audio", "containment"],
    ):
        stream_edges = out.filter(F.col("match_kind").isin(*kinds)).select(
            F.col("clip_id").alias("a"), F.col("matched_clip_id").alias("b")
        )
        batch_edges = batch.filter(F.col("kind").isin(*kinds)).select("a", "b")
        s_lbl = {
            r.clip_id: r.cluster_id
            for r in connected_components(stream_edges, verts).collect()
        }
        b_lbl = {
            r.clip_id: r.cluster_id
            for r in connected_components(batch_edges, verts).collect()
        }
        assert len(s_lbl) == len(b_lbl) == n
        # identical partitions (labels are min-id per component both sides)
        assert s_lbl == b_lbl, kinds
    # the MinHash near path actually fired (datagen plants
    # transcript_near children): some verified sim < 1 match exists,
    # i.e. the transcript parity above is not carried by exact t_norm
    # stars alone
    assert (
        out.filter("match_kind = 'transcript' AND sim < 1.0").count() > 0
    )
    # the containment path fired in BOTH scopes: within a micro-batch
    # and across the accumulated fingerprint stores (arrival-order
    # coverage comes from datagen interleaving patterns and containers
    # over the three drops)
    cont = out.filter("match_kind = 'containment'")
    assert cont.filter("match_scope = 'corpus'").count() > 0
    assert cont.filter("sim < 1.0").count() == cont.count()
    # the container flips matched AT INGEST (cross-corpus pcm_exact):
    # each flip arrived two drops after its wav original, transcripts
    # differ, bytes differ — only the decoded-PCM hash can see it
    pcm = out.filter("match_kind = 'pcm_exact' AND match_scope = 'corpus'")
    flipped_ids = {f["clip_id"] for f in flips}
    assert flipped_ids <= {r["clip_id"] for r in pcm.collect()}


def test_compact_commit_survives_torn_attempt(spark, tmp_path):
    """The ADVICE-r2 crash window: a compaction that dies after writing
    its new snapshot dir but BEFORE creating the pointer must leave the
    store fully readable from the previous pointer (old base + inc) —
    and the next compact_store must clear the stale attempt and commit
    cleanly.  (The round-2 rename-swap protocol had a mid-point with NO
    base dir: a restart silently rebuilt the base from surviving inc
    partitions only, losing every previously-folded row.)"""
    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "store")
    for i in range(3):
        store_write(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("clip_id")),
            store, i,
        )
    compact_store(spark, store, 1)  # commits base_v0 (batches 0..1)
    want = set(range(30))
    assert {r.clip_id for r in read_store(spark, store).collect()} == want

    # simulate the torn second compaction: snapshot written, no pointer
    spark.range(999).select(F.col("id").alias("clip_id")).write.mode(
        "overwrite"
    ).parquet(f"{store}/base_v1/data")
    assert {r.clip_id for r in read_store(spark, store).collect()} == want
    assert os.path.isdir(os.path.join(store, "base_v0"))

    # recovery: the real compaction overwrites the stale attempt
    store_write(
        spark.range(30, 35).select(F.col("id").alias("clip_id")), store, 3
    )
    compact_store(spark, store, 3)
    got = {r.clip_id for r in read_store(spark, store).collect()}
    assert got == want | set(range(30, 35))
    assert not os.path.isdir(os.path.join(store, "base_v0"))  # lazy cleanup ran
    assert 999 not in got


def test_store_write_empty_batch_is_noop(spark, tmp_path):
    """A micro-batch with no rows (e.g. zero dups found) must neither
    break read_store ('Unable to infer schema' on a file-less inc dir,
    ADVICE r2) nor corrupt the batch accounting."""
    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "store")
    empty = spark.range(0).select(F.col("id").alias("clip_id"))
    store_write(empty, store, 0)
    assert read_store(spark, store) is None
    compact_store(spark, store, 0)  # no-op, no crash
    store_write(
        spark.range(5).select(F.col("id").alias("clip_id")), store, 1
    )
    assert read_store(spark, store).count() == 5
    store_write(empty, store, 2)
    assert read_store(spark, store).count() == 5


def test_event_time_watermark_drops_late_rows(spark, tmp_path):
    """REAL event-time semantics (VERDICT r2 item 4): the watermark
    advances on the data's event_ts, a row arriving after the watermark
    passed its window is dropped, and the emitted windows match the
    batch events_window_agg semantics (F.window groupBy) computed over
    exactly the non-late rows."""
    import datetime as dt

    from file_dedup_rust_spark.streaming.incremental import (
        windowed_ingest_stats,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "win")
    ck = str(tmp_path / "ck")
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (f"c{i}", b"", 8000, 100, codec, "t",
                 t0 + dt.timedelta(seconds=s))
                for i, (s, codec) in enumerate(rows)
            ],
            schema=datagen.CLIP_SCHEMA + ", event_ts timestamp",
        )

    # drop A: events at 10:00:10(x2, wav), 10:01:10, 10:04:50
    mk([(10, "wav"), (15, "wav"), (70, "pcm_s16le"), (290, "wav")]).coalesce(
        1
    ).write.mode("append").parquet(landing)
    q = windowed_ingest_stats(spark, landing, out, ck,
                              window="1 minute", watermark="2 minutes")
    q.awaitTermination(120)
    # drop B: max event so far 10:04:50 -> watermark 10:02:50.
    #   late row at 10:00:30 (window 10:00, already past watermark) -> DROPPED
    #   row at 10:04:55 (window 10:04, still open)                  -> KEPT
    #   sentinel at 11:00 pushes the watermark past every window     -> KEPT
    mk([(30, "wav"), (295, "wav"), (3600, "pcm_s16le")]).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q = windowed_ingest_stats(spark, landing, out, ck,
                              window="1 minute", watermark="2 minutes")
    q.awaitTermination(120)
    # drop C: nothing new except closing the sentinel's own window
    mk([(3660 + 240, "wav")]).coalesce(1).write.mode("append").parquet(landing)
    q = windowed_ingest_stats(spark, landing, out, ck,
                              window="1 minute", watermark="2 minutes")
    q.awaitTermination(120)

    got = {
        (r.window_start, r.codec): r.n_clips
        for r in spark.read.parquet(out).collect()
    }
    w = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    # the 10:00 wav window counts ONLY drop A's two rows — the late
    # 10:00:30 arrival is gone, not merged, not re-emitted
    assert got[(w(0), "wav")] == 2
    # the 10:04 window kept B's in-watermark addition
    assert got[(w(4), "wav")] == 2
    assert got[(w(1), "pcm_s16le")] == 1
    # batch parity: batch F.window over the NON-LATE rows reproduces
    # every emitted closed window (same events_window_agg semantics)
    batch = mk([(10, "wav"), (15, "wav"), (70, "pcm_s16le"), (290, "wav"),
                (295, "wav"), (3600, "pcm_s16le")])
    want = {
        ((r["win"]["start"]), r["codec"]): r["n"]
        for r in batch.groupBy(
            F.window("event_ts", "1 minute").alias("win"), "codec"
        ).agg(F.count("*").alias("n")).collect()
    }
    closed = {k: v for k, v in want.items() if k[0] < w(60)}  # sentinel window open
    assert {k: v for k, v in got.items() if k in closed} == closed


def test_streaming_ivf_probe_matches_batch_ivf(spark, tmp_path):
    """Store-then-search through the persistent IVF index in streaming
    form (VERDICT r2 item 8): three drops of planted near-dup
    embeddings drain through incremental_ivf_neardup against a
    prebuilt codebook; the union of drained matches must equal the
    batch ivf_topk pairs above the same threshold on the full input
    (unordered pairs — streaming sees cross-batch pairs once, in
    arrival order; batch scores both directions)."""
    import numpy as np

    from file_dedup_rust_spark.operators.ann import ivf_topk, train_codebook
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_ivf_neardup,
        read_store,
    )

    rng = np.random.default_rng(17)
    n, d = 240, 32
    V = rng.standard_normal((n, d))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    rows = [(i, V[i].tolist()) for i in range(n)]
    for j, i in enumerate(range(0, n, 5)):  # planted near-copies
        g = rng.standard_normal(d)
        g /= np.linalg.norm(g)
        w = V[i] + 0.25 * g
        w /= np.linalg.norm(w)
        rows.append((n + j, w.tolist()))
    full = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codebook = train_codebook(full, k=16, sample_cap=4096, seed=5)

    landing = str(tmp_path / "emb-landing")
    store = str(tmp_path / "emb-store")
    out = str(tmp_path / "emb-matches")
    ck = str(tmp_path / "emb-ck")
    third = len(rows) // 3
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        spark.createDataFrame(
            chunk, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(landing)
        q = incremental_ivf_neardup(
            spark, landing, store, out, ck, codebook,
            threshold=0.9, cells_m=8,
        )
        q.awaitTermination(180)

    streamed = {
        (min(r.vec_id, r.neighbor_id), max(r.vec_id, r.neighbor_id))
        for r in read_store(spark, out).collect()
    }
    batch = {
        (min(r.vec_id, r.neighbor_id), max(r.vec_id, r.neighbor_id))
        for r in ivf_topk(
            full, top_k=10, assign_m=8, nprobe=8, codebook=codebook
        ).filter(F.col("sim") >= 0.9).collect()
    }
    assert len(batch) >= 30  # the planting actually planted
    assert streamed == batch
    # the cell store accumulated every vector, cells_m rows each
    assert read_store(spark, store).count() == len(rows) * 8


def test_streaming_posting_probe_caps_hot_keys(spark, cfg, tmp_path):
    """VERDICT r3: the probe against the accumulated posting store must
    apply the batch engine's band-cap defense — a hot key (a 31-member
    exact-copy cluster shares every band key) is excluded from the
    corpus join and recorded in the posting_dropped manifest, while
    matches on keys at or below the cap are unchanged."""
    import dataclasses

    import pandas as pd

    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    small = dataclasses.replace(cfg, band_cap=10)
    pdf = datagen.generate_clips_pandas(80, seed=45)
    plan = datagen.build_plan(80, seed=45)
    base_id = {int(r.idx): r.clip_id for r in plan.itertuples() if r.role == "base"}
    pairs = [
        (r.clip_id, base_id[int(r.source)])
        for r in plan.itertuples() if r.role == "audio_near"
    ]
    assert len(pairs) >= 2
    hot_child, hot_base = pairs[0]
    normal_pairs = [p for p in pairs if p[1] != hot_base and p[0] != hot_child]
    assert normal_pairs
    # batch 1: corpus (no near children) + 30 byte-identical copies of
    # hot_base -> every one of hot_base's band keys has 31 members
    hot_rows = pdf[pdf.clip_id == hot_base]
    copies = pd.concat(
        [hot_rows.assign(clip_id=f"hotcopy-{i:03d}") for i in range(30)]
    )
    children_ids = {c for c, _ in pairs}
    b1 = pd.concat([pdf[~pdf.clip_id.isin(children_ids)], copies])
    b2 = pdf[pdf.clip_id.isin(children_ids)]

    flat = str(tmp_path / "landing")
    out = str(tmp_path / "matches")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(b1, schema=datagen.CLIP_SCHEMA).coalesce(2).write.mode(
        "append"
    ).parquet(flat)
    q = incremental_near_dedup(spark, flat, store, out, ck, small)
    assert q.awaitTermination(180)
    spark.createDataFrame(b2, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(flat)
    q2 = incremental_near_dedup(spark, flat, store, out, ck, small)
    assert q2.awaitTermination(180)

    # the manifest names the hot keys with their true store-side counts
    dropped = read_store(spark, f"{store}/posting_dropped")
    assert dropped is not None and dropped.count() > 0
    assert dropped.agg(F.min("n")).first()[0] > small.band_cap

    m = read_store(spark, out)
    corpus_audio = {
        (r.clip_id, r.matched_clip_id)
        for r in m.filter("match_kind='audio' AND match_scope='corpus'").collect()
    }
    # below-cap keys: every near child of a non-hot base still matches
    for child, base in normal_pairs:
        assert (child, base) in corpus_audio, (child, base)
    # the hot cluster's keys were all over cap: its probe work (31
    # store members x every probing child) never ran, and the drop is
    # visible in the manifest instead of silent
    assert not any(c == hot_child for c, _ in corpus_audio)


def test_streaming_decontam_matches_batch(spark, tmp_path):
    """The ingest-time decontamination probe must flag EXACTLY the
    clips the batch operator flags, independent of how the landing
    data splits into micro-batches (the eval side is static, so the
    probe is stateless per batch and parity is exact, not
    approximate)."""
    from file_dedup_rust_spark.operators.decontaminate import (
        contamination_hits,
    )
    from file_dedup_rust_spark.streaming.incremental import (
        read_store,
        streaming_decontam,
    )

    pdf = datagen.generate_clips_pandas(150, seed=42)
    clips = spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA)
    # eval split: every 5th clip's transcript is "benchmark" text —
    # the other clips that duplicate those transcripts (datagen's
    # exact/transcript_near roles) are the planted contamination
    docs = clips.select(
        "clip_id", F.lower(F.coalesce("transcript", F.lit(""))).alias("t")
    )
    ev = docs.filter(F.abs(F.hash("clip_id")) % 5 == 0).select(
        F.col("clip_id").alias("doc_id"), "t"
    )
    train = docs.filter(F.abs(F.hash("clip_id")) % 5 != 0)

    landing = str(tmp_path / "landing")
    # two uneven full-schema drops -> at least two micro-batches
    train_ids = {r["clip_id"] for r in train.select("clip_id").collect()}
    train_pdf = pdf[pdf.clip_id.isin(train_ids)]
    spark.createDataFrame(
        train_pdf.iloc[:40], schema=datagen.CLIP_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{landing}/drop=1")
    spark.createDataFrame(
        train_pdf.iloc[40:], schema=datagen.CLIP_SCHEMA
    ).coalesce(1).write.mode("append").parquet(f"{landing}/drop=2")

    out = str(tmp_path / "hits")
    q = streaming_decontam(
        spark, landing, ev, out, str(tmp_path / "ckpt"), n=8
    )
    assert q.awaitTermination(300)
    q.eval_grams.unpersist()  # the documented cleanup handle

    got_df = read_store(spark, out)
    assert got_df is not None
    got = {
        (r["clip_id"], r["n_gram_hits"], r["n_eval_docs"])
        for r in got_df.collect()
    }
    want = {
        (r["doc_id"], r["n_gram_hits"], r["n_eval_docs"])
        for r in contamination_hits(
            train.withColumnRenamed("clip_id", "doc_id"), ev, 8
        ).collect()
    }
    assert want, "fixture must plant at least one contaminated clip"
    assert got == want


def test_streaming_audio_containment_probe(spark, cfg, tmp_path):
    """Opt-in seventh streaming family (round 5): planted sub-clips
    must match at ingest in BOTH arrival orders — container stored /
    sub-clip arriving, and sub-clip stored / container arriving —
    plus within one micro-batch, with the streamed pair SET equal to
    the batch operator's over the same corpus; noise clips stay
    edge-free."""
    import numpy as np
    import pandas as pd

    from file_dedup_rust_spark.functions.audio import encode_wav
    from file_dedup_rust_spark.functions.udfs import compute_signatures
    from file_dedup_rust_spark.operators.audio_containment import (
        audio_containment_edges,
        frames_from_signatures,
    )
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    sr = 16000
    rng = np.random.default_rng(11)

    def noise(n):
        return (rng.standard_normal(n) * 0.1).astype(np.float32)

    def embed(inner, pre_hops, post_hops):
        return np.concatenate(
            [noise(cfg.hop * pre_hops), inner, noise(cfg.hop * post_hops)]
        )

    sub1, sub2, sub3 = noise(sr * 2), noise(sr * 2), noise(sr * 2)
    clips = {
        # order A: container arrives first, sub-clip later
        "cont_1": embed(sub1, 40, 24),
        "sub_1": sub1,
        # order B: sub-clip arrives first, container later
        "sub_2": sub2,
        "cont_2": embed(sub2, 16, 56),
        # same-batch pair
        "sub_3": sub3,
        "cont_3": embed(sub3, 8, 8),
        # unrelated noise
        "noise_1": noise(sr * 2),
        "noise_2": noise(sr * 3),
    }
    drops = [
        ["cont_1", "sub_2", "noise_1"],
        ["sub_3", "cont_3", "noise_2"],
        ["sub_1", "cont_2"],
    ]

    def pdf_for(ids):
        return pd.DataFrame(
            {
                "clip_id": ids,
                "bytes": [encode_wav(clips[i], sr) for i in ids],
                "sr_hz": [sr] * len(ids),
                "dur_ms": [int(len(clips[i]) / sr * 1000) for i in ids],
                "codec": ["wav"] * len(ids),
                "transcript": [f"transcript of {i} only" for i in ids],
            }
        )

    landing = str(tmp_path / "landing")
    for ids in drops:
        spark.createDataFrame(
            pdf_for(ids), schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(landing)
        q = incremental_near_dedup(
            spark, landing, str(tmp_path / "store"), str(tmp_path / "out"),
            str(tmp_path / "ck"), cfg, audio_containment=True,
        )
        q.awaitTermination(180)

    out = read_store(spark, str(tmp_path / "out"))
    ac = out.filter("match_kind = 'audio_containment'").collect()
    pairs = {frozenset((r.clip_id, r.matched_clip_id)) for r in ac}
    scopes = {
        frozenset((r.clip_id, r.matched_clip_id)): r.match_scope for r in ac
    }
    assert frozenset(("sub_1", "cont_1")) in pairs
    assert scopes[frozenset(("sub_1", "cont_1"))] == "corpus"
    assert frozenset(("sub_2", "cont_2")) in pairs
    assert scopes[frozenset(("sub_2", "cont_2"))] == "corpus"
    assert frozenset(("sub_3", "cont_3")) in pairs
    assert scopes[frozenset(("sub_3", "cont_3"))] == "batch"
    # the arriving clip is always clip_id on corpus rows
    by_pair = {frozenset((r.clip_id, r.matched_clip_id)): r for r in ac}
    assert by_pair[frozenset(("sub_1", "cont_1"))].clip_id == "sub_1"
    assert by_pair[frozenset(("sub_2", "cont_2"))].clip_id == "cont_2"
    # noise clips never matched
    flat = {c for p in pairs for c in p}
    assert "noise_1" not in flat and "noise_2" not in flat
    # parity: streamed pair set == batch operator over the full corpus
    all_ids = [i for ids in drops for i in ids]
    full = spark.createDataFrame(pdf_for(all_ids), schema=datagen.CLIP_SCHEMA)
    sigs = compute_signatures(full, cfg, with_frames=True)
    batch_pairs = {
        frozenset((r.a, r.b))
        for r in audio_containment_edges(
            frames_from_signatures(sigs), cfg=cfg
        ).collect()
    }
    assert pairs == batch_pairs


def test_streaming_canonical_rate_catches_cross_rate_reupload(
    spark, tmp_path
):
    """Round-5 canonical-rate tier at ingest: with cfg.cr_hz set, the
    SAME recording re-uploaded at a DIFFERENT sample rate (canonical
    resampler chain, fresh transcript, later drop) matches via the
    streaming pcm_sha probe — parity with the batch pcm_exact tier
    holds because the stream shares compute_signatures(cfg).  With
    cr_hz=0 the probe must NOT connect them (the documented
    native-rate gap)."""
    import numpy as np
    import pandas as pd

    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.config import DedupConfig
    from file_dedup_rust_spark.functions import audio as A
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    def master_pcm(sr, seed=5, f1=380.0, f2=1150.0):
        rng = np.random.default_rng(seed)
        t = np.arange(int(sr * 1.0)) / sr
        x = (
            0.4 * np.sin(2 * np.pi * f1 * t)
            + 0.2 * np.sin(2 * np.pi * f2 * t)
            + 0.05 * rng.standard_normal(t.size)
        )
        return np.clip(x, -0.999, 0.999).astype(np.float32)

    sr_hi, sr_lo = 16000, 8000
    hi_bytes = A.encode_wav(master_pcm(sr_hi), sr_hi)
    lo_pcm = A.resample_linear(A.decode_audio(hi_bytes, "wav"), sr_hi, sr_lo)
    lo_bytes = (
        np.clip(np.round(lo_pcm.astype(np.float64) * 32768.0), -32768, 32767)
        .astype("<i2")
        .tobytes()
    )
    filler = datagen.generate_clips_pandas(40, seed=47)
    drop1 = pd.concat(
        [
            filler.iloc[:20],
            pd.DataFrame(
                [{
                    "clip_id": "master_hi", "bytes": hi_bytes,
                    "sr_hz": sr_hi, "dur_ms": 1000, "codec": "wav",
                    "transcript": "original upload words",
                }]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )
    drop2 = pd.concat(
        [
            filler.iloc[20:],
            pd.DataFrame(
                [{
                    "clip_id": "resend_lo", "bytes": lo_bytes,
                    "sr_hz": sr_lo, "dur_ms": 1000, "codec": "pcm_s16le",
                    "transcript": "totally different words this time",
                }]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )

    for tag, cr, want in (("on", sr_lo, True), ("off", 0, False)):
        cfg = DedupConfig(cr_hz=cr)
        root = tmp_path / tag
        landing = str(root / "landing")
        for d in (drop1, drop2):
            spark.createDataFrame(
                d, schema=datagen.CLIP_SCHEMA
            ).coalesce(1).write.mode("append").parquet(landing)
            q = incremental_near_dedup(
                spark, landing, str(root / "store"), str(root / "out"),
                str(root / "ck"), cfg,
            )
            q.awaitTermination(180)
        pcm = read_store(spark, str(root / "out")).filter(
            "match_kind = 'pcm_exact' AND match_scope = 'corpus'"
        )
        hit = (
            pcm.filter(
                "clip_id = 'resend_lo' AND matched_clip_id = 'master_hi'"
            ).count()
            > 0
        )
        assert hit == want, (tag, hit)


def test_streaming_trim_tier_catches_padded_reupload(spark, tmp_path):
    """Round-5 silence-pad-invariant tier at ingest: with cfg.trim_eps
    set, a re-upload of the SAME recording padded with leading/trailing
    silence (different bytes, different decoded PCM, fresh transcript,
    later drop) matches via the streaming trim_sha probe — parity with
    the batch trim_exact tier holds because the stream shares
    compute_signatures(cfg).  A padded twin arriving IN THE SAME batch
    matches at batch scope.  With trim_eps=0 (the default) the tier
    must not connect them."""
    import numpy as np
    import pandas as pd

    from file_dedup_rust_spark import datagen
    from file_dedup_rust_spark.config import DedupConfig
    from file_dedup_rust_spark.functions import audio as A
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    sr = 8000
    rng = np.random.default_rng(13)
    n = sr
    x = 0.5 * np.sin(2 * np.pi * 440 * np.arange(n) / sr + 0.7)
    x += 0.05 * rng.standard_normal(n)
    x = np.clip(x, -0.9, 0.9)

    def pad(lead_s, tail_s):
        return np.concatenate(
            [np.zeros(int(sr * lead_s)), x, np.zeros(int(sr * tail_s))]
        )

    def row(clip_id, pcm, transcript):
        return {
            "clip_id": clip_id, "bytes": A.encode_wav(pcm, sr),
            "sr_hz": sr, "dur_ms": None, "codec": "wav",
            "transcript": transcript,
        }

    filler = datagen.generate_clips_pandas(40, seed=48)
    drop1 = pd.concat(
        [
            filler.iloc[:20],
            pd.DataFrame(
                [
                    row("orig", x, "first vendor words"),
                    # same-batch padded twin -> batch-scope match
                    row("pad_intra", pad(0.25, 0.0), "second vendor words"),
                ]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )
    drop2 = pd.concat(
        [
            filler.iloc[20:],
            pd.DataFrame(
                [row("pad_cross", pad(0.5, 0.75), "third vendor words")]
            )[list(filler.columns)],
        ],
        ignore_index=True,
    )

    for tag, eps, want in (("on", 1e-3, True), ("off", 0.0, False)):
        cfg = DedupConfig(trim_eps=eps)
        root = tmp_path / tag
        landing = str(root / "landing")
        for d in (drop1, drop2):
            spark.createDataFrame(
                d, schema=datagen.CLIP_SCHEMA
            ).coalesce(1).write.mode("append").parquet(landing)
            q = incremental_near_dedup(
                spark, landing, str(root / "store"), str(root / "out"),
                str(root / "ck"), cfg,
            )
            q.awaitTermination(180)
        out = read_store(spark, str(root / "out")).filter(
            "match_kind = 'trim_exact'"
        )
        rows = {
            (r["clip_id"], r["matched_clip_id"], r["match_scope"])
            for r in out.collect()
        }
        if want:
            assert ("pad_intra", "orig", "batch") in rows, rows
            cross = {
                (a, b) for a, b, s in rows if s == "corpus"
            }
            assert ("pad_cross", "orig") in cross or (
                "pad_cross", "pad_intra"
            ) in cross, rows
        else:
            assert rows == set(), rows


def test_store_survives_schema_upgrade_after_compaction(spark, tmp_path):
    """A store whose compacted base snapshot predates a column (the
    sigs store gaining trim_sha mid-stream) must keep reading: old
    rows surface the new column as NULL (which every probe's
    non-empty/equality filter excludes), never an AnalysisException."""
    from pyspark.sql import functions as F

    from file_dedup_rust_spark.streaming.incremental import (
        compact_store,
        read_store,
        store_write,
    )

    store = str(tmp_path / "sigs")
    old = spark.range(3).select(
        F.concat(F.lit("c"), F.col("id")).alias("clip_id"),
        F.lit("sha").alias("sha256"),
    )
    store_write(old, store, 0)
    compact_store(spark, store, 0)  # base snapshot at the OLD schema
    new = spark.createDataFrame(
        [("c9", "sha", "trimhash")], "clip_id string, sha256 string, trim_sha string"
    )
    store_write(new, store, 1)

    df = read_store(spark, store)
    assert df.count() == 4
    assert "trim_sha" in df.columns
    with_trim = df.filter(F.col("trim_sha").isNotNull()).collect()
    assert [r["clip_id"] for r in with_trim] == ["c9"]
    # the probe-side filter pattern excludes pre-upgrade rows cleanly
    assert df.filter(F.col("trim_sha") != "").count() == 1


def test_streaming_hll_registers_match_batch_exactly(spark, tmp_path):
    """The ingest-time HLL register store folds to BIT-IDENTICAL
    registers (and estimates) as one batch sketch over the whole
    landing set, under two different arrival orders — register max is
    order/split/replay-invariant by construction."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        hll_estimate,
        hll_registers,
        merge_hll_registers,
    )
    from file_dedup_rust_spark.streaming.incremental import (
        read_store,
        streaming_hll_registers,
    )

    pdf = datagen.generate_clips_pandas(150, seed=42)
    clips = spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA)
    want_regs = {
        (r["g"], r["b"], r["mr"])
        for r in hll_registers(
            clips.select(
                "codec",
                F.lower(F.coalesce("transcript", F.lit(""))).alias("t"),
            ),
            "codec",
            "t",
        ).collect()
    }
    want_est = {
        r["g"]: r["hll_estimate"]
        for r in hll_estimate(
            hll_registers(
                clips.select(
                    "codec",
                    F.lower(F.coalesce("transcript", F.lit(""))).alias("t"),
                ),
                "codec",
                "t",
            )
        ).collect()
    }

    for tag, order in (("fwd", False), ("rev", True)):
        landing = str(tmp_path / f"landing_{tag}")
        part = pdf.iloc[::-1] if order else pdf
        spark.createDataFrame(
            part.iloc[:55], schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{landing}/drop=1")
        spark.createDataFrame(
            part.iloc[55:], schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{landing}/drop=2")
        out = str(tmp_path / f"regs_{tag}")
        q = streaming_hll_registers(
            spark, landing, out, str(tmp_path / f"ckpt_{tag}")
        )
        assert q.awaitTermination(300)
        store = read_store(spark, out)
        assert store is not None
        folded = merge_hll_registers(store)
        got = {(r["g"], r["b"], r["mr"]) for r in folded.collect()}
        assert got == want_regs, tag
        got_est = {
            r["g"]: r["hll_estimate"] for r in hll_estimate(folded).collect()
        }
        assert got_est == want_est, tag


def test_streaming_cms_counters_match_batch_exactly(spark, tmp_path):
    """The ingest-time Count-Min counter store folds to the
    BIT-IDENTICAL counter table as one batch sketch over the whole
    landing set, under two arrival orders — the CMS is a linear
    sketch, so per-batch counter deltas sum to the union's counters
    regardless of order or split.  Every landed token's folded
    estimate respects the one-sided guarantee (estimate >= its true
    corpus count) through the streaming path too."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        cms_counters,
        cms_estimate,
        merge_cms,
    )
    from file_dedup_rust_spark.streaming.incremental import (
        read_store,
        streaming_cms_counters,
    )

    pdf = datagen.generate_clips_pandas(150, seed=42)
    clips = spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA)
    census = (
        clips.select(
            F.explode(
                F.split(F.lower(F.coalesce("transcript", F.lit(""))), " ")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    want = {
        (r["lane"], r["bkt"]): r["bc"]
        for r in cms_counters(census).collect()
    }

    for tag, order in (("fwd", False), ("rev", True)):
        landing = str(tmp_path / f"landing_{tag}")
        part = pdf.iloc[::-1] if order else pdf
        spark.createDataFrame(
            part.iloc[:55], schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{landing}/drop=1")
        spark.createDataFrame(
            part.iloc[55:], schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{landing}/drop=2")
        out = str(tmp_path / f"cms_{tag}")
        q = streaming_cms_counters(
            spark, landing, out, str(tmp_path / f"cmsckpt_{tag}")
        )
        assert q.awaitTermination(300)
        store = read_store(spark, out)
        assert store is not None
        folded = merge_cms(store)
        got = {
            (r["lane"], r["bkt"]): r["bc"] for r in folded.collect()
        }
        assert got == want, tag
        # one-sided guarantee through the streaming path: folded
        # estimates never undercount any landed token
        est = cms_estimate(folded, census.select("w"))
        joined = census.join(est, "w").collect()
        assert joined and all(
            r["cms_estimate"] >= r["c"] for r in joined
        ), tag


def test_streaming_bloom_bits_match_batch_exactly(spark, tmp_path):
    """The ingest-time Bloom bit store folds to the BIT-IDENTICAL
    occupied-bucket set as one batch sketch over the whole landing
    set, under two arrival orders — set union is order/split/replay-
    invariant by construction.  A replayed drop changes nothing, and
    every landed transcript probes to bloom_hit=1 against the folded
    sketch (zero false negatives through the streaming path too)."""
    from file_dedup_rust_spark.operators.corpus_sketch import (
        bloom_bits,
        bloom_probe,
        merge_bloom,
    )
    from file_dedup_rust_spark.streaming.incremental import (
        read_store,
        streaming_bloom_bits,
    )

    pdf = datagen.generate_clips_pandas(150, seed=42)
    clips = spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA)
    docs = clips.select(
        F.lower(F.coalesce("transcript", F.lit(""))).alias("t")
    )
    want = {(r["lane"], r["bkt"]) for r in bloom_bits(docs).collect()}

    for tag, order in (("fwd", False), ("rev", True)):
        landing = str(tmp_path / f"landing_{tag}")
        part = pdf.iloc[::-1] if order else pdf
        spark.createDataFrame(
            part.iloc[:55], schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{landing}/drop=1")
        spark.createDataFrame(
            part.iloc[55:], schema=datagen.CLIP_SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{landing}/drop=2")
        out = str(tmp_path / f"bloom_{tag}")
        q = streaming_bloom_bits(
            spark, landing, out, str(tmp_path / f"bckpt_{tag}")
        )
        assert q.awaitTermination(300)
        store = read_store(spark, out)
        assert store is not None
        folded = merge_bloom(store)
        got = {(r["lane"], r["bkt"]) for r in folded.collect()}
        assert got == want, tag
        # replaying a drop is a no-op (idempotent union)
        replayed = merge_bloom(
            folded,
            bloom_bits(
                spark.createDataFrame(
                    part.iloc[:55], schema=datagen.CLIP_SCHEMA
                ).select(
                    F.lower(F.coalesce("transcript", F.lit(""))).alias("t")
                )
            ),
        )
        assert {(r["lane"], r["bkt"]) for r in replayed.collect()} == want
        # zero false negatives through the streaming path
        probe = docs.withColumn(
            "id", F.xxhash64("t")
        ).dropDuplicates(["id"])
        hits = bloom_probe(folded, probe, "id").collect()
        assert hits and all(r["bloom_hit"] == 1 for r in hits), tag


def _single_drop(spark, pdf, root, cfg):
    """Land `pdf` as one parquet file (one micro-batch) and drain it
    through incremental_near_dedup; returns (matches, store_dir)."""
    from file_dedup_rust_spark.streaming.incremental import (
        incremental_near_dedup,
        read_store,
    )

    landing = str(root / "landing")
    spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    store = str(root / "store")
    q = incremental_near_dedup(
        spark, landing, store, str(root / "out"), str(root / "ck"), cfg
    )
    assert q.awaitTermination(180)
    return read_store(spark, str(root / "out")), store


def test_streaming_batch_scope_rows_are_build_edges(spark, cfg, tmp_path):
    """Within one micro-batch the stream emits exactly the batch
    engine's edges: the (kind, {clip_id, matched_clip_id}) pairs of a
    single drop equal build_edges' (kind, {a, b}) pairs over the same
    clips — representative contraction and star shapes included, so
    exact copies attach to their rep rather than to every near-dup
    neighbour — and every row names the larger id as clip_id."""
    from file_dedup_rust_spark.functions.udfs import compute_signatures
    from file_dedup_rust_spark.plans.pipeline import build_edges

    pdf = datagen.generate_clips_pandas(120, seed=49)
    out, _ = _single_drop(spark, pdf, tmp_path, cfg)
    rows = out.collect()
    assert {r.match_scope for r in rows} == {"batch"}
    got = {(r.match_kind, frozenset((r.clip_id, r.matched_clip_id))) for r in rows}
    edges = build_edges(
        compute_signatures(spark.createDataFrame(pdf, schema=datagen.CLIP_SCHEMA), cfg),
        cfg,
    ).collect()
    want = {(e.kind, frozenset((e.a, e.b))) for e in edges}
    assert got == want
    assert len(rows) == len(edges)
    # the drop exercises the exact, transcript and audio tiers
    assert {"exact", "transcript", "audio"} <= {k for k, _ in got}
    assert all(r.clip_id > r.matched_clip_id for r in rows)


def test_streaming_batch_dropped_records_capped_buckets(spark, cfg, tmp_path):
    """Buckets the within-batch edge derivation drops at band_cap are
    recorded in {store_dir}/batch_dropped, not silently truncated: more
    than band_cap distinct transcripts sharing one long passage share
    its winnowing fingerprints, so those buckets exceed the cap."""
    import dataclasses

    from file_dedup_rust_spark.streaming.incremental import read_store

    small = dataclasses.replace(cfg, band_cap=3)
    pdf = datagen.generate_clips_pandas(12, seed=50)
    shared = (
        "the quarterly maintenance window begins at midnight and every "
        "service in the eastern region restarts in sequence"
    )
    pdf = pdf.assign(
        transcript=[f"{shared} followed by note number {i} of the log"
                    for i in range(len(pdf))]
    )
    _, store = _single_drop(spark, pdf, tmp_path, small)
    dropped = read_store(spark, f"{store}/batch_dropped")
    assert dropped is not None
    assert set(dropped.columns) == {"key", "n", "path"}
    winnow = dropped.filter("path = 'winnow'").collect()
    assert winnow
    assert all(r.n > small.band_cap for r in winnow)
