"""ingest_drops: the default clip mix arriving as equal-size drops.

Closed loop: a drop's file is landed (written hidden, then renamed into
the landing directory) only after the previous drop's availableNow
``incremental_near_dedup`` query has terminated.  Drop latency runs
from the rename to the query's termination, when the drop's matches
and store rows are committed.

resume_s replays the first drop as a crashed micro-batch: its commit
marker and every partition it wrote are removed — the state of a
process killed after the batch was planned (offsets logged) and before
any of its writes — and the restarted query must reproduce the same
matches and store rows.  Later drops, if the run has time for them,
probe the stores the earlier ones committed.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

from file_dedup_rust_spark.config import DedupConfig
from file_dedup_rust_spark.oracle import oracle_assignments
from file_dedup_rust_spark.streaming.incremental import incremental_near_dedup, read_store

from inputs import CheckFailed, IngestInputs, oracle_labels, quality
from sparkenv import settle

QUERY_TIMEOUT_S = 120


class Stream:
    """Landing dir, stores, match output and checkpoint of one run."""

    def __init__(self, spark, inp: IngestInputs, work: str, cfg: DedupConfig) -> None:
        self.spark = spark
        self.inp = inp
        self.cfg = cfg
        self.landing = os.path.join(work, "landing")
        self.store = os.path.join(work, "store")
        self.out = os.path.join(work, "matches")
        self.ck = os.path.join(work, "ck")
        os.makedirs(self.landing, exist_ok=True)
        self.dropped: list[str] = []
        self.next_drop = 0

    def has_more(self) -> bool:
        return self.next_drop < len(self.inp.drop_files)

    def drain(self):
        q = incremental_near_dedup(self.spark, self.landing, self.store, self.out, self.ck, self.cfg)
        if not q.awaitTermination(QUERY_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"query did not drain within {QUERY_TIMEOUT_S}s")
        return q

    def _land(self) -> int:
        """Land the next drop (hidden copy, then rename); returns its index."""
        k = self.next_drop
        self.next_drop += 1
        tmp = os.path.join(self.landing, f".drop-{k:05d}.tmp")
        shutil.copyfile(self.inp.drop_files[k], tmp)
        settle(self.spark)
        os.rename(tmp, os.path.join(self.landing, f"drop-{k:05d}.parquet"))
        self.dropped.extend(self.inp.drop_ids[k])
        return k

    def _check_rows(self, q, what: str) -> None:
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        if rows != self.inp.drop_size:
            raise CheckFailed(f"{what}: query read {rows} rows, landed {self.inp.drop_size}")

    def drop(self) -> tuple[float, object]:
        """Land the next drop and drain it; returns (latency_s, query)."""
        k = self._land()
        t0 = time.perf_counter()
        q = self.drain()
        latency = time.perf_counter() - t0
        self._check_rows(q, f"drop {k}")
        return latency, q

    def crash_last(self) -> int:
        """Put the last committed micro-batch back to the state of a
        process killed after planning it and before its writes: remove its
        commit marker and every partition it wrote.  Returns its id."""
        commits = os.path.join(self.ck, "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        parts = glob.glob(os.path.join(self.store, "*", "inc", f"batch_id={last}"))
        parts += glob.glob(os.path.join(self.out, "inc", f"batch_id={last}"))
        for part in parts:
            shutil.rmtree(part)
        for marker in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, marker)):
                os.remove(os.path.join(commits, marker))
        return last

    def replay(self, batch: int) -> float:
        """Restart the query after crash_last(); times it until the
        crashed batch is re-run and committed."""
        settle(self.spark)
        t0 = time.perf_counter()
        q = self.drain()
        elapsed = time.perf_counter() - t0
        self._check_rows(q, "replay")
        if not os.path.exists(os.path.join(self.ck, "commits", str(batch))):
            raise CheckFailed(f"the replay did not commit batch {batch}")
        return elapsed

    # ---------------------------------------------------------- checks

    def matches(self) -> pd.DataFrame:
        cols = ["clip_id", "matched_clip_id", "match_kind"]
        m = read_store(self.spark, self.out)
        if m is None:
            return pd.DataFrame(columns=cols)
        return m.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)

    def check(self) -> dict:
        """The signature store holds one row per dropped clip; the clusters
        the match rows form are scored against the numpy oracle over the
        dropped clips (and the planted families)."""
        sigs = read_store(self.spark, f"{self.store}/sigs").select("clip_id").toPandas()
        if len(sigs) != len(self.dropped) or set(sigs["clip_id"]) != set(self.dropped):
            raise CheckFailed(
                f"signature store has {len(sigs)} rows for {len(self.dropped)} dropped clips"
            )
        m = self.matches()
        dropped = sorted(self.dropped)
        if not (set(m["clip_id"]) | set(m["matched_clip_id"])) <= set(dropped):
            raise CheckFailed("match rows name clips that were never dropped")
        found = oracle_assignments(
            m.rename(columns={"clip_id": "a", "matched_clip_id": "b"}), dropped
        ).rename(columns={"cluster_id": "f"})
        truth = self.inp.truth[self.inp.truth["clip_id"].isin(dropped)]
        q = quality(found, oracle_labels(self.inp.sigs, dropped), truth, self.inp.distractors)
        return {**q, "match_rows": len(m)}


def store_listing(store: str) -> tuple[int, int]:
    """(rows, files) over every store's parquet files, from footers."""
    files = glob.glob(os.path.join(store, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), len(files)


def progress_breakdown(q) -> dict:
    """Per-batch durations the query reports in recentProgress."""
    d: dict[str, float] = {}
    for p in q.recentProgress:
        for k, v in p["durationMs"].items():
            d[k] = d.get(k, 0.0) + v / 1e3
    return {
        "batch_s": d.get("triggerExecution", 0.0),
        "add_batch_s": d.get("addBatch", 0.0),
        "planning_s": d.get("queryPlanning", 0.0),
        "wal_s": d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0),
    }
