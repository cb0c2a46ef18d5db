"""Seeded workload inputs, cached per (workload, seed, size).

Everything here is the benchmark's own cost: clip synthesis, the numpy
oracle and the planted truth are computed once per key, written under
the cache directory, and never timed.  The program only ever sees the
clip parquet files ``(clip_id, bytes, sr_hz, dur_ms, codec, transcript)``.

Layout of one cache entry::

    <cache>/<workload>-s<seed>-n<size>/
        clips/part-*.parquet      batch input (batch_zipf)
        drops/drop-00000.parquet  one file per drop (ingest_drops)
        truth.parquet             clip_id, truth_label  (planted families)
        oracle.parquet            clip_id, oracle_label (batch only)
        distractors.parquet       distractor, base      (must stay apart)
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from file_dedup_rust_spark import datagen as DG
from file_dedup_rust_spark import oracle as O
from file_dedup_rust_spark.config import DedupConfig

# bumped whenever generation changes, so stale cache entries are ignored
CACHE_VERSION = 4

# batch_zipf family shape: family f (1-based) has max_family / f**ZIPF_ALPHA
# derived members until ZIPF_DERIVED_SHARE of the rows are derived.  Sizes
# and the role cycle do not depend on the seed, and every family head is
# the base closest to a typical clip (see pick_heads), so every seed
# carries about the same LSH / verify / decode work: a family copies its
# head's audio length and transcript, so a random head would swing the
# work of hundreds of rows with one draw.
ZIPF_ALPHA = 1.2
ZIPF_DERIVED_SHARE = 0.5
ZIPF_ROLES = [
    "audio_near", "transcript_near", "exact", "containment",
    "audio_near", "transcript_near", "distractor", "exact",
]


@dataclass
class BatchInputs:
    clips_dir: str
    n: int
    oracle: pd.DataFrame       # clip_id, oracle_label
    truth: pd.DataFrame        # clip_id, truth_label (planted families)
    distractors: pd.DataFrame  # distractor, base


@dataclass
class IngestInputs:
    drop_files: list[str]
    drop_size: int
    drop_ids: list[list[str]]  # clip ids per drop
    sigs: pd.DataFrame         # oracle signatures of every clip in the pool
    truth: pd.DataFrame
    distractors: pd.DataFrame


# ------------------------------------------------------------- plans


def zipf_family_sizes(n: int, max_family: int) -> list[int]:
    target = int(ZIPF_DERIVED_SHARE * n)
    sizes: list[int] = []
    f = 1
    while sum(sizes) < target:
        sizes.append(max(2, int(max_family / f**ZIPF_ALPHA)))
        f += 1
    sizes[-1] -= sum(sizes) - target
    return [s for s in sizes if s > 0]


def pick_heads(bases: pd.DataFrame, n_long: int, sizes: list[int], seed: int) -> list[int]:
    """One distinct base per family, largest family first, each the
    closest remaining base to a typical clip: 16 kHz, ~700 ms, a median
    transcript length for its pool.  transcript_near families need a
    long (>= 50 token) base, the others take short ones."""
    rng = np.random.Generator(np.random.PCG64([seed & 0x7FFFFFFF, 0x2F1F]))
    ntok = bases["transcript"].str.split().str.len().to_numpy()
    cost = (
        np.abs(bases["dur_ms"].to_numpy() - 700) / 100
        + 10 * (bases["sr_hz"].to_numpy() != 16000)
    )
    is_long = np.arange(len(bases)) < n_long
    for pool in (is_long, ~is_long):
        cost[pool] += np.abs(ntok[pool] - np.median(ntok[pool])) / 5
    order = rng.permutation(len(bases))  # seeded tie-break
    free = np.ones(len(bases), dtype=bool)
    heads = []
    for f in range(len(sizes)):
        want_long = ZIPF_ROLES[f % len(ZIPF_ROLES)] == "transcript_near"
        ok = order[free[order] & (is_long[order] == want_long)]
        head = int(ok[np.argmin(cost[ok])])
        free[head] = False
        heads.append(head)
    return heads


def zipf_plan(n: int, seed: int, max_family: int, workers: int):
    """build_plan's per-row draws (codec flips, edit counts, affixes) with
    the role/source columns replaced by heavy-tailed families.  Returns
    (plan, clips, oracle signatures)."""
    plan = DG.build_plan(n, seed)
    sizes = zipf_family_sizes(n, max_family)
    n_hot = max(int(0.01 * n), 3)
    n_base = n - sum(sizes) - n_hot
    if n_base < 2 * len(sizes):
        raise ValueError(f"n={n} too small for {len(sizes)} families")
    plan["role"] = "base"
    plan["source"] = -1
    plan["n_long_bases"] = n_base // 2
    bases, base_sigs = _synth(plan.iloc[:n_base], seed, workers)

    roles = np.array(["base"] * n, dtype=object)
    source = np.full(n, -1, dtype=np.int64)
    row = n_base
    for f, (size, head) in enumerate(zip(sizes, pick_heads(bases, n_base // 2, sizes, seed))):
        roles[row:row + size] = ZIPF_ROLES[f % len(ZIPF_ROLES)]
        source[row:row + size] = head
        row += size
    roles[row:] = "hot"
    source[row:] = DG.HOT_SENTINEL
    rng = np.random.Generator(np.random.PCG64([seed & 0x7FFFFFFF, 0x5A12]))
    snr = np.full(n, np.nan)
    near, dist = roles == "audio_near", roles == "distractor"
    snr[near] = rng.uniform(35.0, 45.0, int(near.sum()))
    snr[dist] = rng.uniform(5.0, 10.0, int(dist.sum()))
    # the largest family (audio_near) is a near-lossless re-upload: at
    # 60-70 dB every member keeps all of the head's SimHash band keys, so
    # each of its buckets holds sizes[0] + 1 > band_cap members and is
    # dropped on every seed.  At 35-45 dB its buckets would hold a
    # seed-dependent share of the family, some just under the cap, whose
    # m^2 pair work would swing the run time from seed to seed.
    first = slice(n_base, n_base + sizes[0])
    snr[first] = rng.uniform(60.0, 70.0, sizes[0])
    plan["role"] = roles.astype(str)
    plan["source"] = source
    plan["snr_db"] = snr
    rest, rest_sigs = _synth(plan.iloc[n_base:], seed, workers)
    return (
        plan,
        pd.concat([bases, rest], ignore_index=True),
        pd.concat([base_sigs, rest_sigs], ignore_index=True),
    )


def truth_labels(plan: pd.DataFrame) -> pd.DataFrame:
    """Planted duplicate families as a labelling: a derived row shares
    its base's label, hot rows share one label, distractors keep their
    own (they must NOT match)."""
    label = plan["clip_id"].to_numpy(dtype=object).copy()
    derived = plan["role"].isin(["exact", "audio_near", "transcript_near", "containment"])
    label[derived.to_numpy()] = [
        f"clip_{int(s):012d}" for s in plan.loc[derived, "source"]
    ]
    hot = (plan["role"] == "hot").to_numpy()
    if hot.any():
        label[hot] = "hot"
    return pd.DataFrame({"clip_id": plan["clip_id"], "truth_label": label})


def distractor_pairs(plan: pd.DataFrame) -> pd.DataFrame:
    d = plan[plan["role"] == "distractor"]
    return pd.DataFrame({
        "distractor": d["clip_id"].to_numpy(),
        "base": [f"clip_{int(s):012d}" for s in d["source"]],
    })


def oracle_labels(sigs: pd.DataFrame, ids: list[str]) -> pd.DataFrame:
    """The numpy oracle's clusters over `ids` (clip_id, oracle_label)."""
    edges = O.oracle_edges(sigs[sigs["clip_id"].isin(ids)].reset_index(drop=True), DedupConfig())
    return O.oracle_assignments(edges, list(ids)).rename(columns={"cluster_id": "oracle_label"})


def stratified_order(plan: pd.DataFrame, n_drops: int, seed: int) -> np.ndarray:
    """Row order whose consecutive n/n_drops slices each hold the same
    share of every role (shuffled within role), so drops of one seed,
    and of different seeds, carry alike work."""
    rng = np.random.Generator(np.random.PCG64([seed & 0x7FFFFFFF, 0xD209]))
    slots: list[list[int]] = [[] for _ in range(n_drops)]
    k = 0
    for _, rows in plan.groupby("role", sort=True):
        for i in rng.permutation(rows.index.to_numpy()):
            slots[k % n_drops].append(int(i))
            k += 1
    return np.concatenate([rng.permutation(s) for s in slots])


# ----------------------------------------------------- parallel synthesis


def _synth_chunk(args) -> tuple[pd.DataFrame, pd.DataFrame]:
    plan_chunk, seed = args
    clips = DG.synth_rows(plan_chunk, seed, DG.make_vocab(seed))
    return clips, O.oracle_signatures(clips, DedupConfig())


def _synth(plan: pd.DataFrame, seed: int, workers: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(clips, oracle signatures) for the plan rows, on `workers` processes."""
    chunks = np.array_split(np.arange(len(plan)), max(1, workers * 4))
    jobs = [(plan.iloc[c], seed) for c in chunks if len(c)]
    # fork: the workers inherit the imported modules (spawn re-imports
    # them in each worker, doubling the input time), and no
    # resource-tracker process is left running.  Inputs are made before
    # the JVM and any thread start.
    with ProcessPoolExecutor(workers, mp_context=get_context("fork")) as ex:
        parts = list(ex.map(_synth_chunk, jobs))
    return (
        pd.concat([p[0] for p in parts], ignore_index=True),
        pd.concat([p[1] for p in parts], ignore_index=True),
    )


def _write_parquet(pdf: pd.DataFrame, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), files)):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[idx], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _entry(cache: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(cache, f"{workload}-s{seed}-n{size}-v{CACHE_VERSION}")


def _publish(tmp: str, final: str) -> None:
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same entry first
        shutil.rmtree(tmp, ignore_errors=True)


def _read(final: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(final, f"{name}.parquet"))


def batch_zipf_inputs(
    cache: str, seed: int, n: int, max_family: int, workers: int
) -> BatchInputs:
    final = _entry(cache, "batch_zipf", seed, n)
    if not os.path.exists(final):
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        plan, clips, sigs = zipf_plan(n, seed, max_family, workers)
        # part files ~ cores, so the scan splits like a real table would
        _write_parquet(clips, os.path.join(tmp, "clips"), files=workers)
        oracle_labels(sigs, clips["clip_id"].tolist()).to_parquet(
            os.path.join(tmp, "oracle.parquet"), index=False
        )
        truth_labels(plan).to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
        distractor_pairs(plan).to_parquet(os.path.join(tmp, "distractors.parquet"), index=False)
        _publish(tmp, final)
    return BatchInputs(
        clips_dir=os.path.join(final, "clips"),
        n=n,
        oracle=_read(final, "oracle"),
        truth=_read(final, "truth"),
        distractors=_read(final, "distractors"),
    )


def ingest_inputs(
    cache: str, seed: int, drop_size: int, n_drops: int, workers: int
) -> IngestInputs:
    """The default generate_clips mix, cut into equal role-stratified drops."""
    n = drop_size * n_drops
    final = _entry(cache, f"ingest_drops-d{drop_size}", seed, n)
    if not os.path.exists(final):
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        plan = DG.build_plan(n, seed)
        clips, sigs = _synth(plan, seed, workers)
        clips = clips.iloc[stratified_order(plan, n_drops, seed)].reset_index(drop=True)
        os.makedirs(os.path.join(tmp, "drops"))
        for k in range(n_drops):
            pq.write_table(
                pa.Table.from_pandas(
                    clips.iloc[k * drop_size:(k + 1) * drop_size], preserve_index=False
                ),
                os.path.join(tmp, "drops", f"drop-{k:05d}.parquet"),
            )
        sigs.to_parquet(os.path.join(tmp, "sigs.parquet"), index=False)
        truth_labels(plan).to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
        distractor_pairs(plan).to_parquet(os.path.join(tmp, "distractors.parquet"), index=False)
        _publish(tmp, final)
    files = sorted(
        os.path.join(final, "drops", f) for f in os.listdir(os.path.join(final, "drops"))
    )
    return IngestInputs(
        drop_files=files,
        drop_size=drop_size,
        drop_ids=[pq.read_table(f, columns=["clip_id"])["clip_id"].to_pylist() for f in files],
        sigs=_read(final, "sigs"),
        truth=_read(final, "truth"),
        distractors=_read(final, "distractors"),
    )


# ---------------------------------------------------------- quality


def _pairs(counts: pd.Series) -> int:
    c = counts.to_numpy(dtype=np.int64)
    return int((c * (c - 1) // 2).sum())


def pair_scores(found: pd.DataFrame, want: pd.DataFrame) -> tuple[float, float]:
    """Co-membership pair recall and precision of labelling `found`
    (clip_id, f) against `want` (clip_id, t), from the contingency
    table — the same numbers as oracle.pair_recall over
    oracle.co_membership_pairs, without materialising the pairs."""
    m = found.merge(want, on="clip_id", how="inner")
    both = _pairs(m.groupby(["f", "t"]).size())
    n_found = _pairs(m.groupby("f").size())
    n_want = _pairs(m.groupby("t").size())
    recall = both / n_want if n_want else 1.0
    precision = both / n_found if n_found else 1.0
    return recall, precision


def distractor_merges(labels: pd.DataFrame, distractors: pd.DataFrame) -> tuple[int, int]:
    """(merged, total) planted distractor/base pairs, over pairs whose
    two clips are both labelled."""
    lab = dict(zip(labels["clip_id"], labels["f"]))
    pairs = [
        (lab[d], lab[b]) for d, b in zip(distractors["distractor"], distractors["base"])
        if d in lab and b in lab
    ]
    return sum(x == y for x, y in pairs), len(pairs)


MIN_RECALL = 0.99     # BASELINE.json target: pipeline vs the numpy oracle
MIN_PRECISION = 0.99  # tests/test_pipeline_recall.py


class CheckFailed(Exception):
    """An output of the program broke an invariant the benchmark checks."""


def quality(found: pd.DataFrame, oracle: pd.DataFrame, truth: pd.DataFrame,
            distractors: pd.DataFrame) -> dict:
    """Scores of the program's clusters `found` (clip_id, f): pair recall
    and precision against the oracle's, planted-family recall, and planted
    distractor pairs merged.  Raises CheckFailed below the oracle targets."""
    recall, precision = pair_scores(found, oracle.rename(columns={"oracle_label": "t"}))
    planted, _ = pair_scores(found, truth.rename(columns={"truth_label": "t"}))
    merged, total = distractor_merges(found, distractors)
    if recall < MIN_RECALL or precision < MIN_PRECISION:
        raise CheckFailed(f"recall {recall:.4f} precision {precision:.4f} vs the oracle")
    return {
        "dup_pair_recall": recall,
        "dup_pair_precision": precision,
        "planted_recall": planted,
        "distractor_merged": merged,
        "distractor_pairs": total,
    }
