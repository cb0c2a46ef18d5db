"""Substring-containment dedup: winnowing fingerprints for candidate
buckets, a per-bucket suffix array for verification.

Semantics: emit (a, b) when a's normalized transcript is a verbatim
substring of b's (and len(a) >= cfg.min_containment_len).  The
reference has no containment operator; BASELINE.json adds it
("suffix-array substring dedup").

Scale shape:
  * candidates: winnowing guarantees any shared substring of length
    >= winnow_w + winnow_k - 1 shares a fingerprint, so grouping rows
    by fingerprint is a complete candidate generator (the fingerprint
    density is ~2/winnow_w per char — bounded posting volume).
  * verification: groupBy(fp).applyInPandas builds ONE generalized
    suffix array per bucket and range-searches each member — O(total
    chars * log^2) per bucket instead of O(m^2 * len) pairwise scans.
  * skew: buckets above cfg.band_cap are dropped and counted, same
    rule as the LSH bands (and as the numpy oracle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from file_dedup_rust_spark.config import DedupConfig

PAIR_SCHEMA = "a string, b string, sim double"


def suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling (O(n log^2 n), pure numpy).

    s: 1-D integer array (any small alphabet).  Returns int64 array
    `sa` with suffixes s[sa[0]:] <= s[sa[1]:] <= ...
    """
    n = s.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.asarray(s, dtype=np.int64)
    idx = np.arange(n, dtype=np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        pair = np.stack([rank[order], key2[order]], axis=1)
        changed = np.ones(n, dtype=np.int64)
        changed[1:] = np.any(pair[1:] != pair[:-1], axis=1)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed) - 1
        rank = new_rank
        if rank[order[-1]] == n - 1:
            return order
        k *= 2
        if k >= n:
            return np.lexsort((idx, rank))


def _sa_range(concat: np.ndarray, sa: np.ndarray, pat: np.ndarray) -> tuple[int, int]:
    """[lo, hi) range of suffixes in `sa` whose prefix equals `pat`.
    Binary search with explicit prefix comparison."""
    n = sa.size
    m = pat.size

    def cmp_at(i: int) -> int:
        """-1 if suffix < pat, 0 if pat is a prefix, 1 if suffix > pat."""
        start = sa[i]
        seg = concat[start : start + m]
        L = seg.size
        neq = np.nonzero(seg != pat[:L])[0]
        if neq.size:
            j = neq[0]
            return -1 if seg[j] < pat[j] else 1
        return -1 if L < m else 0

    lo, hi = 0, n
    while lo < hi:  # first suffix >= pat (prefix-match counts as >=)
        mid = (lo + hi) // 2
        if cmp_at(mid) < 0:
            lo = mid + 1
        else:
            hi = mid
    first = lo
    lo, hi = first, n
    while lo < hi:  # first suffix with prefix > pat
        mid = (lo + hi) // 2
        if cmp_at(mid) == 0:
            lo = mid + 1
        else:
            hi = mid
    return first, lo


def containment_pairs_in_bucket(
    ids: list[str], texts: list[str], min_len: int
) -> set[tuple[str, str, float]]:
    """All (contained, container, len_ratio) pairs within one bucket.

    Builds a generalized suffix array over '\\x00'-joined texts
    (normalize_transcript strips NUL from inputs) and range-searches
    each member.  Equal texts tie-break to (min_id, max_id)."""
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    bufs = [np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64) + 1
            for t in texts]
    lens = np.array([b.size for b in bufs], dtype=np.int64)
    starts = np.zeros(len(bufs), dtype=np.int64)
    parts: list[np.ndarray] = []
    pos = 0
    for i, b in enumerate(bufs):
        starts[i] = pos
        parts.append(b)
        parts.append(np.array([0], dtype=np.int64))  # separator < any byte+1
        pos += b.size + 1
    concat = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    sa = suffix_array(concat)
    # map concat position -> doc index
    doc_of = np.searchsorted(starts, np.arange(concat.size), side="right") - 1

    out: set[tuple[str, str, float]] = set()
    for i, pat in enumerate(bufs):
        if pat.size < min_len:
            continue
        lo, hi = _sa_range(concat, sa, pat)
        for j in doc_of[sa[lo:hi]]:
            j = int(j)
            if j == i:
                continue
            if lens[j] == lens[i]:
                x, y = (i, j) if ids[i] < ids[j] else (j, i)
            else:
                x, y = i, j  # i contained in j (j strictly longer)
            out.add((ids[x], ids[y], float(lens[x]) / float(max(lens[y], 1))))
    return out


def verify_patterns_in_container(
    cont_text: str,
    pat_ids: list[str],
    pats: list[str],
    sa_min_chars: int = 4096,
    sa_min_pats: int = 32,
) -> list[tuple[str, float]]:
    """(pattern ids that are verbatim substrings of cont_text, len
    ratio).

    Two physical strategies, same semantics (utf-8 is
    self-synchronizing, so byte-level and str-level substring agree):

    * short container or few patterns — Python's C substring search
      (Two-Way algorithm) per pattern.  O(n) per probe but with a
      ~1000x smaller constant than building a numpy suffix array;
      measured 400 -> ~10 core-seconds on the 80k-clip corpus where
      transcripts are a few hundred chars.
    * long container probed by many patterns — ONE suffix array over
      the container, O(m log n) binary search per pattern.  This is
      the asymptotic winner the containment operator is named for
      (e.g. one boilerplate mega-document contained by thousands of
      snippets)."""
    cont_b = cont_text.encode("utf-8")
    n = max(len(cont_b), 1)
    if len(cont_b) < sa_min_chars or len(pats) < sa_min_pats:
        return [
            (pid, float(len(pt.encode("utf-8"))) / n)
            for pid, pt in zip(pat_ids, pats)
            if pt in cont_text
        ]
    buf = np.frombuffer(cont_b, dtype=np.uint8).astype(np.int64)
    sa = suffix_array(buf)
    out = []
    for pid, pt in zip(pat_ids, pats):
        pat = np.frombuffer(pt.encode("utf-8"), dtype=np.uint8).astype(np.int64)
        lo, hi = _sa_range(buf, sa, pat)
        if hi > lo:
            out.append((pid, float(pat.size) / float(n)))
    return out


def containment_edges(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """signatures -> (a, b, kind='containment', sim=len_ratio) edges.

    Plan shape (the fix for hot-bucket duplicate work): fingerprint
    posting lists generate candidate PAIRS first (capped buckets,
    a<b, DISTINCT — so a pair sharing 30 fingerprints is verified
    once, not 30 times), then verification groups the surviving
    pattern candidates per CONTAINER and builds one suffix array per
    container text, searched once per pattern.  Matches the numpy
    oracle's pair-level semantics (oracle.oracle_edges containment
    block) exactly: equal-length pairs can never contain (distinct
    normalized texts), pattern must be >= min_containment_len.
    """
    posting = signatures.select(F.explode("fps").alias("key"), "clip_id")
    counts = posting.groupBy("key").agg(F.count("*").alias("n"))
    pok = posting.join(counts.filter(F.col("n") <= cfg.band_cap), "key")

    # Min-df pruning (prefix filtering specialised to containment).
    # Winnowing self-consistency: if pat is a verbatim substring of
    # cont, every window of pat's k-gram stream appears with identical
    # contents inside cont, so EVERY fingerprint of pat is also a
    # fingerprint of cont — including pat's RAREST surviving one.
    # Indexing each pattern under only that one fingerprint and
    # probing the posting list is therefore a COMPLETE candidate
    # generator (and exactly matches the numpy oracle's recall: if any
    # pat fp survives the cap, the rarest one does).  Candidate volume
    # drops from sum-of-C(bucket,2) — measured 52.3M pairs at 640k
    # clips, growing ~n^2 — to sum-of-df(rarest), i.e. near-linear.
    # Ties on df break on the key value for determinism.
    pat_min = rarest_fingerprint(pok).withColumnRenamed("clip_id", "pat_id")
    t = signatures.select("clip_id", "t_norm", "t_len")
    pat = pat_min.join(
        t.select(
            F.col("clip_id").alias("pat_id"), F.col("t_norm").alias("pat"),
            F.col("t_len").alias("lp"),
        ),
        "pat_id",
    ).filter(F.col("lp") >= cfg.min_containment_len)
    oriented = (
        pat.join(pok.select("key", F.col("clip_id").alias("cont_id")), "key")
        .join(
            t.select(
                F.col("clip_id").alias("cont_id"),
                F.col("t_norm").alias("cont"), F.col("t_len").alias("lc"),
            ),
            "cont_id",
        )
        # the contained side is strictly shorter (equal-length distinct
        # normalized texts can never contain each other)
        .filter(F.col("lp") < F.col("lc"))
        .select("pat_id", "pat", "cont_id", "cont")
    )

    verified = verify_oriented_pairs(oriented, cfg)
    return verified.select(
        F.least("pat_id", "cont_id").alias("a"),
        F.greatest("pat_id", "cont_id").alias("b"),
        F.lit("containment").alias("kind"),
        "sim",
    )


def rarest_fingerprint(posting: DataFrame) -> DataFrame:
    """(key, clip_id, n) posting rows carrying each key's count ->
    (clip_id, key): every clip's rarest fingerprint among the rows it
    is given, ties broken on the key value.  Callers decide which keys
    survive (and whose counts `n` are) by what they join in first; by
    winnowing self-consistency (containment_edges) the one key is a
    complete containment probe for the clip as a pattern."""
    return (
        posting.groupBy("clip_id")
        .agg(F.min(F.struct("n", "key")).alias("mk"))
        .select("clip_id", F.col("mk.key").alias("key"))
    )


ORIENTED_SCHEMA = "pat_id string, cont_id string, sim double"


def verify_oriented_pairs(oriented: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Oriented candidates (pat_id, pat, cont_id, cont) -> verified
    (pat_id, cont_id, sim) rows where `pat` is a verbatim substring of
    `cont` (sim = len ratio, pattern/container octets).  Callers
    pre-filter lp < lc and the min-length rule; shared by the batch
    `containment_edges` and the streaming containment probe.

    ONE grouped-map pass over the candidates, grouped per container;
    the per-container kernel (verify_patterns_in_container) picks the
    physical strategy itself:
      * short container / few patterns — Python's C substring search
        (Two-Way algorithm) per pattern;
      * huge container probed by many patterns — ONE numpy suffix
        array, O(m log n) binary search per probe.

    Round 6 note: this used to be TWO branches (a JVM `contains`
    filter for short containers unioned with a grouped-map for long
    ones) — two references to `oriented`, which re-ran the whole
    candidate derivation (posting census, min-df selection, text
    attach joins) twice per job.  Candidate volume is near-linear and
    small (min-df pruning: one posting probe per pattern), so a single
    Python pass over it is noise while the duplicated upstream
    derivation was the measured cost (~8.3s -> ~3s at 50k clips).
    """
    sa_bytes = cfg.sa_container_bytes

    def per_container(pdf: pd.DataFrame) -> pd.DataFrame:
        cont_id = pdf["cont_id"].iloc[0]
        hits = verify_patterns_in_container(
            pdf["cont"].iloc[0], pdf["pat_id"].tolist(), pdf["pat"].tolist(),
            sa_min_chars=sa_bytes,
        )
        if not hits:
            return pd.DataFrame({"pat_id": [], "cont_id": [], "sim": []})
        pat_ids, sims = zip(*sorted(hits))
        return pd.DataFrame({
            "pat_id": list(pat_ids),
            "cont_id": [cont_id] * len(pat_ids),
            "sim": list(sims),
        })

    return oriented.groupBy("cont_id").applyInPandas(
        per_container, schema=ORIENTED_SCHEMA
    )
