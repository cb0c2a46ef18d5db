"""Shared configuration for the dedup pipeline AND the numpy oracle.

One dataclass is the single source of truth for every tunable that
affects which duplicate pairs are found.  The recall >= 0.99 criterion
(BASELINE.json) demands bit-exact agreement between the distributed
pipeline and the single-machine oracle; sharing this object is how we
get it (SURVEY.md section 7.3 item 1).

Reference constants carried over (file:line in /root/reference):
  * similarity threshold 0.8  — backend/src/worker/deduplication_service.rs:348
  * top-k neighbours    10    — backend/src/worker/deduplication_service.rs:309
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # ---- exact duplicates (reference J1: sha256 equi-probe) ----
    # we hash file *content* (the documented intent of the reference;
    # see deduplicator.rs:61-76), always with SHA-256.

    # ---- transcript MinHash / LSH (reference J2 analog) ----
    shingle_k: int = 5          # character k-grams over the transcript
    num_perm: int = 128         # MinHash permutations
    lsh_bands: int = 32         # bands (b)
    lsh_rows: int = 4           # rows per band (r); b*r == num_perm
    minhash_seed: int = 0x5EED_0001

    # ---- audio SimHash over spectral features ----
    simhash_bits: int = 64
    n_fft: int = 512
    hop: int = 256
    n_bands: int = 16           # log-spaced frequency bands
    n_segments: int = 16        # temporal segments (features are the
                                # adjacent-band log-energy CONTRASTS per
                                # segment: 16 * 15 = 240 dims — measured
                                # unrelated-pair Hamming >= 15, SNR-35dB
                                # dup Hamming <= 4 on the synthetic corpus)
    simhash_seed: int = 0x5EED_0002
    sim_bands: int = 8          # simhash LSH: 8 bands x 8 bits
    # LSH keys are hashes of band COMBINATIONS of this size.  arity 2
    # (16 value bits) measured 9.0M candidate pairs on 80k clips —
    # structured audio shares individual band values far above the
    # 2^-16 random rate.  arity 3 (24 value bits) needs 3 clean bands
    # to collide: detection is still guaranteed for Hamming d <=
    # sim_bands - 3 = 5 (planted near-dups measure d <= 4) and random
    # collisions drop ~256x.
    sim_key_arity: int = 3
    # 1 - 8/64 = 0.875 >= reference 0.8; measured separation on the
    # synthetic corpus: near-dups at SNR>=35dB land at d<=4, 10dB
    # distractors at d>=13 — 8 splits the gap with margin both ways
    hamming_max: int = 8

    # ---- containment (winnowing fingerprints + suffix-array verify) ----
    # winnow_k=16: an 8-char gram over a natural-language-like vocab
    # collides across thousands of documents (winnowing preferentially
    # selects globally-small hashes), which measured 2.67M candidate
    # pairs for 800 true containment edges at 18k docs; 16-char grams
    # span ~2.5 words and cut cross-doc collisions by ~100x.  The
    # winnowing guarantee (shared substring >= k+w-1 = 31 chars yields
    # a shared fingerprint) still covers every planted containment
    # (base transcripts are >= 10 tokens ~ 40 chars).
    winnow_k: int = 16          # fingerprint k-gram size
    winnow_w: int = 16          # winnowing window (guarantee length k+w-1)
    min_containment_len: int = 32  # ignore tiny strings (>= winnow guarantee)
    # containers below this byte length are verified JVM-side
    # (whole-stage-codegen `contains`); at/above it, candidates group
    # per container and a numpy suffix array is binary-searched per
    # pattern (the asymptotic winner for mega-documents probed by
    # many patterns)
    sa_container_bytes: int = 4096

    # ---- verification thresholds (reference P3 / T2) ----
    jaccard_threshold: float = 0.8
    sim_threshold: float = 0.8
    top_k: int = 10

    # ---- audio sub-clip containment (opt-in tier; ADVICE r4 lifted
    # these out of operator defaults so cfg.fingerprint() invalidates
    # checkpoints when they change and the CLI can tune them) ----
    ac_min_coverage: float = 0.8   # matched fraction of the sub-clip's live frames
    ac_max_df: int = 64            # drop frame hashes in more clips than this
    ac_min_matches: int = 4        # absolute vote floor per (a, b, offset)
    ac_post_cap: int = 2000        # drop hashes with more posting rows than this

    # ---- speed-ladder tier (operators/speed_ladder.py — opt-in
    # detection of small speed/pitch perturbations; same
    # config-not-operator-default rule as the ac_* block) ----
    # Hypothesis grid of time-stretch corrections applied to the PROBE
    # side.  A re-upload sped by r matches when some grid factor g
    # leaves a residual |log(g/r)| small enough that the SimHash
    # Hamming distance falls back inside sp_hamming_max.  Step 2%
    # keeps the residual <= 1%, where planted sped copies of >= 2 s
    # clips measure d <= ~8 vs unrelated >= 18 (see
    # operators/speed_ladder.py for the measurement) — claimed
    # tolerance r in [0.95, 1.05], graceful degradation just outside.
    sp_grid: tuple[float, ...] = (0.95, 0.97, 0.99, 1.01, 1.03, 1.05)
    # verify threshold per hypothesis pair.  Measured tradeoff on 5k
    # unrelated 3 s clips + 2.5k planted sped copies (tests corpus,
    # BENCH.md): d<=7 -> 91.8% recall / 0 false, d<=8 -> 97.7% / 10,
    # d<=9 -> 98.8% / 33, d<=10 -> 99.2% / 131.  9 is the knee.
    sp_hamming_max: int = 9
    # ladder posting keys use arity-2 band combinations (the main tier
    # uses arity 3): the pigeonhole guarantee then covers d <=
    # sim_bands - 2 = 6, which residual-corrected sped pairs usually
    # meet while the main tier's d <= 5 guarantee misses them.  The
    # ~256x higher random-collision rate is confined to this opt-in
    # tier and bounded by its bucket cap.
    sp_key_arity: int = 2
    sp_bucket_cap: int = 200       # posting-bucket cap (counted drops)
    # clips shorter than this emit NO ladder rows: below ~2 s the
    # 16-segment time pooling has 1-4 frames per segment and ANY
    # resample jitters the features past the unrelated floor — the
    # tier would emit noise edges (measured: 89k junk pairs on a 20k
    # sub-second corpus) and burn (1+S) feature passes for them.
    # Short clips belong to the default exact/SimHash tiers.
    sp_min_s: float = 2.0

    # ---- audio quality gates (operators/audio_quality.py; metrics
    # ride the single signature decode pass) ----
    q_silence_max: float = 0.95    # flag clips that are >= this frac silent
    q_clip_max: float = 0.10       # flag clips with >= this frac full-scale samples
    q_min_rms_dbfs: float = -45.0  # flag clips quieter than this overall
    q_max_dc_offset: float = 0.02  # flag clips with |mean sample| above this
    q_meta_tol_ms: float = 50.0    # flag clips whose decoded length disagrees
                                   # with the claimed dur_ms by more than this
    # cross-modal speech-rate gate: transcript words per second of
    # claimed audio.  Real speech sits ~0.5-4 wps; a 3-word transcript
    # on 60 s of audio (or an essay on a 1 s clip) is a mispaired row.
    # q_max_wps = 0 DISABLES the gate — the default, because the
    # synthetic datagen corpus is deliberately not timing-realistic
    # (10-80 tokens over 0.2-1.2 s); real corpora set e.g. (0.3, 5.0).
    q_min_wps: float = 0.0
    q_max_wps: float = 0.0
    # band-limit gate: flag clips whose Nyquist-relative 95%-energy
    # spectral rolloff (functions/audio.py:spectral_rolloff, computed
    # in the same decode pass) sits below this fraction — the
    # upsample-fraud detector (8 kHz content shipped in a 44.1 kHz
    # container rolls off at ~0.36; genuine full-band audio near 1.0).
    # 0.0 DISABLES the gate — the default, because narrow-band content
    # (pure tones, telephone speech kept at native rate) is legitimate;
    # corpora enforcing a bandwidth floor set e.g. 0.5.
    q_min_rolloff: float = 0.0

    # ---- silence-pad-invariant exact tier (opt-in) ----
    # 0.0 = off (the default; preserves bit-stable outputs across
    # rounds).  When > 0, the signature pass additionally hashes the
    # canonical PCM with leading/trailing samples below this amplitude
    # stripped (functions/audio.py:trim_silence), and build_edges adds
    # a `trim_exact` star tier over one representative per pcm_sha —
    # so the same recording re-uploaded with silence padding (editor
    # export defaults, fixed-length segmenter zero-fill) dedups even
    # though both the byte hash and the decoded-PCM hash differ.
    # Interior silence is content and never trimmed.  A sensible value
    # is audio.SILENCE_EPS (1e-3 ~ -60 dBFS), the --trim-silence CLI
    # default.
    trim_eps: float = 0.0

    # ---- canonical sample rate (opt-in cross-rate dedup) ----
    # 0 = off (the default; preserves bit-stable outputs across
    # rounds).  When set (e.g. 16000), every decoded clip is linearly
    # resampled to this rate BEFORE the exact pcm hash, the SimHash
    # spectral features, and the containment frame fingerprints — so
    # the same recording distributed at 8/16/44.1 kHz dedups across
    # rates: exactly when the variants derive from one master via the
    # canonical chain — this resampler + the canonical x32768
    # quantizer (pcm_exact tier) — and approximately (same SimHash
    # band geometry, small Hamming) for variants from ANY foreign
    # resampler or quantizer.  Off, the spectral bands are Nyquist-
    # relative and cross-rate duplicates are invisible to every
    # audio tier (functions/audio.py:406-408).
    cr_hz: int = 0

    # ---- long-form segmentation (opt-in pre-stage) ----
    # 0.0 = off.  When seg_win_s > 0, run_pipeline splits every clip
    # into seg_win_s-second windows at seg_stride_s stride (snap-to-end
    # final window, operators/segment.py) BEFORE the signature pass, so
    # every dedup tier runs at training-window granularity.  Living in
    # the config (not a CLI-only switch) means cfg.fingerprint() covers
    # it: toggling segmentation against an existing checkpoint dir
    # invalidates the signatures stage instead of silently resuming
    # whole-clip signatures.  stride must be in (0, win] — larger
    # strides would leave coverage gaps (sampling is not this
    # operator's contract).
    seg_win_s: float = 0.0
    seg_stride_s: float = 0.0

    # ---- skew handling ----
    band_cap: int = 200         # max posting-list size per (band, hash)

    # ---- misc ----
    max_decode_seconds: float = 8.0   # featurize at most this much audio
    seed: int = 42

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError("lsh_bands * lsh_rows must equal num_perm")
        if self.simhash_bits % self.sim_bands != 0:
            raise ValueError("sim_bands must divide simhash_bits")
        if not (1 <= self.sim_key_arity <= self.sim_bands):
            raise ValueError("sim_key_arity must be in [1, sim_bands]")
        if self.seg_win_s > 0 and not (
            0 < self.seg_stride_s <= self.seg_win_s
        ):
            raise ValueError(
                "seg_stride_s must be in (0, seg_win_s] — a stride "
                "larger than the window leaves coverage gaps"
            )

    @property
    def sim_band_bits(self) -> int:
        return self.simhash_bits // self.sim_bands

    def fingerprint(self) -> str:
        """Stable hash of the config — stored in checkpoint manifests so a
        resumed run refuses to reuse checkpoints built under another config.

        The signature-stage OUTPUT SCHEMA is folded in alongside the
        config values (ADVICE r4): when an engine upgrade adds a column
        (e.g. pcm_sha in round 4), a pre-upgrade checkpoint directory
        must invalidate — otherwise the committed 'signatures' stage
        resumes and a later stage crashes on the missing column."""
        from file_dedup_rust_spark.functions.udfs import (
            SIG_SEMANTICS_VERSION,
            SIGNATURE_SCHEMA,
        )

        payload = {
            "cfg": asdict(self),
            "sig_schema": SIGNATURE_SCHEMA,
            # value-semantics changes (same columns, different values —
            # e.g. the v2 polarity-canonical pcm_sha) must also
            # invalidate pre-change signature checkpoints
            "sig_semantics": SIG_SEMANTICS_VERSION,
        }
        blob = json.dumps(payload, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
