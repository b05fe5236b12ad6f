"""The only Python-in-the-loop: Arrow-batched pandas UDFs.

The main crossings, all vectorized (never per-row Python):

- ``with_langid_ppl``  — langid (lang, conf) + perplexity in ONE struct
  UDF so the transcript column crosses the Arrow boundary once.
- ``with_decode``      — decode bytes ONCE -> any of fingerprint, blind
  SNR estimate and acoustic features, computing only what is asked for.
- ``with_pcm_stats``   — decode bytes -> sample count / duration / RMS.
- ``with_snr``         — decode + re-synthesize the original waveform from
  clip_id -> SNR dB (the per-row PCM invariant; validation path only).

Model arrays are broadcast once (``SparkContext.broadcast``) and
lazily localized per executor — not captured per-batch or re-pickled per
task (SURVEY §4 vectorization notes).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qcflow import audio
from qcflow.models import (
    MIN_TRIGRAMS,
    PPL_MAX,
    TEMP,
    V_BUCKETS,
    QcModels,
    char_classes,
    train_models,
    trigram_hashes,
)


_MODEL_BC_CACHE: dict = {}


def _broadcast_models(spark: SparkSession, seed: int = 1234):
    """One broadcast per (application, seed): repeated calls (streaming
    restarts, per-increment runs, bench loops) must reuse the existing
    broadcast instead of accumulating blocks on driver and executors.
    Entries of OTHER applications are evicted on allocation — a process
    that restarts sessions (tests, notebooks) would otherwise pin model
    payloads and dead-context broadcasts forever."""
    sc = spark.sparkContext
    key = (sc.applicationId, seed)
    bc = _MODEL_BC_CACHE.get(key)
    if bc is None:
        for stale in [k for k in _MODEL_BC_CACHE if k[0] != sc.applicationId]:
            del _MODEL_BC_CACHE[stale]
        bc = sc.broadcast(train_models(seed))
        _MODEL_BC_CACHE[key] = bc
    return bc


def _score_batch(models: QcModels, texts: pd.Series) -> pd.DataFrame:
    """Whole-batch vectorized scoring: every text in the Arrow batch is
    packed into ONE byte buffer with NUL separators; trigram hashing, the
    langid gather-sum and the bigram-LM log-prob sum are then single numpy
    passes over the buffer (segment sums via bincount) — no per-row loops,
    no (n x V) dense counts matrix."""
    n = len(texts)
    vals = texts.fillna("").astype(str).values
    encoded = [t.encode("utf-8", "ignore") for t in vals]
    lens = np.fromiter((len(e) for e in encoded), dtype=np.int64, count=n)
    # layout: t0 \0\0 t1 \0\0 ... (2 separators kill cross-text trigrams)
    buf = b"\x00\x00".join(encoded)
    b = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
    starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        starts[1:] = np.cumsum(lens[:-1] + 2)

    langs = np.empty(n, dtype=object)
    confs = np.zeros(n, dtype=np.float64)
    ppls = np.full(n, PPL_MAX, dtype=np.float64)
    scores = np.tile(models.langid_prior.astype(np.float64), (n, 1))
    n_tri = np.zeros(n, dtype=np.int64)

    if len(b) >= 3:
        b0, b1, b2 = b[:-2], b[1:-1], b[2:]
        valid = (b0 != 0) & (b1 != 0) & (b2 != 0)
        pos = np.nonzero(valid)[0]
        if len(pos):
            h = (b0[pos] * 961 + b1[pos] * 31 + b2[pos]) % V_BUCKETS
            rows = np.searchsorted(starts, pos, side="right") - 1
            n_tri = np.bincount(rows, minlength=n)
            w = models.langid_w.astype(np.float64)
            for li in range(w.shape[1]):
                scores[:, li] += np.bincount(rows, weights=w[h, li], minlength=n)

    # bigram LM over char classes (same buffer; class 99 = separator)
    if len(b) >= 2:
        cls = np.full(len(b), 31, dtype=np.int64)
        cls = np.where((b >= 97) & (b <= 122), b - 97, cls)
        cls = np.where((b >= 65) & (b <= 90), 30, cls)
        cls = np.where(b == 32, 26, cls)
        cls = np.where(b == 46, 27, cls)
        cls = np.where((b >= 48) & (b <= 57), 28, cls)
        sym = (
            ((b >= 33) & (b <= 47) & (b != 46))
            | ((b >= 58) & (b <= 64))
            | ((b >= 91) & (b <= 96))
            | ((b >= 123) & (b <= 126))
        )
        cls = np.where(sym, 29, cls)
        c0, c1 = cls[:-1], cls[1:]
        bvalid = (b[:-1] != 0) & (b[1:] != 0)
        bpos = np.nonzero(bvalid)[0]
        if len(bpos):
            brows = np.searchsorted(starts, bpos, side="right") - 1
            lp = models.bigram_lp.astype(np.float64)[c0[bpos], c1[bpos]]
            lp_sum = np.bincount(brows, weights=lp, minlength=n)
            n_bi = np.bincount(brows, minlength=n)
            ok = n_bi > 0
            ppls[ok] = np.exp(-lp_sum[ok] / n_bi[ok])

    best = scores.argmax(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        norm = scores / np.maximum(n_tri, 1)[:, None] * TEMP
        norm = norm - norm.max(axis=1, keepdims=True)
        p = np.exp(norm)
        p = p / p.sum(axis=1, keepdims=True)
    short = n_tri < MIN_TRIGRAMS
    langs[:] = np.asarray(models.langs, dtype=object)[best]
    confs[:] = p[np.arange(n), best]
    langs[short] = "und"
    confs[short] = 0.0
    return pd.DataFrame({"lang": langs, "lang_conf": confs, "perplexity": ppls})


def with_langid_ppl(df: DataFrame, spark: SparkSession, seed: int = 1234) -> DataFrame:
    """Append lang / lang_conf / perplexity via one Arrow crossing.

    Measured (BENCH/ab_langid_rebatch.json records the A/B of a
    rebatched variant, since deleted): iterator-side re-chunking of the
    session's 256-row Arrow batches to 8k rows before scoring is a WASH
    (1.03x) — the packed-buffer kernel in ``_score_batch`` is already
    throughput-bound at 256 rows (~60k clips/s at local[32]), so no
    re-batching layer is kept."""
    bc = _broadcast_models(spark, seed)

    @F.pandas_udf("lang string, lang_conf double, perplexity double")
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        models = bc.value  # localized once per worker, reused across batches
        for s in it:
            yield _score_batch(models, s)

    out = df.withColumn("_m", _udf(F.col("transcript")))
    return out.select("*", "_m.lang", "_m.lang_conf", "_m.perplexity").drop("_m")


def with_pcm_stats(df: DataFrame) -> DataFrame:
    """Decode-path stats: true sample count + RMS from the decoded PCM."""

    @F.pandas_udf("n_samples long, rms double")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ns = np.zeros(len(pdf), dtype=np.int64)
            rms = np.full(len(pdf), np.nan)
            for i, (b, codec) in enumerate(zip(pdf["bytes"], pdf["codec"])):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                x = audio.decode(bytes(b), codec)
                ns[i] = len(x)
                if len(x):
                    rms[i] = float(np.sqrt(np.mean(x.astype(np.float64) ** 2)))
            yield pd.DataFrame({"n_samples": ns, "rms": rms})

    out = df.withColumn("_p", _udf(F.struct("bytes", "codec")))
    return out.select("*", "_p.n_samples", "_p.rms").drop("_p")


# Acoustic-feature constants (shared with qcflow.rules' acoustic rules).
CLIP_SAMPLE_ABS = 0.95  # |x| at/above this counts as a clipped sample
SILENCE_FRAME_RMS = 0.01  # frame RMS below this counts as a silent frame
SILENCE_FRAME_MS = 20.0  # frame length for the silence grid


def acoustic_stats(x32: np.ndarray, sr_eff: int, block: int = 16384) -> dict:
    """Per-clip acoustic stats in ONE L2-resident blocked pass (blocks
    rounded to the 20 ms frame grid; sign flips carried across block
    edges). Equivalent to the naive full-array form — property-pinned in
    tests/test_property.py — without its ~6 array temporaries per clip,
    which ran DRAM-bound at high parallelism (same lesson as
    audio.snr_vs_synth; measured 1009 -> 1855 clips/s at local[32] on the
    10k bench slice, single-thread a wash). Caller guarantees len > 0."""
    n = len(x32)
    fl = max(1, int(round(sr_eff * SILENCE_FRAME_MS / 1000.0)))
    blk = max(fl, (block // fl) * fl)  # block on the frame grid
    tot = 0.0
    tot_sq = 0.0
    peak = 0.0
    n_clip = 0
    flips = 0
    n_silent = 0
    n_frames = 0
    prev_sign: bool | None = None
    for s0 in range(0, n, blk):
        seg = x32[s0 : s0 + blk].astype(np.float64)
        a = np.abs(seg)
        tot += float(seg.sum())
        tot_sq += float((seg * seg).sum())
        peak = max(peak, float(a.max()))
        n_clip += int((a >= CLIP_SAMPLE_ABS).sum())
        sb = np.signbit(seg)
        flips += int((sb[1:] != sb[:-1]).sum())
        if prev_sign is not None and bool(sb[0]) != prev_sign:
            flips += 1
        prev_sign = bool(sb[-1])
        n_fr = len(seg) // fl
        if n_fr:
            fr = seg[: n_fr * fl].reshape(n_fr, fl)
            fr_rms = np.sqrt(np.mean(fr * fr, axis=1))
            n_silent += int((fr_rms < SILENCE_FRAME_RMS).sum())
            n_frames += n_fr
    rms = float(np.sqrt(tot_sq / n))
    return {
        "ac_rms": rms,
        "ac_peak": peak,
        "clip_ratio": n_clip / n,
        "dc_offset": tot / n,
        "zcr": flips / (n - 1) if n > 1 else 0.0,
        "silence_ratio": (
            n_silent / n_frames if n_frames else float(rms < SILENCE_FRAME_RMS)
        ),
        "spectral_flatness": spectral_flatness(x32),
    }


FFT_FRAME = 2048
FFT_MAX_FRAMES = 16  # flatness converges in a handful of frames


def spectral_flatness(x32: np.ndarray) -> float:
    """Geometric/arithmetic mean ratio of the average power spectrum over
    up to 16 evenly-strided 2048-sample frames (DC bin excluded). Tonal
    content (speech, music, the synth fixture) measures <= ~0.01; white
    noise — a dead mic, a broken preamp — measures ~0.9; a tone buried
    in heavy noise ~0.5 (calibration in tests/test_audio_features.py).
    NaN when the clip is shorter than one frame (rules never fire on
    NaN). Frames are capped and strided deterministically and the FFT
    runs in float32 (complex64 out), keeping the cost fixed per clip
    (~0.2 ms single-thread) instead of growing with clip length — an
    every-frame float64 FFT allocates two clip-sized complex temporaries
    per row, which matters at 32-way parallelism even though any of
    these variants is dwarfed by the stage's staging-write I/O (measured
    A/B in one session: identical code ran 32.4s then 5.9s on 10k
    clips — the variance is the shared vdisk, not the math)."""
    m = len(x32) // FFT_FRAME
    if not m:
        return float("nan")
    take = min(m, FFT_MAX_FRAMES)
    idx = (np.arange(take) * (m // take)) * FFT_FRAME
    fr = np.stack([x32[s : s + FFT_FRAME] for s in idx]).astype(np.float32)
    spec = np.abs(np.fft.rfft(fr, axis=1)) ** 2
    ms = spec.mean(axis=0, dtype=np.float64)[1:]
    if not ms.any():
        # all-zero / pure-DC clips have no AC spectrum at all: the 0/0
        # ratio would collapse to ~1 through the epsilons and mislabel
        # digital silence as broadband noise — NaN, like sub-frame clips
        return float("nan")
    return float(np.exp(np.log(ms + 1e-12).mean()) / (ms.mean() + 1e-12))


AUDIO_FEATURE_COLS = [
    "ac_n_samples",
    "ac_rms",
    "ac_peak",
    "clip_ratio",
    "silence_ratio",
    "zcr",
    "dc_offset",
    "spectral_flatness",
]


SNR_COLS = ["noise_floor_db", "speech_db", "snr_est_db"]

# every column the decode kernel can emit, in output order
_DECODE_TYPES = {
    "audio_fp": "long",
    **{c: "double" for c in SNR_COLS},
    **{c: "long" if c == "ac_n_samples" else "double" for c in AUDIO_FEATURE_COLS},
}


def with_decode(df: DataFrame, cols) -> DataFrame:
    """ONE decode crossing for every decode-derived column: each row's
    bytes are decoded once and only the requested outputs are computed,
    so a fingerprint-only caller never pays for the acoustic features.
    ``cols`` is any subset of:

    - ``audio_fp``: 64-bit spectral fingerprint (audio.audio_fp64) —
      decode -> 5-segment x 17-band energy -> 4x16 transition-sign bits
      packed as a long; the 8-byte column the banded Hamming self-join
      ships, so clip bytes never reach a shuffle
    - ``noise_floor_db`` / ``speech_db`` / ``snr_est_db``: blind SNR
      estimate from frame-RMS order statistics (``snr_estimate``)
    - ``AUDIO_FEATURE_COLS``: acoustic QC features (``acoustic_stats``) —
      decode-true length ``ac_n_samples``, ``ac_rms``, ``ac_peak``,
      ``clip_ratio`` (samples at/above |0.95|), ``silence_ratio`` (20 ms
      frames below RMS 0.01), ``zcr`` (sign flips per sample),
      ``dc_offset`` (sample mean), ``spectral_flatness``

    Row-level guards, never task-fatal (a QC stage must not die on
    garbage rows): NULL bytes, an unknown codec or an undecodable
    payload (e.g. odd-length pcm16) yield NULL for every output. A NULL
    ``sr_hz`` (Arrow null -> NaN) yields a NULL fingerprint and SNR but
    takes the 8000 Hz fallback for the acoustic features, whose silence
    frame grid is the only rate-dependent part; an invalid rate takes
    the 8000 fallback everywhere. NULL features never trip a rule
    (NaN-never-flags, SURVEY §1.2).

    Per-row deterministic (the construction-truth gates rely on it), but
    flagged nondeterministic so Catalyst never CLONES the decode: the
    banded self-join infers IsNotNull on the band/bucket keys, and
    pushing that inferred predicate through the projection re-evaluates
    the UDF once for the filter and once for the projection — every clip
    decoded twice PER JOIN BRANCH. The flag only constrains the
    optimizer (no pushdown through, no duplication); plan pinned in
    tests/test_plans.py."""
    # the kernel computes whole output groups, only those asked for
    emitted = [
        c
        for group in (["audio_fp"], SNR_COLS, AUDIO_FEATURE_COLS)
        if set(group) & set(cols)
        for c in group
    ]
    want_fp, want_snr, want_ac = (
        c in emitted for c in ("audio_fp", "snr_est_db", "ac_rms")
    )
    ac_keys = AUDIO_FEATURE_COLS[1:]

    @F.pandas_udf(", ".join(f"{c} {_DECODE_TYPES[c]}" for c in emitted))
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            # python-int accumulator: a float64 staging array would
            # corrupt low bits of any |fingerprint| >= 2^53
            fps: list = [None] * n
            snr = {c: np.full(n, np.nan) for c in SNR_COLS}
            ns = np.full(n, -1, dtype=np.int64)
            ac = {k: np.full(n, np.nan) for k in ac_keys}
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                except (ValueError, TypeError):
                    continue
                try:
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    sr_eff = None  # NULL rate: no fingerprint / SNR
                if sr_eff is not None:
                    if want_fp:
                        fps[i] = audio.audio_fp64(x, sr_eff)
                    if want_snr:
                        for c, v in zip(SNR_COLS, snr_estimate(x, sr_eff)):
                            snr[c][i] = v
                if want_ac:
                    ns[i] = len(x)
                    if len(x):
                        stats = acoustic_stats(x, 8000 if sr_eff is None else sr_eff)
                        for k in ac_keys:
                            ac[k][i] = stats[k]
            out = {
                "audio_fp": pd.Series(fps, dtype="Int64"),
                **snr,
                "ac_n_samples": ns,
                **ac,
            }
            yield pd.DataFrame({c: out[c] for c in emitted})

    dec = _udf.asNondeterministic()(F.struct("bytes", "codec", "sr_hz"))
    out = df.drop(*cols).withColumn("_dec", dec)
    out = out.withColumns({c: F.col(f"_dec.{c}") for c in cols}).drop("_dec")
    if "ac_n_samples" in cols:
        # -1 marks "undecodable" inside the Arrow frame (long has no
        # NaN); surface it as NULL like every other unavailable feature
        out = out.withColumn(
            "ac_n_samples", F.when(F.col("ac_n_samples") >= 0, F.col("ac_n_samples"))
        )
    return out


def with_audio_features(df: DataFrame) -> DataFrame:
    """``AUDIO_FEATURE_COLS`` from one decode crossing (``with_decode``)."""
    return with_decode(df, AUDIO_FEATURE_COLS)


def with_audio_fp(df: DataFrame) -> DataFrame:
    """``audio_fp`` alone from one decode crossing (``with_decode``)."""
    return with_decode(df, ["audio_fp"])


def with_snr_estimate(df: DataFrame) -> DataFrame:
    """The blind SNR estimate (``SNR_COLS``) from one decode crossing
    (``with_decode``). Low ``snr_est_db`` = noisy capture, high noise
    floor = hum/hiss — quality filtering without the clean reference the
    ``with_snr`` invariant needs."""
    return with_decode(df, SNR_COLS)


def has_audio_features(df: DataFrame) -> bool:
    """Whether ``df`` already carries every ``AUDIO_FEATURE_COLS``."""
    return set(AUDIO_FEATURE_COLS) <= set(df.columns)


def acoustic_features(df: DataFrame) -> DataFrame:
    """``df`` with ``AUDIO_FEATURE_COLS`` for the acoustic QC rules. When
    ``df`` already carries every feature column (dedup_table's survivors
    do) they are reused and ``bytes`` is never read; otherwise one decode
    crossing computes them. Stages that rewrite ``bytes`` (normalize,
    segment) drop the feature columns, so carried features always
    describe the row's current payload. Callers that need only
    ``clip_id`` + features select them; column pruning keeps the scan to
    what the chosen branch reads."""
    return df if has_audio_features(df) else with_audio_features(df)


def with_snr(df: DataFrame) -> DataFrame:
    """Per-row PCM invariant: SNR of decoded bytes vs the re-synthesized
    original waveform (clip index recovered from clip_id). Validation mode
    only — it re-synthesizes, so it costs ~1x generation."""

    @F.pandas_udf("double")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in it:
            out = np.full(len(pdf), np.nan)
            for i, (cid, b, codec, sr) in enumerate(
                zip(pdf["clip_id"], pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    est = audio.decode(bytes(b), codec)
                    # clip index from the synthetic id scheme; foreign ids
                    # or null sr yield NaN (row-level, never task-fatal)
                    idx = int(cid.rsplit("-", 1)[1])
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, IndexError, TypeError):
                    continue
                out[i] = audio.snr_vs_synth(idx, est, sr_eff)
            yield pd.Series(out)

    return df.withColumn(
        "snr_db", _udf(F.struct("clip_id", "bytes", "codec", "sr_hz"))
    )


def with_loudness(df: DataFrame) -> DataFrame:
    """Loudness-normalization parameters per clip (audio.loudness_gain):
    decode -> blocked-RMS -> target gain, one Arrow crossing. Emits
    ``rms`` / ``gain_db`` / ``clip_after`` (post-gain peak would exceed
    full scale -> route to a limiter). Map-only: no shuffle at any scale;
    the bytes column never leaves the scan task. Rows with NULL bytes, an
    unknown codec, or undecodable payloads yield NULL for all three
    (row-level guard, never task-fatal)."""

    @F.pandas_udf("rms double, gain_db double, clip_after boolean")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rms = np.full(len(pdf), np.nan)
            gdb = np.full(len(pdf), np.nan)
            clip = pd.array([None] * len(pdf), dtype="boolean")
            for i, (b, codec) in enumerate(zip(pdf["bytes"], pdf["codec"])):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                except (ValueError, TypeError):
                    continue
                rms[i], gdb[i], clip[i] = audio.loudness_gain(x)
            yield pd.DataFrame(
                {"rms": rms, "gain_db": gdb, "clip_after": clip}
            )

    out = df.withColumn("_l", _udf(F.struct("bytes", "codec")))
    return out.select("*", "_l.rms", "_l.gain_db", "_l.clip_after").drop("_l")


def _frame_rms(x32: np.ndarray, fl: int) -> list:
    """Per-frame RMS on the frame grid of length ``fl`` (the sub-frame
    tail counts as a partial frame). EXACTLY the arithmetic trim_bounds
    shipped with — the trim construction-truth fixtures pin it, so any
    refactor here must keep the reshape/mean/sqrt sequence
    bit-identical."""
    n = len(x32)
    n_fr = n // fl
    x = x32.astype(np.float64)
    rmss = []
    if n_fr:
        fr = x[: n_fr * fl].reshape(n_fr, fl)
        rmss = list(np.sqrt(np.mean(fr * fr, axis=1)))
    if n - n_fr * fl:
        tail = x[n_fr * fl :]
        rmss.append(float(np.sqrt(np.mean(tail * tail))))
    return rmss


def trim_bounds(
    x32: np.ndarray,
    sr_eff: int,
    frame_ms: float = SILENCE_FRAME_MS,
    thresh: float = SILENCE_FRAME_RMS,
) -> tuple[int, int]:
    """Leading/trailing-silence trim bounds on the 20 ms frame grid:
    (start_sample, end_sample) of the span from the first to the last
    voiced frame (frame RMS >= thresh; the sub-frame tail counts as a
    partial frame). All-silent clips give (0, 0). Integer outputs — the
    construction-truth gate compares them exactly, no float-repr
    concerns. One reshape pass; clips are single-row payloads so the
    working set is the clip itself (the blocked-pass treatment of
    acoustic_stats applies if clip length ever grows past L2)."""
    n = len(x32)
    if n == 0:
        return 0, 0
    fl = max(1, int(round(sr_eff * frame_ms / 1000.0)))
    rmss = _frame_rms(x32, fl)
    voiced = [i for i, r in enumerate(rmss) if r >= thresh]
    if not voiced:
        return 0, 0
    return voiced[0] * fl, min(n, (voiced[-1] + 1) * fl)


def with_trim_silence(df: DataFrame) -> DataFrame:
    """VAD-style silence trim per clip: decode -> 20 ms frame-RMS grid ->
    first/last voiced frame -> (lead_samples, kept_samples,
    trail_samples). Map-only, one Arrow crossing, bytes never leave the
    scan task; NULL bytes / unknown codec / undecodable payloads yield
    NULLs (row-level guard). A real pipeline follows with a slice +
    re-encode of x[lead : lead + kept]; the bounds are the testable
    contract."""

    @F.pandas_udf("lead_samples long, kept_samples long, trail_samples long")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lead = pd.array([None] * len(pdf), dtype="Int64")
            kept = pd.array([None] * len(pdf), dtype="Int64")
            trail = pd.array([None] * len(pdf), dtype="Int64")
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                s, e = trim_bounds(x, sr_eff)
                lead[i], kept[i], trail[i] = s, e - s, len(x) - e
            yield pd.DataFrame(
                {"lead_samples": lead, "kept_samples": kept, "trail_samples": trail}
            )

    out = df.withColumn("_t", _udf(F.struct("bytes", "codec", "sr_hz")))
    return out.select(
        "*", "_t.lead_samples", "_t.kept_samples", "_t.trail_samples"
    ).drop("_t")


def with_trim_reencode(df: DataFrame) -> DataFrame:
    """The actionable half of silence trimming: decode -> trim_bounds ->
    slice x[lead : lead + kept] -> re-encode in the CLIP'S OWN codec ->
    (trim_bytes, trim_samples, lead_samples). Map-only, one Arrow
    crossing, bytes never leave the scan task. All-silent clips emit
    empty bytes with trim_samples = 0; NULL bytes / unknown codec /
    undecodable payloads emit NULLs (row-level guard, never task-fatal).
    For frame-aligned pcm16 clips the output payload is byte-identical
    to the substring b[2*lead : 2*(lead+kept)] (unit-tested); the
    construction-truth gate compares md5 of the bytes against truth
    computed with this identical kernel at fixture-build time."""

    @F.pandas_udf("trim_bytes binary, trim_samples long, lead_samples long")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_b: list = [None] * len(pdf)
            kept = pd.array([None] * len(pdf), dtype="Int64")
            lead = pd.array([None] * len(pdf), dtype="Int64")
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                s, e = trim_bounds(x, sr_eff)
                seg = x[s:e]
                out_b[i] = (
                    audio.pcm16_encode(seg)
                    if codec == "pcm16"
                    else audio.ulaw_encode(seg)
                )
                kept[i], lead[i] = e - s, s
            yield pd.DataFrame(
                {
                    "trim_bytes": pd.Series(out_b, dtype=object),
                    "trim_samples": kept,
                    "lead_samples": lead,
                }
            )

    out = df.withColumn("_tr", _udf(F.struct("bytes", "codec", "sr_hz")))
    return out.select(
        "*", "_tr.trim_bytes", "_tr.trim_samples", "_tr.lead_samples"
    ).drop("_tr")


def with_resample(df: DataFrame, target_sr: int = 16000) -> DataFrame:
    """Normalize every clip to one sample rate (the standard
    everything-to-16k stage before downstream models): decode ->
    windowed-sinc rational resample (audio.resample: anti-aliased,
    DC-exact, integer tap phase so bit-identical at any partition
    layout) -> pcm16 re-encode -> (rs_bytes, rs_samples). Map-only, one
    Arrow crossing; output codec is always pcm16 at ``target_sr``.
    Clips already at the target rate pass through the same
    decode/encode quantization for a uniform output contract. NULL
    bytes / unknown codec / undecodable payloads yield NULLs."""
    if target_sr not in audio.VALID_SR:
        raise ValueError(f"target_sr {target_sr} not in {audio.VALID_SR}")

    @F.pandas_udf("rs_bytes binary, rs_samples long")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_b: list = [None] * len(pdf)
            n_out = pd.array([None] * len(pdf), dtype="Int64")
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                y = audio.resample(x, sr_eff, target_sr)
                out_b[i] = audio.pcm16_encode(y)
                n_out[i] = len(y)
            yield pd.DataFrame(
                {
                    "rs_bytes": pd.Series(out_b, dtype=object),
                    "rs_samples": n_out,
                }
            )

    out = df.withColumn("_rs", _udf(F.struct("bytes", "codec", "sr_hz")))
    return out.select("*", "_rs.rs_bytes", "_rs.rs_samples").drop("_rs")


def snr_estimate(
    x32: np.ndarray,
    sr_eff: int,
    frame_ms: float = SILENCE_FRAME_MS,
    floor: float = 1e-7,
) -> tuple[float, float, float]:
    """Blind per-clip SNR estimate from frame-RMS order statistics
    (the standard VAD-free two-level model: speech frames sit in the
    upper tail of the 20 ms RMS distribution, the noise floor in the
    lower): noise = the index-exact 10th-percentile frame RMS, speech =
    the 90th, both in dBFS, and snr_est_db = speech_db - noise_db.
    Index-exact order statistics (no interpolation) keep the outputs
    bit-reproducible for the construction-truth gate; ``floor`` guards
    log10(0) on digitally-silent frames (-140 dB). Returns
    (noise_floor_db, speech_db, snr_est_db)."""
    n = len(x32)
    fl = max(1, int(round(sr_eff * frame_ms / 1000.0)))
    if n == 0:
        db = 20.0 * float(np.log10(floor))
        return db, db, 0.0
    r = sorted(_frame_rms(x32, fl))
    k = len(r)
    lo = max(float(r[int(0.1 * (k - 1))]), floor)
    hi = max(float(r[int(0.9 * (k - 1))]), floor)
    noise_db = 20.0 * float(np.log10(lo))
    speech_db = 20.0 * float(np.log10(hi))
    return noise_db, speech_db, speech_db - noise_db


def with_normalize(
    df: DataFrame,
    target_sr: int = 16000,
    trim: bool = True,
    gain: bool = True,
) -> DataFrame:
    """The composed audio-normalization stage: decode ONCE ->
    [trim silence] -> resample to ``target_sr`` -> [loudness gain,
    clipped to full scale] -> pcm16 encode. One Arrow crossing for the
    whole chain — running the standalone ops back to back would decode
    (and re-encode) per step; this is the production shape. Emits
    ``norm_bytes`` (pcm16 @ target_sr), ``norm_samples``,
    ``lead_samples`` (trimmed lead at the INPUT rate; 0 when trim is
    off), ``gain_db`` (0.0 when gain is off) and ``clip_after`` (the
    pre-clip peak would have exceeded full scale — routed to np.clip
    here, a limiter in a real chain). NULL bytes / unknown codec /
    undecodable payloads yield NULLs; all-silent clips with trim on
    emit empty payloads. The construction-truth gate compares md5 of
    the bytes against the identical chain run at fixture build."""
    if target_sr not in audio.VALID_SR:
        raise ValueError(f"target_sr {target_sr} not in {audio.VALID_SR}")

    @F.pandas_udf(
        "norm_bytes binary, norm_samples long, lead_samples long, "
        "gain_db double, clip_after boolean"
    )
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_b: list = [None] * len(pdf)
            n_out = pd.array([None] * len(pdf), dtype="Int64")
            lead = pd.array([None] * len(pdf), dtype="Int64")
            gdb = np.full(len(pdf), np.nan)
            clip = pd.array([None] * len(pdf), dtype="boolean")
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                s, e = trim_bounds(x, sr_eff) if trim else (0, len(x))
                y = audio.resample(x[s:e], sr_eff, target_sr)
                g_db, clipped = 0.0, False
                if gain and len(y):
                    _, g_db, clipped = audio.loudness_gain(y)
                    y = np.clip(
                        y * (10.0 ** (g_db / 20.0)), -1.0, 1.0
                    ).astype(np.float32)
                out_b[i] = audio.pcm16_encode(y)
                n_out[i], lead[i] = len(y), s
                gdb[i], clip[i] = g_db, clipped
            yield pd.DataFrame(
                {
                    "norm_bytes": pd.Series(out_b, dtype=object),
                    "norm_samples": n_out,
                    "lead_samples": lead,
                    "gain_db": gdb,
                    "clip_after": clip,
                }
            )

    out = df.withColumn("_nz", _udf(F.struct("bytes", "codec", "sr_hz")))
    return out.select(
        "*",
        "_nz.norm_bytes",
        "_nz.norm_samples",
        "_nz.lead_samples",
        "_nz.gain_db",
        "_nz.clip_after",
    ).drop("_nz")


def segment_clips(
    df: DataFrame,
    win_ms: int = audio.SEG_WIN_MS,
    min_tail_frac: float = audio.SEG_MIN_TAIL_FRAC,
) -> DataFrame:
    """Fixed-window segmentation for training: decode -> integer-exact
    ``audio.segment_bounds`` on the win_ms grid (trailing partial kept
    iff >= ``min_tail_frac`` of a window) -> one OUTPUT ROW PER SEGMENT
    with the pcm16-re-encoded payload. The audio twin of sequence
    packing (x_sequence_pack): long clips become uniform training rows.

    Scale shape: map-only — one Arrow crossing per input row, the
    explode is a JVM-side generator fused with the scan task, no
    shuffle; output rows inherit the input partitioning. Input payload
    bytes are replaced by the segment payloads (the ``bytes`` column is
    dropped). NULL bytes / unknown codec / undecodable payloads yield
    zero output rows (row-level guard, never task-fatal)."""

    @F.pandas_udf("array<struct<n_samples: long, seg_bytes: binary>>")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in it:
            out: list = [None] * len(pdf)
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                win_n = max(1, int(round(sr_eff * win_ms / 1000.0)))
                out[i] = [
                    {
                        "n_samples": e - s,
                        "seg_bytes": audio.pcm16_encode(x[s:e]),
                    }
                    for s, e in audio.segment_bounds(len(x), win_n, min_tail_frac)
                ]
            yield pd.Series(out, dtype=object)

    # posexplode injects a size(_segs) > 0 AND isnotnull(_segs) filter on
    # the UDF's own output, and Catalyst clones the ArrowEvalPython node to
    # evaluate it — every clip would decode twice. Nondeterministic marks
    # the node un-duplicable (the with_audio_fp pattern); node count pinned
    # in tests/test_audio_features.py.
    _udf = _udf.asNondeterministic()
    keep = [c for c in df.columns if c != "bytes"]
    segs = df.withColumn("_segs", _udf(F.struct("bytes", "codec", "sr_hz")))
    return segs.select(
        *keep, F.posexplode("_segs").alias("seg_idx", "_seg")
    ).select(
        *keep,
        "seg_idx",
        F.col("_seg.n_samples").alias("n_samples"),
        F.col("_seg.seg_bytes").alias("seg_bytes"),
    )


SPEED_FACTORS = ((9, 10), (11, 10))  # the standard 0.9x / 1.1x ASR pair


def with_speed_perturb(
    df: DataFrame, factors: tuple = SPEED_FACTORS
) -> DataFrame:
    """Speed-perturbation augmentation (the standard ASR 0.9x/1.1x
    scheme): each clip is time-scaled by the RATIONAL factor num/den via
    the windowed-sinc kernel — resample(x, num, den) compresses the
    waveform to n*den//num samples, which played back at the original
    rate is num/den-times faster (pitch scales with it, sox-speed
    semantics). Rational factors keep the tap phase integer-exact, so
    the emitted bytes are bit-identical on any partition layout (the
    construction-truth gate compares md5). One output row per (clip,
    factor): map-only, one Arrow crossing, JVM-side generator, pcm16
    payloads at the clip's own sr_hz. Undecodable rows yield zero rows.
    The augmented rows feed straight back into QC/training tables —
    duration metadata must be rescaled by the caller (dur_ms * den /
    num) since the payload length defines it."""

    @F.pandas_udf(
        "array<struct<f_num: int, f_den: int, sp_samples: long, sp_bytes: binary>>"
    )
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in it:
            out: list = [None] * len(pdf)
            for i, (b, codec) in enumerate(zip(pdf["bytes"], pdf["codec"])):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                except (ValueError, TypeError):
                    continue
                rows = []
                for num, den in factors:
                    y = audio.resample(x, int(num), int(den))
                    rows.append(
                        {
                            "f_num": int(num),
                            "f_den": int(den),
                            "sp_samples": len(y),
                            "sp_bytes": audio.pcm16_encode(y),
                        }
                    )
                out[i] = rows
            yield pd.Series(out, dtype=object)

    # nondeterministic for the same reason as segment_clips: posexplode's
    # implicit size()>0 filter must not clone the Arrow node
    _udf = _udf.asNondeterministic()
    keep = [c for c in df.columns if c != "bytes"]
    segs = df.withColumn("_sp", _udf(F.struct("bytes", "codec")))
    return segs.select(*keep, F.explode("_sp").alias("_s")).select(
        *keep,
        F.col("_s.f_num").alias("f_num"),
        F.col("_s.f_den").alias("f_den"),
        F.col("_s.sp_samples").alias("sp_samples"),
        F.col("_s.sp_bytes").alias("sp_bytes"),
    )


def with_noise_augment(
    df: DataFrame,
    snr_db: float = audio.NOISE_SNR_DB,
    seed: int = 424242,
    key_col: str = "clip_id",
) -> DataFrame:
    """Additive-noise augmentation at a target SNR (the third standard
    ASR augmentation next to speed perturb and normalization): decode ->
    audio.noise_augment keyed by (seed, key_col) -> pcm16
    (nz_bytes, nz_samples). The noise is COUNTER-BASED deterministic —
    no RNG state crosses tasks, retries and partition layouts reproduce
    identical bytes (md5 construction-truth gated, truth computable
    anywhere the key is known). ``key_col`` must be integral; hash
    string ids first (e.g. ``F.xxhash64``) — the key must be a value
    BOTH the executor and any truth builder can derive, which is why
    the UDF never hashes internally. Map-only, one Arrow crossing;
    NULL bytes / unknown codec / undecodable payloads yield NULLs."""
    hcol = F.col(key_col).cast("long")

    @F.pandas_udf("nz_bytes binary, nz_samples long")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_b: list = [None] * len(pdf)
            n_out = pd.array([None] * len(pdf), dtype="Int64")
            for i, (b, codec, h) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["_nz_key"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                except (ValueError, TypeError):
                    continue
                y = audio.noise_augment(x, int(h), snr_db=snr_db, seed=seed)
                out_b[i] = audio.pcm16_encode(y)
                n_out[i] = len(y)
            yield pd.DataFrame(
                {"nz_bytes": pd.Series(out_b, dtype=object), "nz_samples": n_out}
            )

    out = df.withColumn("_nz_key", hcol).withColumn(
        "_nz", _udf(F.struct("bytes", "codec", "_nz_key"))
    )
    return out.select(
        "*", "_nz.nz_bytes", "_nz.nz_samples"
    ).drop("_nz", "_nz_key")


VAD_MIN_SPAN_FRAMES = 2  # drop voiced spans shorter than 2 frames (40 ms)


def voiced_spans(
    x32: np.ndarray,
    sr_eff: int,
    frame_ms: float = SILENCE_FRAME_MS,
    thresh: float = SILENCE_FRAME_RMS,
    min_frames: int = VAD_MIN_SPAN_FRAMES,
) -> list:
    """VAD-style variable-length segmentation: maximal runs of voiced
    20 ms frames (frame RMS >= thresh, the trim_bounds grid) become
    spans [start_sample, end_sample); runs shorter than ``min_frames``
    are dropped (sub-40 ms blips are clicks, not speech). The
    generalization of trim_bounds from outer-silence removal to INNER
    splitting — how speech corpora are actually chunked, vs the
    fixed-window grid of segment_bounds. Integer outputs on the frame
    grid; all-silent clips give []. Reuses _frame_rms bit-identically
    (the construction-truth gate compares sliced payload md5s)."""
    n = len(x32)
    if n == 0:
        return []
    fl = max(1, int(round(sr_eff * frame_ms / 1000.0)))
    rmss = _frame_rms(x32, fl)
    spans, run_start = [], None
    for i, r in enumerate(rmss):
        if r >= thresh:
            if run_start is None:
                run_start = i
            continue
        if run_start is not None:
            if i - run_start >= min_frames:
                spans.append((run_start * fl, min(n, i * fl)))
            run_start = None
    if run_start is not None and len(rmss) - run_start >= min_frames:
        spans.append((run_start * fl, min(n, len(rmss) * fl)))
    return spans


def with_vad_segments(df: DataFrame) -> DataFrame:
    """VAD segmentation per clip: decode -> voiced_spans -> one OUTPUT
    ROW PER VOICED SPAN with pcm16 payload, start sample and length —
    the variable-length alternative to segment_clips' fixed grid (real
    speech corpora chunk at silence boundaries). Map-only, one Arrow
    crossing, JVM-side generator; payload bytes replaced by span
    payloads; NULL/unknown-codec/undecodable rows yield zero rows.
    Nondeterministic-flagged like segment_clips (posexplode's implicit
    filter must not clone the Arrow node)."""

    @F.pandas_udf(
        "array<struct<start_sample: long, n_samples: long, span_bytes: binary>>"
    )
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in it:
            out: list = [None] * len(pdf)
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                out[i] = [
                    {
                        "start_sample": s,
                        "n_samples": e - s,
                        "span_bytes": audio.pcm16_encode(x[s:e]),
                    }
                    for s, e in voiced_spans(x, sr_eff)
                ]
            yield pd.Series(out, dtype=object)

    _udf = _udf.asNondeterministic()
    keep = [c for c in df.columns if c != "bytes"]
    segs = df.withColumn("_vs", _udf(F.struct("bytes", "codec", "sr_hz")))
    return segs.select(
        *keep, F.posexplode("_vs").alias("span_idx", "_s")
    ).select(
        *keep,
        "span_idx",
        F.col("_s.start_sample").alias("start_sample"),
        F.col("_s.n_samples").alias("n_samples"),
        F.col("_s.span_bytes").alias("span_bytes"),
    )


def with_band_features(df: DataFrame) -> DataFrame:
    """Audio feature-vector extraction: decode -> 16 log band energies
    (audio.band_features, float32) emitted BOTH as ``feat``
    (array<float>, ready for the ANN family — brute force / IVF / PQ
    over audio-derived embeddings) and as ``feat_bytes`` (the raw
    float32 buffer, so the construction-truth gate can md5 it JVM-side
    without the array ever crossing back to Python). Map-only, one
    Arrow crossing; NULL bytes / unknown codec / undecodable payloads
    yield NULLs."""

    @F.pandas_udf("feat array<float>, feat_bytes binary")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats: list = [None] * len(pdf)
            raw: list = [None] * len(pdf)
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                v = audio.band_features(x, sr_eff)
                feats[i] = [float(t) for t in v]
                raw[i] = v.tobytes()
            yield pd.DataFrame(
                {
                    "feat": pd.Series(feats, dtype=object),
                    "feat_bytes": pd.Series(raw, dtype=object),
                }
            )

    out = df.withColumn("_bf", _udf(F.struct("bytes", "codec", "sr_hz")))
    return out.select("*", "_bf.feat", "_bf.feat_bytes").drop("_bf")


def with_voiced_stats(df: DataFrame) -> DataFrame:
    """Voiced-duration statistics per clip: decode -> voiced_spans ->
    ``voiced_samples`` (total samples inside voiced spans) and
    ``n_spans``. The scalar reduction of with_vad_segments — what
    cross-modal consistency rules (speech rate vs transcript length)
    key on without ever shipping span payloads. Map-only, one Arrow
    crossing; NULL bytes / unknown codec / undecodable payloads yield
    NULLs (rules never fire on NULL)."""

    @F.pandas_udf("voiced_samples long, n_spans int")
    def _udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vs: list = [None] * len(pdf)
            ns: list = [None] * len(pdf)
            for i, (b, codec, sr) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if b is None or codec not in audio.KNOWN_CODECS:
                    continue
                try:
                    x = audio.decode(bytes(b), codec)
                    sr_eff = (
                        int(sr)
                        if sr is not None and int(sr) in audio.VALID_SR
                        else 8000
                    )
                except (ValueError, TypeError):
                    continue
                spans = voiced_spans(x, sr_eff)
                # python-int accumulation (never float64 staging)
                vs[i] = int(sum(e - s for s, e in spans))
                ns[i] = len(spans)
            yield pd.DataFrame(
                {
                    "voiced_samples": pd.Series(vs, dtype="Int64"),
                    "n_spans": pd.Series(ns, dtype="Int32"),
                }
            )

    out = df.withColumn("_vstat", _udf(F.struct("bytes", "codec", "sr_hz")))
    return out.select("*", "_vstat.voiced_samples", "_vstat.n_spans").drop("_vstat")
