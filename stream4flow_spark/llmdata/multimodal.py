"""Multimodal columns: opaque binary payloads + typed metadata, processed
with Arrow-batched ``mapInPandas``.

Since round 5 the decode path is REAL for uncompressed containers: PPM/
PGM/BMP images and PCM16 WAV audio are encoded and decoded byte-for-byte
by the pure-numpy codecs in ``codecs.py`` — header parsing, row padding,
bottom-up BGR order, RIFF chunk walking, the lot. Gate fixtures are
synthesized deterministically from ``doc_id`` (generation rule below,
mirrored by the DuckDB oracles), so the driver verifies pixel/sample
statistics computed from ACTUALLY DECODED bytes, not metadata fakes.

Heavy codecs (JPEG/PNG/H.264) remain behind ``set_decoder`` — the hook
raises NotImplementedError by default, surfacing missing codec libs
explicitly (this container has none).

Plan shape: every stage is a pure map (``mapInPandas``) — no shuffle; at
100 TB the decode parallelizes per input split and Catalyst prunes the
binary column away unless it is actually referenced.

Generation rule (doc_id -> fixture), shared verbatim with the oracles:
- image: w = doc_id % 16 + 4, h = doc_id % 12 + 4,
  pixel(r, c, ch) = (doc_id + 7r + 3c + 11ch) % 256,
  container = PPM when doc_id is even else BMP;
- audio: n = doc_id % 90 + 30 samples at 30 Hz,
  s(i) = ((doc_id * 13 + i * 17) % 65536) - 32768.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream4flow_spark.llmdata.codecs import (
    CodecError,
    box_resize,
    decode_image,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
    sniff,
)

_hook: Callable[[bytes], np.ndarray] | None = None


def set_decoder(fn: Callable[[bytes], np.ndarray] | None) -> None:
    """Install a decoder for formats the pure-numpy codecs can't read
    (JPEG/PNG/...): ``bytes -> (h, w, ch) uint8``. The built-in codecs
    are always tried first; the hook only sees unrecognized payloads."""
    global _hook
    _hook = fn


def _decode_any(
    payload: bytes, hook: Callable[[bytes], np.ndarray] | None = None
) -> np.ndarray:
    """Built-in codecs first; ``hook`` for anything they can't parse.

    Operators must capture the hook BY VALUE (``hook = _hook``) before
    defining their Arrow kernels: the kernels execute in executor Python
    workers, which re-import this module fresh — a worker would always
    see the module-global ``_hook`` as None. Closing over the captured
    value ships the decoder with the serialized closure instead
    (cloudpickle pickles locally-defined hook functions by value)."""
    try:
        return decode_image(payload)
    except NotImplementedError:
        if hook is not None:
            return hook(payload)
        raise


# --- deterministic fixtures ------------------------------------------------


def _image_array(doc_id: int) -> np.ndarray:
    w, h = doc_id % 16 + 4, doc_id % 12 + 4
    r = np.arange(h)[:, None, None]
    c = np.arange(w)[None, :, None]
    ch = np.arange(3)[None, None, :]
    return ((doc_id + 7 * r + 3 * c + 11 * ch) % 256).astype(np.uint8)


def _audio_array(doc_id: int) -> np.ndarray:
    n = doc_id % 90 + 30
    i = np.arange(n)
    return (((doc_id * 13 + i * 17) % 65536) - 32768).astype(np.int16)


def synthesize_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """doc ids -> REAL encoded image payloads (PPM for even ids, BMP for
    odd — both containers exercised every run). Map-only."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_ppm(_image_array(d))
                if d % 2 == 0
                else encode_bmp(_image_array(d))
                for d in pdf[id_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        gen, schema=f"{id_col} long, payload binary"
    )


def synthesize_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """doc ids -> REAL RIFF/WAVE PCM16 payloads at 30 Hz. Map-only."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_wav(_audio_array(d), rate=30) for d in pdf[id_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        gen, schema=f"{id_col} long, payload binary"
    )


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Opaque binary column from text (UTF-8 bytes) — models payload
    ingestion of a format nothing here can decode (the ok=False path)."""
    return df.select(
        F.col(id_col), F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


# --- operators -------------------------------------------------------------


def _id_ddl(df: DataFrame, id_col: str) -> str:
    """DDL fragment for the id column with its ACTUAL type — string or
    int32 document ids must round-trip through the Arrow batch rather
    than null-cast to a hardcoded long."""
    return f"{id_col} {df.schema[id_col].dataType.simpleString()}"


def _decode_schema(media: DataFrame, id_col: str) -> str:
    return (
        f"{_id_ddl(media, id_col)}, fmt string, n_bytes long, width int, "
        "height int, channels int, px_mean double, ok boolean"
    )


def decode_images(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode: parse each payload's container, emit typed metadata
    plus the mean over every decoded sample (the proof the pixels were
    actually materialized). Unrecognized/corrupt payloads -> ok=False."""

    hook = _hook  # by value: executor workers never see driver globals

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                try:
                    arr = _decode_any(b, hook)
                    rows.append(
                        (
                            doc_id,
                            sniff(b),
                            len(b),
                            arr.shape[1],
                            arr.shape[0],
                            arr.shape[2],
                            round(float(arr.mean()), 4),
                            True,
                        )
                    )
                except (CodecError, NotImplementedError):
                    rows.append(
                        (doc_id, sniff(b), len(b), None, None, None, None, False)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "fmt", "n_bytes", "width", "height",
                    "channels", "px_mean", "ok",
                ],
            )

    return media.mapInPandas(decode, schema=_decode_schema(media, id_col))


def _resize_schema(media: DataFrame, id_col: str) -> str:
    return (
        f"{_id_ddl(media, id_col)}, src_width int, src_height int, "
        "width int, height int, scale double, px_mean double"
    )


def resize_images(
    media: DataFrame,
    max_width: int = 8,
    max_height: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Real decode + real area-average resample into the aspect-preserving
    fit of (max_width, max_height). Emits source dims, target dims, scale,
    and the source pixel mean (decoded-bytes proof); the resampled pixel
    values themselves are unit-tested against an independent per-box
    reference. Pure map stage, no shuffle."""

    hook = _hook  # by value: executor workers never see driver globals

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                arr = _decode_any(bytes(payload), hook)
                h, w = arr.shape[:2]
                scale = min(max_width / w, max_height / h, 1.0)
                out_w, out_h = int(w * scale), int(h * scale)
                box_resize(arr, out_w, out_h)  # the actual resample
                rows.append(
                    (
                        doc_id, w, h, out_w, out_h, scale,
                        round(float(arr.mean()), 4),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "src_width", "src_height", "width", "height",
                    "scale", "px_mean",
                ],
            )

    return media.mapInPandas(resize, schema=_resize_schema(media, id_col))


def _frames_schema(media: DataFrame, id_col: str) -> str:
    return (
        f"{_id_ddl(media, id_col)}, frame_idx int, frame_ms long, "
        "frame_mean double"
    )


def sample_frames(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real WAV decode + 1-per-second frame sampling: the RIFF chunks are
    parsed for (rate, samples); each emitted frame carries the mean
    amplitude of its one-second window — a 1->N fan-out inside the map
    stage computed from actually-decoded samples."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                rate, samples = decode_wav(bytes(payload))
                mono = samples[:, 0].astype(np.float64)
                for i in range(0, len(mono), rate):
                    rows.append(
                        (
                            doc_id,
                            i,
                            i * 1000 // rate,
                            round(float(mono[i : i + rate].mean()), 4),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_idx", "frame_ms", "frame_mean"]
            )

    return media.mapInPandas(frames, schema=_frames_schema(media, id_col))


def extract_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode -> 8-dim feature vector of pixel statistics:
    [mean_ch0, mean_ch1, mean_ch2, min, max, mean, width, height].
    Stands in for model inference with the same plan shape (map-only,
    Arrow batches, array<double> column); every component is computed
    from the decoded pixel array."""

    hook = _hook  # by value: executor workers never see driver globals

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                arr = _decode_any(bytes(payload), hook).astype(np.float64)
                ch_means = [
                    round(float(arr[:, :, c].mean()), 4)
                    for c in range(arr.shape[2])
                ]
                while len(ch_means) < 3:  # grayscale -> replicate
                    ch_means.append(ch_means[0])
                ids.append(doc_id)
                vecs.append(
                    ch_means
                    + [
                        float(arr.min()),
                        float(arr.max()),
                        round(float(arr.mean()), 4),
                        float(arr.shape[1]),
                        float(arr.shape[0]),
                    ]
                )
            yield pd.DataFrame({id_col: ids, "features": vecs})

    return media.mapInPandas(
        feats, schema=f"{_id_ddl(media, id_col)}, features array<double>"
    )


def audio_spectrogram(
    media: DataFrame,
    id_col: str = "doc_id",
    frame: int = 16,
    hop: int = 8,
) -> DataFrame:
    """Magnitude spectrogram features from RIFF/WAVE payloads — the
    standard audio-preprocessing step (STFT), as a map-only Arrow
    kernel: decode PCM16 → frame with ``hop`` overlap → per-frame
    ``rfft`` magnitudes (numpy, vectorized across all frames at once)
    → per-clip features. No shuffle; at 100 TB this runs at scan speed
    like the other decode paths.

    Output per clip: sample_rate, n_samples, n_frames, n_bins,
    dominant_bin (argmax of the mean magnitude spectrum, DC excluded —
    ties break low), spectral_energy (mean squared magnitude, float32
    math rounded at 1e-4 for cross-run stability).
    """
    import numpy as np
    import pandas as pd

    from stream4flow_spark.llmdata.codecs import decode_wav

    out_schema = (
        f"{_id_ddl(media, id_col)}, sample_rate int, n_samples int, "
        "n_frames int, n_bins int, dominant_bin int, spectral_energy double"
    )

    def spec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                rate, samples = decode_wav(bytes(payload))
                x = samples.astype(np.float32) / 32768.0
                n = len(x)
                if n < frame:
                    x = np.pad(x, (0, frame - n))
                starts = np.arange(0, max(len(x) - frame, 0) + 1, hop)
                frames = np.stack([x[s : s + frame] for s in starts])
                mags = np.abs(np.fft.rfft(frames, axis=1))
                mean_spec = mags.mean(axis=0)
                dom = int(np.argmax(mean_spec[1:])) + 1  # skip DC
                energy = float(np.round((mags**2).mean(), 4))
                rows.append(
                    (doc_id, int(rate), int(n), len(starts),
                     mags.shape[1], dom, energy)
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sample_rate", "n_samples", "n_frames",
                         "n_bins", "dominant_bin", "spectral_energy"],
            )

    return media.select(id_col, "payload").mapInPandas(spec, out_schema)


def dct_basis(n: int = 32) -> np.ndarray:
    """Orthonormal DCT-II basis, entries rounded to 12dp — and the SQL
    oracle embeds the SAME rounded values as literals, so numpy's SIMD
    cos vs an SQL engine's libm cos can never diverge (the one
    transcendental in the pHash pipeline)."""
    k = np.arange(n)
    d = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)
    )
    d[0, :] = np.sqrt(1.0 / n)
    return np.round(d, 12)


def image_phash(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perceptual 64-bit image hash (pHash): decode → grayscale →
    32×32 nearest resize → 8×8 low-frequency 2-D DCT-II block minus
    DC → bit = coefficient > median. Visually-near images differ in few
    bits; re-encodes/noise move ~0–6 bits — the IMAGE analog of the
    text tier's SimHash, feeding the same chunk-banded near-dup join
    (`phash_neardup_pairs`). Map-only Arrow kernel, basis matrices
    built once per batch.

    The hash is cross-engine replayable
    (``gate_oracles._phash_neardup_oracle``): the basis rounds to 12dp
    (shared with the oracle as literals), only its 8 low-frequency rows
    are applied, and the two matmul stages round to 9dp/6dp before the
    median threshold, so float summation order can never flip a bit —
    unrounded, smooth images' ~0 AC coefficients made every bit a
    float-dust coin flip. The median of the 63 coefficients is an exact
    order statistic (sorted[31]) on both engines."""
    import numpy as np
    import pandas as pd

    out_schema = f"{_id_ddl(media, id_col)}, phash long"
    hook = _hook  # by value: executor workers never see driver globals

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 32
        d = dct_basis(n)[:8]
        weights = np.left_shift(1, np.arange(63, dtype=np.int64))  # bit i
        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                arr = _decode_any(bytes(payload), hook).astype(np.float64)
                gray = arr.mean(axis=2) if arr.ndim == 3 else arr
                h, w = gray.shape
                ri = (np.arange(n) * h // n)
                ci = (np.arange(n) * w // n)
                small = gray[np.ix_(ri, ci)]
                t = np.round(d @ small, 9)
                block = np.round(t @ d.T, 6).flatten()[1:]  # drop DC
                hashes.append(int((block > np.median(block)) @ weights))
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "phash": hashes})

    return media.select(id_col, "payload").mapInPandas(hash_batch, out_schema)


def phash_neardup_pairs(
    media: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Visual near-dup pairs by pHash hamming distance ≤ ``max_hamming``.

    Banding: 8 × 8-bit chunks — any pair within hamming ≤ 7 agrees
    exactly on ≥ 1 chunk (pigeonhole), so the join keys on
    (chunk_index, chunk_value) and never goes all-pairs; hot chunks cap
    at ``max_bucket`` lowest ids like every banded join here. Exact
    hamming verifies via bit_count(xor). A ``max_hamming`` above 7
    raises ``ValueError``: the banding could miss such pairs."""
    from stream4flow_spark.llmdata.dedup import _cap_buckets

    if max_hamming > 7:
        raise ValueError(
            f"max_hamming={max_hamming}: 8 x 8-bit chunk banding finds "
            "every pair only up to hamming 7"
        )
    hashed = image_phash(media, id_col).withColumnRenamed(id_col, "id")
    chunked = hashed.select("id", "phash", F.posexplode(F.array(*[
        F.shiftright(F.col("phash"), c * 8).bitwiseAND(0xFF) for c in range(8)
    ])).alias("chunk", "val"))
    chunked = _cap_buckets(chunked, ["chunk", "val"], max_bucket)
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
