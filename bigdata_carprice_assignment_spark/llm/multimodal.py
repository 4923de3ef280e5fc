"""Multimodal-column plumbing (driver north star).

Policy: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct; decode / feature-extract / frame-sample
run as Arrow-batched ``mapInPandas`` operators so payload bytes never
round-trip through Python row-at-a-time.

Decode modes:

- ``decode='stdlib'`` (the default for the driver queries) REALLY
  decodes payloads with pure-stdlib parsers for uncompressed formats —
  BMP (24-bpp DIB) and PPM/PGM (binary P6/P5) pixel stats, WAV
  (RIFF/PCM-16) amplitude/zero-crossing stats, and character-class
  ratios for UTF-8 text — so the emitted features are CONTENT-derived.
- ``decode='fake'`` keeps the original deterministic sha256
  pseudo-embedding (plumbing tests, content-free baselines).
- ``decode='real'`` raises NotImplementedError at the exact point a
  Pillow/ffmpeg call would go (compressed formats need codec libraries
  this container does not ship).
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, n_bytes long, sha256 string, "
    "feat array<double>, decode_ok boolean"
)


def documents_as_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapter: treat a text corpus as binary media (UTF-8 payload) so the
    multimodal path has real bytes to run on in this container.

    No repartition: the Python stage runs one task per input split, and
    ``spark.sql.files.maxPartitionBytes`` sizes the splits by bytes. A
    Python task has a fixed cost that does not depend on its rows, so
    spreading a small corpus over more tasks only adds that cost.
    """
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# ---- pure-stdlib decoders (uncompressed formats only) ---------------------
# Feature layout (8 doubles, fixed positions; last slot = kind code):
#   text  : [digit, whitespace, punct, upper, vowel, newline] ratios,
#           n_chars, 0.0
#   image : [width, height, channels, mean_r, mean_g, mean_b, n_pixels, 1.0]
#   audio : [channels, sample_rate, bits, mean/FS, rms/FS, zero-cross rate,
#            n_samples, 2.0]


def _decode_bmp(b: bytes) -> list[float]:
    """24-bpp uncompressed BMP (BITMAPINFOHEADER): header fields + exact
    per-channel pixel means. Rows are 4-byte aligned, bottom-up (or
    top-down when height < 0); pixel order is BGR."""
    off = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if comp != 0 or bpp != 24 or w <= 0 or h == 0:
        raise ValueError("only 24-bpp uncompressed BMP is stdlib-decodable")
    hh = abs(h)
    rowsz = (w * 3 + 3) // 4 * 4
    if off + rowsz * hh > len(b):
        raise ValueError("truncated BMP pixel array")
    sb = sg = sr = 0
    for r in range(hh):
        row = b[off + r * rowsz : off + r * rowsz + w * 3]
        sb += sum(row[0::3])
        sg += sum(row[1::3])
        sr += sum(row[2::3])
    n = w * hh
    return [
        float(w), float(hh), 3.0,
        sr / n / 255.0, sg / n / 255.0, sb / n / 255.0,
        float(n), 1.0,
    ]


def _decode_pnm(b: bytes) -> list[float]:
    """Binary PPM (P6, RGB) / PGM (P5, gray), maxval <= 255: tokenized
    header (whitespace + '#' comments), then raw samples."""
    tokens: list[int] = []
    pos = 2
    while len(tokens) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255 or w <= 0 or h <= 0:
        raise ValueError("only 8-bit PNM is stdlib-decodable")
    ch = 3 if b[:2] == b"P6" else 1
    data = b[pos : pos + w * h * ch]
    if len(data) < w * h * ch:
        raise ValueError("truncated PNM raster")
    n = w * h
    if ch == 3:
        means = [sum(data[c::3]) / n / maxval for c in range(3)]
    else:
        m = sum(data) / n / maxval
        means = [m, m, m]
    return [float(w), float(h), float(ch), *means, float(n), 1.0]


def _decode_wav(b: bytes) -> list[float]:
    """RIFF/WAVE, PCM-16 only: fmt fields + exact amplitude stats
    (mean and RMS over full scale 32768, sign-change rate)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        sz = struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, ch, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or bits != 16:
        raise ValueError("only PCM-16 WAV is stdlib-decodable")
    import array

    samples = array.array("h")
    samples.frombytes(data[: len(data) // 2 * 2])
    n = len(samples)
    if n == 0:
        raise ValueError("empty PCM data")
    mean = sum(samples) / n
    rms = math.sqrt(sum(s * s for s in samples) / n)
    zc = sum(
        1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0)
    ) / max(n - 1, 1)
    return [
        float(ch), float(rate), float(bits),
        mean / 32768.0, rms / 32768.0, zc,
        float(n), 2.0,
    ]


# RE2's \s (what the DuckDB oracle's regexp_replace sees) is the ASCII
# set [\t\n\f\r ] — the Python mirror must use exactly this set, not
# str.isspace (which adds \v and unicode spaces).
_WS = frozenset(b"\t\n\f\r ")
_WORD = frozenset(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)
_DIGIT = frozenset(b"0123456789")
_UPPER = frozenset(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ")
_VOWEL = frozenset(b"aeiouAEIOU")


def _decode_text(b: bytes) -> list[float]:
    """Character-class ratios for UTF-8 text, mirroring the DuckDB
    oracle's regexp-count formulations operand-for-operand. The fast
    path counts BYTES (== characters for ASCII); any byte >= 0x80 falls
    back to per-character counting on the decoded string so char-count
    parity with SQL ``length()`` holds for multibyte text too."""
    if not b:
        return [0.0] * 6 + [0.0, 0.0]
    import numpy as np

    hist = np.bincount(np.frombuffer(b, dtype=np.uint8), minlength=256)
    if int(hist[128:].sum()) == 0:
        # ASCII fast path: one byte histogram, class counts by mask dot
        n = len(b)
        digit = int(hist[list(_DIGIT)].sum())
        ws = int(hist[list(_WS)].sum())
        punct = n - int(hist[list(_WORD | _WS)].sum())
        upper = int(hist[list(_UPPER)].sum())
        vowel = int(hist[list(_VOWEL)].sum())
        nl = int(hist[0x0A])
    else:
        s = b.decode("utf-8")  # raises on invalid -> decode_ok False
        n = len(s)
        wss = {"\t", "\n", "\f", "\r", " "}
        word = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")
        digit = sum(1 for c in s if "0" <= c <= "9")
        ws = sum(1 for c in s if c in wss)
        punct = sum(1 for c in s if c not in word and c not in wss)
        upper = sum(1 for c in s if "A" <= c <= "Z")
        vowel = sum(1 for c in s if c in "aeiouAEIOU")
        nl = s.count("\n")
    return [
        digit / n, ws / n, punct / n, upper / n, vowel / n, nl / n,
        float(n), 0.0,
    ]


def stdlib_decode_features(payload: bytes | None) -> tuple[list[float], bool]:
    """Sniff the payload magic and decode with the matching pure-stdlib
    parser. Returns (8-dim content-derived features, decode_ok); unknown
    or corrupt payloads return (zeros, False) instead of raising — at
    100 TB a poison payload must quarantine, not kill the stage."""
    if payload is None:
        return [0.0] * 8, False
    try:
        if payload[:2] == b"BM":
            return _decode_bmp(payload), True
        if payload[:2] in (b"P6", b"P5"):
            return _decode_pnm(payload), True
        if payload[:4] == b"RIFF":
            return _decode_wav(payload), True
        return _decode_text(payload), True
    except (ValueError, IndexError, struct.error, UnicodeDecodeError):
        return [0.0] * 8, False


def extract_features(df: DataFrame, decode: str = "stdlib", dim: int = 8) -> DataFrame:
    """Decode + feature-extract as mapInPandas: Arrow batches in, Arrow
    batches out; executor-parallel, no driver involvement.

    Kernel shape: ``n_bytes`` is computed NATIVELY (``F.length`` before
    the Python stage — byte counting needs no decode); the Python stage
    hashes each payload ONCE for identity and, in ``stdlib`` mode,
    decodes it with the matching pure-stdlib parser so ``feat`` carries
    CONTENT-derived statistics (pixel means, PCM amplitude stats,
    character-class ratios) rather than hash noise."""
    if decode == "real":  # pragma: no cover - no codecs in this container
        raise NotImplementedError(
            "real decode of compressed formats requires Pillow/ffmpeg "
            "(not in this image); use decode='stdlib' for uncompressed "
            "BMP/PNM/WAV/text or decode='fake' for the hash stub"
        )
    if decode not in ("fake", "stdlib"):
        raise ValueError(f"unknown decode mode: {decode}")

    with_len = df.withColumn("_n_bytes", F.coalesce(F.length("payload"), F.lit(0)))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [
                hashlib.sha256(b if b is not None else b"").digest()
                for b in pdf["payload"]
            ]
            if decode == "stdlib":
                decoded = [stdlib_decode_features(b) for b in pdf["payload"]]
                feats = [f for f, _ in decoded]
                ok = [o for _, o in decoded]
            else:
                feats = [
                    [
                        int.from_bytes(d[4 * i : 4 * i + 4], "big") / 2**32
                        for i in range(dim)
                    ]
                    for d in digests
                ]
                ok = pdf["payload"].notna()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["_n_bytes"],
                    "sha256": [d.hex() for d in digests],
                    "feat": feats,
                    "decode_ok": ok,
                }
            )

    return with_len.mapInPandas(op, schema=FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame, every_ms: int = 1000, decode: str = "fake"
) -> DataFrame:
    """Video frame-sampling kernel slot: one output row per sampled frame
    (explode shape). Fake mode derives frame count from metadata duration
    (or payload size) deterministically."""
    if decode == "real":  # pragma: no cover
        raise NotImplementedError("real frame sampling requires ffmpeg")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = [b if b is not None else b"" for b in pdf["payload"]]
            n_frames = np.minimum(
                np.maximum(
                    np.fromiter((len(b) for b in payloads), dtype=np.int64) // 64, 1
                ),
                16,
            )
            # vectorized explode: repeat ids, concatenated per-media aranges
            media_id = np.repeat(pdf["media_id"].to_numpy(), n_frames)
            frame_idx = np.concatenate([np.arange(n, dtype=np.int32) for n in n_frames])
            shas = [
                hashlib.sha256(b + int(i).to_bytes(4, "big")).hexdigest()
                for b, n in zip(payloads, n_frames)
                for i in range(n)
            ]
            yield pd.DataFrame(
                {
                    "media_id": media_id,
                    "frame_idx": frame_idx,
                    "ts_ms": frame_idx.astype(np.int64) * every_ms,
                    "frame_sha": shas,
                }
            )

    return df.mapInPandas(
        op, schema="media_id long, frame_idx int, ts_ms long, frame_sha string"
    )
