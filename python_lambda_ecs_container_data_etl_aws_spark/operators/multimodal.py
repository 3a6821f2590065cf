"""Multimodal column plumbing: image/audio/video as opaque BINARY
payloads with typed metadata, processed via Arrow-batched mapInPandas.

Decode strategy, three tiers:
  1. Pillow when importable (:func:`decode_image`) — production path,
     C-speed, every format.
  2. A stdlib PNG decoder (`zlib` inflate + per-row unfilter,
     :func:`_png_decode`) — REAL decode, testable in codec-less
     environments like this container; drives
     :func:`decode_png_features`. Python-loop speed: fine for
     thumbnails/metadata probes, not for production-size rasters.
  3. A deterministic fake (:func:`_fake_decode`, md5-derived metadata)
     for :func:`extract_features`'s DuckDB-oracle-checkable contract
     (q28) over arbitrary non-image payloads.
Non-PNG decode without Pillow raises NotImplementedError — the
documented seam for other codecs.

Scale posture: payloads stay in executors (mapInPandas streams Arrow
batches; nothing collects to the driver); feature extraction is
embarrassingly parallel over partitions; output carries only features
+ metadata, not the payload, so downstream shuffles stay small.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .dedup import _band_pairs, _band_rows, _bit_bands, _pigeonhole_spans, hamming64

try:  # pragma: no cover - codec libs absent in this container
    from PIL import Image  # type: ignore

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

MULTIMODAL_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("modality", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("modality", StringType()),
        StructField("size_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("checksum64", LongType()),
    ]
)


def documents_as_multimodal(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into a multimodal-shaped table (text
    payloads standing in for encoded media)."""
    return docs.select(
        F.col("doc_id").alias("item_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(
            F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")
        ).alias("meta"),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# colortype -> channel count (8-bit, non-interlaced, non-paletted only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Minimal stdlib PNG decoder: (width, height, channels, pixels).

    Supports 8-bit gray/RGB/gray+alpha/RGBA, non-interlaced — the
    shapes a training pipeline's thumbnails/crops actually are. Pure
    zlib + per-row unfilter, so the decode path is REAL and testable
    in codec-less environments; Pillow (when importable) takes over in
    :func:`decode_image` because its C loops are what you want for
    production-size images.
    """
    import struct
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height, ch, idat = len(_PNG_SIG), 0, 0, 0, []
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"stdlib PNG fallback handles 8-bit non-interlaced "
                    f"gray/RGB/alpha only (depth={depth}, color={color})"
                )
            ch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    raw = zlib.decompress(b"".join(idat))
    return width, height, ch, _np_unfilter(raw, width, height, ch)


def _np_unfilter(raw: bytes, width: int, height: int, ch: int) -> bytes:
    """Invert PNG row filters with numpy: Up is one whole-row modular
    add, Sub a per-lane cumulative sum; Average/Paeth carry a true
    left-to-right dependence, so they walk pixel POSITIONS with the
    channel lanes vectorized (ch ops per step instead of 1). The
    all-filter-0 stream (this module's own encoder) is a zero-copy
    reshape. A per-byte interpreted loop here was the wall-clock
    dominator of any real image corpus (round-4 advisor finding)."""
    import numpy as np

    stride = width * ch
    arr = np.frombuffer(raw, dtype=np.uint8)[: height * (1 + stride)]
    arr = arr.reshape(height, 1 + stride)
    fts, rows = arr[:, 0], arr[:, 1:]
    bad = set(np.unique(fts)) - {0, 1, 2, 3, 4}
    if bad:
        raise ValueError(f"bad PNG filter byte {min(bad)}")
    if not fts.any():
        return rows.tobytes()
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ft, row = int(fts[y]), rows[y]
        if ft == 0:
            cur = row.copy()
        elif ft == 1:  # Sub: per-lane prefix sum mod 256
            lanes = row.reshape(-1, ch).astype(np.int64)
            cur = (lanes.cumsum(axis=0) & 0xFF).astype(np.uint8).reshape(-1)
        elif ft == 2:  # Up: uint8 addition wraps mod 256
            cur = row + prev
        elif ft == 3:  # Average
            cur = np.empty(stride, dtype=np.uint8)
            ri = row.astype(np.int32)
            pi = prev.astype(np.int32)
            left = np.zeros(ch, dtype=np.int32)
            for x in range(0, stride, ch):
                sl = slice(x, x + ch)
                left = (ri[sl] + ((left + pi[sl]) >> 1)) & 0xFF
                cur[sl] = left
        else:  # Paeth
            cur = np.empty(stride, dtype=np.uint8)
            ri = row.astype(np.int32)
            pi = prev.astype(np.int32)
            left = np.zeros(ch, dtype=np.int32)
            ul = np.zeros(ch, dtype=np.int32)
            for x in range(0, stride, ch):
                sl = slice(x, x + ch)
                up = pi[sl]
                pr = left + up - ul
                pa = np.abs(pr - left)
                pb = np.abs(pr - up)
                pc = np.abs(pr - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                )
                left = (ri[sl] + pred) & 0xFF
                cur[sl] = left
                ul = up
        out[y] = cur
        prev = cur
    return out.tobytes()


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Deterministic stdlib PNG encoder (filter 0, one IDAT) — the test
    fixture generator for the decode path; also usable as a sink codec."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


class DecodedImage:
    """What :func:`decode_image` returns without Pillow: the same
    (width, height, mode, tobytes()) surface q28-style consumers use."""

    __slots__ = ("width", "height", "channels", "_pixels")

    def __init__(self, width: int, height: int, channels: int, pixels: bytes):
        self.width, self.height, self.channels = width, height, channels
        self._pixels = pixels

    @property
    def mode(self) -> str:
        return {1: "L", 2: "LA", 3: "RGB", 4: "RGBA"}[self.channels]

    def tobytes(self) -> bytes:
        return self._pixels


def decode_image(payload: bytes):
    """Real image decode. Pillow when importable (production: C-speed,
    every format); otherwise the stdlib PNG fallback above (testable
    everywhere, PNG-only). Raises NotImplementedError for formats the
    fallback can't handle — the documented seam for other codecs."""
    if _HAS_PIL:
        import io

        return Image.open(io.BytesIO(payload))  # pragma: no cover
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return DecodedImage(*_png_decode(payload))
    raise NotImplementedError(
        "non-PNG decode requires PIL; this environment has the stdlib "
        "PNG fallback only"
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a codec: derives (width, height,
    checksum) purely from the bytes. Replace with decode_image(...)
    when codecs exist.

    The checksum is md5-derived (first 15 hex chars as a 60-bit int) —
    deliberately md5, not FNV: md5 exists in every SQL engine, so the
    whole mapInPandas feature pipeline carries a DuckDB oracle twin
    (q28) instead of a weaker rows-only check."""
    import hashlib

    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return int(64 + h % 960), int(64 + (h >> 10) % 960), int(h)


def extract_features(mm: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: payload → (size, width, height,
    checksum). Arrow batches in, Arrow batches out; no driver collect.

    The worker function is a fully self-contained closure — it must NOT
    reference module-level names: executors unpickle it by value, and
    this package is not necessarily importable on worker Python paths
    (it isn't when the driving process runs from another cwd).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def fake_decode(payload: bytes) -> tuple[int, int, int]:
            # md5-derived 60-bit checksum (same as _fake_decode)
            h = int(hashlib.md5(payload).hexdigest()[:15], 16)
            return int(64 + h % 960), int(64 + (h >> 10) % 960), int(h)

        for pdf in batches:
            decoded = [fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "modality": pdf["modality"],
                    "size_bytes": [len(p) for p in pdf["payload"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "checksum64": [d[2] for d in decoded],
                }
            )

    return mm.mapInPandas(fn, FEATURE_SCHEMA)


DECODED_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("pixel_crc32", LongType()),
    ]
)


def _make_png_decoder():
    """Build the payload→(width, height, channels, pixels) decoder as a
    NESTED function: cloudpickle serializes nested functions by value,
    so a mapInPandas closure can capture the returned decoder without
    referencing any module-level name (the repo-cwd pickling gotcha).

    The Pillow-vs-stdlib decision is made LAZILY, on first call —
    i.e. on the EXECUTOR, not the driver. Deciding at build time would
    bake the driver's environment into the pickled closure: a driver
    with Pillow but Pillow-less workers would ship a closure holding a
    PIL module reference that fails to deserialize, and the inverse
    skew would silently downgrade capable workers to the PNG-only
    fallback."""

    def _pil_decode(payload: bytes) -> tuple[int, int, int, bytes]:  # pragma: no cover
        import io

        from PIL import Image as _Img  # type: ignore

        im = _Img.open(io.BytesIO(payload))
        px = im.tobytes()
        return im.width, im.height, len(im.getbands()), px

    def _stdlib_decode(payload: bytes) -> tuple[int, int, int, bytes]:
        import struct
        import zlib

        sig = b"\x89PNG\r\n\x1a\n"
        if payload[: len(sig)] != sig:
            raise ValueError("not a PNG payload")
        pos, width, height, ch, idat = len(sig), 0, 0, 0, []
        nch = {0: 1, 2: 3, 4: 2, 6: 4}
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            pos += 12 + length
            if ctype == b"IHDR":
                width, height, depth, color, _, _, il = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or il != 0 or color not in nch:
                    raise NotImplementedError("unsupported PNG shape")
                ch = nch[color]
            elif ctype == b"IDAT":
                idat.append(data)
            elif ctype == b"IEND":
                break
        raw = zlib.decompress(b"".join(idat))
        # numpy unfilter — self-contained copy of module-level
        # _np_unfilter (a reference to the module name would pickle by
        # reference and die on off-repo executors)
        import numpy as np

        stride = width * ch
        arr = np.frombuffer(raw, dtype=np.uint8)[: height * (1 + stride)]
        arr = arr.reshape(height, 1 + stride)
        fts, rows = arr[:, 0], arr[:, 1:]
        bad = set(np.unique(fts)) - {0, 1, 2, 3, 4}
        if bad:
            raise ValueError(f"bad PNG filter byte {min(bad)}")
        if not fts.any():
            return width, height, ch, rows.tobytes()
        out = np.empty((height, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(height):
            ft, row = int(fts[y]), rows[y]
            if ft == 0:
                cur = row.copy()
            elif ft == 1:  # Sub: per-lane prefix sum mod 256
                lanes = row.reshape(-1, ch).astype(np.int64)
                cur = (
                    (lanes.cumsum(axis=0) & 0xFF).astype(np.uint8).reshape(-1)
                )
            elif ft == 2:  # Up: uint8 addition wraps mod 256
                cur = row + prev
            elif ft == 3:  # Average
                cur = np.empty(stride, dtype=np.uint8)
                ri = row.astype(np.int32)
                pi = prev.astype(np.int32)
                left = np.zeros(ch, dtype=np.int32)
                for x in range(0, stride, ch):
                    sl = slice(x, x + ch)
                    left = (ri[sl] + ((left + pi[sl]) >> 1)) & 0xFF
                    cur[sl] = left
            else:  # Paeth
                cur = np.empty(stride, dtype=np.uint8)
                ri = row.astype(np.int32)
                pi = prev.astype(np.int32)
                left = np.zeros(ch, dtype=np.int32)
                ul = np.zeros(ch, dtype=np.int32)
                for x in range(0, stride, ch):
                    sl = slice(x, x + ch)
                    up = pi[sl]
                    pr = left + up - ul
                    pa = np.abs(pr - left)
                    pb = np.abs(pr - up)
                    pc = np.abs(pr - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc),
                        left,
                        np.where(pb <= pc, up, ul),
                    )
                    left = (ri[sl] + pred) & 0xFF
                    cur[sl] = left
                    ul = up
            out[y] = cur
            prev = cur
        return width, height, ch, out.tobytes()

    state: dict = {}

    def decode(payload: bytes) -> tuple[int, int, int, bytes]:
        dec = state.get("f")
        if dec is None:
            try:  # pragma: no cover - Pillow absent in this container
                import PIL  # noqa: F401  (probe only)

                dec = _pil_decode
            except ImportError:
                dec = _stdlib_decode
            state["f"] = dec
        return dec(payload)

    return decode


def decode_png_features(mm: DataFrame) -> DataFrame:
    """mapInPandas REAL image decode: PNG payload → (width, height,
    channels, crc32 of the decoded pixel bytes). Pillow when the worker
    has it, stdlib PNG inflate+unfilter otherwise — so the decode path
    runs end-to-end even in codec-less environments.

    The decoder is built driver-side by :func:`_make_png_decoder` and
    captured by the closure (nested functions pickle by value), so
    executors never resolve a module-level name."""
    decode = _make_png_decoder()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            decoded = [decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channels": [d[2] for d in decoded],
                    "pixel_crc32": [zlib.crc32(d[3]) & 0xFFFFFFFF for d in decoded],
                }
            )

    return mm.mapInPandas(fn, DECODED_SCHEMA)


def encode_wav(sample_rate: int, n_channels: int, pcm16: bytes) -> bytes:
    """Deterministic stdlib WAV encoder (16-bit PCM) — fixture
    generator for the audio decode path; also usable as a sink codec."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm16)
    return buf.getvalue()


def decode_audio(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real audio decode: (sample_rate, n_channels, n_frames, pcm16).

    WAV/PCM decodes via the stdlib ``wave`` module — REAL and testable
    everywhere, no codec library needed. Compressed formats (mp3/ogg/
    flac) raise NotImplementedError: the documented seam for a
    librosa/av-backed decoder behind this same signature."""
    import io
    import wave

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "non-WAV audio decode requires a codec library (librosa/av); "
            "this environment decodes PCM WAV via the stdlib"
        )
    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV is supported")
        return (
            w.getframerate(),
            w.getnchannels(),
            w.getnframes(),
            w.readframes(w.getnframes()),
        )


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_channels", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_us", LongType()),
        StructField("peak_amp", LongType()),
        StructField("energy", LongType()),
    ]
)


def audio_features(mm: DataFrame) -> DataFrame:
    """mapInPandas REAL audio feature extraction over WAV payloads:
    (sample_rate, channels, frames, integer-µs duration, peak |amp|,
    total energy as an exact BIGINT sum of squared samples). Arrow
    batches in/out, nothing driver-side; self-contained closure
    (stdlib wave/array only) so executors unpickle it by value."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import array
        import io
        import wave

        def decode(payload: bytes):
            with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                if w.getsampwidth() != 2:
                    # same contract as decode_audio: refuse loudly —
                    # reinterpreting 8/24-bit frames as int16 silently
                    # yields garbage peak/energy
                    raise NotImplementedError("only 16-bit PCM WAV is supported")
                rate, ch, nf = w.getframerate(), w.getnchannels(), w.getnframes()
                samples = array.array("h")
                samples.frombytes(w.readframes(nf))
                peak = max((abs(s) for s in samples), default=0)
                energy = sum(int(s) * int(s) for s in samples)
                return rate, ch, nf, nf * 1_000_000 // rate, peak, energy

        for pdf in batches:
            d = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "sample_rate": [x[0] for x in d],
                    "n_channels": [x[1] for x in d],
                    "n_frames": [x[2] for x in d],
                    "duration_us": [x[3] for x in d],
                    "peak_amp": [x[4] for x in d],
                    "energy": [x[5] for x in d],
                }
            )

    return mm.mapInPandas(fn, AUDIO_FEATURE_SCHEMA)


def frame_sample_plan(mm: DataFrame, every_n: int = 10) -> DataFrame:
    """Video-frame-sampling plumbing: explode a (stubbed) frame index
    per payload — the Spark-side shape of frame extraction (real frame
    decode would replace the sequence with codec output)."""
    n_frames = (F.octet_length("payload") % 100 + 1).alias("n_frames")
    return (
        mm.select("item_id", "payload", n_frames)
        .select(
            "item_id",
            F.explode(F.expr(f"sequence(0, n_frames - 1, {every_n})")).alias("frame_idx"),
        )
    )


AHASH_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("ahash", LongType()),
    ]
)


def _make_ahash_kernel(decode, grid: int):
    """Build the grid-raster average-hash kernel over a decoder: ONE
    implementation of the exact-integer block-vs-global-mean rule,
    shared by :func:`image_ahash` and :func:`video_shot_boundaries`
    (any drift between the two would silently desynchronize video
    shot hashes from image dedup hashes). Returns
    payload → (width, height, unsigned-bits)."""
    g = int(grid)

    def kernel(payload: bytes) -> tuple[int, int, int]:
        import numpy as np

        w, h, ch, px = decode(payload)
        # integer grayscale: per-pixel channel sum (monotone in
        # luminance for our purposes, exact, and channel-agnostic);
        # block sums come from an int64 integral image — the O(w*h)
        # work is vectorized, leaving g*g Python-int comparisons
        # (exact: cumsum stays < 2^63 for any real image, and the
        # cross-multiplied compare runs on unbounded Python ints)
        a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
        gray = a.reshape(h, w, ch).sum(axis=2)
        ii = np.zeros((h + 1, w + 1), dtype=np.int64)
        ii[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
        total = int(ii[h, w])
        npx = w * h
        ys = [gy * h // g for gy in range(g + 1)]
        xs = [gx * w // g for gx in range(g + 1)]
        bits = 0
        for gy in range(g):
            y0, y1 = ys[gy], ys[gy + 1]
            for gx in range(g):
                x0, x1 = xs[gx], xs[gx + 1]
                bsum = int(ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0])
                area = (y1 - y0) * (x1 - x0)
                # block mean > global mean, cross-multiplied
                if area and bsum * npx > total * area:
                    bits |= 1 << (gy * g + gx)
        return w, h, bits

    return kernel


def image_ahash(mm: DataFrame, grid: int = 8) -> DataFrame:
    """mapInPandas perceptual AVERAGE hash: decode each PNG payload,
    integer-grayscale it, partition into a grid x grid block raster
    and set bit (gy*grid+gx) when the block is brighter than the
    global mean — all EXACT integer arithmetic (cross-multiplied
    means, no float rounding), so the 64-bit signature is
    deterministic across runs and machines. The image twin of the
    text SimHash: near-identical images (crops aside) differ in a few
    bits, unrelated images in ~32.

    Decoder shared with :func:`decode_png_features` via
    `_make_png_decoder`; the grid kernel shared with
    :func:`video_shot_boundaries` via `_make_ahash_kernel` (both
    captured by value — executor-safe)."""
    kernel = _make_ahash_kernel(_make_png_decoder(), grid)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def ahash(payload: bytes) -> tuple[int, int, int]:
            w, h, bits = kernel(payload)
            # two's-complement into a signed 64-bit LongType (inline:
            # a module-level helper captured here would pickle by
            # REFERENCE and break off-repo executors)
            if bits >= 1 << 63:
                bits -= 1 << 64
            return w, h, bits

        for pdf in batches:
            out = [ahash(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "width": [o[0] for o in out],
                    "height": [o[1] for o in out],
                    "ahash": [o[2] for o in out],
                }
            )

    return mm.mapInPandas(fn, AHASH_SCHEMA)


def ahash_near_dup_pairs(hashed: DataFrame, max_dist: int = 3) -> DataFrame:
    """(a_id, b_id, dist): image pairs whose aHash Hamming distance is
    <= max_dist. Banded candidate generation (4 x 16-bit bands): any
    pair within distance 3 shares at least one fully-equal band
    (pigeonhole), so candidates come from band-keyed equi-joins —
    never an all-pairs signature product — and the exact popcount
    verify (bit_count(xor)) runs only on candidates, before the pair
    distinct — the banded-candidate primitive of ``dedup``, as for the
    text SimHash."""
    spans = _pigeonhole_spans(64, max_dist, 4)
    # persist: the banded self-join consumes the signature relation on
    # both sides — without it an expensive upstream (image_ahash's
    # Python PNG decode) would run twice
    sig = hashed.select(F.col("item_id").alias("id"), "ahash").persist()
    dist = hamming64(F.col("a.ahash"), F.col("b.ahash"))
    return _band_pairs(
        _band_rows(sig, _bit_bands(["ahash"], spans), ["ahash"]),
        verify=("dist", dist, max_dist),
    )


AUDIO_HASH_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_frames", LongType()),
        StructField("ahash", LongType()),
    ]
)


def audio_energy_hash(mm: DataFrame, windows: int = 64) -> DataFrame:
    """mapInPandas audio fingerprint: decode 16-bit PCM WAV, split the
    frame sequence into ``windows`` equal integer partitions and set a
    bit where the window's summed |sample| energy exceeds the global
    mean — the audio twin of :func:`image_ahash`, exact integer
    arithmetic throughout (cross-multiplied means, channel samples
    summed per frame), so re-encodes/level-identical copies collide
    and unrelated clips differ in ~half the bits. Feed the output to
    :func:`ahash_near_dup_pairs` (same `ahash` column contract) for
    banded near-dup detection.

    Stdlib-only closure (wave module) — executor-safe by value."""
    g = int(windows)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        def sig(payload: bytes) -> tuple[int, int, int]:
            b = bytes(payload)
            if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                raise NotImplementedError("only PCM WAV in this environment")
            with wave.open(io.BytesIO(b), "rb") as w:
                if w.getsampwidth() != 2:
                    raise NotImplementedError("only 16-bit PCM WAV")
                rate, ch, n = w.getframerate(), w.getnchannels(), w.getnframes()
                import array
                import sys

                pcm = array.array("h")
                pcm.frombytes(w.readframes(n))
                # WAV PCM is little-endian; native-order array on a
                # big-endian host would byte-swap every sample and
                # break the cross-machine determinism contract
                if sys.byteorder != "little":  # pragma: no cover
                    pcm.byteswap()
            # a truncated payload can deliver fewer frames than the
            # header claims: clamp to the data actually present
            # instead of IndexError-ing the whole task
            n = min(n, len(pcm) // ch) if ch else 0
            # per-frame energy: sum of |sample| across channels
            energy = [
                sum(abs(pcm[f * ch + c]) for c in range(ch)) for f in range(n)
            ]
            total = sum(energy)
            bits = 0
            for i in range(g):
                lo, hi = i * n // g, (i + 1) * n // g
                wsum = sum(energy[lo:hi])
                cnt = hi - lo
                if cnt and wsum * n > total * cnt:
                    bits |= 1 << i
            if bits >= 1 << 63:
                bits -= 1 << 64
            return rate, n, bits

        for pdf in batches:
            out = [sig(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "sample_rate": [o[0] for o in out],
                    "n_frames": [o[1] for o in out],
                    "ahash": [o[2] for o in out],
                }
            )

    return mm.mapInPandas(fn, AUDIO_HASH_SCHEMA)


# A trivial deterministic "video" container for codec-less
# environments: 4-byte magic, 4-byte frame count, then length-prefixed
# PNG frames. Real pipelines swap encode/extract for an av/ffmpeg
# tier behind the same signatures (the documented codec seam).
_VID_MAGIC = b"VPN1"


def encode_video(frames: list[bytes]) -> bytes:
    """Pack PNG frames into the deterministic container."""
    import struct

    out = [_VID_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        out.append(struct.pack(">I", len(f)))
        out.append(f)
    return b"".join(out)


SHOT_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("ahash", LongType()),
        StructField("dist_prev", LongType()),
        StructField("is_shot_boundary", LongType()),
    ]
)


def video_shot_boundaries(mm: DataFrame, threshold: int = 16) -> DataFrame:
    """mapInPandas shot-boundary detection: unpack the frame
    container, average-hash every frame (the image_ahash kernel), and
    flag frames whose Hamming distance to the PREVIOUS frame's hash
    is >= threshold — the scene-segmentation pass a video training
    pipeline runs before frame sampling, so sampled frames span shots
    instead of oversampling one static scene. Per-item sequential by
    nature (frame order), parallel across items; exact integer
    arithmetic end-to-end, so boundaries are bit-deterministic.

    Non-container payloads raise NotImplementedError (the codec seam:
    an av/ffmpeg decoder replaces the unpacker, the hashing and
    boundary rule stay)."""
    # the SHARED image kernel (one implementation — drift here would
    # desynchronize video shot hashes from image dedup hashes)
    kernel = _make_ahash_kernel(_make_png_decoder(), 8)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def unpack(payload: bytes) -> list[bytes]:
            b = bytes(payload)
            if b[:4] != _VID_MAGIC:
                raise NotImplementedError(
                    "real video decode requires av/ffmpeg; this "
                    "environment unpacks the deterministic PNG container"
                )
            (n,) = struct.unpack(">I", b[4:8])
            pos, frames = 8, []
            for _ in range(n):
                (ln,) = struct.unpack(">I", b[pos : pos + 4])
                frames.append(b[pos + 4 : pos + 4 + ln])
                pos += 4 + ln
            return frames

        for pdf in batches:
            ids, idxs, hashes, dists, flags = [], [], [], [], []
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                prev = None
                for i, fr in enumerate(unpack(payload)):
                    hv = kernel(fr)[2]
                    d = bin(hv ^ prev).count("1") if prev is not None else 0
                    ids.append(int(item_id))
                    idxs.append(i)
                    hashes.append(hv - (1 << 64) if hv >= 1 << 63 else hv)
                    dists.append(d)
                    flags.append(1 if (prev is not None and d >= threshold) else 0)
                    prev = hv
            yield pd.DataFrame(
                {
                    "item_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "ahash": pd.Series(hashes, dtype="int64"),
                    "dist_prev": pd.Series(dists, dtype="int64"),
                    "is_shot_boundary": pd.Series(flags, dtype="int64"),
                }
            )

    return mm.mapInPandas(fn, SHOT_SCHEMA)
