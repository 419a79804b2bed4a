"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

The Spark-side contract (schemas, batch iteration, partition sizing) is
REAL and tested. Decode is real for every format expressible without
external codec libraries — P6 PPM and 24-bit BMP images (pure NumPy
byte parsing), PCM WAV audio (stdlib ``wave``), 8-bit PNG (stdlib
``zlib`` inflate + per-row unfilter, all five PNG filter types).
Every other media type raises NotImplementedError: DCT-coded images
and psychoacoustic audio/video (mp3/mp4) need codec libraries, and
none ship in this container. ``deterministic_fake=True`` remains as a
format-agnostic stand-in so tests can drive the full distributed path
with arbitrary payloads.

At 100TB: binary payloads dominate partition size — repartition by
``maxRecordsPerBatch``-friendly counts and keep
``spark.sql.files.maxPartitionBytes`` small for scans of mixed
media+metadata tables; never collect binaries to the driver.
"""

from __future__ import annotations

import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, content_hash long"
)

FEATURE_SCHEMA = "doc_id long, media_type string, n_bytes long, feature array<float>, ok boolean"


def with_media_metadata(df: DataFrame, id_col: str, bin_col: str, media_type: str) -> DataFrame:
    """Typed metadata columns over an opaque binary column (JVM-side)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(media_type).alias("media_type"),
        F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        F.xxhash64(F.col(bin_col)).alias("content_hash"),
        F.col(bin_col).alias("payload"),
    )


# ----------------------------------------------------------------- decoders

def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary P6 PPM -> (h, w, 3) uint8. Pure byte parsing, no libs."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens, '#' comments allowed; pixel data starts after ONE
    # whitespace byte following maxval
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval (the spec's rule)
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    n = w * h * 3
    # CRLF-writer tolerance (r5 review): a non-conforming '\r\n' after
    # maxval used to leave the '\n' inside the pixel data, silently
    # shifting every channel by one byte. The skip is capped at exactly
    # that case — surplus length alone cannot distinguish extra LEADING
    # header whitespace from trailing junk when the first pixel byte is
    # whitespace-valued (9/10/13/32), so a general skip-while-surplus
    # loop can eat a real pixel byte (r6 ADVICE). Non-whitespace
    # surplus fails loudly; whitespace-only TRAILING surplus is
    # tolerated below (it cannot shift the fixed [pos, pos+n) read).
    # only when the payload actually has a surplus byte: a lone '\r'
    # separator followed by a first pixel byte of 0x0A is a CONFORMING
    # exact-length file the pattern alone cannot distinguish (r6 review).
    # When BOTH readings are consistent — e.g. lone-'\r' separator,
    # first pixel byte 0x0A, and a trailing-whitespace surplus like a
    # final '\n' (r7 ADVICE) — prefer the CONFORMING exact-offset
    # reading: skip only when reading pixels at pos would leave a
    # non-whitespace tail (i.e. the CRLF-writer reading is the only
    # self-consistent one). The one remaining ambiguity is inherent to
    # the byte stream: a CRLF-written file whose LAST pixel byte is
    # whitespace-valued also satisfies the conforming reading and
    # decodes shifted — no parser can distinguish those two files.
    if (
        len(payload) - pos > n
        and payload[pos - 1 : pos] == b"\r"
        and payload[pos : pos + 1] == b"\n"
        and not payload[pos + n :].isspace()
    ):
        pos += 1
    if len(payload) - pos < n:
        raise ValueError("truncated PPM pixel data")
    if len(payload) - pos > n and not payload[pos + n :].isspace():
        # trailing WHITESPACE surplus is tolerated (text-mode tooling
        # commonly appends a final newline, and pixels are always read
        # as payload[pos:pos+n], so it cannot shift data — r6 review);
        # any non-whitespace surplus still fails loudly
        raise ValueError("surplus bytes around PPM pixel data")
    img = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return img.reshape(h, w, 3)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) -> (h, w, 3) uint8 RGB.
    Rows are stored bottom-up, 4-byte padded, BGR order."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        # ValueError (not NotImplementedError): a BMP variant this
        # decoder can't parse is per-ROW bad data — extract_features maps
        # it to an ok=False row instead of failing the whole task. Only
        # whole-FORMAT gaps (mp3/mp4, absent from _DECODERS) raise.
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={comp})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


# decode cap: h*(stride+1) unfiltered bytes (256 MB ~ a 9500x9500 RGB
# image). Bounds the inflate AND the pixel buffer per row of the Arrow
# batch; bigger images are a ValueError -> ok=False row, never an OOM.
PNG_MAX_PIXEL_BYTES = 1 << 28


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG (gray / gray+alpha / RGB / RGBA /
    palette) -> (h, w, 3) uint8 RGB. Pure stdlib ``zlib`` + NumPy: chunk
    walk, IDAT inflate, per-row unfilter (none/sub/up/average/paeth, all
    arithmetic mod 256 per the spec), alpha dropped, palette expanded.

    Closes the "compressed image decode is container-bound" carve-out
    for PNG — DEFLATE ships in the standard library.

    Scale note: the up filter is vectorized and sub rides a per-channel
    cumsum; average/paeth are a plain-int Python loop per byte — the
    left-neighbor dependency is inherently sequential, and int-list
    arithmetic measured faster than every numpy formulation tried
    (tiny-array / scalar-indexing op overhead dominates). Inflate and
    pixel buffers are capped by PNG_MAX_PIXEL_BYTES (declared-dims
    bound enforced BEFORE the stream-controlled zlib inflate), so a
    crafted payload degrades to ok=False instead of an executor OOM.
    Synthetic and screenshot-style corpora are dominated by
    none/up/sub rows; a jpeg-era photo corpus at 100 TB would want a
    native codec anyway.
    """
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    ihdr: bytes | None = None
    plte: bytes | None = None
    idat: list[bytes] = []
    pos = 8
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        pos += 12 + ln  # length + type + data + CRC
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("missing PNG IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, comp, filt, interlace = ihdr[8], ihdr[9], ihdr[10], ihdr[11], ihdr[12]
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        # per-row bad data policy (same as BMP/WAV): variants outside
        # this decoder's scope -> ValueError -> ok=False row
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, interlace={interlace})"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"unsupported PNG color type {ctype}")
    if w <= 0 or h <= 0:
        raise ValueError("bad PNG dimensions")
    stride = w * nch
    expected = h * (stride + 1)
    # bound BOTH allocations by the declared dimensions BEFORE inflating:
    # zlib.decompress output size is stream-controlled (~1032:1), so an
    # unbounded inflate would let one crafted row OOM the task — a
    # MemoryError is NOT in the per-row catch list and would fail the
    # whole job, violating the module's ok=False contract
    if expected > PNG_MAX_PIXEL_BYTES:
        raise ValueError(
            f"PNG dimensions {w}x{h}x{nch} exceed the decode cap "
            f"({expected} > {PNG_MAX_PIXEL_BYTES} bytes)"
        )
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expected)
        if d.unconsumed_tail:
            raise ValueError("PNG IDAT inflates beyond the declared dimensions")
        d.flush()  # reaches stream end -> adler32 verified (zlib.error on corruption)
    except zlib.error as e:
        raise ValueError(f"bad PNG IDAT stream: {e}") from e
    if len(raw) < expected:
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = nch  # bytes per pixel at depth 8
    rpos = 0
    for y in range(h):
        ftype = raw[rpos]
        row = np.frombuffer(raw, np.uint8, stride, rpos + 1).copy()
        rpos += stride + 1
        if ftype == 0:  # none
            pass
        elif ftype == 2:  # up — uint8 addition wraps mod 256 (spec)
            row += prev
        elif ftype == 1:  # sub — per-channel cumulative sum mod 256
            row = row.reshape(w, nch).cumsum(axis=0, dtype=np.uint64).astype(
                np.uint8
            ).reshape(stride)
        elif ftype == 3:  # average
            # the left dependency is inherently sequential; plain Python
            # ints over a list beat ANY numpy formulation here (measured:
            # numpy scalar/slice indexing in the loop is ~10x slower than
            # int arithmetic — tiny-array op overhead dominates)
            cur = row.tolist()
            pv = prev.tolist()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + pv[x]) >> 1)) & 0xFF
            row = np.asarray(cur, dtype=np.uint8)
        elif ftype == 4:  # paeth — same plain-int scheme
            cur = row.tolist()
            pv = prev.tolist()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = pv[x]
                c = pv[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
            row = np.asarray(cur, dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = row
        prev = row
    px = out.reshape(h, w, nch)
    if ctype == 2:  # RGB
        return px
    if ctype == 6:  # RGBA -> drop alpha
        return px[:, :, :3].copy()
    if ctype == 0:  # grayscale -> replicate
        return np.repeat(px, 3, axis=2)
    if ctype == 4:  # gray+alpha -> replicate gray, drop alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    # ctype == 3: palette
    if plte is None or len(plte) % 3 != 0 or len(plte) == 0:
        raise ValueError("palette PNG missing/bad PLTE")
    pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    idx = px[:, :, 0]
    if int(idx.max()) >= pal.shape[0]:
        raise ValueError("PNG palette index out of range")
    return pal[idx]


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV -> (samples float32 in [-1, 1] mono-mixed, sample_rate).
    stdlib wave module; 8/16/32-bit PCM."""
    import io

    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate = wf.getframerate()
        nch = wf.getnchannels()
        width = wf.getsampwidth()
        raw = wf.readframes(wf.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype=np.int16).astype(np.float32) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif width == 4:
        x = np.frombuffer(raw, dtype=np.int32).astype(np.float32) / 2147483648.0
    else:
        # ValueError (not NotImplementedError): a WAV variant this
        # decoder doesn't cover (e.g. 24-bit PCM) is per-row bad data —
        # extract_features maps it to an ok=False row instead of
        # failing the task. NotImplementedError is reserved for whole
        # FORMATS that are stubbed (mp3/mp4), same policy as BMP.
        raise ValueError(f"unsupported PCM sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (pure index arithmetic)."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[ri][:, ci]


def image_feature(img: np.ndarray, dim: int) -> np.ndarray:
    """(h, w, 3) uint8 -> dim-length float32 feature: 8x8 grayscale
    thumbnail (nearest-neighbor) flattened, truncated/padded to dim,
    L2-normalized. Deterministic."""
    gray = img.astype(np.float32).mean(axis=2)
    side = max(int(np.sqrt(dim)), 1)
    thumb = resize_nearest(gray, side, side).reshape(-1)
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, thumb.size)] = thumb[:dim]
    n = np.linalg.norm(out)
    return out / n if n > 0 else out


def audio_feature(samples: np.ndarray, dim: int) -> np.ndarray:
    """mono float samples -> dim-length RMS-energy envelope (equal
    frames), L2-normalized. Deterministic."""
    if samples.size == 0:
        return np.zeros(dim, dtype=np.float32)
    edges = (np.arange(dim + 1) * samples.size) // dim
    out = np.empty(dim, dtype=np.float32)
    for i in range(dim):
        seg = samples[edges[i] : max(edges[i + 1], edges[i] + 1)]
        out[i] = np.sqrt(np.mean(seg * seg))
    n = np.linalg.norm(out)
    return out / n if n > 0 else out


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic format-agnostic stand-in: histogram of byte values
    folded into `dim` buckets, L2-normalized."""
    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float32)
    n = np.linalg.norm(hist)
    return hist / n if n > 0 else hist


_DECODERS = {
    "image/ppm": lambda p, dim: image_feature(decode_ppm(p), dim),
    "image/bmp": lambda p, dim: image_feature(decode_bmp(p), dim),
    "image/png": lambda p, dim: image_feature(decode_png(p), dim),
    "audio/wav": lambda p, dim: audio_feature(decode_wav(p)[0], dim),
}


def extract_features(
    media: DataFrame,
    *,
    dim: int = 16,
    deterministic_fake: bool = False,
) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, media_type, n_bytes,
    payload). Real decode for image/ppm, image/bmp, image/png and
    audio/wav; every other media type raises NotImplementedError (no
    codec libs in this container). Rows whose payload fails to parse
    come back ok=False (feature null) instead of failing the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p, mt in zip(pdf["payload"], pdf["media_type"]):
                if p is None:
                    feats.append(None)
                    continue
                if deterministic_fake:
                    feats.append(_fake_feature(p, dim).tolist())
                    continue
                dec = _DECODERS.get(mt)
                if dec is None:
                    raise NotImplementedError(
                        f"decode for media_type={mt!r} requires codec libraries "
                        "not present in this container (supported here: "
                        f"{sorted(_DECODERS)}; or pass deterministic_fake=True)"
                    )
                try:
                    feats.append(dec(bytes(p), dim).tolist())
                except (ValueError, EOFError, IndexError, wave.Error, struct.error):
                    # corrupt payload -> ok=False row, never a task
                    # failure: wave.Error covers malformed RIFF/WAV
                    # headers, struct.error truncated chunk tables,
                    # IndexError truncated PPM headers
                    feats.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": feats,
                    "ok": [f is not None for f in feats],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)
