"""Multimodal (image/audio/video) column plumbing for training-data
pipelines at 100 TB scale.

Media ride as opaque ``binary`` columns with typed metadata structs —
the Spark-side concerns (schema, Arrow batch shape, partition sizing,
iterator-based mapInPandas so one task never materializes its whole
partition of blobs) are real and tested.  ``decode_backend`` selects
the byte decoder:

- ``"fake"`` (default): deterministic pseudo-decode derived from the
  blob bytes (stable across runs/parallelism — the oracle-checkable
  mode the driver correctness gate uses);
- ``"stdlib"``: REAL byte decoding with no third-party deps —
  :func:`decode_png` (8-bit gray/RGB PNG: zlib inflate + all five
  scanline filters incl. Paeth), baseline JPEG (SOF0 JFIF — DCT,
  quality-scaled quantization, spec Huffman tables; operators/jpeg.py)
  and :func:`decode_wav` (RIFF/PCM via the ``wave`` module),
  pytest-verified on real encoded blobs;
- ``"pillow"``: PIL-backed image decode for arbitrary formats —
  activates when pillow is importable, otherwise raises
  NotImplementedError EAGERLY (at operator build, not inside tasks);
- ``"ffmpeg"``: video/audio container demux — NotImplementedError with
  the integration point documented (no ffmpeg in this container).

Fixture generation for the media table is in :func:`gen_media`.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)

_KINDS = ("image", "audio", "video")
_MIMES = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}


def _payload_bytes(i: int) -> bytes:
    """Deterministic payload for media_id ``i``: byte j is
    ``(i*131 + j*7) % 256``.  The law is intentionally plain modular
    arithmetic (not a hash) so a SQL oracle can recompute the expected
    DECODED features from media_id alone — the Spark side still decodes
    the actual bytes, so the oracle cross-checks the whole
    generate -> store -> decode round trip."""
    size = 64 + ((i * 131) % 64) * 4
    j = np.arange(size, dtype=np.int64)
    return ((i * 131 + j * 7) % 256).astype(np.uint8).tobytes()


def _meta_for(i: int, kind: str) -> dict:
    return {
        "width": 16 + (i * 37) % 64 if kind in ("image", "video") else None,
        "height": 16 + (i * 53) % 64 if kind in ("image", "video") else None,
        "sample_rate": 8000 + 100 * ((i * 29) % 9) if kind == "audio" else None,
        "n_frames": 1 + (i * 17) % 32 if kind == "video" else None,
    }


def gen_media(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic media blobs + typed metadata (no external data;
    see :func:`_payload_bytes` for the SQL-mirrorable generation law).
    ``seed`` is accepted for API stability but unused — content is a
    pure function of media_id."""
    return _gen_media_pdf(np.arange(n_rows, dtype=np.int64))


def _gen_media_pdf(ids: np.ndarray) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        kind = _KINDS[i % 3]
        rows.append(
            {
                "media_id": i,
                "kind": kind,
                "mime": _MIMES[kind],
                "payload": _payload_bytes(i),
                "meta": _meta_for(i, kind),
            }
        )
    return pd.DataFrame(rows)


def media_df(spark: SparkSession, n_rows: int = 300) -> DataFrame:
    """Distributed media table: generation runs inside mapInPandas over
    ``spark.range`` splits (content is a pure function of media_id, so
    the result is identical at any parallelism) — no driver-side
    materialization, scales to any n_rows."""

    def gen(batches):
        for pdf in batches:
            yield _gen_media_pdf(pdf["id"].to_numpy())

    return spark.range(n_rows).mapInPandas(gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# real byte codecs (pure stdlib): PNG and WAV
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(px: np.ndarray) -> bytes:
    """Minimal real PNG encoder (stdlib zlib): uint8 (h, w) gray or
    (h, w, 3) RGB, filter 0 scanlines.  Produces standard PNGs any
    viewer opens; used by the resize path and the codec tests."""
    px = np.ascontiguousarray(px, dtype=np.uint8)
    if px.ndim == 2:
        h, w, ctype, ch = px.shape[0], px.shape[1], 0, 1
    elif px.ndim == 3 and px.shape[2] == 3:
        h, w, ctype, ch = px.shape[0], px.shape[1], 2, 3
    else:
        raise ValueError("need (h, w) gray or (h, w, 3) RGB uint8")
    rows = px.reshape(h, w * ch)
    raw = b"".join(b"\x00" + rows[y].tobytes() for y in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> np.ndarray:
    """Minimal real PNG decoder (stdlib zlib): 8-bit depth, color types
    0 (gray) / 2 (RGB), no interlace — the common case for stored
    training images; anything else raises (route to the pillow
    backend).  Implements all five scanline filters (None/Sub/Up/
    Average/Paeth), so PNGs from real encoders decode too, not just
    :func:`encode_png`'s filter-0 output."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, width, height, ctype, idat = 8, None, None, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            width, height, depth, ctype, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8 or ctype not in (0, 2) or interlace:
                raise ValueError(
                    "unsupported PNG variant (need 8-bit gray/RGB, "
                    "no interlace) — use decode_backend='pillow'"
                )
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("no IHDR chunk")
    raw = zlib.decompress(b"".join(idat))
    ch = 1 if ctype == 0 else 3
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("scanline data size mismatch")
    img = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:
            cur = line
        elif f == 2:  # Up — vectorized (the common filter)
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub/Average/Paeth: left-dependency loop
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(int(a), int(b), int(c))
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        prev = cur
        img[y] = cur.astype(np.uint8)
    return img.reshape(height, width) if ch == 1 else img.reshape(
        height, width, 3
    )


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Real 16-bit PCM mono WAV encoder (stdlib ``wave``)."""
    import wave

    s = np.clip(np.asarray(samples), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(int(sample_rate))
        w.writeframes(s.tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """Real RIFF/PCM WAV decoder (stdlib ``wave``): returns
    (sample_rate, float64 samples); 8-bit is centered at 0, multi-
    channel is averaged to mono."""
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        sr = w.getframerate()
        sw = w.getsampwidth()
        nch = w.getnchannels()
        raw = w.readframes(w.getnframes())
    if sw == 1:
        a = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
    elif sw == 2:
        a = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    else:
        raise ValueError(f"unsupported PCM sample width {sw}")
    if nch > 1:
        a = a.reshape(-1, nch).mean(axis=1)
    return sr, a


# --- GIF (real LZW both directions, pure stdlib) ---------------------------

_GIF_MAX_CODE = 4096  # 12-bit LZW ceiling (GIF89a spec appendix F)


def _lzw_encode_gif(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable code width starting at
    ``min_code_size + 1``, LSB-first bit packing, CLEAR emitted first
    and again whenever the 12-bit table fills.  Width bumps when the
    NEXT free slot reaches ``2**width`` — the "early change" convention
    real GIF writers use, mirrored exactly by :func:`_lzw_decode_gif`
    so encoder and decoder tables stay in lockstep."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[tuple[int, int], int] = {}
    next_code = end + 1
    emit(clear, width)
    prev = -1
    for k in indices.tolist():
        if prev < 0:
            prev = k
            continue
        got = table.get((prev, k))
        if got is not None:
            prev = got
            continue
        emit(prev, width)
        if next_code < _GIF_MAX_CODE:
            table[(prev, k)] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table.clear()
            next_code = end + 1
            width = min_code_size + 1
        prev = k
    if prev >= 0:
        emit(prev, width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_encode_gif_literal(indices: np.ndarray) -> bytes:
    """Vectorized GIF LZW: every pixel emitted as a LITERAL 9-bit code
    (min code size 8) with a CLEAR every 253 codes so the decoder's
    table never reaches the width-bump point — the classic
    "uncompressed GIF" technique, valid LZW any conforming decoder
    accepts.  ~9/8 bytes per pixel instead of the dict-walk's per-pixel
    Python: this is the THROUGHPUT encode path (numpy bit-packing, no
    Python loop over pixels; the only loop is one slice per 253-pixel
    block).  :func:`_lzw_encode_gif` remains the compressing variant
    for callers that want small bytes over encode speed."""
    clear, end = 256, 257
    # decoder widens when codes-since-clear hits (1<<9) - (256+2) = 254
    period = 253
    vals = np.ascontiguousarray(indices, dtype=np.uint16).ravel()
    chunks = [np.array([clear], np.uint16)]
    for s in range(0, vals.size, period):
        chunks.append(vals[s : s + period])
        chunks.append(np.array([clear], np.uint16))
    chunks[-1] = np.array([end], np.uint16)
    codes = np.concatenate(chunks)
    # LSB-first 9-bit pack: bit-matrix -> flat stream -> little packbits
    bits = (
        (codes[:, None] >> np.arange(9, dtype=np.uint16)) & 1
    ).astype(np.uint8)
    stream = bits.ravel()
    pad = (-stream.size) % 8
    if pad:
        stream = np.concatenate([stream, np.zeros(pad, np.uint8)])
    return np.packbits(stream, bitorder="little").tobytes()


def _lzw_codes(data: bytes, min_code_size: int) -> np.ndarray:
    """Vectorized phase 1 of GIF LZW decode: the raw code sequence
    (CLEARs included, ending at the first END).  The variable code
    width follows a DETERMINISTIC schedule given the CLEAR positions —
    width w holds until (1<<w) - (2**mcs + 2) codes have arrived since
    the last clear (the early-change law) — so codes are extracted a
    whole width-segment at a time via reshape + dot instead of
    per-byte Python bit twiddling."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    base_len = (1 << min_code_size) + 2
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    nb = bits.size
    p = 0
    width = min_code_size + 1
    m = 0  # data codes since last clear
    out: list[np.ndarray] = []
    while True:
        until_bump = (
            ((1 << width) - base_len) - m if width < 12 else 1 << 30
        )
        avail = (nb - p) // width
        if avail <= 0:
            raise ValueError("truncated GIF LZW stream (no END code)")
        take = min(avail, until_bump)
        seg = bits[p : p + take * width].reshape(take, width)
        codes = seg.astype(np.int32) @ (1 << np.arange(width, dtype=np.int32))
        ctrl = np.flatnonzero((codes == clear) | (codes == end))
        if ctrl.size:
            j = int(ctrl[0])
            out.append(codes[: j + 1].astype(np.uint16))
            p += (j + 1) * width
            if codes[j] == end:
                return np.concatenate(out)
            width = min_code_size + 1  # clear: reset the schedule
            m = 0
            continue
        out.append(codes.astype(np.uint16))
        p += take * width
        m += take
        if width < 12 and m == (1 << width) - base_len:
            width += 1


def _lzw_decode_gif(data: bytes, min_code_size: int) -> np.ndarray:
    """Inverse of both GIF encoders -> uint8 palette indices.

    Phase 1 (:func:`_lzw_codes`) extracts the code sequence with numpy.
    Phase 2: a stream that only ever uses base codes — any literal-only
    encoder, ours or the wider world's "uncompressed GIF" writers —
    decodes as a pure cast (no table, no Python loop); streams with
    dynamic codes fall back to the per-CODE table walk, which is
    inherently sequential (each entry chains onto an earlier one — at
    100 TB scale that path routes to a native codec/pillow, and the
    fallback here is the conformance/coverage twin)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    codes = _lzw_codes(data, min_code_size)[:-1]  # drop the END code
    dmask = codes != clear
    if not dmask.any():
        return np.empty(0, np.uint8)
    if int(codes[dmask].max()) < clear:
        # literal-only stream: every code IS one pixel
        return codes[dmask].astype(np.uint8)
    base = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]
    table = list(base)
    out: list[bytes] = []
    prev: bytes | None = None
    for code in codes.tolist():
        if code == clear:
            table = list(base)
            prev = None
            continue
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # KwKwK: the code being defined
            entry = prev + prev[:1]
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out.append(entry)
        if prev is not None and len(table) < _GIF_MAX_CODE:
            table.append(prev + entry[:1])
        prev = entry
    return np.frombuffer(b"".join(out), dtype=np.uint8)


def encode_gif(px: np.ndarray, compress: bool = True) -> bytes:
    """Minimal real GIF89a encoder (pure stdlib + the LZW above):
    uint8 (h, w) gray — palette is the 256-gray ramp — or (h, w, 3)
    RGB with at most 256 distinct colors (more raises: route to the
    pillow backend).  Single frame, global color table, no interlace;
    output opens in any viewer.

    Default is the dict-walk compressing LZW (:func:`_lzw_encode_gif`,
    small bytes, sequential encode).  ``compress=False`` selects the
    VECTORIZED literal-code LZW (:func:`_lzw_encode_gif_literal`, ~9/8
    bytes per pixel, no per-pixel Python) for throughput callers that
    accept the larger output."""
    px = np.ascontiguousarray(px, dtype=np.uint8)
    if px.ndim == 2:
        pal = np.repeat(
            np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
        )
        idx = px
        pal_bits = 8
    elif px.ndim == 3 and px.shape[2] == 3:
        flat = px.reshape(-1, 3)
        pal, inv = np.unique(flat, axis=0, return_inverse=True)
        if len(pal) > 256:
            raise ValueError(
                f"GIF palette overflow ({len(pal)} distinct colors > "
                "256) — use decode_backend='pillow'"
            )
        # the literal encoder's codes are 9-bit (mcs 8), so the color
        # table must span 256 entries; the compressing path keeps the
        # tight power-of-two palette
        pal_bits = (
            8 if not compress else max(1, int(len(pal) - 1).bit_length())
        )
        pal = np.vstack(
            [pal, np.zeros(((1 << pal_bits) - len(pal), 3), np.uint8)]
        )
        idx = inv.astype(np.uint8).reshape(px.shape[:2])
    else:
        raise ValueError("need (h, w) gray or (h, w, 3) RGB uint8")
    h, w = idx.shape
    packed = 0x80 | ((pal_bits - 1) << 4) | (pal_bits - 1)
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, packed, 0, 0)
    if compress:
        mcs = max(2, pal_bits)  # spec: min code size >= 2
        body = _lzw_encode_gif(idx.ravel(), mcs)
    else:
        mcs = 8
        body = _lzw_encode_gif_literal(idx)
    subs = b"".join(
        bytes([len(body[i : i + 255])]) + body[i : i + 255]
        for i in range(0, len(body), 255)
    )
    return (
        head
        + pal.astype(np.uint8).tobytes()
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([mcs]) + subs + b"\x00\x3b"
    )


def decode_gif(data: bytes) -> np.ndarray:
    """Minimal real GIF decoder (87a/89a): global or local color table,
    extensions skipped, first frame, no interlace (raises — route to
    pillow).  Returns (h, w) uint8 gray when every referenced palette
    entry is achromatic (r == g == b), else (h, w, 3) RGB — so
    :func:`encode_gif` roundtrips shape-exactly, matching
    :func:`decode_png`'s gray/RGB convention."""
    if data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF (bad signature)")
    _sw, _sh, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"corrupt GIF (block 0x{block:02x})")
        _l, _t, w, h, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(
                data[pos : pos + 3 * n], np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if ipacked & 0x40:
            raise ValueError(
                "interlaced GIF unsupported — use decode_backend='pillow'"
            )
        if pal is None:
            raise ValueError("GIF image with no color table")
        mcs = data[pos]
        pos += 1
        parts = []
        while data[pos]:
            ln = data[pos]
            parts.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        idx = _lzw_decode_gif(b"".join(parts), mcs)
        if idx.size != w * h:
            raise ValueError(
                f"GIF pixel count mismatch ({idx.size} != {w * h})"
            )
        idx = idx.reshape(h, w)
        used = pal[: int(idx.max()) + 1]
        if (used[:, 0] == used[:, 1]).all() and (
            used[:, 1] == used[:, 2]
        ).all():
            return pal[idx, 0]
        return pal[idx]
    raise ValueError("GIF contains no image block")


def gif_media_df(spark, n_rows: int) -> DataFrame:
    """Media table whose payloads are REAL GIF bytes: per media_id a
    deterministic gray image (w = 4 + (id*7) % 13, h = 3 + (id*11) % 9,
    flat pixel p = (id*131 + p*7) % 256) LZW-encoded by
    :func:`encode_gif` inside the task.  The arithmetic law is
    re-expressible in SQL, so a DuckDB oracle can verify the full
    generate -> LZW encode -> store -> LZW decode -> features loop."""
    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w, h = 4 + (i * 7) % 13, 3 + (i * 11) % 9
                p = np.arange(w * h, dtype=np.int64)
                px = ((i * 131 + p * 7) % 256).astype(np.uint8)
                rows.append(
                    ("image", i, encode_gif(px.reshape(h, w), compress=False))
                )
            yield pd.DataFrame(
                rows, columns=["kind", "media_id", "payload"]
            )

    return spark.range(n_rows).mapInPandas(
        gen, "kind string, media_id long, payload binary"
    )


def _jpeg_flat_halves(i: int) -> np.ndarray:
    """Deterministic block-aligned piecewise-flat gray image for id i:
    w = 16 * (1 + (i//3) % 3), h = 5 + (i*11) % 12, left half
    v1 = (i*37 + 11) % 256, right half v2 = (i*73 + 97) % 256.  The
    halves split on a multiple of 8, so every 8x8 block is flat and the
    quality-75 encode (luminance DC quantizer exactly 8) round-trips
    bit-exactly — the SQL-checkable corner of a lossy codec."""
    w = 16 * (1 + (i // 3) % 3)
    h = 5 + (i * 11) % 12
    v1 = (i * 37 + 11) % 256
    v2 = (i * 73 + 97) % 256
    px = np.full((h, w), v1, dtype=np.uint8)
    px[:, w // 2:] = v2
    return px


def jpeg_media_df(spark, n_rows: int) -> DataFrame:
    """Media table whose payloads are REAL baseline JPEG bytes: the
    :func:`_jpeg_flat_halves` image per id, encoded by
    operators/jpeg.encode_jpeg at quality 75 inside the task.  The
    pixel law survives the lossy codec exactly (see the helper), so a
    DuckDB oracle verifies the full DCT/quantize/Huffman encode ->
    store -> decode loop."""
    from tse_spark.operators.jpeg import encode_jpeg

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rows.append(
                    ("image", i, encode_jpeg(_jpeg_flat_halves(i),
                                             quality=75))
                )
            yield pd.DataFrame(
                rows, columns=["kind", "media_id", "payload"]
            )

    return spark.range(n_rows).mapInPandas(
        gen, "kind string, media_id long, payload binary"
    )


def mixed_media_df(spark, n_rows: int) -> DataFrame:
    """Mixed-format corpus exercising the stdlib router's sniffing:
    id % 3 == 0 -> PNG, 1 -> GIF (both carrying the gif_media_df pixel
    law — PNG is lossless so the features match the same SQL), 2 ->
    JPEG (the flat-halves law).  One decode_image_features pass over
    this table proves all three byte decoders against one oracle."""
    from tse_spark.operators.jpeg import encode_jpeg

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                f = i % 3
                if f == 2:
                    payload = encode_jpeg(_jpeg_flat_halves(i), quality=75)
                else:
                    w, h = 4 + (i * 7) % 13, 3 + (i * 11) % 9
                    p = np.arange(w * h, dtype=np.int64)
                    px = ((i * 131 + p * 7) % 256).astype(
                        np.uint8
                    ).reshape(h, w)
                    payload = (
                        encode_png(px)
                        if f == 0
                        else encode_gif(px, compress=False)
                    )
                rows.append(("image", i, payload))
            yield pd.DataFrame(
                rows, columns=["kind", "media_id", "payload"]
            )

    return spark.range(n_rows).mapInPandas(
        gen, "kind string, media_id long, payload binary"
    )


def decode_image_stdlib(data: bytes) -> np.ndarray:
    """Signature-sniffing stdlib image decode: PNG (8-bit gray/RGB),
    GIF (87a/89a, non-interlaced), or baseline JPEG (SOF0 JFIF/EXIF —
    operators/jpeg.py; progressive raises with the pillow hint) — the
    formats the no-dependency backend handles; anything else routes to
    pillow."""
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:4] == b"GIF8":
        return decode_gif(data)
    if data[:3] == b"\xff\xd8\xff":
        from tse_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(data)
    raise ValueError(
        "unsupported image format for decode_backend='stdlib' "
        "(PNG, GIF and baseline JPEG supported) — use "
        "decode_backend='pillow'"
    )


def _image_decoder(decode_backend: str):
    """Resolve the per-blob image decode function for a backend, or
    raise NotImplementedError EAGERLY (operator build time, not inside
    Spark tasks)."""
    if decode_backend == "stdlib":
        return decode_image_stdlib
    if decode_backend == "pillow":
        try:
            from PIL import Image  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "decode_backend='pillow' needs the pillow package "
                "(pip install pillow); decode_backend='stdlib' handles "
                "8-bit gray/RGB PNG with no deps"
            ) from e

        def _pil(data: bytes) -> np.ndarray:  # pragma: no cover
            return np.asarray(Image.open(io.BytesIO(data)))

        return _pil
    raise NotImplementedError(
        f"decode_backend={decode_backend!r}: no such image decoder "
        "(have: fake, stdlib, pillow)"
    )


def _fake_pixels(payload: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic pseudo-decode: tile the payload bytes into (h, w)."""
    a = np.frombuffer(payload, dtype=np.uint8)
    need = w * h
    reps = (need // a.size) + 1
    return np.tile(a, reps)[:need].reshape(h, w)


def decode_image_features(
    media: DataFrame, decode_backend: str = "fake"
) -> DataFrame:
    """(media_id, width, height, mean_px, std_px) for image/video rows.

    mapInPandas over an iterator of Arrow batches: blobs stream through
    the task batch-by-batch (spark.sql.execution.arrow.maxRecordsPerBatch
    bounds peak memory — size it so batch_rows * max_blob fits the
    python worker).

    ``decode_backend="fake"`` pseudo-decodes with (w, h) from the meta
    struct (the oracle-checkable mode); real backends ("stdlib" PNG,
    "pillow") decode the actual payload bytes and report the DECODED
    dimensions; mean/std are over all samples (channels flattened).
    """
    decode = None if decode_backend == "fake" else _image_decoder(
        decode_backend
    )

    out_schema = (
        "media_id long, width int, height int, mean_px double, std_px double"
    )

    def run(batches):
        for pdf in batches:
            recs = []
            for r in pdf.itertuples():
                if decode is None:
                    w = int(r.meta["width"] or 1)
                    h = int(r.meta["height"] or 1)
                    px = _fake_pixels(bytes(r.payload), w, h)
                else:
                    px = decode(bytes(r.payload))
                    h, w = int(px.shape[0]), int(px.shape[1])
                a = px.astype(np.float64)
                recs.append(
                    (int(r.media_id), w, h, float(a.mean()), float(a.std()))
                )
            yield pd.DataFrame(
                recs,
                columns=["media_id", "width", "height", "mean_px", "std_px"],
            )

    imgs = media.filter(F.col("kind").isin("image", "video"))
    return imgs.mapInPandas(run, schema=out_schema)


def resize_images(
    media: DataFrame, out_w: int, out_h: int, decode_backend: str = "fake"
) -> DataFrame:
    """(media_id, payload binary, width, height) — nearest-neighbor
    resample.  "fake" resamples the pseudo-decoded grid and emits raw
    bytes; "stdlib"/"pillow" decode the real payload and re-encode the
    resized image as a real PNG (:func:`encode_png`)."""
    decode = None if decode_backend == "fake" else _image_decoder(
        decode_backend
    )

    out_schema = "media_id long, payload binary, width int, height int"

    def run(batches):
        for pdf in batches:
            recs = []
            for r in pdf.itertuples():
                if decode is None:
                    w = int(r.meta["width"] or 1)
                    h = int(r.meta["height"] or 1)
                    px = _fake_pixels(bytes(r.payload), w, h)
                else:
                    px = decode(bytes(r.payload))
                    h, w = int(px.shape[0]), int(px.shape[1])
                yi = (np.arange(out_h) * h // out_h).astype(np.int64)
                xi = (np.arange(out_w) * w // out_w).astype(np.int64)
                small = px[np.ix_(yi, xi)]
                payload = (
                    small.tobytes()
                    if decode is None
                    else encode_png(small.astype(np.uint8))
                )
                recs.append((int(r.media_id), payload, out_w, out_h))
            yield pd.DataFrame(
                recs, columns=["media_id", "payload", "width", "height"]
            )

    imgs = media.filter(F.col("kind").isin("image", "video"))
    return imgs.mapInPandas(run, schema=out_schema)


def sample_video_frames(
    media: DataFrame, every_n: int = 4, decode_backend: str = "fake"
) -> DataFrame:
    """Explode videos to (media_id, frame_no, frame binary): payload is
    treated as n_frames equal slices, every ``every_n``-th kept."""
    if decode_backend != "fake":
        raise NotImplementedError(
            f"decode_backend={decode_backend!r}: real container demux "
            "needs ffmpeg (absent here); integrate it at this single "
            "call site — the batching/schema shape is unchanged"
        )

    out_schema = "media_id long, frame_no int, frame binary"

    def run(batches):
        for pdf in batches:
            ids, fnos, frames = [], [], []
            for r in pdf.itertuples():
                n = int(r.meta["n_frames"] or 1)
                payload = bytes(r.payload)
                step = max(len(payload) // n, 1)
                for f in range(0, n, every_n):
                    ids.append(int(r.media_id))
                    fnos.append(f)
                    frames.append(payload[f * step : (f + 1) * step])
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": fnos, "frame": frames}
            )

    vids = media.filter(F.col("kind") == "video")
    return vids.mapInPandas(run, schema=out_schema)


def audio_features(
    media: DataFrame, n_bands: int = 8, decode_backend: str = "fake"
) -> DataFrame:
    """(media_id, sample_rate, duration_s, bands array<double>) —
    per-band mean magnitudes over ``n_bands`` equal time segments
    (stand-in for MFCC/filterbank features).  "fake" treats payload
    bytes as centered 8-bit samples with sample_rate from the meta
    struct; "stdlib" REALLY parses the payload as RIFF/PCM WAV
    (:func:`decode_wav`) and takes sample_rate from the header."""
    if decode_backend not in ("fake", "stdlib"):
        raise NotImplementedError(
            f"decode_backend={decode_backend!r}: no such audio decoder "
            "(have: fake, stdlib; mp3/ogg need an ffmpeg integration "
            "at this single call site)"
        )

    out_schema = (
        "media_id long, sample_rate int, duration_s double, "
        "bands array<double>"
    )

    def run(batches):
        for pdf in batches:
            recs = []
            for r in pdf.itertuples():
                if decode_backend == "fake":
                    sr = int(r.meta["sample_rate"] or 8000)
                    a = np.frombuffer(bytes(r.payload), dtype=np.uint8)
                    a = a.astype(np.float64) - 128.0
                else:
                    sr, a = decode_wav(bytes(r.payload))
                pad = (-a.size) % n_bands
                if pad:
                    a = np.pad(a, (0, pad))
                bands = np.abs(a.reshape(n_bands, -1)).mean(axis=1)
                # raw (unrounded) duration: rounding policy belongs to
                # the query layer (Spark F.round HALF_UPs like DuckDB;
                # Python round() half-evens and would diverge)
                recs.append(
                    (
                        int(r.media_id),
                        sr,
                        a.size / sr,
                        [float(x) for x in bands],
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["media_id", "sample_rate", "duration_s", "bands"],
            )

    auds = media.filter(F.col("kind") == "audio")
    return auds.mapInPandas(run, schema=out_schema)
