"""GIF (LZW) codec + decode/dedup queries (VERDICT r14 #4).

The remaining common-crawl image format the multimodal dedup ladder
skipped: JPEG baseline+progressive, PNG, BMP/PPM were covered; real
crawls still carry a meaningful GIF fraction. Same pattern as the PNG
codec (multimodal.py): a pure-stdlib spec codec, closed-form pixel
fixtures, exact integer oracles, decode inside one Arrow-batched
``mapInPandas`` stage.

Codec scope (fail-loudly gates, ValueError so they survive ``-O``):
GIF87a/GIF89a, global and local color tables, interlace (the four-pass
row order), multi-frame streams with per-frame Graphic Control
Extension delays, other extensions skipped by sub-block framing.
Frame EXTRACTION (``decode_gif``) treats each frame as a stored full
raster — the dedup / frame-sampling read — and stays gated
NotImplementedError on image descriptors smaller than the logical
screen; GCE transparency is PARSED and IGNORED there: a transparent
index only changes how a frame composites over prior state, and every
extracted frame is a full raster whose palette entry still defines its
stored RGB — so frames decode to opaque palette RGB deterministically
(pinned in tests), rather than rejecting the large fraction of real
GIFs that set the flag. Screen COMPOSITING is the separate r16 read
(``decode_gif_composited`` below): partial-frame rects, transparency,
and disposal methods 1/2/3 are honored there — the player/preview
semantics the extraction read deliberately does not apply.

LZW variable-width discipline (the GIF flavor, not TIFF's early-change):
with S = 2^mcs + 2 initial codes, the encoder widens after an add once
``next_code == 2^width + 1`` and the decoder after an append once
``len(table) == 2^width`` — off by one in the counters, aligned in the
stream because the decoder's k-th table add happens one code later than
the encoder's. When the table hits 4096 both sides freeze it (the
spec's deferred-clear mode) rather than emitting CLEAR.

Reference parity: the reference repo has no multimodal layer (its
``analysis/`` package is a docstring-only scaffold, analysis/__init__.py:1);
this follows the GIF89a specification directly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..registry import register
from ._stream import run_to_memory, staged_stream
from ._util import spread

_N_PAL = 64  # fixture palette size -> LZW min code size 6


# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def _lzw_encode(indices, mcs: int) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 255)
            acc >>= 8
            nbits -= 8

    table = {bytes([c]): c for c in range(1 << mcs)}
    next_code = eoi + 1
    emit(clear)
    buf = b""
    for k in indices:
        cand = buf + bytes([int(k)])
        if cand in table:
            buf = cand
            continue
        emit(table[buf])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        buf = cand[-1:]
    if buf:
        emit(table[buf])
        # Mirror the decoder's post-read add for this final data code
        # (it appends prev+entry[:1] and may widen BEFORE reading EOI),
        # else EOI is written at width but read at width+1 whenever the
        # final add lands exactly on a power-of-two table size (ADVICE
        # r15). Skipped when this is the FIRST data code (decoder prev
        # is None -> no add); harmless there anyway since no widening
        # can trigger at the initial table size for mcs >= 2.
        if next_code > eoi + 1 and next_code < 4096:
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
    emit(eoi)
    if nbits:
        out.append(acc & 255)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, n_expected: int) -> bytes:
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    init = [bytes([c]) for c in range(1 << mcs)] + [b"", b""]
    tbl = list(init)
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            tbl = list(init)
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(init) - 2:
                raise ValueError("first LZW code must be a literal")
            entry = tbl[code]
        elif code < len(tbl):
            entry = tbl[code]
        elif code == len(tbl):
            entry = prev + prev[:1]
        else:
            raise ValueError("LZW code out of range")
        if prev is not None and len(tbl) < 4096:
            tbl.append(prev + entry[:1])
            if len(tbl) == (1 << width) and width < 12:
                width += 1
        out += entry
        prev = entry
    if len(out) != n_expected:
        raise ValueError(
            f"LZW decoded {len(out)} indices, raster needs {n_expected}"
        )
    return bytes(out)


# --------------------------------------------------------------------------
# Container
# --------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    order: list[int] = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


def encode_gif(frames, palette, interlace: bool = False) -> bytes:
    """Encode ``frames`` = [(indices_2d, delay_cs), ...] (numpy uint8
    arrays of palette indices, all full logical-screen size) with the
    given palette (len must be a power of two >= 2) as GIF89a. A
    Graphic Control Extension carries each frame's delay."""
    import numpy as np

    n = len(palette)
    if n & (n - 1) or n < 2:
        raise ValueError("palette size must be a power of two >= 2")
    bits = n.bit_length() - 1
    mcs = max(bits, 2)
    h, w = frames[0][0].shape
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | (7 << 4) | (bits - 1))  # GCT, 8-bit primaries
    out += bytes([0, 0])  # background index, aspect
    for r, g, b in palette:
        out += bytes([r, g, b])
    for idx, delay_cs in frames:
        if idx.shape != (h, w):
            raise ValueError("all frames must be logical-screen sized")
        out += b"\x21\xf9\x04\x00"  # GCE: no disposal/transparency
        out += int(delay_cs).to_bytes(2, "little") + b"\x00\x00"
        out += b"\x2c" + bytes(4)  # image descriptor at (0, 0)
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out.append(0x40 if interlace else 0x00)  # GCT, maybe interlaced
        rows = idx[_interlace_order(h), :] if interlace else idx
        data = _lzw_encode(np.asarray(rows, dtype=np.uint8).ravel(), mcs)
        out.append(mcs)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate sub-blocks starting at ``pos``; returns (data, pos
    after the 0x00 terminator)."""
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("sub-block stream truncated")
        ln = payload[pos]
        pos += 1
        if ln == 0:
            return bytes(data), pos
        if pos + ln > len(payload):
            raise ValueError("sub-block overruns payload")
        data += payload[pos : pos + ln]
        pos += ln


def decode_gif(payload: bytes) -> dict:
    """Decode a GIF87a/89a stream into full-raster RGB frames.

    Returns ``{"width", "height", "n_frames", "frames": [h x w x 3
    uint8 ...], "delays_cs": [int ...]}`` (delay 0 when a frame has no
    Graphic Control Extension)."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (header magic missing)")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(
            payload[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        pos += 3 * n
    frames: list = []
    delays: list[int] = []
    delay = 0
    while True:
        if pos >= len(payload):
            raise ValueError("GIF truncated (no trailer)")
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = payload[pos]
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            if label == 0xF9 and len(data) >= 4:
                delay = int.from_bytes(data[1:3], "little")
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        left = int.from_bytes(payload[pos : pos + 2], "little")
        top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
        fw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        fh = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        fpacked = payload[pos + 8]
        pos += 9
        if (left, top) != (0, 0) or (fw, fh) != (w, h):
            raise NotImplementedError(
                "partial-frame GIF compositing unsupported; frames must "
                "cover the logical screen"
            )
        ct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            ct = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("no color table for frame")
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 8:
            # the GIF spec caps mcs at 8 (palette indices are bytes);
            # 9-11 would crash _lzw_decode's bytes([c]) table init with
            # a misleading range error instead of this gate (ADVICE r15)
            raise ValueError("illegal LZW min code size")
        data, pos = _sub_blocks(payload, pos)
        idx = np.frombuffer(
            _lzw_decode(data, mcs, fw * fh), dtype=np.uint8
        ).reshape(fh, fw)
        if fpacked & 0x40:  # interlaced: invert the four-pass order
            inv = np.empty(fh, dtype=np.int64)
            inv[_interlace_order(fh)] = np.arange(fh)
            idx = idx[inv, :]
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("palette index out of range")
        frames.append(ct[idx])
        delays.append(delay)
        delay = 0
    if not frames:
        raise ValueError("GIF holds no image data")
    return {
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "frames": frames,
        "delays_cs": delays,
    }


# --------------------------------------------------------------------------
# Fixtures: closed-form paletted rasters. Palette entry c is
# ((c*5+1) % 256, (c*11+3) % 256, (c*23+7) % 256); pixel j of a frame
# keyed by (seed, f) stores index (seed*3 + f*13 + j*7) % 64. The dedup
# twin's odd doc stores a ROTATED palette with counter-rotated indices
# (identical RGB through a different byte stream) and interlaces.
# --------------------------------------------------------------------------


def _palette(rot: int = 0):
    return [
        (((c + rot) % _N_PAL * 5 + 1) % 256,
         ((c + rot) % _N_PAL * 11 + 3) % 256,
         ((c + rot) % _N_PAL * 23 + 7) % 256)
        for c in range(_N_PAL)
    ]


def _fixture_indices(seed: int, f: int, w: int, h: int):
    import numpy as np

    j = np.arange(w * h, dtype=np.int64)
    return ((seed * 3 + f * 13 + j * 7) % _N_PAL).astype(np.uint8).reshape(
        h, w
    )


_GIF_PX = (
    "((({s}) * 3 + ({f}) * 13 + j * 7) % 64 * {m} + {a}) % 256"
)


def _px_cols(s: str, f: str) -> str:
    return (
        f"{_GIF_PX.format(s=s, f=f, m=5, a=1)} AS r, "
        f"{_GIF_PX.format(s=s, f=f, m=11, a=3)} AS g, "
        f"{_GIF_PX.format(s=s, f=f, m=23, a=7)} AS b"
    )


_GIF_DECODE_ORACLE = f"""
SELECT doc_id,
       cast(w AS INTEGER) AS width,
       cast(h AS INTEGER) AS height,
       cast(1 AS INTEGER) AS n_frames,
       cast(sum(r + g + b) AS BIGINT) AS sum_px,
       cast(min(least(r, g, b)) AS BIGINT) AS min_px,
       cast(max(greatest(r, g, b)) AS BIGINT) AS max_px,
       cast(sum((j // w + 1) * (j % w + 1) * (r + g + b)) AS BIGINT)
         AS wsum_px
FROM (
  SELECT doc_id, w, h, j, {_px_cols("doc_id", "0")}
  FROM (
    SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
           unnest(range((8 + doc_id % 9) * (8 + doc_id % 7))) AS j
    FROM documents
  ) g0
) px
GROUP BY doc_id, w, h
"""


@register(
    "mm_image_gif_decode",
    oracle=_GIF_DECODE_ORACLE,
    tags=("multimodal", "image"),
)
def mm_image_gif_decode(spark, sf_dir):
    """Round-trip each doc's closed-form paletted raster through the
    real GIF codec (odd docs interlaced, so the four-pass reorder sits
    on the checked path — the position-weighted wsum_px catches any
    row-order slip that plain sums would miss)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("sum_px", T.LongType()),
            T.StructField("min_px", T.LongType()),
            T.StructField("max_px", T.LongType()),
            T.StructField("wsum_px", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pal = _palette()
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].values:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                idx = _fixture_indices(doc_id, 0, w, h)
                blob = encode_gif(
                    [(idx, 0)], pal, interlace=bool(doc_id % 2)
                )
                dec = decode_gif(blob)
                px = dec["frames"][0].astype(np.int64)
                wt = (
                    (np.arange(h, dtype=np.int64) + 1)[:, None]
                    * (np.arange(w, dtype=np.int64) + 1)[None, :]
                )
                rows.append(
                    (
                        doc_id,
                        dec["width"],
                        dec["height"],
                        dec["n_frames"],
                        int(px.sum()),
                        int(px.min()),
                        int(px.max()),
                        int((wt * px.sum(axis=2)).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select("doc_id")
    return d.mapInPandas(run, schema=schema)


# Decoded-RGB equality key: same (w, h) and same index stream mod the
# palette cycle — seeds agree mod 64 (3 is invertible mod 64), so the
# oracle's join key is (w, h, seed % 64). The odd doc of each (2p, 2p+1)
# pair stores a rotated palette + counter-rotated indices + interlacing:
# different bytes, identical pixels — the pair survives only if palette
# indirection AND deinterlacing decode exactly.
_GIF_RENC_ORACLE = """
WITH k AS (
  SELECT doc_id,
         8 + (doc_id // 2) % 9 AS w,
         8 + (doc_id // 2) % 7 AS h,
         (doc_id // 2) % 64 AS pk
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(a.w AS INTEGER) AS w, cast(a.h AS INTEGER) AS h
FROM k a
JOIN k b
  ON a.w = b.w AND a.h = b.h AND a.pk = b.pk AND a.doc_id < b.doc_id
"""


@register(
    "mm_image_gif_renc_dedup",
    oracle=_GIF_RENC_ORACLE,
    tags=("multimodal", "image", "dedup"),
)
def mm_image_gif_renc_dedup(spark, sf_dir):
    """Digest-dedup over decoded GIF pixels: every (2p, 2p+1) doc pair
    encodes the same raster through two different byte streams (rotated
    palette, counter-rotated indices, interlaced) and must collide."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("w", T.IntegerType()),
            T.StructField("h", T.IntegerType()),
            T.StructField("digest", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].values:
                doc_id = int(doc_id)
                base, odd = doc_id // 2, doc_id % 2
                w, h = 8 + base % 9, 8 + base % 7
                idx = _fixture_indices(base, 0, w, h)
                rot = odd * (1 + base % 63)
                blob = encode_gif(
                    [((idx - rot) % _N_PAL, 0)],
                    _palette(rot),
                    interlace=bool(odd),
                )
                dec = decode_gif(blob)
                digest = hashlib.md5(dec["frames"][0].tobytes()).hexdigest()
                rows.append((doc_id, w, h, digest))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select("doc_id")
    hashes = d.mapInPandas(run, schema=schema)
    a = hashes.select(F.col("doc_id").alias("doc_a"), "w", "h", "digest")
    b = hashes.select(F.col("doc_id").alias("doc_b"), "w", "h", "digest")
    return (
        a.join(b, ["w", "h", "digest"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "w", "h")
    )


_GIF_FRAMES_ORACLE = f"""
SELECT doc_id, cast(f AS INTEGER) AS frame,
       cast(10 + f * 3 AS INTEGER) AS delay_cs,
       cast(sum(r + g + b) AS BIGINT) AS sum_px,
       cast(min(least(r, g, b)) AS BIGINT) AS min_px,
       cast(max(greatest(r, g, b)) AS BIGINT) AS max_px
FROM (
  SELECT doc_id, f, {_px_cols("doc_id", "f")}
  FROM (
    SELECT doc_id, f,
           unnest(range((8 + doc_id % 9) * (8 + doc_id % 7))) AS j
    FROM (
      SELECT doc_id, unnest(range(2 + doc_id % 3)) AS f FROM documents
    ) g0
  ) g1
) px
GROUP BY doc_id, f
"""


@register(
    "mm_gif_animation_frames",
    oracle=_GIF_FRAMES_ORACLE,
    tags=("multimodal", "image", "video"),
)
def mm_gif_animation_frames(spark, sf_dir):
    """Animated-GIF frame extraction: each doc muxes 2 + doc_id % 3
    frames with per-frame GCE delays; one output row per demuxed frame
    with its delay and exact pixel stats (the frame-sampling shape a
    video-corpus pipeline needs)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame", T.IntegerType()),
            T.StructField("delay_cs", T.IntegerType()),
            T.StructField("sum_px", T.LongType()),
            T.StructField("min_px", T.LongType()),
            T.StructField("max_px", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pal = _palette()
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].values:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                nf = 2 + doc_id % 3
                blob = encode_gif(
                    [
                        (_fixture_indices(doc_id, f, w, h), 10 + f * 3)
                        for f in range(nf)
                    ],
                    pal,
                )
                dec = decode_gif(blob)
                for f in range(dec["n_frames"]):
                    px = dec["frames"][f].astype(np.int64)
                    rows.append(
                        (
                            doc_id,
                            f,
                            dec["delays_cs"][f],
                            int(px.sum()),
                            int(px.min()),
                            int(px.max()),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select("doc_id")
    return d.mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# Aspect-ratio bucket sampling (the LAION/SDXL image-training staple):
# every image is routed to the nearest aspect bucket of a fixed ladder so
# batches can be formed at homogeneous shapes. Nearest is decided EXACTLY
# in integers: |w/h - n/d| = |w*d - h*n| / (h*d); with h shared within a
# row, multiplying each bucket's error by (D / d) — D the product of all
# ladder denominators — yields globally comparable integer keys, so the
# argmin never touches floats (ties break to the lower bucket index).
# --------------------------------------------------------------------------

# (n, d) aspect ladder: 1:1, 4:3, 3:4, 16:9, 9:16, 3:2, 2:3
_AR_BUCKETS = ((1, 1), (4, 3), (3, 4), (16, 9), (9, 16), (3, 2), (2, 3))
_AR_D_PROD = 1
for _n, _d in _AR_BUCKETS:
    _AR_D_PROD *= _d

_AR_KEYS_SQL = ", ".join(
    f"(abs(w * {d} - h * {n}) * {_AR_D_PROD // d}, {i}, {n}, {d})"
    for i, (n, d) in enumerate(_AR_BUCKETS)
)

_DIMS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ]
)


def _dims_run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched GIF decode of each doc's payload to (doc_id, w, h)
    — a STATELESS stage, so it runs identically under mapInPandas on a
    batch DataFrame and inside a streaming microbatch (the twin)."""
    pal = _palette()
    for pdf in batches:
        rows = []
        for doc_id in pdf["doc_id"].values:
            doc_id = int(doc_id)
            w, h = 8 + doc_id % 9, 8 + doc_id % 7
            idx = _fixture_indices(doc_id, 0, w, h)
            blob = encode_gif([(idx, 0)], pal, interlace=bool(doc_id % 2))
            dec = decode_gif(blob)
            rows.append((doc_id, dec["width"], dec["height"]))
        yield pd.DataFrame(rows, columns=["doc_id", "w", "h"])


def _decoded_dims(spark, sf_dir):
    """Per-doc (doc_id, w, h) DECODED from each doc's GIF payload via
    the real codec — the shared front half of the aspect-ratio router
    and the batch-formation query (VERDICT r15 #2: the router consumes
    decoder output, not a synthetic column)."""
    return (
        spread(table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id")
        .mapInPandas(_dims_run, schema=_DIMS_SCHEMA)
    )


def _bucket_key():
    """The exact-integer nearest-bucket argmin over (w, h) columns."""
    keys = ", ".join(
        f"struct(abs(w * {d} - h * {n}) * {_AR_D_PROD // d} AS k,"
        f" {i} AS i, {n} AS n, {d} AS d)"
        for i, (n, d) in enumerate(_AR_BUCKETS)
    )
    return F.expr(f"array_min(array({keys}))")


_ASPECT_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
),
keyed AS (
  SELECT doc_id, w, h,
         list_sort([{_AR_KEYS_SQL}])[1] AS best
  FROM dims
)
SELECT cast(best[2] AS INTEGER) AS bucket,
       cast(best[3] AS INTEGER) AS ar_n,
       cast(best[4] AS INTEGER) AS ar_d,
       cast(count(*) AS BIGINT) AS n_images,
       cast(sum(w * 1000 // h) AS BIGINT) // count(*) AS mean_ar_milli,
       cast(min(w * 1000 // h) AS BIGINT) AS min_ar_milli,
       cast(max(w * 1000 // h) AS BIGINT) AS max_ar_milli
FROM keyed
GROUP BY 1, 2, 3
ORDER BY bucket
"""


@register(
    "mm_aspect_bucket_sampling",
    oracle=_ASPECT_ORACLE,
    tags=("multimodal", "image", "sample"),
)
def mm_aspect_bucket_sampling(spark, sf_dir):
    """Per-bucket report of the aspect-ratio router: bucket identity
    (index + exact n:d ratio), image count, and exact integer
    mean/min/max milli-aspect of the routed images.

    r16 (VERDICT r15 #2): the routed width/height are DECODER OUTPUT —
    each doc's GIF payload goes through the real codec and
    ``decode_gif``'s parsed logical-screen dims feed the bucket argmin,
    wiring the router to the decoder the way a LAION-style pipeline
    routes decoded crawl images (the r15 version routed a synthetic
    doc_id-derived column). The ladder and the exact-integer report are
    unchanged; the oracle's closed-form dims equal the decoded dims by
    the fixture roundtrip identity that mm_image_gif_decode pins."""
    best = _decoded_dims(spark, sf_dir).select(
        "w", "h", _bucket_key().alias("best")
    )
    return (
        best.groupBy(
            F.col("best.i").cast("int").alias("bucket"),
            F.col("best.n").cast("int").alias("ar_n"),
            F.col("best.d").cast("int").alias("ar_d"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.expr("sum(w * 1000 div h) div count(1)")
            .cast("long")
            .alias("mean_ar_milli"),
            F.expr("min(w * 1000 div h)").cast("long").alias("min_ar_milli"),
            F.expr("max(w * 1000 div h)").cast("long").alias("max_ar_milli"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Aspect-bucket BATCH FORMATION — the second half of the SDXL/LAION
# router: within each (bucket, shard), images are packed into fixed-size
# batches in deterministic doc order and PARTIAL batches are dropped
# (exactly what an image trainer's homogeneous-shape batcher does).
# ``shard`` models the data-parallel worker (doc_id % _BATCH_SHARDS):
# batches are formed PER SHARD, which is both the real trainer semantics
# (each rank batches its own stream) and the scale story — the window
# partition count is (buckets x shards) and shards are set to the
# cluster's worker count at deploy, so no near-global sort ever forms.
# --------------------------------------------------------------------------

_BATCH_SIZE = 8
_BATCH_SHARDS = 16

_BATCH_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents
),
keyed AS (
  SELECT doc_id, list_sort([{_AR_KEYS_SQL}])[1] AS best,
         doc_id % {_BATCH_SHARDS} AS shard
  FROM dims
),
slotted AS (
  SELECT doc_id, cast(best[2] AS INTEGER) AS bucket, shard,
         row_number() OVER (PARTITION BY best[2], shard ORDER BY doc_id)
           - 1 AS rn
  FROM keyed
),
batches AS (
  SELECT bucket, shard, rn // {_BATCH_SIZE} AS batch_id,
         cast(count(*) AS BIGINT) AS bsz,
         cast(sum(doc_id) AS BIGINT) AS sdoc
  FROM slotted GROUP BY 1, 2, 3
)
SELECT bucket,
       cast(sum(CASE WHEN bsz = {_BATCH_SIZE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_batches,
       cast(sum(CASE WHEN bsz = {_BATCH_SIZE} THEN bsz ELSE 0 END) AS BIGINT)
         AS n_packed,
       cast(sum(CASE WHEN bsz < {_BATCH_SIZE} THEN bsz ELSE 0 END) AS BIGINT)
         AS n_dropped,
       cast(sum(CASE WHEN bsz = {_BATCH_SIZE}
                THEN sdoc * (batch_id + 1) ELSE 0 END) AS BIGINT)
         AS pack_checksum
FROM batches GROUP BY bucket ORDER BY bucket
"""


@register(
    "mm_aspect_batch_formation",
    oracle=_BATCH_ORACLE,
    tags=("multimodal", "image", "sample"),
)
def mm_aspect_batch_formation(spark, sf_dir):
    """Per-bucket batch-formation report over DECODED dims: full
    batches formed, images packed, partial-batch images dropped, and an
    exact position-weighted packing checksum (sum over full batches of
    batch-doc-id-sum x (batch_id + 1)) that pins batch CONTENTS, not
    just counts."""
    from pyspark.sql import Window

    keyed = _decoded_dims(spark, sf_dir).select(
        "doc_id",
        _bucket_key().alias("best"),
        (F.col("doc_id") % _BATCH_SHARDS).alias("shard"),
    )
    win = Window.partitionBy(F.col("best.i"), "shard").orderBy("doc_id")
    slotted = keyed.select(
        "doc_id",
        F.col("best.i").cast("int").alias("bucket"),
        "shard",
        (F.row_number().over(win) - 1).alias("rn"),
    )
    batches = (
        slotted.withColumn("batch_id", F.expr(f"rn div {_BATCH_SIZE}"))
        .groupBy("bucket", "shard", "batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bsz"),
            F.sum("doc_id").cast("long").alias("sdoc"),
        )
    )
    full = F.col("bsz") == _BATCH_SIZE
    return (
        batches.groupBy("bucket")
        .agg(
            F.sum(F.when(full, 1).otherwise(0))
            .cast("long")
            .alias("n_full_batches"),
            F.sum(F.when(full, F.col("bsz")).otherwise(0))
            .cast("long")
            .alias("n_packed"),
            F.sum(F.when(~full, F.col("bsz")).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(
                F.when(full, F.col("sdoc") * (F.col("batch_id") + 1)).otherwise(0)
            )
            .cast("long")
            .alias("pack_checksum"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Partial-frame compositing (r16: closes the gate the module docstring
# documents). GIF89a animation semantics split cleanly into two reads:
#
#   frame EXTRACTION (``decode_gif`` above) — every frame as a stored
#     full raster; transparency parsed-and-ignored. The dedup /
#     frame-sampling read; gated to full-raster streams.
#   screen COMPOSITING (``decode_gif_composited``) — the player's read:
#     each image descriptor paints its (left, top, fw, fh) rect onto the
#     logical-screen canvas, GCE transparency leaves the underlying
#     canvas pixel, and the frame's disposal method decides the canvas
#     the NEXT frame composites over (1 = leave, 2 = restore the rect to
#     the background palette entry, 3 = restore the pre-frame canvas).
#
# The composited decoder is what a thumbnail/preview or a perceptual-
# hash-per-displayed-frame stage needs; extraction stays the dedup path.
# --------------------------------------------------------------------------


def encode_gif_frames(w: int, h: int, specs, palette) -> bytes:
    """Encode animation frames with full GIF89a placement semantics.
    Each spec is ``(indices_2d, left, top, delay_cs, disposal,
    transparent_idx_or_None)``; ``indices_2d`` may be any rect that fits
    the (w, h) logical screen."""
    import numpy as np

    n = len(palette)
    if n & (n - 1) or n < 2:
        raise ValueError("palette size must be a power of two >= 2")
    bits = n.bit_length() - 1
    mcs = max(bits, 2)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out.append(0x80 | (7 << 4) | (bits - 1))
    out += bytes([0, 0])  # background index 0, no aspect byte
    for r, g, b in palette:
        out += bytes([r, g, b])
    for idx, left, top, delay_cs, disposal, trans in specs:
        fh, fw = idx.shape
        if left + fw > w or top + fh > h:
            raise ValueError("frame rect exceeds the logical screen")
        if not 0 <= disposal <= 3:
            raise ValueError("disposal method must be 0..3")
        packed = (disposal << 2) | (1 if trans is not None else 0)
        out += b"\x21\xf9\x04" + bytes([packed])
        out += int(delay_cs).to_bytes(2, "little")
        out += bytes([trans if trans is not None else 0, 0])
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
        out.append(0x00)  # no LCT, not interlaced
        data = _lzw_encode(np.asarray(idx, dtype=np.uint8).ravel(), mcs)
        out.append(mcs)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def decode_gif_composited(payload: bytes) -> dict:
    """Decode a GIF87a/89a stream into COMPOSITED logical-screen frames
    (the displayed states), honoring image-descriptor rects, GCE
    transparency, and disposal methods 1 (none) / 2 (restore rect to the
    background palette entry) / 3 (restore the pre-frame canvas).
    Returns the same dict shape as ``decode_gif``."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (header magic missing)")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(
            payload[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        pos += 3 * n
    canvas = None  # h x w x 3, lazily seeded from the background entry
    frames: list = []
    delays: list[int] = []
    delay, disposal, trans = 0, 0, None
    while True:
        if pos >= len(payload):
            raise ValueError("GIF truncated (no trailer)")
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            label = payload[pos]
            pos += 1
            data, pos = _sub_blocks(payload, pos)
            if label == 0xF9 and len(data) >= 4:
                delay = int.from_bytes(data[1:3], "little")
                disposal = (data[0] >> 2) & 0x7
                trans = data[3] if data[0] & 1 else None
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        left = int.from_bytes(payload[pos : pos + 2], "little")
        top = int.from_bytes(payload[pos + 2 : pos + 4], "little")
        fw = int.from_bytes(payload[pos + 4 : pos + 6], "little")
        fh = int.from_bytes(payload[pos + 6 : pos + 8], "little")
        fpacked = payload[pos + 8]
        pos += 9
        if left + fw > w or top + fh > h:
            raise ValueError("frame rect exceeds the logical screen")
        ct = gct
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            ct = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("no color table for frame")
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 8:
            raise ValueError("illegal LZW min code size")
        data, pos = _sub_blocks(payload, pos)
        idx = np.frombuffer(
            _lzw_decode(data, mcs, fw * fh), dtype=np.uint8
        ).reshape(fh, fw)
        if fpacked & 0x40:
            inv = np.empty(fh, dtype=np.int64)
            inv[_interlace_order(fh)] = np.arange(fh)
            idx = idx[inv, :]
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("palette index out of range")
        if canvas is None:
            if bg_index >= len(ct):
                raise ValueError("background index out of range")
            canvas = np.broadcast_to(
                ct[bg_index], (h, w, 3)
            ).copy()
        saved = canvas[top : top + fh, left : left + fw].copy()
        rect = canvas[top : top + fh, left : left + fw]
        painted = ct[idx]
        if trans is None:
            rect[:, :] = painted
        else:
            opaque = idx != trans
            rect[opaque] = painted[opaque]
        frames.append(canvas.copy())
        delays.append(delay)
        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = ct[bg_index]
        elif disposal == 3:
            canvas[top : top + fh, left : left + fw] = saved
        delay, disposal, trans = 0, 0, None
    if not frames:
        raise ValueError("GIF holds no image data")
    return {
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "frames": frames,
        "delays_cs": delays,
    }


# Fixture: three frames exercising every compositing mechanism at once —
# frame 0 full-raster (disposal 1 on even docs, 2 = restore-to-background
# on odd docs, so the two pre-frame-1 canvases differ), frame 1 a partial
# (w//2, h//2) rect at (1 + doc%3, 1 + doc%2) whose every third pixel is
# TRANSPARENT (index 63, letting the canvas show through) with disposal 3
# (restore-to-previous, so frame 2 composites over the pre-frame-1
# canvas), frame 2 repainting row 0. The position-weighted wsum_px pins
# rect PLACEMENT, not just painted values.

_COMPOSITE_T = 63  # transparent palette index used by frame 1


def _composite_pal(e: str, m: int, a: int) -> str:
    return f"(({e}) * {m} + {a}) % 256"


def _composite_ch(m: int, a: int) -> str:
    e0 = "(doc_id*3 + j*7) % 64"
    # pal(0) = (1, 3, 7): the restore-to-background fill on odd docs
    pre1 = (
        f"CASE WHEN doc_id % 2 = 0 THEN {_composite_pal(e0, m, a)} "
        f"ELSE {a} END"
    )
    e1 = "(doc_id*5 + u*11) % 63"
    f1 = (
        f"CASE WHEN inside AND u % 3 <> 0 "
        f"THEN {_composite_pal(e1, m, a)} ELSE {pre1} END"
    )
    e2 = "(doc_id*7 + c*5) % 64"
    f2 = f"CASE WHEN r = 0 THEN {_composite_pal(e2, m, a)} ELSE {pre1} END"
    return (
        f"CASE WHEN f = 0 THEN {_composite_pal(e0, m, a)} "
        f"WHEN f = 1 THEN {f1} ELSE {f2} END"
    )


_GIF_COMPOSITE_ORACLE = f"""
SELECT doc_id, cast(f AS INTEGER) AS frame,
       cast(10 + f * 3 AS INTEGER) AS delay_cs,
       cast(sum(pr + pg + pb) AS BIGINT) AS sum_px,
       cast(sum((r + 1) * (c + 1) * (pr + pg + pb)) AS BIGINT) AS wsum_px,
       cast(min(least(pr, pg, pb)) AS BIGINT) AS min_px,
       cast(max(greatest(pr, pg, pb)) AS BIGINT) AS max_px
FROM (
  SELECT doc_id, f, r, c,
         {_composite_ch(5, 1)} AS pr,
         {_composite_ch(11, 3)} AS pg,
         {_composite_ch(23, 7)} AS pb
  FROM (
    SELECT doc_id, f, j, r, c,
           (r >= top AND r < top + fh
            AND c >= left_ AND c < left_ + fw) AS inside,
           (r - top) * fw + (c - left_) AS u
    FROM (
      SELECT doc_id, f, j, j // w AS r, j % w AS c,
             1 + doc_id % 3 AS left_, 1 + doc_id % 2 AS top,
             w // 2 AS fw, h // 2 AS fh
      FROM (
        SELECT doc_id, f, w, h, unnest(range(w * h)) AS j
        FROM (
          SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
                 unnest(range(3)) AS f
          FROM documents
        ) g0
      ) g1
    ) g2
  ) g3
) px
GROUP BY doc_id, f
"""


def _composite_specs(doc: int, w: int, h: int):
    import numpy as np

    j = np.arange(w * h, dtype=np.int64)
    idx0 = ((doc * 3 + j * 7) % 64).astype(np.uint8).reshape(h, w)
    fw, fh = w // 2, h // 2
    left, top = 1 + doc % 3, 1 + doc % 2
    u = np.arange(fw * fh, dtype=np.int64)
    idx1 = (
        np.where(u % 3 == 0, _COMPOSITE_T, (doc * 5 + u * 11) % 63)
        .astype(np.uint8)
        .reshape(fh, fw)
    )
    c = np.arange(w, dtype=np.int64)
    idx2 = ((doc * 7 + c * 5) % 64).astype(np.uint8).reshape(1, w)
    return [
        (idx0, 0, 0, 10, 1 if doc % 2 == 0 else 2, None),
        (idx1, left, top, 13, 3, _COMPOSITE_T),
        (idx2, 0, 0, 16, 0, None),
    ]


@register(
    "mm_gif_composite_frames",
    oracle=_GIF_COMPOSITE_ORACLE,
    tags=("multimodal", "image", "video"),
)
def mm_gif_composite_frames(spark, sf_dir):
    """Composited (displayed-state) GIF frame extraction: partial-frame
    rects, per-third-pixel transparency, and disposal methods 1/2/3 all
    sit on the checked path — one output row per composited screen state
    with exact integer pixel stats, the preview/perceptual-hash shape
    (``decode_gif`` stays the stored-raster dedup read)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame", T.IntegerType()),
            T.StructField("delay_cs", T.IntegerType()),
            T.StructField("sum_px", T.LongType()),
            T.StructField("wsum_px", T.LongType()),
            T.StructField("min_px", T.LongType()),
            T.StructField("max_px", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pal = _palette()
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].values:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                blob = encode_gif_frames(
                    w, h, _composite_specs(doc_id, w, h), pal
                )
                dec = decode_gif_composited(blob)
                rr = (np.arange(h, dtype=np.int64) + 1)[:, None]
                cc = (np.arange(w, dtype=np.int64) + 1)[None, :]
                for f in range(dec["n_frames"]):
                    px = dec["frames"][f].astype(np.int64)
                    s = px.sum(axis=2)
                    rows.append(
                        (
                            doc_id,
                            f,
                            dec["delays_cs"][f],
                            int(s.sum()),
                            int((rr * cc * s).sum()),
                            int(px.min()),
                            int(px.max()),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    d = spread(table(spark, sf_dir, "documents"), "doc_id").select("doc_id")
    return d.mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# Streaming twin of the batch former (r16 late wave): the nightly-ingest
# deployment shape of mm_aspect_batch_formation. Decoded dims and the
# bucket argmin run STATELESS inside each microbatch (the same
# ``_dims_run`` / ``_bucket_key`` the batch query uses — the ladders
# cannot drift), then ``applyInPandasWithState`` keyed on (bucket, shard)
# carries the trainer's real state: the partial batch pending at each
# rank. Doc order across microbatches is arrival order, so the input is
# staged as doc_id RANGE bands with pinned mtimes (FileStreamSource
# orders by modification time) — incremental packing in arrival order is
# then EXACTLY the batch query's global-doc-order packing, and the
# leftover pending docs at stream end are the dropped partials. Each
# update emits the key's cumulative counters under a state sequence
# number; the rollup takes the last emission per key (max seq) and sums
# per bucket, matching the batch oracle bit-for-bit.
# --------------------------------------------------------------------------

_TWIN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("n_full", T.LongType()),
        T.StructField("n_packed", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("pending", T.ArrayType(T.LongType())),
    ]
)

_TWIN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("n_full", T.LongType()),
        T.StructField("n_packed", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("n_pending", T.LongType()),
    ]
)


def _batch_former_update(key, pdfs, state):
    """Per-(bucket, shard) stateful batch former: append this
    microbatch's doc_ids (sorted — within a range band any arrival
    permutation is legal), cut full batches, keep the partial pending.
    ``n_full`` doubles as the 1-based id of the batch just cut, so the
    checksum term is sum(batch) * batch_id exactly as the batch query
    computes it."""
    import pandas as pd

    if state.exists:
        seq, n_full, n_packed, checksum, pending = state.get
        pending = list(pending)
    else:
        seq, n_full, n_packed, checksum, pending = 0, 0, 0, 0, []
    docs: list[int] = []
    for pdf in pdfs:
        docs.extend(int(x) for x in pdf["doc_id"].values)
    docs.sort()
    pending.extend(docs)
    while len(pending) >= _BATCH_SIZE:
        batch, pending = pending[:_BATCH_SIZE], pending[_BATCH_SIZE:]
        n_full += 1
        n_packed += _BATCH_SIZE
        checksum += sum(batch) * n_full
    seq += 1
    state.update((seq, n_full, n_packed, checksum, pending))
    yield pd.DataFrame(
        [
            (
                int(key[0]),
                int(key[1]),
                seq,
                n_full,
                n_packed,
                checksum,
                len(pending),
            )
        ],
        columns=[f.name for f in _TWIN_OUT_SCHEMA],
    )


@register(
    "stream_aspect_batch_twin",
    oracle=_BATCH_ORACLE,
    tags=("streaming", "multimodal", "image", "stateful"),
    # promoted r16b under the cap-34 swap policy: heaviest non-headline
    # (8.8 s sf0.1, x2.4 at 10x) — the stateful multi-microbatch stream
    # lifecycle is the plan shape the headline set was missing;
    # stream_tumbling_twin demoted in exchange.
    bench=True,
)
def stream_aspect_batch_twin(spark, sf_dir):
    """Streaming (availableNow, multi-microbatch) twin of
    ``mm_aspect_batch_formation``: decode + route per microbatch,
    stateful per-(bucket, shard) batch formation across microbatches,
    partials dropped at stream end — same oracle as the batch query."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    docs = spread(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id"
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    banded = docs.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        F.least(
            F.col("doc_id") * 3 / (F.col("mx") + 1), F.lit(2)
        )
        .cast("int")
        .alias("band"),
    )
    with staged_stream(spark, banded, "band", (0, 1, 2)) as (stream, nbytes):
        # Each microbatch is ONE staged file = one scan partition, so
        # without a redistribution the whole band's GIF encode+decode
        # runs serially in a single Python task (r16 profile: ~9 s of
        # wall inside the stream run, ~0.4 s everywhere else). One tiny
        # hash exchange of the doc_id column fans the decode out to the
        # session's full parallelism (guide §2.5: deterministic key, not
        # round-robin, so microbatch retries re-place rows identically;
        # the batch former sorts within (key, microbatch), so in-band
        # arrival order is irrelevant — same oracle).
        try:
            width = spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: keep source partitioning
            width = None
        spread_stream = (
            stream.repartition(width, "doc_id") if width else stream
        )
        keyed = (
            spread_stream.mapInPandas(_dims_run, schema=_DIMS_SCHEMA)
            .select("doc_id", _bucket_key().alias("best"))
            .select(
                "doc_id",
                F.col("best.i").cast("int").alias("bucket"),
                (F.col("doc_id") % _BATCH_SHARDS)
                .cast("int")
                .alias("shard"),
            )
        )
        formed = keyed.groupBy("bucket", "shard").applyInPandasWithState(
            _batch_former_update,
            outputStructType=_TWIN_OUT_SCHEMA,
            stateStructType=_TWIN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # state width input-sized from the staged band files (the stream's
        # exact input): the (bucket, shard) key space is bounded at
        # len(_AR_BUCKETS) * _BATCH_SHARDS, so kilobyte-scale inputs get a
        # 1-partition store instead of a core-count fan-out of empty
        # state commits (see run_to_memory's sizing note).
        sunk = run_to_memory(spark, formed, output_mode="update", input_bytes=nbytes)
    final = (
        sunk.groupBy("bucket", "shard")
        .agg(
            F.max_by(
                F.struct("n_full", "n_packed", "checksum", "n_pending"),
                "seq",
            ).alias("last")
        )
        .groupBy("bucket")
        .agg(
            F.sum("last.n_full").cast("long").alias("n_full_batches"),
            F.sum("last.n_packed").cast("long").alias("n_packed"),
            F.sum("last.n_pending").cast("long").alias("n_dropped"),
            F.sum("last.checksum").cast("long").alias("pack_checksum"),
        )
        .orderBy("bucket")
    )
    return final
