"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed through Arrow-batched ``mapInPandas``.

Metadata extraction is REAL across the three modalities, stdlib-only:
:func:`parse_media_header` decodes PNG / JPEG / GIF / BMP / WebP image
dimensions, :func:`parse_audio_header` decodes WAV channel/rate/bits/
duration from the RIFF chunk list, and :func:`parse_video_header` walks
ISO-BMFF (MP4) boxes for track dimensions and mvhd duration. Payloads in
any other format come back honestly as ``format='unknown'`` with NULL
fields — never fake numbers.

Pixel-level decode (r10): PNG is fully decoded stdlib-only —
:func:`decode_png_pixels` inflates IDAT with ``zlib`` and undoes all five
scanline filters for color types 0/2/3/4/6 at bit depth 8, and
:func:`box_resize_pixels` resamples with an integer-exact box filter, so
:func:`resize_media` is a REAL kernel for PNG inputs. Other formats'
pixel/sample kernels (JPEG entropy decode, audio resample, video
frame-sample) need libs not present in this container and remain
clearly-marked stubs; everything Spark-side is real and tested either
way: binary column handling, explicit output schemas, Arrow batch
iteration, and partition-parallel execution.

Scale notes: payloads travel as parquet binary columns; mapInPandas streams
Arrow record batches so executor memory holds one batch of payloads, not a
partition of decoded frames. Batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` for wide media rows.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..execution import spread

#: Typed metadata produced by the header decoder.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

#: JPEG start-of-frame markers that carry dimensions: SOF0..SOF15 minus the
#: non-frame C4 (DHT), C8 (JPG extension), CC (DAC).
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_media_header(b: bytes) -> tuple[str, int | None, int | None]:
    """Decode (format, width, height) from a media payload's header bytes.

    Pure stdlib parsing of the five ubiquitous fixed-header image formats:

    - PNG: 8-byte signature, then the IHDR chunk's big-endian u32 pair.
    - GIF (87a/89a): logical-screen little-endian u16 pair at offset 6.
    - JPEG: walk the marker segments (skipping APPn/EXIF/DHT/etc.) to the
      first start-of-frame marker; height/width are big-endian u16 at
      offsets 5/7 of the SOF payload. Handles baseline (SOF0) through
      progressive (SOF2) and the rest of the SOF family.
    - BMP: BITMAPINFOHEADER little-endian i32 pair at offset 18 (height is
      negative for top-down rows — dimensions report the magnitude).
    - WebP: all three container layouts — VP8 lossy (sync-coded 14-bit
      dims), VP8L lossless (packed minus-one dims), VP8X extended
      (24-bit little-endian canvas, minus-one coded).

    Anything else — truncated headers included — returns
    ``('unknown', None, None)``; callers surface that explicitly rather
    than inventing dimensions.
    """
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h)
    if len(b) >= 26 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        return ("bmp", abs(w), abs(h))
    if len(b) >= 16 and b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        sub = b[12:16]
        if sub == b"VP8 " and len(b) >= 30 and b[23:26] == b"\x9d\x01\x2a":
            # lossy: 3-byte frame tag, sync code, then 14-bit LE dims
            w = struct.unpack("<H", b[26:28])[0] & 0x3FFF
            h = struct.unpack("<H", b[28:30])[0] & 0x3FFF
            return ("webp", w, h)
        if sub == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
            bits = struct.unpack("<I", b[21:25])[0]
            return ("webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
        if sub == b"VP8X" and len(b) >= 30:
            # extended: 24-bit LE canvas dims, minus-one coded
            w = int.from_bytes(b[24:27], "little") + 1
            h = int.from_bytes(b[27:30], "little") + 1
            return ("webp", w, h)
        return ("unknown", None, None)
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:  # lost marker sync: corrupt stream
                break
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte, resynchronize
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length field
                continue
            if marker == 0xD9 or marker == 0xDA:
                break  # EOI / start-of-scan before any SOF: no dimensions
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if seg_len < 2:
                break
            if marker in _JPEG_SOF:
                if i + 9 > len(b) or seg_len < 7:
                    break
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return ("jpeg", w, h)
            i += 2 + seg_len
    return ("unknown", None, None)


#: PNG color type → samples per pixel (8-bit depth). Type 3 is
#: palette-indexed: one index byte per pixel, expanded to RGB via PLTE.
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png_pixels(b: bytes):
    """REAL stdlib PNG pixel decode: returns a ``numpy.uint8`` array of
    shape ``(height, width, channels)``, or ``None`` for anything this
    decoder does not cover (non-PNG, bit depths ≠ 8, interlaced images,
    truncated streams).

    Pure stdlib: chunk walk → ``zlib`` inflate of the concatenated IDAT
    stream → per-row unfilter (all five PNG filter types 0–4) → palette
    expansion for color type 3. Covers color types 0 (gray), 2 (RGB),
    3 (palette→RGB), 4 (gray+alpha), 6 (RGBA) at bit depth 8, the
    overwhelming bulk of real-world PNGs.

    Tolerances, chosen deliberately for a data-pipeline fast path: chunk
    CRCs are NOT validated (skipped, as fast decoders do), and the zlib
    stream is inflated via ``decompressobj`` so a missing/absent trailing
    adler32 does not fail the decode — encoder-produced streams with a
    correct adler pass through identically. Corrupt pixel DATA still
    fails closed (returns ``None``), never fabricates pixels.
    """
    import zlib

    import numpy as np

    if len(b) < 45 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    w = h = None
    bitd = ctype = interlace = None
    idat = bytearray()
    plte = None
    i = 8
    while i + 8 <= len(b):
        clen = struct.unpack(">I", b[i : i + 4])[0]
        ctyp = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + clen]
        if len(data) < clen:
            return None  # truncated chunk
        if ctyp == b"IHDR":
            if clen < 13:
                return None
            w, h = struct.unpack(">II", data[:8])
            bitd, ctype, _comp, _filt, interlace = data[8:13]
        elif ctyp == b"PLTE":
            plte = np.frombuffer(data[: (clen // 3) * 3], np.uint8).reshape(-1, 3)
        elif ctyp == b"IDAT":
            idat += data
        elif ctyp == b"IEND":
            break
        i += 12 + clen  # length + type + data + crc (crc not validated)
    if not w or not h or bitd != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
        return None
    if ctype == 3 and plte is None:
        return None
    bpp = _PNG_CHANNELS[ctype]
    stride = w * bpp
    try:
        raw = zlib.decompressobj().decompress(bytes(idat))
    except zlib.error:
        return None
    if len(raw) < h * (1 + stride):
        return None
    out = np.empty((h, stride), np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        row = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int64)
        pos += 1 + stride
        up = out[y - 1].astype(np.int64) if y else np.zeros(stride, np.int64)
        if f == 0:
            rec = row
        elif f == 2:  # Up
            rec = row + up
        elif f == 1:  # Sub: per-lane cumulative sum (mod 256 distributes)
            rec = row.reshape(w, bpp).cumsum(axis=0).reshape(stride)
        elif f in (3, 4):  # Average / Paeth: left-dependency, walk pixels
            lanes = row.reshape(w, bpp)
            ulanes = up.reshape(w, bpp)
            rec2 = np.empty((w, bpp), np.int64)
            left = np.zeros(bpp, np.int64)
            ul = np.zeros(bpp, np.int64)
            for x in range(w):
                if f == 3:
                    pred = (left + ulanes[x]) // 2
                else:
                    p = left + ulanes[x] - ul
                    pa = np.abs(p - left)
                    pb = np.abs(p - ulanes[x])
                    pc = np.abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, ulanes[x], ul)
                    )
                left = (lanes[x] + pred) & 255
                ul = ulanes[x]
                rec2[x] = left
            rec = rec2.reshape(stride)
        else:
            return None
        out[y] = (rec & 255).astype(np.uint8)
    img = out.reshape(h, w, bpp)
    if ctype == 3:
        if int(img[:, :, 0].max(initial=0)) >= len(plte):
            return None  # index past the palette: corrupt, fail closed
        img = plte[img[:, :, 0]]
    return img


def decode_bmp_pixels(b: bytes):
    """REAL stdlib BMP pixel decode: returns ``numpy.uint8`` of shape
    ``(height, width, channels)`` in RGB(A) order, or ``None`` for
    variants this decoder does not cover.

    BMP pixel data is UNCOMPRESSED (BI_RGB), so decode is pure indexing:
    BITMAPINFOHEADER dims, pixel array at ``bfOffBits``, rows padded to
    4-byte boundaries, bottom-up for positive heights (top-down for
    negative), BGR(A) byte order flipped to RGB(A). Covers 24-bit RGB,
    32-bit RGBA, and 8-bit palette images; compressed (RLE) or 1/4/16-bit
    variants return ``None`` — fail closed, never fabricate pixels.
    """
    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        return None
    off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    if hdr_size < 40:
        return None
    w, h_raw = struct.unpack("<ii", b[18:26])
    planes, bpp = struct.unpack("<HH", b[26:30])
    comp = struct.unpack("<I", b[30:34])[0]
    if w <= 0 or h_raw == 0 or planes != 1 or comp != 0:
        return None
    h = abs(h_raw)
    top_down = h_raw < 0
    if bpp == 8:
        n_colors = struct.unpack("<I", b[46:50])[0] or 256
        pal_off = 14 + hdr_size
        if n_colors > 256 or pal_off + n_colors * 4 > len(b):
            return None  # implausible/truncated palette: fail closed
        pal = np.frombuffer(b, np.uint8, n_colors * 4, pal_off).reshape(-1, 4)
        palette = pal[:, [2, 1, 0]]  # BGRX -> RGB
        nch_in, nch_out = 1, 3
    elif bpp in (24, 32):
        palette = None
        nch_in = nch_out = bpp // 8
    else:
        return None
    stride = (w * nch_in + 3) & ~3  # rows pad to 4-byte boundaries
    if off + stride * h > len(b):
        return None
    rows = np.frombuffer(b, np.uint8, stride * h, off).reshape(h, stride)
    img = rows[:, : w * nch_in].reshape(h, w, nch_in)
    if not top_down:
        img = img[::-1]
    if palette is not None:
        if int(img[:, :, 0].max(initial=0)) >= len(palette):
            return None  # index past the palette: corrupt, fail closed
        return palette[img[:, :, 0]].copy()
    # BGR(A) -> RGB(A)
    order = [2, 1, 0] if nch_out == 3 else [2, 1, 0, 3]
    return img[:, :, order].copy()


def _gif_lzw_decode(data: bytes, min_code: int, max_pixels: int):
    """GIF-variant LZW decode (LSB-first variable-width codes, clear/end
    codes, deferred-clear tolerant). Returns index bytes or ``None`` on a
    corrupt stream."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    table = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = {i: bytes([i]) for i in range(clear)}
                next_code = end + 1
                width = min_code + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
            else:
                if code in table:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]  # the KwKwK case
                else:
                    return None
                if next_code < 4096:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
                    if next_code == (1 << width) and width < 12:
                        width += 1
            out += entry
            prev = entry
            if len(out) >= max_pixels:
                return bytes(out[:max_pixels])
    return bytes(out)


def decode_gif_pixels(b: bytes):
    """REAL stdlib GIF pixel decode: first image frame as ``numpy.uint8``
    of shape ``(height, width, 3)`` (palette-expanded RGB), or ``None``
    for anything not covered.

    Full LZW decompression (:func:`_gif_lzw_decode`) plus container walk:
    logical screen descriptor, global/local color tables, extension-block
    skipping, sub-block reassembly. Interlaced frames and corrupt streams
    return ``None`` — fail closed, never fabricate pixels. Animation is
    out of scope: the FIRST frame is the image (matching what thumbnail
    pipelines use)."""
    import numpy as np

    try:
        if len(b) < 14 or b[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        packed = b[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 ** ((packed & 7) + 1)
            if pos + 3 * n > len(b):
                return None
            gct = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(-1, 3)
            pos += 3 * n
        while pos < len(b):
            intro = b[pos]
            if intro == 0x21:  # extension: label byte + sub-blocks
                pos += 2
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif intro == 0x2C:  # image descriptor
                if pos + 10 > len(b):
                    return None
                _, _, iw, ih = struct.unpack("<HHHH", b[pos + 1 : pos + 9])
                ipacked = b[pos + 9]
                pos += 10
                if ipacked & 0x40 or not iw or not ih:
                    return None  # interlace unsupported: fail closed
                table = gct
                if ipacked & 0x80:
                    n = 2 ** ((ipacked & 7) + 1)
                    if pos + 3 * n > len(b):
                        return None
                    table = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(-1, 3)
                    pos += 3 * n
                if table is None or pos >= len(b):
                    return None
                min_code = b[pos]
                pos += 1
                if not 2 <= min_code <= 11:
                    return None
                data = bytearray()
                while pos < len(b) and b[pos] != 0:
                    sz = b[pos]
                    data += b[pos + 1 : pos + 1 + sz]
                    pos += 1 + sz
                idx = _gif_lzw_decode(bytes(data), min_code, iw * ih)
                if idx is None or len(idx) < iw * ih:
                    return None
                arr = np.frombuffer(idx, np.uint8, iw * ih).reshape(ih, iw)
                if int(arr.max(initial=0)) >= len(table):
                    return None  # index past the palette: fail closed
                return table[arr].copy()
            elif intro == 0x3B:
                return None  # trailer before any image frame
            else:
                return None
        return None
    except (struct.error, IndexError, ValueError):
        return None


def box_resize_pixels(img, target_w: int, target_h: int):
    """Integer-exact box-filter resample: output pixel (i, j) is the
    round-half-up mean of the source box ``rows [i*h//th, max((i+1)*h//th,
    +1)) × cols [j*w//tw, ...)``. Implemented with an int64 integral image
    — one O(h·w) pass then O(th·tw) box sums, no per-pixel Python loop,
    bit-deterministic on every platform (pure integer arithmetic)."""
    import numpy as np

    h, w, c = img.shape
    ii = np.zeros((h + 1, w + 1, c), np.int64)
    ii[1:, 1:] = img.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    ys = np.arange(target_h + 1) * h // target_h
    xs = np.arange(target_w + 1) * w // target_w
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    box = (
        ii[np.ix_(y1, x1)] - ii[np.ix_(y0, x1)] - ii[np.ix_(y1, x0)] + ii[np.ix_(y0, x0)]
    )
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[..., None]
    return ((2 * box + area) // (2 * area)).astype(np.uint8)


def attach_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the opaque binary media column (here: utf-8 bytes of the text —
    a stand-in payload with the same Spark-side shape as real media).
    Spread across the cluster so the Python decode workers run in parallel
    even when the input arrives as one small file."""

    return spread(docs, "doc_id").withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_media_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow-batched): size and
    content hash for every payload, plus REAL header-decoded format and
    dimensions (:func:`parse_media_header`; NULL dims for formats the
    header parser doesn't cover — explicit, never fabricated)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            meta = [parse_media_header(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "sha256": payloads.map(lambda p: hashlib.sha256(bytes(p)).hexdigest()),
                    "format": [m[0] for m in meta],
                    "width": pd.Series([m[1] for m in meta], dtype="Int32"),
                    "height": pd.Series([m[2] for m in meta], dtype="Int32"),
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(batches, MEDIA_META_SCHEMA)


def resize_media(
    docs_with_payload: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Image-resize kernel: payload → fixed-size resized payload +
    before/after dims, Arrow-batched through ``mapInPandas``.

    PNG and BMP payloads take the REAL path (r10):
    :func:`decode_png_pixels` (stdlib zlib inflate + per-row unfilter) or
    :func:`decode_bmp_pixels` (uncompressed BGR(A)/palette indexing),
    then :func:`box_resize_pixels` (integer-exact box-filter mean) — rows
    come back with ``decoded = true``, ``channels`` from the image,
    ``resized`` holding ``target_w × target_h × channels`` raw
    interleaved bytes, and ``byte_sum``/``px0_*`` as engine-computed
    content checks (the oracle pins them closed-form for synthesized
    payloads). Every other format still lacks a pixel decoder in this
    container (no PIL/ffmpeg), so those rows keep the clearly-marked
    deterministic strided-byte STUB (``decoded = false``, ``channels``
    NULL, ``target_w × target_h`` bytes) — output size and schema stay
    constant-bytes-per-row either way, the property downstream batch
    sizing relies on.
    """
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("src_width", T.IntegerType(), True),
            T.StructField("src_height", T.IntegerType(), True),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("decoded", T.BooleanType(), False),
            T.StructField("resized", T.BinaryType(), False),
            T.StructField("byte_sum", T.LongType(), False),
            T.StructField("px0_r", T.IntegerType(), True),
            T.StructField("px0_g", T.IntegerType(), True),
            T.StructField("px0_b", T.IntegerType(), True),
        ]
    )
    n_out = target_w * target_h
    cols = [f.name for f in out_schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload) or b"\x00"
                _, sw, sh = parse_media_header(b)
                # The decoders fail closed (None) on everything they
                # recognize as corrupt; the belt-and-braces except keeps
                # the CONTRACT — one adversarial payload must degrade to
                # the stub row, never kill the whole Spark job.
                try:
                    img = decode_png_pixels(b)
                    if img is None:
                        img = decode_bmp_pixels(b)
                    if img is None:
                        img = decode_gif_pixels(b)
                except Exception:
                    img = None
                if img is not None:
                    small = box_resize_pixels(img, target_w, target_h)
                    c = small.shape[2]
                    resized = small.tobytes()
                    px = small[0, 0]
                    px0 = [int(px[0]), int(px[1]) if c >= 3 else None,
                           int(px[2]) if c >= 3 else None]
                    rows.append(
                        (int(doc_id), sw, sh, target_w, target_h, c, True,
                         resized, int(np.int64(small.sum())), *px0)
                    )
                    continue
                # strided nearest-neighbor stub: sample n_out bytes evenly
                step = max(len(b) // n_out, 1)
                resized = (b[::step] * (n_out // max(len(b[::step]), 1) + 1))[:n_out]
                rows.append(
                    (int(doc_id), sw, sh, target_w, target_h, None, False,
                     resized, sum(resized), None, None, None)
                )
            out = pd.DataFrame(rows, columns=cols)
            out["channels"] = out["channels"].astype("Int32")
            for c in ("px0_r", "px0_g", "px0_b"):
                out[c] = out[c].astype("Int32")
            yield out

    return docs_with_payload.select("doc_id", "payload").mapInPandas(batches, out_schema)


def frame_sample(docs_with_payload: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """STUB video-frame-sampling shape: emits one row per sampled offset with
    a slice fingerprint. Real impl would demux frames; the Spark-side fan-out
    (one input row → many output rows through mapInPandas) is the part that
    matters and is real."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("frame_sha", T.StringType(), False),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for off in range(0, len(b), every_n_bytes):
                    rows.append(
                        (
                            int(doc_id),
                            off,
                            hashlib.sha256(b[off : off + every_n_bytes]).hexdigest(),
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "offset", "frame_sha"])

    return docs_with_payload.select("doc_id", "payload").mapInPandas(batches, out_schema)


#: Typed audio metadata (header decode — no sample data is read).
AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def parse_audio_header(b: bytes) -> tuple:
    """Decode (format, channels, sample_rate, bits_per_sample, duration_ms)
    from a WAV (RIFF/WAVE) payload's chunk headers — stdlib bytes work, no
    audio library, no sample decode. Walks the chunk list (chunks are
    word-aligned) for ``fmt `` (PCM layout) and ``data`` (payload size);
    duration = data bytes / byte rate. Anything else returns
    ``('unknown', None, None, None, None)``."""
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        fmt = data_size = None
        i = 12
        while i + 8 <= len(b):
            cid = b[i : i + 4]
            csz = struct.unpack("<I", b[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(b):
                _, ch, sr, br, _ba, bps = struct.unpack("<HHIIHH", b[i + 8 : i + 24])
                fmt = (ch, sr, br, bps)
            elif cid == b"data":
                data_size = csz
            i += 8 + csz + (csz & 1)  # chunks pad to even offsets
        if fmt:
            ch, sr, br, bps = fmt
            dur = (data_size * 1000) // br if (data_size is not None and br) else None
            return ("wav", ch, sr, bps, dur)
    return ("unknown", None, None, None, None)


def parse_video_header(b: bytes) -> tuple:
    """Decode (format, width, height, duration_ms) from an ISO-BMFF (MP4)
    payload's box structure: ``ftyp`` identifies the container, ``moov/
    mvhd`` carries timescale+duration (v0 and v1 layouts), ``moov/trak/
    tkhd`` carries 16.16-fixed track dimensions. Box walking is stdlib
    bytes work; no frame is decoded. 64-bit (largesize) boxes and anything
    non-BMFF return ``('unknown', None, None, None)``."""

    def boxes(i: int, end: int):
        while i + 8 <= end:
            sz = struct.unpack(">I", b[i : i + 4])[0]
            if sz < 8:  # largesize (1) / to-end (0) unsupported; corrupt guard
                return
            yield b[i + 4 : i + 8], i + 8, min(i + sz, end)
            i += sz

    if len(b) < 12 or b[4:8] != b"ftyp":
        return ("unknown", None, None, None)
    w = h = dur = None
    for typ, s, e in boxes(0, len(b)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in boxes(s, e):
            if t2 == b"mvhd" and e2 - s2 >= 20:
                ver = b[s2]
                if ver == 1 and e2 - s2 >= 32:
                    ts = struct.unpack(">I", b[s2 + 20 : s2 + 24])[0]
                    du = struct.unpack(">Q", b[s2 + 24 : s2 + 32])[0]
                else:
                    ts, du = struct.unpack(">II", b[s2 + 12 : s2 + 20])
                if ts:
                    dur = du * 1000 // ts
            elif t2 == b"trak":
                for t3, s3, e3 in boxes(s2, e2):
                    if t3 == b"tkhd":
                        off = s3 + (88 if b[s3] == 1 else 76)
                        if off + 8 <= e3:
                            ww, hh = struct.unpack(">II", b[off : off + 8])
                            if ww and hh:
                                w, h = ww >> 16, hh >> 16
    return ("mp4", w, h, dur)


def decode_wav_samples(b: bytes):
    """REAL stdlib WAV sample decode: returns ``(samples, sample_rate)``
    where ``samples`` is ``numpy.int16`` of shape ``(n_frames, channels)``,
    or ``None`` for anything not 16-bit integer PCM (format tag 1).

    Pure indexing: the RIFF chunk walk of :func:`parse_audio_header` plus
    a ``frombuffer`` view of the ``data`` chunk — compressed/float/other
    bit depths fail closed."""
    import numpy as np

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt = None
    data = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        csz = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(b):
            tag, ch, sr, _br, _ba, bps = struct.unpack("<HHIIHH", b[i + 8 : i + 24])
            fmt = (tag, ch, sr, bps)
        elif cid == b"data":
            data = b[i + 8 : i + 8 + csz]
        i += 8 + csz + (csz & 1)
    if fmt is None or data is None:
        return None
    tag, ch, sr, bps = fmt
    if tag != 1 or bps != 16 or ch < 1 or not sr:
        return None
    n = len(data) // (2 * ch)
    if n == 0:
        return None
    samples = np.frombuffer(data, "<i2", n * ch).reshape(n, ch)
    return samples, sr


def resample_pcm(samples, src_rate: int, target_rate: int):
    """Integer-exact linear-interpolation resample of int16 PCM frames.

    Output frame ``i`` sits at source position ``p = i·src/target``;
    its value is ``(s[⌊p⌋]·(d−f) + s[⌊p⌋+1]·f) // d`` with
    ``f = (i·src) mod target``, ``d = target`` — pure int64 arithmetic
    (floor semantics), so the result is bit-identical on every platform
    and expressible closed-form for synthetic inputs (the oracle's
    contract). The last source frame clamps (⌊p⌋+1 capped at n−1).
    ``n_out = n·target // src``."""
    import numpy as np

    n = samples.shape[0]
    s = samples.astype(np.int64)
    n_out = n * target_rate // src_rate
    i = np.arange(n_out, dtype=np.int64)
    pnum = i * src_rate
    idx = pnum // target_rate
    frac = pnum % target_rate
    idx1 = np.minimum(idx + 1, n - 1)
    out = (s[idx] * (target_rate - frac)[:, None] + s[idx1] * frac[:, None]) // target_rate
    return out.astype(np.int16)


def resample_audio(
    docs_with_payload: DataFrame, target_rate: int = 6000
) -> DataFrame:
    """Audio-resample kernel, Arrow-batched through ``mapInPandas``: WAV
    16-bit-PCM payloads take the REAL path (:func:`decode_wav_samples` →
    :func:`resample_pcm`) and come back with ``decoded = true``, the
    resampled frames as little-endian int16 ``pcm`` bytes, and
    ``sample_sum`` (int64 sum over all resampled values) as the
    engine-computed content check the oracle pins closed-form. Payloads
    this container cannot decode (compressed codecs, float PCM) surface
    ``decoded = false`` with NULL metadata and empty pcm — fail closed,
    never fabricated samples."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("src_rate", T.IntegerType(), True),
            T.StructField("src_samples", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("rate", T.IntegerType(), False),
            T.StructField("n_samples", T.IntegerType(), False),
            T.StructField("decoded", T.BooleanType(), False),
            T.StructField("pcm", T.BinaryType(), False),
            T.StructField("sample_sum", T.LongType(), False),
        ]
    )
    cols = [f.name for f in out_schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    dec = decode_wav_samples(bytes(payload))
                except Exception:
                    dec = None
                if dec is None:
                    rows.append(
                        (int(doc_id), None, None, None, target_rate, 0, False,
                         b"", 0)
                    )
                    continue
                samples, sr = dec
                out = resample_pcm(samples, sr, target_rate)
                rows.append(
                    (
                        int(doc_id), int(sr), int(samples.shape[0]),
                        int(samples.shape[1]), target_rate, int(out.shape[0]),
                        True, out.astype("<i2").tobytes(),
                        int(out.astype(np.int64).sum()),
                    )
                )
            out_pdf = pd.DataFrame(rows, columns=cols)
            for c in ("src_rate", "src_samples", "channels"):
                out_pdf[c] = out_pdf[c].astype("Int32")
            yield out_pdf

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        batches, out_schema
    )


def extract_audio_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched WAV header decode over a binary payload column —
    the audio sibling of :func:`extract_media_meta`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            meta = [parse_audio_header(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "format": [m[0] for m in meta],
                    "channels": pd.Series([m[1] for m in meta], dtype="Int32"),
                    "sample_rate": pd.Series([m[2] for m in meta], dtype="Int32"),
                    "bits_per_sample": pd.Series([m[3] for m in meta], dtype="Int32"),
                    "duration_ms": pd.Series([m[4] for m in meta], dtype="Int64"),
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        batches, AUDIO_META_SCHEMA
    )


#: Typed video metadata (container-header decode — no frame is read).
VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def extract_video_meta(docs_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched ISO-BMFF (MP4) header decode over a binary payload
    column — the video sibling of :func:`extract_media_meta`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            meta = [parse_video_header(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "format": [m[0] for m in meta],
                    "width": pd.Series([m[1] for m in meta], dtype="Int32"),
                    "height": pd.Series([m[2] for m in meta], dtype="Int32"),
                    "duration_ms": pd.Series([m[3] for m in meta], dtype="Int64"),
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        batches, VIDEO_META_SCHEMA
    )
