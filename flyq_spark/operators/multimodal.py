"""Multimodal (image/audio/video) column handling [EXT].

Driver-mandated extension: treat media as opaque ``binary`` payload
columns with typed metadata, content-addressed by sha256 — the layout a
100 TB multimodal training pipeline wants (payload bytes stay columnar
and prunable; metadata is a narrow struct you can filter on without
touching payloads; the content id deduplicates storage and joins across
modalities).

The decode/feature kernels are Arrow-batched ``mapInPandas`` with real
schemas, partitioning, and batch shapes. Decoding is REAL for formats
whose specs need nothing beyond stdlib+numpy — binary netpbm (PGM/PPM),
uncompressed BMP, PNG (zlib inflate + scanline unfiltering), GIF (full
LZW, interlace, first frame), baseline TIFF (strips, both byte orders),
PCM WAV — sniffed by magic bytes; codecs
that genuinely need external libraries (JPEG/MP3/H.264) fall back to
``_decode_stub``, a clearly-marked
deterministic fake (this container has no image/audio libraries), so the
Spark-side plumbing is fully testable either way. Swapping in
PIL/torchaudio for the compressed formats is a one-function change.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_KINDS = ("image", "audio", "video", "text")

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def content_id(payload: Column) -> Column:
    """Content address: sha256 hex of the payload bytes."""
    return F.sha2(payload, 256)


def attach_media(
    df: DataFrame, source_col: str, kind: str = "text", mime: str | None = None
) -> DataFrame:
    """Wrap a column as a multimodal payload: binary bytes + metadata
    struct + content id. Pure projection."""
    if kind not in MEDIA_KINDS:
        raise ValueError(f"kind must be one of {MEDIA_KINDS}")
    payload = F.col(source_col).cast("binary")
    return df.withColumns(
        {
            "payload": payload,
            "media_meta": F.struct(
                F.lit(kind).alias("kind"),
                F.octet_length(payload).cast("long").alias("n_bytes"),
                F.lit(mime).cast("string").alias("mime"),
            ),
            "content_id": content_id(payload),
        }
    )


def read_media_dir(
    spark,
    path: str,
    kind: str = "image",
    glob: str | None = None,
    mime: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Ingest a directory of raw media files as a multimodal table via
    Spark's ``binaryFile`` source: one row per file with
    (path, mod_time, payload, media_meta, content_id) — the entry point
    that turns "a bucket of .wav/.ppm/.jpg objects" into the columnar
    content-addressed layout the rest of this module operates on.

    Scale notes: binaryFile is split-per-file (a file never splits), so
    parallelism = file count — right for media corpora (millions of
    small-to-medium objects); pair with ``glob`` (e.g. ``*.wav``) so
    pruning happens at listing time, and follow with a repartition only
    if the directory has a few giant files. Payload bytes flow straight
    into ``extract_features``/``perceptual_hash`` whose decoders sniff
    the format per payload.
    """
    if kind not in MEDIA_KINDS:
        raise ValueError(f"kind must be one of {MEDIA_KINDS}")
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    payload = F.col("content")
    return df.select(
        F.col("path"),
        F.col("modificationTime").alias("mod_time"),
        payload.alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.col("length").cast("long").alias("n_bytes"),
            F.lit(mime).cast("string").alias("mime"),
        ).alias("media_meta"),
        content_id(payload).alias("content_id"),
    )


def dedup_by_content(df: DataFrame, id_col: str) -> DataFrame:
    """Storage-level dedup: one surviving FULL row (min id) per
    content_id — same survivor-semi-join shape as text
    ``dedup_exact_rows``. (The pre-r6 version had the semi-join sides
    swapped, which silently projected away every column except
    (content_id, id): a semi join keeps only left-side columns, and with
    the aggregate on the left the probe matched by construction.)"""
    survivors = df.groupBy("content_id").agg(F.min(id_col).alias(id_col))
    # null-keys-impossible: (content_id, id) is the row identity
    return df.join(survivors, on=["content_id", id_col], how="left_semi")


# ----------------------------------------------------------------------- #
# decode / feature extraction (Arrow-batched; real decoders below,
# stub fallback for library-bound codecs)
# ----------------------------------------------------------------------- #


def _decode_stub(payload: bytes, kind: str, feature_dim: int) -> dict:
    """STUB decoder — deterministic fake in place of a real media decode.

    A real deployment replaces this body with PIL.Image.open /
    soundfile.read / pyav frame sampling (libraries absent from this
    container). The fake derives stable pseudo-dimensions and a
    pseudo-feature vector from the payload digest so tests can pin exact
    values end-to-end through the Arrow batch path.
    """
    digest = hashlib.sha256(payload).digest()
    width = 1 + digest[0]  # 1..256 — stands in for decoded pixel dims
    height = 1 + digest[1]
    n_frames = 1 + digest[2] % 16 if kind == "video" else 1
    feature = [digest[i % len(digest)] / 255.0 for i in range(feature_dim)]
    return {"width": width, "height": height, "n_frames": n_frames, "feature": feature}


# -- real decoders for library-free formats ----------------------------- #
# Formats whose specs need nothing beyond stdlib struct/zlib + numpy get
# REAL decoders: netpbm P5/P6 (binary PGM/PPM), uncompressed BMP (BI_RGB
# 24/32 bpp), PNG (non-interlaced, 8/16-bit, all five scanline filters,
# color types 0/2/3/4/6 — zlib inflate + numpy unfiltering), GIF (full
# LZW with width growth and clear/EOI, interlace, first frame), baseline
# TIFF (uncompressed strips, II/MM byte orders, gray/RGB/palette), and
# PCM WAV (8/16-bit RIFF). Payloads are sniffed by magic bytes; anything
# else (MP3/H.264 — codecs that genuinely need libav) falls back to the
# documented stub, so existing stub-pinned tests and gate values are
# unchanged for non-media payloads. Baseline Huffman JPEG decodes for
# real since r7 (_try_decode_jpeg); progressive JPEG still stubs.


def _luma(r, g, b):
    """BT.601 luma from float64 channel arrays — ONE definition shared
    by every decoder so the documented cross-decoder parity invariant
    ('identical pixels → identical luma') is structural, not five
    copies of the same three coefficients."""
    return r * 0.299 + g * 0.587 + b * 0.114


def _try_decode_netpbm(payload: bytes):
    """Binary netpbm: P5 (gray) / P6 (RGB). Returns a float64 luma
    matrix (H x W, 0..255) or None if not netpbm / malformed."""
    import numpy as np

    if payload[:2] not in (b"P5", b"P6"):
        return None
    try:
        # header = magic + 3 ASCII ints (w, h, maxval), '#' comments legal
        tokens, pos = [], 2
        while len(tokens) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while pos < len(payload) and payload[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
        # single whitespace after maxval, then raster — but accept CRLF
        # as one separator (Windows writers emit it; consuming only the
        # '\r' would shift the raster one byte and silently rotate every
        # channel)
        pos += 2 if payload[pos : pos + 2] == b"\r\n" else 1
        w, h, maxval = tokens
        if not (0 < w and 0 < h and 0 < maxval < 65536):
            return None
        ch = 3 if payload[:2] == b"P6" else 1
        depth = 2 if maxval > 255 else 1
        raster = payload[pos : pos + w * h * ch * depth]
        if len(raster) < w * h * ch * depth:
            return None
        dt = ">u2" if depth == 2 else np.uint8
        px = np.frombuffer(raster, dtype=dt).astype(np.float64).reshape(h, w, ch)
        px = px * (255.0 / maxval)
        if ch == 3:
            luma = _luma(px[:, :, 0], px[:, :, 1], px[:, :, 2])
        else:
            luma = px[:, :, 0]
        return luma
    except (ValueError, IndexError):
        return None


def _try_decode_bmp(payload: bytes):
    """Uncompressed BMP (BITMAPINFOHEADER, BI_RGB, 24/32 bpp). Returns a
    float64 luma matrix or None."""
    import struct

    import numpy as np

    if payload[:2] != b"BM" or len(payload) < 54:
        return None
    try:
        pix_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            return None
        w, h_raw = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        if compression != 0 or bpp not in (24, 32) or w <= 0 or h_raw == 0:
            return None
        h = abs(h_raw)
        nch = bpp // 8
        stride = (w * nch + 3) & ~3
        if len(payload) < pix_off + stride * h:
            return None
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=pix_off
        ).reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
        if h_raw > 0:  # positive height = bottom-up row order
            rows = rows[::-1]
        bgr = rows.astype(np.float64)
        # BMP stores BGR(A)
        return _luma(bgr[:, :, 2], bgr[:, :, 1], bgr[:, :, 0])
    except (ValueError, IndexError, struct.error):
        return None


def _try_decode_png(payload: bytes):
    """PNG (non-interlaced, bit depth 8/16, color types 0/2/3/4/6) —
    REAL decode with stdlib zlib + numpy scanline unfiltering (the PNG
    spec's five filters; Sub via per-channel cumsum, Average/Paeth as a
    per-pixel recurrence vectorized across channels). Adam7 interlace
    and sub-byte depths are rejected (return None → stub fallback), as
    is any dimension bomb. Returns a float64 luma matrix or None."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    try:
        pos, ihdr, idat, plte = 8, None, [], None
        while pos + 8 <= len(payload):
            length, ctype = struct.unpack_from(">I4s", payload, pos)
            pos += 8
            if length > len(payload) - pos:
                return None
            data = payload[pos : pos + length]
            pos += length + 4  # skip CRC (integrity is the store's job)
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"PLTE":
                if len(data) % 3:
                    return None
                plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif ctype == b"IDAT":
                idat.append(data)
            elif ctype == b"IEND":
                break
        if ihdr is None or not idat:
            return None
        w, h, depth, color, comp, filt, interlace = ihdr
        nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
        if (
            comp != 0
            or filt != 0
            or interlace != 0
            or depth not in (8, 16)
            or nch is None
            or (color == 3 and (plte is None or depth != 8))
            or not (0 < w and 0 < h)
        ):
            return None
        bpp = nch * (depth // 8)
        stride = w * bpp
        need = (stride + 1) * h
        # allocation-bomb guard: a small IDAT can CLAIM huge dims, and
        # zlib would happily inflate a bomb — bound both the decoded
        # size and the inflater's output (max_length caps allocation)
        if need > 268_435_456:  # 256 MiB of scanline bytes
            return None
        raw = zlib.decompressobj().decompress(b"".join(idat), need)
        if len(raw) < need:
            return None
        arr = np.frombuffer(
            raw, dtype=np.uint8, count=(stride + 1) * h
        ).reshape(h, stride + 1)
        ftypes = arr[:, 0]
        out = np.zeros((h, stride), np.uint16)
        prev = np.zeros(stride, np.uint16)
        prev_b = bytes(stride)
        for y in range(h):
            f = int(ftypes[y])
            line = arr[y, 1:].astype(np.uint16)
            if f == 0:
                rec = line
            elif f == 1:  # Sub: per-channel prefix sum mod 256
                rec = (
                    line.reshape(w, bpp).cumsum(axis=0, dtype=np.uint64) % 256
                ).astype(np.uint16).reshape(stride)
            elif f == 2:  # Up
                rec = (line + prev) & 0xFF
            elif f in (3, 4):  # Average / Paeth: serial recurrence —
                # pure-Python ints over bytearrays (several times faster
                # than per-pixel numpy scalar indexing; the loop is the
                # decoder's cost ceiling, see module docstring)
                cur = bytearray(arr[y, 1:].tobytes())
                pr = prev_b
                for x in range(stride):
                    a = cur[x - bpp] if x >= bpp else 0
                    up = pr[x]
                    if f == 3:
                        pred = (a + up) >> 1
                    else:
                        c = pr[x - bpp] if x >= bpp else 0
                        pdiff = a + up - c
                        pa = abs(pdiff - a)
                        pb_ = abs(pdiff - up)
                        pc = abs(pdiff - c)
                        pred = (
                            a
                            if pa <= pb_ and pa <= pc
                            else (up if pb_ <= pc else c)
                        )
                    cur[x] = (cur[x] + pred) & 0xFF
                rec = np.frombuffer(bytes(cur), np.uint8).astype(np.uint16)
            else:
                return None
            out[y] = rec
            prev = rec
            prev_b = bytes(rec.astype(np.uint8).tobytes())
        if depth == 16:
            px = out.reshape(h, w, nch, 2).astype(np.float64)
            vals = (px[..., 0] * 256 + px[..., 1]) * (255.0 / 65535.0)
        else:
            vals = out.reshape(h, w, nch).astype(np.float64)
        if color == 3:
            rgb = plte[out.reshape(h, w).astype(np.intp)].astype(np.float64)
            return _luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        if color in (0, 4):  # gray / gray+alpha: luma = gray channel
            return vals[:, :, 0]
        return _luma(vals[..., 0], vals[..., 1], vals[..., 2])
    except (ValueError, IndexError, struct.error, zlib.error):
        return None


def _try_decode_gif(payload: bytes):
    """GIF87a/89a, FIRST image frame only (the still-image contract the
    feature/phash kernels need): global/local color tables, full LZW
    decompression (variable-width codes, clear/EOI handling), Adam-less
    interlace supported via the four-pass row reorder. Animated GIFs
    decode as their first frame. Returns a float64 luma matrix or
    None."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = np.frombuffer(
                payload, np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        while pos < len(payload):
            block = payload[pos]
            pos += 1
            if block == 0x3B:  # trailer
                return None
            if block == 0x21:  # extension: label + sub-blocks
                pos += 1
                while pos < len(payload) and payload[pos] != 0:
                    pos += payload[pos] + 1
                pos += 1
                continue
            if block != 0x2C:  # not an image descriptor
                return None
            ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            table = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                table = np.frombuffer(
                    payload, np.uint8, count=3 * n, offset=pos
                ).reshape(n, 3)
                pos += 3 * n
            if table is None or not (0 < iw and 0 < ih) or iw * ih > 64_000_000:
                return None
            min_code_size = payload[pos]
            pos += 1
            if not 2 <= min_code_size <= 11:
                return None
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += ln + 1
            # LZW decode
            clear = 1 << min_code_size
            eoi = clear + 1
            code_size = min_code_size + 1
            dictionary = [bytes([i]) for i in range(clear)] + [b"", b""]
            out = bytearray()
            prev = None
            acc = bits = 0
            done = False
            for byte in data:
                if done:
                    break
                acc |= byte << bits
                bits += 8
                while bits >= code_size:
                    code = acc & ((1 << code_size) - 1)
                    acc >>= code_size
                    bits -= code_size
                    if code == clear:
                        dictionary = dictionary[: clear + 2]
                        code_size = min_code_size + 1
                        prev = None
                        continue
                    if code == eoi:
                        done = True
                        break
                    if code < len(dictionary):
                        entry = dictionary[code]
                    elif code == len(dictionary) and prev is not None:
                        entry = prev + prev[:1]
                    else:
                        return None
                    out += entry
                    if prev is not None:
                        dictionary.append(prev + entry[:1])
                        if (
                            len(dictionary) == (1 << code_size)
                            and code_size < 12
                        ):
                            code_size += 1
                    prev = entry
                    if len(out) >= iw * ih:
                        done = True
                        break
            if len(out) < iw * ih:
                return None
            idx = np.frombuffer(bytes(out[: iw * ih]), np.uint8).reshape(ih, iw)
            if int(idx.max()) >= len(table):
                return None
            if iflags & 0x40:  # interlaced: four-pass row order
                order = np.concatenate(
                    [
                        np.arange(0, ih, 8),
                        np.arange(4, ih, 8),
                        np.arange(2, ih, 4),
                        np.arange(1, ih, 2),
                    ]
                )
                deinter = np.empty_like(idx)
                deinter[order] = idx
                idx = deinter
            rgb = table[idx].astype(np.float64)
            return _luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        return None
    except (ValueError, IndexError, struct.error):
        return None


def _try_decode_tiff(payload: bytes):
    """Baseline TIFF, FIRST IFD: uncompressed (Compression=1) strips,
    8 bits per sample, photometric 0/1 (gray, either polarity), 2
    (RGB, extra samples like alpha ignored), 3 (palette, 16-bit
    ColorMap entries); both byte orders (II/MM). Anything else —
    LZW/JPEG-in-TIFF, tiles, 16-bit, planar — returns None (stub
    fallback). Returns a float64 luma matrix or None."""
    import struct

    import numpy as np

    if payload[:4] not in (b"II*\x00", b"MM\x00*"):
        return None
    try:
        e = "<" if payload[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack_from(e + "I", payload, 4)
        if ifd_off + 2 > len(payload):
            return None
        (n_entries,) = struct.unpack_from(e + "H", payload, ifd_off)
        type_size = {1: 1, 3: 2, 4: 4}
        tags: dict[int, list[int]] = {}
        for i in range(n_entries):
            base = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(e + "HHI", payload, base)
            if typ not in type_size:
                continue
            sz = type_size[typ] * cnt
            off = base + 8 if sz <= 4 else struct.unpack_from(
                e + "I", payload, base + 8
            )[0]
            if off + sz > len(payload):
                return None
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(struct.unpack_from(e + fmt * cnt, payload, off))
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        bits = tags.get(258, [8])
        comp = tags.get(259, [1])[0]
        photo = tags.get(262, [1])[0]
        offsets = tags.get(273)
        spp = tags.get(277, [1])[0]
        counts = tags.get(279)
        planar = tags.get(284, [1])[0]
        if (
            comp != 1
            or planar != 1  # planar (RRR..GGG..BBB) would reshape to
            # WRONG interleaved luma silently — reject, don't guess
            or offsets is None
            or counts is None
            or len(offsets) != len(counts)
            or any(b != 8 for b in bits)
            or photo not in (0, 1, 2, 3)
            or not (0 < w and 0 < h)
            or w * h > 64_000_000
            or spp < 1
        ):
            return None
        need = w * h * spp
        data = bytearray()
        # stop at `need`: per-strip bounds alone allow a crafted IFD
        # whose N strips each claim the whole payload — O(N·payload)
        # amplification before any size check (the TIFF analog of the
        # PNG decompress cap)
        for off, cnt in zip(offsets, counts):
            if off + cnt > len(payload):
                return None
            data += payload[off : off + min(cnt, need - len(data))]
            if len(data) >= need:
                break
        if len(data) < need:
            return None
        px = np.frombuffer(bytes(data[:need]), np.uint8).reshape(h, w, spp)
        if photo == 2:
            if spp < 3:
                return None
            rgb = px[:, :, :3].astype(np.float64)
            return _luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        if photo == 3:
            cmap = tags.get(320)
            if cmap is None or len(cmap) < 3 * 256 or spp != 1:
                return None
            # ColorMap entries are 16-bit; scale to 0..255
            cm = np.array(cmap[: 3 * 256], dtype=np.float64).reshape(3, 256)
            idx = px[:, :, 0]
            r, g, b = cm[0][idx], cm[1][idx], cm[2][idx]
            return _luma(r, g, b) * (255.0 / 65535.0)
        gray = px[:, :, 0].astype(np.float64)
        return 255.0 - gray if photo == 0 else gray
    except (ValueError, IndexError, struct.error):
        return None


def _try_decode_image_lib(payload: bytes):
    """Library decode fallback (PIL, when the container has it — see
    flyq_spark/envprobe.py): handles the formats the pure-Python chain
    rejects (progressive JPEG, interlaced PNG, WebP, …). Runs AFTER
    the stdlib decoders so payloads they already decode keep their
    pinned pixel values regardless of environment. Same bomb guard and
    luma contract as the stdlib chain."""
    from flyq_spark.envprobe import have

    if not have("PIL.Image"):
        return None
    import io

    import numpy as np

    try:
        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            if im.width * im.height > 67_108_864:  # same bomb guard
                return None
            return np.asarray(im.convert("L"), dtype=np.float64)
    except Exception:
        return None


def _try_decode_image(payload: bytes):
    """The one image sniff chain (netpbm → BMP → PNG → GIF → TIFF →
    baseline JPEG → optional library fallback) — shared by feature
    extraction and the dHash luma grid so 'which payloads decode for
    real' can never diverge between them. Returns a float64 luma
    matrix or None."""
    for dec in (
        _try_decode_netpbm,
        _try_decode_bmp,
        _try_decode_png,
        _try_decode_gif,
        _try_decode_tiff,
        _try_decode_jpeg,
        _try_decode_image_lib,
    ):
        luma = dec(payload)
        if luma is not None:
            return luma
    return None


def _try_decode_wav(payload: bytes):
    """PCM WAV (RIFF, 8/16-bit integer samples). Returns
    (sample_rate, n_channels, samples float64 in [-1, 1]) or None."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        pos, fmt, data = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            size = struct.unpack_from("<I", payload, pos + 4)[0]
            body = payload[pos + 8 : pos + 8 + size]
            if cid == b"fmt " and len(body) >= 16:
                fmt = struct.unpack_from("<HHIIHH", body, 0)
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            return None
        audio_format, n_channels, sample_rate, _, _, bits = fmt
        if audio_format != 1 or n_channels < 1 or bits not in (8, 16):
            return None
        if bits == 16:
            raw = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
            samples = raw.astype(np.float64) / 32768.0
        else:  # 8-bit WAV is unsigned, midpoint 128
            raw = np.frombuffer(data, dtype=np.uint8)
            samples = (raw.astype(np.float64) - 128.0) / 128.0
        return sample_rate, n_channels, samples
    except (ValueError, IndexError, struct.error):
        return None


def _try_decode_audio_lib(payload: bytes):
    """Library decode fallback for compressed audio (soundfile →
    FLAC/OGG; PyAV → MP3/AAC/anything libav knows), active only when
    the container has the library (flyq_spark/envprobe.py). Returns
    the same (sample_rate, n_channels, samples float64) contract as
    ``_try_decode_wav`` so every audio kernel upgrades at once."""
    from flyq_spark.envprobe import have

    import numpy as np

    if have("soundfile"):
        import io

        try:
            import soundfile as sf

            samples, rate = sf.read(io.BytesIO(payload), dtype="float64")
            nch = 1 if samples.ndim == 1 else samples.shape[1]
            return int(rate), int(nch), samples.reshape(-1)
        except Exception:
            pass
    if have("av"):
        import io

        try:
            import av

            with av.open(io.BytesIO(payload)) as container:
                stream = next(
                    s for s in container.streams if s.type == "audio"
                )
                # channel count from the codec context, NOT the frame
                # array shape: packed/interleaved frames decode to
                # (1, n*ch) (shape would report mono), planar frames to
                # (ch, n) plane-per-row. The contract downstream
                # (_try_decode_wav, segment_audio's reshape(n, nch)
                # downmix) is FLAT INTERLEAVED samples, so planar
                # planes are transposed before flattening.
                nch = int(getattr(stream.codec_context, "channels", 0) or 0)
                chunks = []
                for frame in container.decode(stream):
                    arr = frame.to_ndarray().astype(np.float64)
                    if not nch:
                        nch = len(frame.layout.channels)
                    if arr.ndim > 1 and arr.shape[0] > 1:
                        # planar (ch, n): interleave L R L R ...
                        arr = arr.T.reshape(-1)
                    else:
                        # packed (1, n*ch): already interleaved
                        arr = arr.reshape(-1)
                    chunks.append(arr)
                if not chunks:
                    return None
                samples = np.concatenate(chunks)
                return int(stream.rate), max(int(nch), 1), samples
        except Exception:
            pass
    return None


def _try_decode_audio(payload: bytes):
    """Audio sniff chain: PCM WAV (pure Python, always available) →
    optional library fallback for compressed codecs."""
    wav = _try_decode_wav(payload)
    if wav is not None:
        return wav
    return _try_decode_audio_lib(payload)


def _pool_1d(arr, k: int):
    """Mean-pool a 1-D array into exactly k buckets (tiles short input)."""
    import numpy as np

    if arr.size == 0:
        arr = np.zeros(k, dtype=np.float64)
    if arr.size < k:
        arr = np.tile(arr, (k + arr.size - 1) // arr.size)
    return np.array([c.mean() for c in np.array_split(arr, k)], dtype=np.float64)


def _decode_payload(payload: bytes, kind: str, feature_dim: int) -> dict:
    """Real decode where the format allows it, stub otherwise.

    Real paths: netpbm/BMP images -> true (width, height) + mean-pooled
    luma feature (0..1); PCM WAV audio -> width=sample_rate,
    height=n_channels, n_frames=n_samples (documented overload of the
    fixed FEATURE_SCHEMA), feature = mean-pooled |amplitude| envelope.
    """
    luma = _try_decode_image(payload)
    if luma is not None:
        h, w = luma.shape
        feature = [float(x) / 255.0 for x in _pool_1d(luma.flatten(), feature_dim)]
        return {"width": w, "height": h, "n_frames": 1, "feature": feature}
    wav = _try_decode_audio(payload)
    if wav is not None:
        sample_rate, n_channels, samples = wav
        import numpy as np

        env = _pool_1d(np.abs(samples), feature_dim)
        return {
            "width": int(sample_rate),
            "height": int(n_channels),
            "n_frames": int(min(samples.size, 2**31 - 1)),
            "feature": [float(x) for x in env],
        }
    return _decode_stub(payload, kind, feature_dim)


def extract_features(
    df: DataFrame,
    kind: str = "image",
    feature_dim: int = 8,
    batch_size_hint: int = 1024,
) -> DataFrame:
    """Decode + featurize payloads via ``mapInPandas`` (Arrow batches of
    whole payload rows — the right boundary for media kernels: one Python
    call per batch, bytes never row-pickled). Input needs
    payload/content_id (see attach_media). Partition-parallel; no
    shuffle at any real scale — ``fan_out`` restores parallelism only
    when the input arrives as fewer splits than cores (a one-row-group
    fixture file would otherwise pin every decode onto one core).
    """
    import pandas as pd  # noqa: F401 (documents the batch type)

    from flyq_spark.operators.util import fan_out

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf["content_id"], pdf["payload"]):
                d = _decode_payload(bytes(payload), kind, feature_dim)
                out.append(
                    (cid, kind, d["width"], d["height"], d["n_frames"], d["feature"])
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in FEATURE_SCHEMA.fields]
            )

    return fan_out(df.select("content_id", "payload")).mapInPandas(
        run, FEATURE_SCHEMA
    )


AUDIO_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType(), False),
        T.StructField("seg_idx", T.IntegerType(), False),
        T.StructField("start_ms", T.LongType(), False),
        T.StructField("end_ms", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def segment_audio(
    df: DataFrame,
    frame_ms: int = 20,
    threshold: float = 0.02,
    min_silence_frames: int = 3,
    id_col: str = "content_id",
) -> DataFrame:
    """Energy-based speech/sound segmentation (the VAD-shaped step an
    audio training pipeline runs before transcription/featurization):
    per-frame RMS over ``frame_ms`` windows, frames above ``threshold``
    are active, runs of activity separated by fewer than
    ``min_silence_frames`` silent frames merge into one segment. Output:
    one row per detected segment with its bounds (ms) and mean RMS.

    Non-WAV payloads (or WAVs the PCM decoder rejects) yield no rows —
    segmentation of compressed audio needs the codec libraries this
    container lacks. Same Arrow ``mapInPandas`` boundary and fan_out
    guard as the other media kernels: per-payload work, no shuffle, no
    driver state; at 100 TB parallelism is the split count.

    ``id_col`` names the passthrough key (content_id by default; any
    unique row key works and its input type is preserved) — segmenting
    directly on a caller key avoids a join back, and with a NON-unique
    key the caller must dedupe payloads first or accept fanned-out
    segment rows.
    """
    from flyq_spark.operators.util import fan_out

    out_schema = T.StructType(
        [df.schema[id_col]] + [f for f in AUDIO_SEGMENT_SCHEMA.fields[1:]]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for cid, payload in zip(pdf[id_col], pdf["payload"]):
                wav = _try_decode_audio(bytes(payload))
                if wav is None:
                    continue
                rate, nch, samples = wav
                if nch > 1:  # mean-downmix interleaved channels
                    n = samples.size // nch
                    samples = samples[: n * nch].reshape(n, nch).mean(axis=1)
                spf = max(1, rate * frame_ms // 1000)  # samples per frame
                n_frames = samples.size // spf
                if n_frames == 0:
                    continue
                frames = samples[: n_frames * spf].reshape(n_frames, spf)
                rms = np.sqrt((frames**2).mean(axis=1))
                active = rms > threshold
                # merge: silence gaps shorter than min_silence_frames
                # between active runs count as active
                segs = []
                start = None
                silent = 0
                for i, a in enumerate(active):
                    if a:
                        if start is None:
                            start = i
                        silent = 0
                    elif start is not None:
                        silent += 1
                        if silent >= min_silence_frames:
                            segs.append((start, i - silent + 1))
                            start, silent = None, 0
                if start is not None:
                    segs.append((start, int(n_frames) - silent))
                for k, (s, e) in enumerate(segs):
                    out.append(
                        (
                            cid,
                            k,
                            int(s * spf * 1000 // rate),
                            int(e * spf * 1000 // rate),
                            float(rms[s:e].mean()),
                        )
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return fan_out(df.select(id_col, "payload")).mapInPandas(run, out_schema)


def frame_sample_plan(df: DataFrame, every_n: int = 8) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame index
    (the decode of each frame is the stubbed kernel above). Demonstrates
    the explode-then-decode layout that keeps per-frame work partition-
    parallel instead of per-video sequential."""
    feats = extract_features(df, kind="video")
    return feats.select(
        "content_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


# ----------------------------------------------------------------------- #
# perceptual near-dup (dHash over the decoded luma grid)
# ----------------------------------------------------------------------- #

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def _luma_grid_stub(payload: bytes, rows: int = 8, cols: int = 9):
    """Luma downsample to a rows x cols grid. REAL for netpbm/BMP
    payloads (decoded pixels block-mean-pooled — the library-free
    equivalent of PIL's ``convert('L').resize((9, 8))``); for everything
    else, a deterministic LOCALITY-PRESERVING fake: the payload bytes are
    treated as the decoded sample stream and mean-pooled, so payloads
    that differ in a few bytes get nearly identical grids — unlike a
    digest-derived fake, which would avalanche and make "near" vacuous.
    """
    import numpy as np

    luma = _try_decode_image(payload)
    if luma is not None:
        # block-mean resize: split rows into `rows` bands, cols into
        # `cols` bands (tile first if the image is smaller than the grid)
        if luma.shape[0] < rows:
            luma = np.tile(luma, ((rows + luma.shape[0] - 1) // luma.shape[0], 1))
        if luma.shape[1] < cols:
            luma = np.tile(luma, (1, (cols + luma.shape[1] - 1) // luma.shape[1]))
        return np.array(
            [
                [cell.mean() for cell in np.array_split(band, cols, axis=1)]
                for band in np.array_split(luma, rows, axis=0)
            ],
            dtype=np.float64,
        )
    raw = np.frombuffer(payload, dtype=np.uint8)
    if raw.size == 0:
        raw = np.zeros(rows * cols, dtype=np.uint8)
    if raw.size < rows * cols:
        raw = np.tile(raw, (rows * cols + raw.size - 1) // raw.size)
    return np.array(
        [c.mean() for c in np.array_split(raw, rows * cols)], dtype=np.float64
    ).reshape(rows, cols)


def perceptual_hash(df: DataFrame) -> DataFrame:
    """64-bit dHash per payload — the perceptual fingerprint image
    pipelines dedup on (difference hash: bit (r, c) = grid[r][c+1] >
    grid[r][c] over an 8x9 luma grid; gradient direction survives
    re-encoding/resizing, which is why dHash/pHash families beat
    content_id sha256 for NEAR-duplicate media). Decode is the stubbed
    kernel above; the Arrow ``mapInPandas`` boundary, schema, and
    partition-parallel batch shape are the real deployment's.

    Input needs (content_id, payload) — see ``attach_media``. One
    Python call per Arrow batch; ``fan_out`` guards the kernel against
    single-row-group inputs (a no-op once data arrives as many splits —
    at any real scale — but without it a one-file corpus pins ALL
    hashing onto one core). Output: (content_id, phash) with phash an
    int64 (bit 63 may set the sign — callers XOR and popcount, they
    never compare magnitudes). Near-dup pairs come from
    ``dedup.banded_hamming_pairs(hashes, "content_id", "phash", 64,
    bands, max_hamming)``."""
    from flyq_spark.operators.util import fan_out

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                g = _luma_grid_stub(bytes(payload))
                bits = (g[:, 1:] > g[:, :-1]).flatten()
                h = np.uint64(0)
                for b in bits:
                    h = (h << np.uint64(1)) | np.uint64(bool(b))
                hashes.append(np.int64(h))
            yield pd.DataFrame(
                {"content_id": pdf["content_id"], "phash": hashes}
            )

    return fan_out(df.select("content_id", "payload")).mapInPandas(
        run, PHASH_SCHEMA
    )


def _jpeg_build_huff(bits: list, vals: bytes) -> dict:
    """Canonical JPEG Huffman table → {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _JpegBits:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; RSTn markers end the current run (the caller
    resets DC predictors and continues past them)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0

    def read_bit(self) -> int:
        d = self.data
        while True:
            if self.pos >= len(d):
                raise EOFError
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
                if nxt == 0x00:
                    pass  # stuffed 0xFF data byte
                else:
                    raise EOFError  # a real marker terminates entropy data
            b = (byte >> (7 - self.bit)) & 1
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1 + (1 if byte == 0xFF else 0)  # skip stuffing
            return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self) -> bool:
        """Skip to the next byte boundary and consume one RSTn marker;
        False if it is not there (corrupt stream)."""
        d = self.data
        if self.bit:
            # advance past the partially-read byte (its padding bits);
            # a stuffed 0xFF data byte occupies two stream bytes
            self.pos += 2 if d[self.pos] == 0xFF else 1
            self.bit = 0
        if self.pos + 1 < len(d) and d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
            return True
        return False


def _jpeg_decode_huff(bits: "_JpegBits", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | bits.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _try_decode_jpeg(payload: bytes):
    """Baseline JPEG (SOF0/SOF1 Huffman, 8-bit) decoded to the LUMA
    plane — REAL decode with stdlib struct + numpy: marker parse, DQT /
    DHT / DRI / SOS, canonical Huffman entropy decode (0xFF00
    unstuffing, restart-marker DC resets), dequantization, and a
    vectorized separable float64 IDCT over all Y blocks at once.
    Chroma blocks are Huffman-decoded (the bitstream interleaves them)
    but never dequantized/transformed — luma is all the feature/dHash
    pipeline consumes, and Y carries the full spatial resolution.

    Rejected (return None → stub fallback): progressive (SOF2),
    arithmetic coding, 12-bit precision, hierarchical modes, Y planes
    subsampled below full resolution (reported dims would lie), and
    dimension bombs. Layout per ITU T.81; cites the reference only for
    scope — the reference has no media decode at all."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        return None
    try:
        pos = 2
        qt: dict = {}
        huff: dict = {}
        sof = None
        restart_interval = 0
        n = len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            pos += 2
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xD9:  # EOI before SOS data
                return None
            (seglen,) = struct.unpack_from(">H", payload, pos)
            seg = payload[pos + 2 : pos + seglen]
            if marker == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 15
                    p += 1
                    if pq == 0:
                        vals = list(seg[p : p + 64])
                        p += 64
                    else:
                        vals = list(struct.unpack_from(">64H", seg, p))
                        p += 128
                    qt[tq] = vals
            elif marker == 0xC4:  # DHT
                p = 0
                while p < len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 15
                    bits = list(seg[p + 1 : p + 17])
                    nv = sum(bits)
                    vals = seg[p + 17 : p + 17 + nv]
                    huff[(tc, th)] = _jpeg_build_huff(bits, vals)
                    p += 17 + nv
            elif marker in (0xC0, 0xC1):  # SOF0/1 baseline
                prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
                if prec != 8 or not (0 < w and 0 < h) or w * h > 67_108_864:
                    return None
                comps = []
                for i in range(nc):
                    # component triples start after prec(1)+H(2)+W(2)+N(1)
                    cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                    comps.append((cid, hv >> 4, hv & 15, tq))
                sof = (h, w, comps)
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # progressive/arithmetic/hierarchical
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack_from(">H", seg, 0)
            elif marker == 0xDA:  # SOS
                if sof is None:
                    return None
                ns = seg[0]
                if ns != len(sof[2]):
                    # only fully-interleaved single-scan baseline files:
                    # per-component sequential scans would need a second
                    # MCU geometry
                    return None
                scan = []
                for i in range(ns):
                    cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                    scan.append((cs, tt >> 4, tt & 15))
                return _jpeg_scan(
                    payload, pos + seglen, sof, scan, qt, huff,
                    restart_interval, np
                )
            pos += seglen
        return None
    except (IndexError, KeyError, ValueError, EOFError, struct.error):
        # KeyError: an SOS naming a component the SOF never declared
        # must reject like any other malformed stream, not crash a task
        return None


def _jpeg_scan(payload, pos, sof, scan, qt, huff, restart_interval, np):
    h, w, comps = sof
    by_id = {cid: (ch, cv, tq) for cid, ch, cv, tq in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    y_cid, y_h, y_v, y_tq = comps[0]
    if (y_h, y_v) != (hmax, vmax):
        return None  # subsampled luma would misreport dimensions
    if y_tq not in qt:
        return None
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    bits = _JpegBits(payload, pos)
    zz = _JPEG_ZIGZAG
    y_blocks = []
    dc_pred = {cid: 0 for cid, *_ in comps}
    mcu_index = 0
    for _my in range(mcus_y):
        for _mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                if not bits.align_and_expect_rst():
                    return None
                dc_pred = {cid: 0 for cid, *_ in comps}
            for cs, td, ta in scan:
                ch, cv, _tq = by_id[cs]
                dct = huff.get((0, td))
                act = huff.get((1, ta))
                if dct is None or act is None:
                    return None
                for _b in range(ch * cv):
                    coef = [0] * 64
                    s = _jpeg_decode_huff(bits, dct)
                    diff = _jpeg_extend(bits.receive(s), s) if s else 0
                    dc_pred[cs] += diff
                    coef[0] = dc_pred[cs]
                    k = 1
                    while k < 64:
                        rs = _jpeg_decode_huff(bits, act)
                        r, size = rs >> 4, rs & 15
                        if size == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            return None
                        coef[k] = _jpeg_extend(bits.receive(size), size)
                        k += 1
                    if cs == y_cid:
                        y_blocks.append(coef)
            mcu_index += 1
    # dequantize + de-zigzag all Y blocks, then one vectorized IDCT
    q = np.array(qt[y_tq], dtype=np.float64)
    cz = np.array(y_blocks, dtype=np.float64) * q  # [n, 64] zigzag order
    blocks = np.zeros_like(cz)
    blocks[:, zz] = cz
    blocks = blocks.reshape(-1, 8, 8)
    k = np.arange(8)
    c = np.where(k == 0, 1.0 / np.sqrt(2.0), 1.0)
    D = (c[:, None] / 2.0) * np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    spatial = np.einsum("ur,nuv,vs->nrs", D, blocks, D) + 128.0
    spatial = np.clip(spatial, 0.0, 255.0)
    # assemble the Y plane: blocks emitted per MCU, y_v x y_h raster
    plane = np.zeros((mcus_y * 8 * vmax, mcus_x * 8 * hmax), np.float64)
    i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(y_v):
                for bx in range(y_h):
                    plane[
                        (my * vmax + by) * 8 : (my * vmax + by) * 8 + 8,
                        (mx * hmax + bx) * 8 : (mx * hmax + bx) * 8 + 8,
                    ] = spatial[i]
                    i += 1
    return plane[:h, :w]
