"""End-to-end multimodal ingest pipeline — the media counterpart of
examples/pipeline.py, in the order a multimodal training-data build
runs it:

    ingest raw files (binaryFile source, glob-pruned)
        → content-address + storage dedup (sha256, exact)
        → decode + feature extraction (REAL for netpbm/BMP/WAV payloads,
          deterministic stub for compressed codecs — magic-sniffed)
        → perceptual near-dup (dHash over decoded luma, banded Hamming)
        → columnar export (parquet: payload + metadata + features)

Every stage is a library operator (operators/multimodal.py); this file
only composes them. The demo corpus is synthesized on the fly into a
temp dir — tiny PPM gradients (two near-identical, one distinct) and a
PCM WAV tone — so the REAL decode paths are exercised without any media
library in the environment.

Usage:
    python examples/media_pipeline.py
"""

from __future__ import annotations

import io
import struct
import sys
import tempfile
import wave
from pathlib import Path

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from flyq_spark.operators.dedup import banded_hamming_pairs
from flyq_spark.operators.multimodal import (
    dedup_by_content,
    extract_features,
    perceptual_hash,
    read_media_dir,
)
from flyq_spark.session import get_spark


def make_ppm(w: int, h: int, pixel_fn) -> bytes:
    px = bytes(c for y in range(h) for x in range(w) for c in pixel_fn(x, y))
    return f"P6\n{w} {h}\n255\n".encode() + px


def make_png(w: int, h: int, pixel_fn) -> bytes:
    """Minimal RGB PNG (filter 0 scanlines, stdlib zlib) — enough to
    show the real PNG decode path beside netpbm."""
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"".join(
        b"\x00" + bytes(c for x in range(w) for c in pixel_fn(x, y))
        for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_wav(samples, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(b"".join(struct.pack("<h", int(s)) for s in samples))
    return buf.getvalue()


def main() -> None:
    spark = get_spark("media_pipeline")
    with tempfile.TemporaryDirectory(prefix="flyq_media_") as d:
        root = Path(d)
        grad = make_ppm(32, 24, lambda x, y: (x * 7, x * 7, x * 7))
        tweaked = bytearray(grad)
        tweaked[-1] ^= 0x10  # near-duplicate: one subpixel off
        (root / "img_a.ppm").write_bytes(grad)
        (root / "img_a_copy.ppm").write_bytes(grad)  # exact duplicate
        (root / "img_b.ppm").write_bytes(bytes(tweaked))
        (root / "img_c.ppm").write_bytes(
            make_ppm(32, 24, lambda x, y: (255 - x * 7, 0, x * 7))
        )
        # SAME gradient as PNG: different bytes (no content dedup) but
        # identical pixels — the cross-format perceptual near-dup case
        (root / "img_a.png").write_bytes(
            make_png(32, 24, lambda x, y: (x * 7, x * 7, x * 7))
        )
        (root / "tone.wav").write_bytes(
            make_wav([int(3000 * ((i // 20) % 2 * 2 - 1)) for i in range(400)])
        )
        (root / "README.txt").write_bytes(b"not media")

        media = read_media_dir(spark, str(root), glob="*.{ppm,png,wav}").withColumn(
            "file", F.element_at(F.split("path", "/"), -1)
        )
        print(f"ingested {media.count()} files (txt glob-pruned)")

        unique = dedup_by_content(media, "file")
        print(f"after exact content dedup: {unique.count()} "
              "(the byte-identical copy collapsed)")

        feats = extract_features(unique.select("content_id", "payload"))
        print("decoded dimensions (REAL decode — no media library):")
        for r in feats.select("width", "height", "n_frames").collect():
            print(f"  {r['width']}x{r['height']} frames={r['n_frames']}")

        pairs = banded_hamming_pairs(
            perceptual_hash(unique.select("content_id", "payload")),
            "content_id", "phash", 64, 8, 8,
        )
        n_near = pairs.count()
        print(f"perceptual near-dup pairs (hamming<=8): {n_near} "
              "(the one-subpixel tweak + the PNG/PPM cross-format twin; "
              "the inverted gradient is far)")

        out = str(root / "corpus.parquet")
        unique.join(feats, "content_id").drop("mod_time").write.mode(
            "overwrite"
        ).parquet(out)
        print(f"exported columnar corpus: "
              f"{spark.read.parquet(out).count()} rows at {out}")
    spark.stop()


if __name__ == "__main__":
    main()
