"""Media decode throughput honesty check (VERDICT r7 next-step #6).

Measures single-core MB/s of each REAL pure-Python decoder against the
stub, over synthetic payloads of realistic sizes, and prints one JSON
line. The numbers quantify the documented caveat in SCALE.md: at real
100 TB media scale, pure-Python per-payload decode is CPU-bound far
below a native decoder — these MB/s are the trigger threshold for
swapping in PIL/libav kernels behind the same `_try_decode_*` boundary
(flyq_spark/envprobe.py auto-activates them when present).

The Spark-side cost model is then: decode wall-clock ≈
corpus_bytes / (MB_per_s_per_core × cores); no shuffle is involved
(Arrow mapInPandas, per-payload kernels), so throughput scales
linearly with cores until the source's split count binds.

    python tools/bench_media.py
"""

from __future__ import annotations

import io
import json
import os
import struct
import sys
import time
import wave
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def make_p6(w, h):
    raster = bytes((x * 7 + y * 13 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    return b"P6\n%d %d\n255\n" % (w, h) + raster


def make_bmp(w, h):
    row = bytearray()
    rows = []
    for y in range(h):
        row = bytearray()
        for x in range(w):
            row += bytes(((x + y) % 256, (x * 2) % 256, (y * 3) % 256))
        row += b"\x00" * ((4 - len(row) % 4) % 4)
        rows.append(bytes(row))
    raster = b"".join(reversed(rows))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + dib + raster


def make_png(w, h):
    rows = b""
    for y in range(h):
        rows += b"\x00" + bytes(
            (x * 3 + y * 5 + c) % 256 for x in range(w) for c in range(3)
        )
    comp = zlib.compress(rows, 6)

    def chunk(tag, body):
        c = tag + body
        return struct.pack(">I", len(body)) + c + struct.pack(">I", zlib.crc32(c))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", comp)
        + chunk(b"IEND", b"")
    )


def make_wav(n_samples, rate=16000):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(
            b"".join(
                struct.pack("<h", ((i * 257) % 32768) - 16384)
                for i in range(n_samples)
            )
        )
    return buf.getvalue()


def make_jpeg(w, h):
    """Baseline JPEG via the test-suite encoder (canonical Huffman,
    q=16 luma-only)."""
    import numpy as np

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from test_ext_operators import _jpeg_encode

    y = np.zeros((h, w))
    for r in range(h):
        y[r, :] = [((r // 8) * 16 + (c // 8) * 8) % 200 for c in range(w)]
    payload, _ = _jpeg_encode(y, [16] * 64)
    return payload


def bench(name, payload, fn, min_s=2.0, megapixels=None):
    n, t0 = 0, time.perf_counter()
    while True:
        out = fn(payload)
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            break
    assert out is not None, f"{name}: decoder rejected its own payload"
    mbps = len(payload) * n / dt / 1e6
    r = {"payloads_per_s": round(n / dt, 2), "mb_per_s_per_core": round(mbps, 2),
         "payload_bytes": len(payload)}
    if megapixels is not None:
        # compressed formats make MB/s misleading (decode cost follows
        # PIXELS, not payload bytes) — MP/s is the comparable unit
        r["mp_per_s_per_core"] = round(megapixels * n / dt, 2)
    return r


def main() -> None:
    from flyq_spark.operators import multimodal as M

    results = {}
    mp = 512 * 512 / 1e6
    cases = [
        ("netpbm_p6_512x512", make_p6(512, 512), M._try_decode_netpbm, mp),
        ("bmp24_512x512", make_bmp(512, 512), M._try_decode_bmp, mp),
        ("png_rgb_512x512", make_png(512, 512), M._try_decode_png, mp),
        ("jpeg_baseline_512x512", make_jpeg(512, 512), M._try_decode_jpeg, mp),
        ("wav_pcm16_10s_16k", make_wav(160000), M._try_decode_wav, None),
    ]
    for name, payload, fn, m in cases:
        results[name] = bench(name, payload, fn, megapixels=m)
    # the stub (sha256 + fixed fake) is the no-decode ceiling
    stub_payload = make_png(512, 512)
    results["stub_sha256"] = bench(
        "stub", stub_payload, lambda p: M._decode_stub(p, "image", 8)
    )
    print(json.dumps({"metric": "media_decode_throughput", "unit": "MB/s/core",
                      "results": results}))


if __name__ == "__main__":
    main()
