"""Binary-blob fuzz wall for the pure-Python media decoders.

The text/vector fuzz wall (scripts/fuzz_corpus.py) has no analogue for
the binary decode paths, and the r13 quadratic-bit-reader bug plus the
r13 ADVICE findings (Kraft-violating DHT, AC-refine band overflow,
offset-less trun) are exactly the class a corrupt-input sweep catches.
This harness mutates VALID payloads of every supported format —
truncation, bit flips, byte deletion/insertion, header dimension edits
— and asserts the decode-or-typed-error contract:

  decode_media(payload, mime) either returns a WELL-FORMED result
  (ndarray / (samples, rate) / probe dict) or raises
  DecoderNotAvailable.  It must never raise anything else, never hang
  (per-decode wall budget), and never allocate absurd memory for tiny
  payloads (implausible-dimension guards).

Seed payloads are built by the same generators the unit tests use
(tests/test_media_decode.py), so coverage tracks the decoders' real
feature matrix: JPEG baseline/progressive/arithmetic/12-bit, PNG all
depths + Adam7, animated GIF, MP4 + fragmented MP4, the WAV family,
BMP, PNM.  Mutations are seeded deterministically; a failure prints the
(format, mutation, seed) triple needed to replay it.

Usage: python scripts/fuzz_media.py [format ...]
       python scripts/fuzz_media.py --list
       FUZZ_MEDIA_N=200 python scripts/fuzz_media.py   # deeper sweep
"""

from __future__ import annotations

import os
import sys
import time
import zlib

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from simple_tsdb_spark.pipeline.multimodal import (  # noqa: E402
    DecoderNotAvailable,
    decode_media,
)

# per-decode wall budget: generous vs the ~0.25 s worst-case legitimate
# decode, tight enough to flag quadratic/unbounded loops
TIME_BUDGET_S = float(os.environ.get("FUZZ_MEDIA_BUDGET_S", "10"))


def _seed_payloads() -> dict[str, list[tuple[str, bytes]]]:
    """format -> [(mime, valid payload)], via the unit-test builders."""
    import test_media_decode as t  # noqa: PLC0415  (tests dir on path)
    from jpeg_arith_ref import encode_arith_gray as _enc12  # noqa: PLC0415

    def _arith12(im):
        return _enc12(im, prec=12, progressive=True)

    rng = np.random.default_rng(20260816)
    gray = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(16, 21, 3), dtype=np.uint8)
    img12 = rng.integers(0, 4096, size=(18, 15)).astype(np.uint16)
    idx = rng.integers(0, 4, size=(13, 11)).astype(np.uint8)
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    pcm = (rng.integers(-3000, 3000, size=(64, 2))).astype(np.int16)

    out: dict[str, list[tuple[str, bytes]]] = {
        "jpeg": [
            ("image/jpeg", t._jpeg_bytes(gray)),
            ("image/jpeg", t._jpeg_bytes(rgb, subsample=True)),
            ("image/jpeg", t._jpeg_progressive_bytes(gray, Al=1)),
            ("image/jpeg", t._jpeg_bytes(img12, prec=12)),
            ("image/jpeg", bytes.fromhex(t._ARITH_SEQ_HEX)),
            ("image/jpeg", bytes.fromhex(t._ARITH_PROG_HEX)),
            ("image/jpeg", _arith12(img12)),
            ("image/jpeg", t._jpeg_lossless_bytes(gray, prec=8, predictor=4, ri=9)),
        ],
        "png": [
            ("image/png", t._png_bytes(rgb)),
            ("image/png", t._png_bytes(gray.astype(np.uint16) * 257, depth=16)),
            ("image/png", t._png_bytes(rgb, interlace=True)),
        ],
        "gif": [
            ("image/gif", t._gif_bytes(idx, pal)),
            ("image/gif", t._gif_anim_bytes(
                (11, 13),
                [(idx[:5, :6], (2, 3), 1, 5, None), (idx[:4, :4], (0, 0), 2, 5, 0)],
                pal,
            )),
        ],
        "mp4": [
            ("video/mp4", t._mp4_bytes([b"frameA", b"frameBB", b"fC"])),
            ("video/mp4", t._fmp4_bytes([[(b"frameAAAA", 100), (b"frBB", 150)]])),
        ],
        "wav": [
            ("audio/wav", t._wav_bytes(pcm)),
            ("audio/wav", t._wav_raw(bytes(range(256)), tag=7, nch=2, rate=8000, bits=8)),
            ("audio/wav", t._wav_raw(
                t._ima_block(-1234, 17, bytes(rng.integers(0, 256, size=32, dtype=np.uint8))),
                tag=0x11, nch=1, rate=8000, bits=4, balign=36)),
            ("audio/wav", t._wav_raw(
                np.linspace(-1, 1, 64, dtype="<f4").tobytes(),
                tag=3, nch=1, rate=8000, bits=32,
            )),
        ],
        "bmp": [("image/bmp", t._bmp_bytes(rgb))],
        "pnm": [
            ("image/x-portable-pixmap", t._ppm_bytes(rgb)),
            ("image/x-portable-graymap", t._pgm_bytes(gray)),
        ],
    }
    return out


def _well_formed(result, mime: str) -> str | None:
    """None if the decode result honors its shape contract, else why."""
    if mime.startswith("image/"):
        if not isinstance(result, np.ndarray):
            return f"image decode returned {type(result).__name__}"
        if result.ndim not in (2, 3) or result.size == 0:
            return f"bad image shape {result.shape}"
        if result.dtype not in (np.uint8, np.uint16):
            return f"bad image dtype {result.dtype}"
        if result.size > (1 << 26):
            return f"absurd image size {result.shape}"
    elif mime.startswith("audio/"):
        if not (isinstance(result, tuple) and len(result) == 2):
            return f"audio decode returned {type(result).__name__}"
    elif mime.startswith("video/"):
        if not (isinstance(result, dict) and "tracks" in result):
            return f"video probe returned {type(result).__name__}"
    return None


def _mutants(payload: bytes, rng: np.random.Generator, n: int):
    """Deterministic corruption stream: truncations, bit flips, byte
    deletions/insertions, and 16-bit header-field edits (the dimension-
    edge class: tiny payloads declaring huge rasters)."""
    L = len(payload)
    for cut in {1, 2, L // 4, L // 2, L - 1, L - 2}:
        if 0 < cut < L:
            yield f"trunc@{cut}", payload[:cut]
    for _ in range(n):
        kind = int(rng.integers(0, 4))
        i = int(rng.integers(0, L))
        if kind == 0:  # single bit flip
            b = bytearray(payload)
            b[i] ^= 1 << int(rng.integers(0, 8))
            yield f"flip@{i}", bytes(b)
        elif kind == 1:  # delete a byte
            yield f"del@{i}", payload[:i] + payload[i + 1:]
        elif kind == 2:  # insert a random byte
            yield f"ins@{i}", payload[:i] + bytes([int(rng.integers(0, 256))]) + payload[i:]
        else:  # stomp a big-endian u16 (hits dims/lengths in headers)
            b = bytearray(payload)
            v = int(rng.integers(0, 0x10000))
            b[i: i + 2] = v.to_bytes(2, "big")[: max(0, min(2, L - i))]
            yield f"u16@{i}={v:04x}", bytes(b)


def fuzz_format(fmt: str, seeds, n: int, seed0: int = 0) -> list[str]:
    failures: list[str] = []
    for si, (mime, payload) in enumerate(seeds):
        rng = np.random.default_rng(1_000_003 * (seed0 + si) + zlib.crc32(fmt.encode()) % 1000)
        # the pristine payload must decode
        try:
            bad = _well_formed(decode_media(payload, mime), mime)
            if bad:
                failures.append(f"{fmt}[{si}] pristine: {bad}")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{fmt}[{si}] pristine raised {type(exc).__name__}: {exc}")
            continue
        for tag, mut in _mutants(payload, rng, n):
            t0 = time.time()
            try:
                result = decode_media(mut, mime)
                bad = _well_formed(result, mime)
                if bad:
                    failures.append(f"{fmt}[{si}] {tag}: {bad}")
            except DecoderNotAvailable:
                pass  # the typed contract
            except Exception as exc:  # noqa: BLE001
                failures.append(
                    f"{fmt}[{si}] {tag}: {type(exc).__name__}: {exc}"
                )
            dt = time.time() - t0
            if dt > TIME_BUDGET_S:
                failures.append(f"{fmt}[{si}] {tag}: took {dt:.1f}s (budget {TIME_BUDGET_S})")
    return failures


def main(argv: list[str]) -> int:
    seeds = _seed_payloads()
    if "--list" in argv:
        print(" ".join(seeds))
        return 0
    wanted = [a for a in argv if not a.startswith("-")] or list(seeds)
    n = int(os.environ.get("FUZZ_MEDIA_N", "60"))
    total_fail: list[str] = []
    nchecks = 0
    for fmt in wanted:
        fails = fuzz_format(fmt, seeds[fmt], n)
        nchecks += len(seeds[fmt]) * (n + 6)
        status = "OK" if not fails else f"{len(fails)} FAILURES"
        print(f"[{fmt}] {status}")
        for f in fails:
            print(f"  {f}")
        total_fail += fails
    print(f"== {nchecks} checks, {len(total_fail)} failures ==")
    return 1 if total_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
