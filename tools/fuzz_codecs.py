"""Heavy round-trip fuzz for the library-free codecs — a deeper pass
than the suite's hypothesis defaults, run on demand:

    python tools/fuzz_codecs.py [iterations]

For each seeded iteration it builds a random image (dims, pixel
formula, transform/scan-script combination) with the INDEPENDENT
test-side encoders and requires the production decoders to
reconstruct it bit-exactly (PNG/VP8L/GIF) or within the documented
tolerance (JPEG). Any failure prints the reproducing seed. Exit code
0 = all clean.
"""

from __future__ import annotations

import os
import random
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from test_imagecodec import (  # noqa: E402  (test-side encoders)
    _jpeg_encode,
    _jpeg_encode_progressive,
    _vp8l_encode,
)

from data_pipeline_childcare_spark.sources.imagecodec import (  # noqa: E402
    decode_jpeg_baseline,
    decode_png,
    decode_webp,
    encode_png,
)


def fuzz_one(seed: int) -> str | None:
    rng = random.Random(seed)
    kind = rng.choice(["png", "vp8l", "jpeg_base", "jpeg_prog", "flac"])
    w = rng.randint(1, 24)
    h = rng.randint(1, 20)

    def px(i: int, c: int) -> int:
        return (seed * 31 + i * (7 + c) + c * 13) % 256

    if kind == "png":
        mode, ch = rng.choice([("L", 1), ("LA", 2), ("RGB", 3), ("RGBA", 4)])
        pixels = bytes(px(i, c) for i in range(w * h) for c in range(ch))
        blob = encode_png(w, h, pixels, mode=mode, filter_type=rng.randint(0, 4))
        got = decode_png(blob)
        if got != (w, h, mode, pixels):
            return f"png mismatch seed={seed}"
    elif kind == "vp8l":
        rgba = [tuple(px(i, c) for c in range(4)) for i in range(w * h)]
        kwargs = {}
        if rng.random() < 0.4:
            kwargs["subtract_green"] = True
        if rng.random() < 0.4:
            kwargs["cache_bits"] = rng.randint(1, 6)
        if rng.random() < 0.3:
            kwargs["rle"] = True
        if rng.random() < 0.3:
            kwargs["predictor_bits"] = rng.randint(2, 4)
        elif rng.random() < 0.3:
            kwargs["color_bits"] = rng.randint(2, 4)
            kwargs["color_cte"] = (rng.randint(0, 255), rng.randint(0, 255), rng.randint(0, 255))
        blob = _vp8l_encode(w, h, rgba, **kwargs)
        dw, dh, mode, out = decode_webp(blob)
        expect = bytes(v for p in rgba for v in p)
        if (dw, dh, mode, out) != (w, h, "RGBA", expect):
            return f"vp8l mismatch seed={seed} kwargs={kwargs}"
    elif kind in ("jpeg_base", "jpeg_prog"):
        w = max(1, (w // 8) * 8) if rng.random() < 0.5 else w
        pixels = bytes(px(i, 0) for i in range(w * h))
        if kind == "jpeg_base":
            blob = _jpeg_encode(pixels, w, h, mode="L")
        else:
            blob = _jpeg_encode_progressive(
                pixels, w, h, mode="L", successive=rng.random() < 0.7
            )
        dw, dh, mode, out = decode_jpeg_baseline(blob)
        if (dw, dh, mode) != (w, h, "L"):
            return f"{kind} dims mismatch seed={seed}"
        err = max(abs(a - b) for a, b in zip(out, pixels))
        if err > 2:
            return f"{kind} error {err} seed={seed}"
    if kind == "flac":
        import math

        from test_flaccodec import _pcm16, encode_flac
        from data_pipeline_childcare_spark.sources.flaccodec import decode_flac

        n_ch = rng.choice([1, 2])
        n = rng.randrange(30, 1200)
        amp = rng.randrange(50, 20000)
        chans = [
            [int(amp * math.sin(0.0007 * seed + 0.11 * rng.random() * i + c))
             for i in range(n)]
            for c in range(n_ch)
        ]
        sk = rng.choice(["verbatim", "fixed", "lpc"])
        kw = {}
        if sk == "fixed":
            kw = {"order": rng.randrange(0, 5),
                  "part_order": rng.choice([0, 1, 2]),
                  "rice2": rng.random() < 0.5,
                  "force_escape": rng.random() < 0.25}
        if sk == "lpc":
            kw = {"lpc_coefs": [rng.randrange(-60, 61) or 1
                                for _ in range(rng.randrange(1, 6))],
                  "lpc_shift": rng.randrange(0, 9)}
        mode = "independent" if n_ch == 1 else rng.choice(
            ["independent", "left_side", "right_side", "mid_side"])
        blob = encode_flac(chans, blocksize=rng.choice([64, 100, 192, 256]),
                           mode=mode, kind=sk, **kw)
        _, _, pcm = decode_flac(blob)
        if pcm != _pcm16(chans):
            return f"flac mismatch seed={seed} kind={sk} mode={mode} kw={kw}"
    return None


# --- animated GIF cross-check ------------------------------------------
# An independent reference compositor (pure python, no shared code with
# parse_gif_frames) replays GCE/disposal semantics; the fuzz builds
# random animations and requires identical frame snapshots.

import struct as _struct  # noqa: E402

from test_imagecodec import _gce, _gif_frame  # noqa: E402

from data_pipeline_childcare_spark.sources.imagecodec import (  # noqa: E402
    parse_gif_frames,
)


def _ref_composite(sw, sh, palette, frames_spec):
    bg = palette[0]
    canvas = [bg] * (sw * sh)
    out = []
    for left, top, fw, fh, idxs, delay_cs, transp, disposal in frames_spec:
        saved = list(canvas) if disposal == 3 else None
        for y in range(fh):
            for x in range(fw):
                ci = idxs[y * fw + x]
                if transp is not None and ci == transp:
                    continue
                canvas[(top + y) * sw + (left + x)] = palette[ci]
        out.append((delay_cs * 10, [c for px in canvas for c in px]))
        if disposal == 2:
            for y in range(fh):
                for x in range(fw):
                    canvas[(top + y) * sw + (left + x)] = bg
        elif disposal == 3:
            canvas = saved
    return out


def fuzz_gif_anim(seed: int) -> str | None:
    rng = random.Random(10_000_000 + seed)
    sw, sh = rng.randint(2, 10), rng.randint(2, 8)
    palette = [(i * 60 % 256, i * 90 % 256, i * 30 % 256) for i in range(4)]
    pal_bytes = bytes(v for c in palette for v in c)
    blob = bytearray(b"GIF89a") + _struct.pack("<HH", sw, sh) + bytes([0x81, 0, 0]) + pal_bytes
    spec = []
    for _f in range(rng.randint(1, 6)):
        fw = rng.randint(1, sw)
        fh = rng.randint(1, sh)
        left = rng.randint(0, sw - fw)
        top = rng.randint(0, sh - fh)
        idxs = [rng.randint(0, 3) for _ in range(fw * fh)]
        delay = rng.randint(1, 20)
        transp = rng.choice([None, 0, 3])
        disposal = rng.choice([0, 1, 2, 3])
        spec.append((left, top, fw, fh, idxs, delay, transp, disposal))
        blob += _gce(delay, transp=transp, disposal=disposal)
        blob += _gif_frame(left, top, fw, fh, idxs)
    blob += b"\x3b"
    gw, gh, got = parse_gif_frames(bytes(blob))
    want = _ref_composite(sw, sh, palette, spec)
    if (gw, gh) != (sw, sh) or len(got) != len(want):
        return f"gif dims/frames mismatch seed={seed}"
    for i, ((gd, gp), (wd, wp)) in enumerate(zip(got, want)):
        if gd != wd or list(gp) != wp:
            return f"gif frame {i} mismatch seed={seed}"
    return None

# --- audio tiers (IMA ADPCM + G.711) -----------------------------------

import math  # noqa: E402

from test_sources import _ima_encode  # noqa: E402

from data_pipeline_childcare_spark.sources.multimodal import (  # noqa: E402
    _g711_tables,
    _parse_wav_pcm,
)

_ULAW, _ALAW = _g711_tables()


def fuzz_audio(seed: int) -> str | None:
    rng = random.Random(20_000_000 + seed)
    kind = rng.choice(["ima", "ulaw", "alaw"])
    n = rng.randint(50, 900)
    if kind == "ima":
        # ADPCM is a slope codec: keep max slope within what the step
        # table tracks quickly (speech-like signals), else slope
        # overload — an INHERENT artifact, not a decode defect —
        # dominates the error and the bound means nothing
        amp = rng.randint(500, 8000)
        period = rng.randint(120, 400)
    else:
        amp = rng.randint(500, 20000)
        period = rng.randint(40, 300)
    samples = [int(amp * math.sin(2 * math.pi * i / period)) for i in range(n)]
    if kind == "ima":
        blob = _ima_encode(samples, 8000)
        _r, _c, pcm = _parse_wav_pcm(blob)
        dec = [int.from_bytes(pcm[2 * i : 2 * i + 2], "little", signed=True)
               for i in range(len(pcm) // 2)]
        if len(dec) < n:
            return f"ima short seed={seed}"
        # adaptation transients after direction changes reach ~20% of
        # amplitude; a sign/table bug produces ~2x amplitude errors,
        # which this still catches
        bound = max(64, amp // 3)
        err = max(abs(a - b) for a, b in zip(dec[:n], samples))
        if err > bound:
            return f"ima err {err} > {bound} seed={seed}"
    else:
        table = _ULAW if kind == "ulaw" else _ALAW
        import struct as _s

        enc = bytes(min(range(256), key=lambda b: abs(table[b] - s)) for s in samples)
        fmt_code = 7 if kind == "ulaw" else 6
        fmt = _s.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, 8)
        body = (b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
                + b"data" + _s.pack("<I", len(enc)) + enc)
        blob = b"RIFF" + _s.pack("<I", len(body)) + body
        _r, _c, pcm = _parse_wav_pcm(blob)
        dec = [int.from_bytes(pcm[2 * i : 2 * i + 2], "little", signed=True)
               for i in range(len(pcm) // 2)]
        # companding: logarithmic quantization error bound
        err = max(abs(a - b) for a, b in zip(dec, samples))
        if err > max(40, amp // 10):
            return f"{kind} err {err} seed={seed}"
    return None

def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    failures = []
    for seed in range(n):
        for fn in (fuzz_one, fuzz_gif_anim, fuzz_audio):
            msg = fn(seed)
            if msg:
                failures.append(msg)
                print("FAIL", msg)
        if seed and seed % 100 == 0:
            print(f"... {seed}/{n}", file=sys.stderr)
    print(f"{3 * n - len(failures)}/{3 * n} clean")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
