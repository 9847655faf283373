"""Throughput envelope for the multimodal kernels (r12): decode metadata
and real frame extraction over generated GIF/APNG/Y4M/PNG fixtures.

The stdlib codecs are pure-Python per-pixel loops — the honest cost of
zero-dependency honesty. This bench records assets/s and frames/s so the
100 TB story is a measured number: the mapInPandas seam is the
production swap point (Pillow-SIMD / ffmpeg drop in per executor without
touching the Spark plumbing, schema, or sampling semantics).

Usage: python tools/bench_multimodal.py [--assets 512]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, spark_session  # noqa: E402


def _big_asset_rows(n: int):
    """Realistic-size assets for --big: 640x480 JPEGs (q85 4:2:0 —
    ~25,000x the pixels of the tiny contract fixtures), mixed-filter
    PNGs of the same size, and 8-frame 320x240 MJPEG clips. Measures
    the OPERATOR path (Arrow batches + kernels) at production-shaped
    pixel counts."""
    import numpy as np

    from seqspark.pipeline import avi as _avi
    from seqspark.pipeline import jpeg as _jpeg
    from seqspark.pipeline.multimodal import _png_encode

    rows = []
    w, h = 640, 480
    yy, xx = np.mgrid[0:h, 0:w]
    for i in range(n):
        base = np.stack(
            [(xx * 3 + i * 17) % 256, (yy * 5 + i * 29) % 256,
             ((xx + yy) * 2 + i * 7) % 256],
            axis=-1,
        ).astype(np.uint8)
        if i % 3 == 0:
            content = _jpeg.encode(
                w, h, 3, base.tobytes(), quality=85, subsample="420"
            )
            rows.append((i, "image", bytearray(content), "{}"))
        elif i % 3 == 1:
            content = _png_encode(w, h, 3, bytearray(base.tobytes()))
            rows.append((i, "image", bytearray(content), "{}"))
        else:
            vw, vh = 320, 240
            clip = [
                _jpeg.encode(
                    vw, vh, 3,
                    base[:vh, :vw][:, :, [k % 3, (k + 1) % 3, (k + 2) % 3]]
                    .tobytes(),
                    quality=85, subsample="420",
                )
                for k in range(8)
            ]
            rows.append((i, "video", bytearray(_avi.encode(vw, vh, clip)), "{}"))
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--assets", type=int, default=512)
    ap.add_argument(
        "--big", action="store_true",
        help="realistic-size assets (640x480) through the full operators",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    spark = spark_session()

    from seqspark.pipeline.multimodal import (
        audio_features,
        decode_assets,
        dhash_images,
        make_real_apng_assets,
        make_real_assets,
        make_real_gif_assets,
        make_real_jpeg_assets,
        make_real_flac_assets,
        make_real_mjpeg_assets,
        make_real_y4m_assets,
        sample_frames,
    )

    n = args.assets
    if args.big:
        from seqspark.pipeline.multimodal import ASSET_SCHEMA, resize_images

        rows = _big_asset_rows(n)
        big = (
            spark.createDataFrame(rows, ASSET_SCHEMA)
            .repartition(CPUS)
            .cache()
        )
        big.count()
        images = sum(1 for r in rows if r[1] == "image")
        videos = len(rows) - images
        mpix_images = images * 640 * 480 / 1e6
        mpix_frames = videos * 8 * 320 * 240 / 1e6
        res = {
            "metric": "seqspark_multimodal_big_throughput",
            "assets": n, "cpus": CPUS,
            "image_px": "640x480", "video": "8f 320x240 MJPEG",
        }

        def brate(name, fn, mpix):
            t0 = time.perf_counter()
            cnt = fn()
            dt = time.perf_counter() - t0
            res[name] = {
                "sec": round(dt, 2), "rows": cnt,
                "mpix_per_sec": round(mpix / dt, 1),
            }

        # warm-up: Python worker spin-up + Arrow path, billed nowhere
        decode_assets(big, fake=False).count()
        brate("decode_meta", lambda: decode_assets(big, fake=False).count(),
              mpix_images + mpix_frames)
        brate("dhash",
              lambda: dhash_images(big, fake=False, project=("asset_id",))
              .where("dhash is not null").count(),
              mpix_images + videos * 0.0768)
        brate("resize_64x64",
              lambda: resize_images(big, 64, 64, fake=False,
                                    codec="stdlib").count(),
              mpix_images)
        # the accelerated (Pillow) seam, measured wherever Pillow exists:
        # same operators with codec="auto" — in a Pillow-less env this is
        # the stdlib fallback and the honest result is "pil absent"
        from seqspark.pipeline import codec_accel

        if codec_accel.pil_image_module() is not None:
            # (decode_meta above is ALREADY the accelerated path when
            # Pillow exists — decode_assets is seam-automatic)
            brate("resize_64x64_accel",
                  lambda: resize_images(big, 64, 64, fake=False,
                                        codec="auto").count(),
                  mpix_images)
            brate("dhash_accel",
                  lambda: dhash_images(big, fake=False,
                                       project=("asset_id",),
                                       codec="auto")
                  .where("dhash is not null").count(),
                  mpix_images + videos * 0.0768)
            res["accel"] = "pillow"
            res["resize_accel_speedup"] = round(
                res["resize_64x64"]["sec"]
                / max(res["resize_64x64_accel"]["sec"], 1e-9), 2)
        else:
            res["accel"] = "pil absent (stdlib kernels only)"
        brate("frames_all",
              lambda: sample_frames(big.where("media_type = 'video'"),
                                    every_n=1, fake=False).count(),
              mpix_frames)
        print(json.dumps(res))
        spark.stop()
        return

    from seqspark.pipeline.multimodal import (
        audio_meta, make_real_bmp_rle_assets, make_real_isobmff_assets,
        make_real_mp3_assets, make_real_ogg_assets, make_real_tiff_pixel_assets,
        make_real_wavext_assets, make_real_webp_assets,
        make_real_webp_lossy_assets)

    fixtures = {
        "png_wav": make_real_assets(spark, n),
        "gif": make_real_gif_assets(spark, n),
        "apng": make_real_apng_assets(spark, n),
        "y4m": make_real_y4m_assets(spark, n),
        "jpeg": make_real_jpeg_assets(spark, n),
        "mjpeg": make_real_mjpeg_assets(spark, n),
        "flac": make_real_flac_assets(spark, n),
        # r14 containers: pixel tiers (tiff/bmp-rle) and the header-only
        # planner tiers (webp/isobmff/mp3/ogg) whose decode_<kind> rate
        # IS the "planning costs header bytes" claim, measured
        "tiff": make_real_tiff_pixel_assets(spark, n),
        "bmp_rle": make_real_bmp_rle_assets(spark, n),
        "webp": make_real_webp_assets(spark, n),
        "isobmff": make_real_isobmff_assets(spark, n),
        "mp3": make_real_mp3_assets(spark, n),
        "ogg": make_real_ogg_assets(spark, n),
        "wavext": make_real_wavext_assets(spark, n),
        # r16: lossy VP8 pixel tier (the committed libwebp-encoded
        # corpus, cycled) — dhash_webp_lossy below is the pixel rate
        "webp_lossy": make_real_webp_lossy_assets(spark, n),
    }
    # repartition so the Arrow batches spread over the executor threads
    fixtures = {
        k: v.repartition(CPUS).cache() for k, v in fixtures.items()
    }
    for v in fixtures.values():
        v.count()

    res = {"metric": "seqspark_multimodal_throughput", "assets": n,
           "cpus": CPUS}

    def rate(name, fn, unit_count):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        res[name] = {
            "sec": round(dt, 2),
            "per_sec": round(unit_count(out) / dt, 1),
            "rows": unit_count(out),
        }

    for kind, df in fixtures.items():
        rate(f"decode_{kind}",
             lambda df=df: decode_assets(df, fake=False).count(),
             lambda c: c)
    for kind in ("gif", "apng", "y4m", "mjpeg"):
        rate(f"frames_{kind}",
             lambda kind=kind: sample_frames(
                 fixtures[kind], n_samples=3, fake=False).count(),
             lambda c: c)
    rate("dhash_gif",
         lambda: dhash_images(fixtures["gif"], fake=False)
         .filter(F.col("dhash").isNotNull()).count(),
         lambda c: c)
    rate("dhash_jpeg",
         lambda: dhash_images(fixtures["jpeg"], fake=False)
         .filter(F.col("dhash").isNotNull()).count(),
         lambda c: c)
    rate("dhash_webp_lossy",
         lambda: dhash_images(fixtures["webp_lossy"], fake=False)
         .filter(F.col("dhash").isNotNull()).count(),
         lambda c: c)
    rate("audio_features",
         lambda: audio_features(fixtures["png_wav"], fake=False)
         .filter(F.col("fingerprint").isNotNull()).count(),
         lambda c: c)
    # r13: the same DSP features through the stdlib FLAC decoder (Rice
    # decode is the pure-Python cost; WAV above is the near-free baseline)
    rate("audio_features_flac",
         lambda: audio_features(fixtures["flac"], fake=False)
         .filter(F.col("fingerprint").isNotNull()).count(),
         lambda c: c)
    # r14: the audio planner tier — container/rate/channels/duration
    # without decoding samples, across every metadata-capable container
    for kind in ("mp3", "ogg", "flac", "wavext", "isobmff"):
        rate(f"audio_meta_{kind}",
             lambda kind=kind: audio_meta(
                 fixtures[kind], fake=False).count(),
             lambda c: c)
    rate("audio_features_wavext",
         lambda: audio_features(fixtures["wavext"], fake=False)
         .filter(F.col("fingerprint").isNotNull()).count(),
         lambda c: c)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
