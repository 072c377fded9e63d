#!/usr/bin/env python
"""Throughput probe for the real pixel/sample decoders at corpus scale.

The driver keys stage a few dozen files (enough for the value oracle);
this probe measures the 100-TB-relevant number instead: decode
throughput when payloads arrive as a binary COLUMN (the production
shape — payloads live in parquet/lakehouse rows, not millions of tiny
files). Fixtures are synthesized INSIDE the executors (mapInPandas), so
the probe has no driver-side loop and no tiny-file I/O; the decode
stage is exactly the shipped one (pipeline/multimodal.py:pixel_stats /
wav_sample_stats).

Prints one JSON line per format with wall, rows, rows/sec and a
fixed-work host calibration pair; SCALE.md carries the table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_IMAGES = 100_000
IMG_W, IMG_H = 32, 24
N_WAVS = 100_000
WAV_SAMPLES = 2_000  # ~4 KB payload each, mono


def main() -> None:
    from pyspark.sql import functions as F

    from database_syncer_spark.session import get_spark

    spark = get_spark("mm_scale_probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    def gen_png(batches):
        import pandas as pd

        from database_syncer_spark.pipeline.multimodal import synth_png_rgb

        # one rendered template per worker batch; per-row uniqueness is
        # not the point (decode cost is), but vary dims a little so
        # whole-stage constant-folding can't cheat
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["id"],
                "content": [synth_png_rgb(IMG_W + int(i) % 4,
                                          IMG_H + int(i) % 3)
                            for i in pdf["id"]],
            })

    def gen_gif(batches):
        import pandas as pd

        from database_syncer_spark.pipeline.multimodal import synth_gif_lzw

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["id"],
                "content": [synth_gif_lzw(IMG_W + int(i) % 4,
                                          IMG_H + int(i) % 3)
                            for i in pdf["id"]],
            })

    def gen_wav(batches):
        import pandas as pd

        from database_syncer_spark.pipeline.multimodal import synth_wav

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["id"],
                "content": [synth_wav(8000 + int(i) % 5 * 4000, 1,
                                      WAV_SAMPLES + int(i) % 7)
                            for i in pdf["id"]],
            })

    def gen_jpeg(batches):
        import pandas as pd

        from database_syncer_spark.pipeline.jpeg import (
            encode_jpeg_baseline, fixture_coefs)

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["id"],
                "content": [encode_jpeg_baseline(
                    IMG_W + 8 * (int(i) % 2), IMG_H + 8 * (int(i) % 3),
                    lambda bx, by, i=int(i): fixture_coefs(i % 997, bx, by),
                    chroma_dc=2 * (int(i) % 5 - 2))
                    for i in pdf["id"]],
            })

    from database_syncer_spark.pipeline.jpeg import decode_jpeg_pixels
    from database_syncer_spark.pipeline.multimodal import (
        decode_gif_pixels, decode_png_pixels, pixel_stats, wav_sample_stats)

    def calib() -> list[float]:
        import shutil
        import tempfile

        def leg() -> float:
            d = tempfile.mkdtemp(prefix="dss_mm_calib_")
            try:
                t0 = time.perf_counter()
                (spark.range(0, 8_000_000, 1, 32)
                 .select("id", F.xxhash64("id").alias("h1"))
                 .write.mode("overwrite").parquet(os.path.join(d, "p")))
                os.sync()
                return round(time.perf_counter() - t0, 2)
            finally:
                shutil.rmtree(d, ignore_errors=True)

        return sorted(leg() for _ in range(2))

    jobs = [
        ("png_pixels", N_IMAGES, gen_png,
         lambda f: pixel_stats(f, decode_png_pixels)),
        ("gif_pixels", N_IMAGES, gen_gif,
         lambda f: pixel_stats(f, decode_gif_pixels)),
        ("jpeg_pixels", N_IMAGES, gen_jpeg,
         lambda f: pixel_stats(f, decode_jpeg_pixels)),
        ("wav_samples", N_WAVS, gen_wav, wav_sample_stats),
    ]
    only = set(sys.argv[1:])
    if only:
        jobs = [j for j in jobs if j[0] in only]
    for name, n, gen, decode in jobs:
        src = (spark.range(0, n, 1, 64)
               .mapInPandas(gen, "doc_id long, content binary")
               .persist())
        src.count()  # materialize synth OUTSIDE the decode timing
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            decode(src).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 1))
        src.unpersist()
        runs.sort()
        print(json.dumps({
            "metric": "multimodal_scale_probe", "format": name, "rows": n,
            "decode_runs_sec": runs,
            "rows_per_sec_median": round(n / runs[1]),
            "host_calib_write_sec": calib(),
            "loadavg": os.getloadavg()}))


if __name__ == "__main__":
    main()
