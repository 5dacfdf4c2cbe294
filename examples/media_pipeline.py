"""Multimodal preprocessing pipeline on binary columns — REAL decode.

r4: BMP/PPM/PGM images decode with pure numpy, exactly as the
audio path decodes raw PCM16. This example runs the full vision-prep
shape a training pipeline needs:

  synthetic media table (binary payloads + typed metadata)
    -> image_features   (decode -> width/height/channel stats)
    -> resize_images    (decode -> nearest-neighbor -> re-encode)
    -> audio_features   (PCM16 -> rms/peak/duration)
    -> frame_sample_plan (video -> per-frame decode plan rows)

Run:  python examples/media_pipeline.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import multimodal as mm
from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
    ensure_package_on_executors,
    get_spark,
)


def main():
    spark = get_spark("media-pipeline", master="local[8]")
    ensure_package_on_executors(spark)

    imgs = mm.synthetic_images(spark, 12)
    print("== image_features (pure-numpy decode) ==")
    mm.image_features(imgs).show(6)

    print("== resize_images (64x48 -> re-encoded) ==")
    resized = mm.resize_images(imgs, 64, 48)
    stats = mm.image_features(
        resized.select("media_id", "kind", "content"))
    stats.select("media_id", "width", "height", "n_channels").show(6)

    media = mm.synthetic_media(spark, 30)
    print("== audio_features (PCM16 decode) ==")
    mm.audio_features(media).show(5)

    print("== frame_sample_plan (video fan-out) ==")
    mm.frame_sample_plan(media, every_ms=1000).show(8)
    spark.stop()


if __name__ == "__main__":
    main()
