#!/usr/bin/env python
"""End-to-end example: the multimodal column pipeline.

A 100 TB multimodal corpus stores media as opaque binary columns; the
pipeline routes each blob to a decoder and lands typed feature tables.
This script shows that shape on the driver's documents table with the
engine's seven stdlib-real codecs (operators/multimodal.py +
operators/codecs.py):

1. metadata pass   — cheap JVM-side projection (size/digest/format)
                     that routes media to decoders;
2. decode passes   — every codec family end to end: raw (PPM), deflate
                     (PNG), PCM (WAV), DCT+Huffman (baseline JPEG),
                     companding (G.711 mu-law), container index-seek
                     (AVI frame sampling), dictionary coding (GIF LZW);
3. feature sink    — one parquet table per modality, partitioned the
                     way a downstream trainer would read them.

On a real corpus the synthesized-payload encode stage disappears (the
bytes already exist); everything else in this file is the production
shape.

Usage:
    python examples/run_multimodal_decode.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_map_reduce_ruuner_spark.operators import codecs, multimodal
from simple_map_reduce_ruuner_spark.session import get_spark

DECODERS = {
    "image_ppm": multimodal.decode_image_ppm,
    "image_png": multimodal.decode_image_png,
    "image_jpeg": codecs.decode_image_jpeg,
    "image_gif": codecs.decode_image_gif,
    "audio_wav": multimodal.decode_audio_wav,
    "audio_mulaw": codecs.decode_audio_mulaw,
    "video_avi": codecs.decode_video_avi,
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/multimodal_out"
    spark = get_spark()

    meta = multimodal.multimodal_meta(spark, sf_dir)
    meta.write.mode("overwrite").parquet(f"{out_dir}/meta")
    print(f"meta: {meta.count()} blobs profiled -> {out_dir}/meta")

    for name, fn in DECODERS.items():
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        print(f"{name}: {df.count()} rows x {len(df.columns)} features")

    frames = multimodal.frame_sample(spark, sf_dir)
    frames.write.mode("overwrite").parquet(f"{out_dir}/frame_digests")
    print(f"frame_sample: {frames.count()} frame digests")
    print(f"done -> {out_dir}")


if __name__ == "__main__":
    main()
