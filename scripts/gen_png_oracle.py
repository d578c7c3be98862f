"""Generate the PNG-feature oracle fixture WITHOUT decoding any PNG bytes.

The synth encoder (mopper_spark.textops.multimodal.synth_png_payload)
writes pixels from the closed-form formula ``synth_png_pixel`` through all
five PNG scanline filters + zlib.  This oracle re-derives the expected
features **from the formula alone** — it never touches zlib, chunks, or
filters — so the Spark kernel (`multimodal_png_features`) only matches if
its decoder genuinely round-trips the encoder output (CRC walk, inflate,
and a correct inverse of every filter incl. Paeth).

The width/height/color-type parameters are restated here from the synth
docstring rather than imported, keeping the derivation independent of the
encoder's code path.

Usage: python scripts/gen_png_oracle.py [n]
"""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

N = int(sys.argv[1]) if len(sys.argv) > 1 else 24
SEED = 9


def pixel(media_id, x, y, c):
    return (x * 7 + y * 13 + c * 29 + media_id * 31 + SEED * 17) % 256


rows = {k: [] for k in ("media_id", "width", "height", "bit_depth",
                        "color_type", "mean_px")}
for media_id in range(N):
    color_type = 2 if media_id % 2 else 0
    channels = 3 if color_type == 2 else 1
    width = 8 + (media_id * 5) % 24
    height = 8 + (media_id * 3) % 16
    total = sum(
        pixel(media_id, x, y, c)
        for y in range(height)
        for x in range(width)
        for c in range(channels)
    )
    mean_px = total / (width * height * channels)
    rows["media_id"].append(media_id)
    rows["width"].append(width)
    rows["height"].append(height)
    rows["bit_depth"].append(8)
    rows["color_type"].append(color_type)
    rows["mean_px"].append(round(mean_px, 6))

table = pa.table(
    {
        "media_id": pa.array(rows["media_id"], pa.int64()),
        "width": pa.array(rows["width"], pa.int32()),
        "height": pa.array(rows["height"], pa.int32()),
        "bit_depth": pa.array(rows["bit_depth"], pa.int32()),
        "color_type": pa.array(rows["color_type"], pa.int32()),
        "mean_px": pa.array(rows["mean_px"], pa.float64()),
    }
)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
pq.write_table(table, os.path.join(ROOT, "fixtures", "png_features.parquet"))
print(f"wrote {N} rows to fixtures/png_features.parquet")
