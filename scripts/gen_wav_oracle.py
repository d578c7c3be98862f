"""Generate the WAV-feature oracle fixture WITHOUT Spark or the
mopper_spark decode kernel: pure-stdlib wave/struct/math re-derivation of
the expected features for the deterministic synth_wav_payload corpus.

The Spark query `multimodal_wav_features` (numpy + Arrow batches over
mapInPandas) must reproduce these values exactly (rounded to 6 d.p.);
`fixtures/wav_features.parquet` is what the DuckDB oracle reads.

Usage: python scripts/gen_wav_oracle.py [n]
"""

import io
import math
import os
import struct
import sys
import wave

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from mopper_spark.textops.multimodal import synth_wav_payload

N = int(sys.argv[1]) if len(sys.argv) > 1 else 32
SEED = 7

rows = {k: [] for k in ("media_id", "sample_rate", "n_channels", "n_frames", "rms", "zcr")}
for media_id in range(N):
    payload = synth_wav_payload(media_id, SEED)
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate, chans, nframes = w.getframerate(), w.getnchannels(), w.getnframes()
        raw = w.readframes(nframes)
    samples = [struct.unpack_from("<h", raw, 2 * i)[0] for i in range(nframes)]
    rms = math.sqrt(sum(s * s for s in samples) / len(samples)) / 32768.0 if samples else 0.0
    crossings = sum(
        1 for a, b in zip(samples, samples[1:]) if (a < 0) != (b < 0)
    )
    # mirrors numpy's mean over the n-1 sign-change booleans
    zcr = crossings / (len(samples) - 1) if len(samples) > 1 else 0.0
    rows["media_id"].append(media_id)
    rows["sample_rate"].append(rate)
    rows["n_channels"].append(chans)
    rows["n_frames"].append(nframes)
    rows["rms"].append(round(rms, 6))
    rows["zcr"].append(round(zcr, 6))

table = pa.table(
    {
        "media_id": pa.array(rows["media_id"], pa.int64()),
        "sample_rate": pa.array(rows["sample_rate"], pa.int32()),
        "n_channels": pa.array(rows["n_channels"], pa.int32()),
        "n_frames": pa.array(rows["n_frames"], pa.int32()),
        "rms": pa.array(rows["rms"], pa.float64()),
        "zcr": pa.array(rows["zcr"], pa.float64()),
    }
)
pq.write_table(table, os.path.join(ROOT, "fixtures", "wav_features.parquet"))
print(f"wrote {N} rows to fixtures/wav_features.parquet")
