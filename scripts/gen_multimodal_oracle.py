"""Generate the multimodal_features oracle fixture WITHOUT Spark: the
deterministic-fake decode used by the gate query is fully specified —
payload = utf8(sha256_hex(f"{seed}{id}")), features =
default_rng(crc32(payload)).standard_normal(dim) — so an independent
re-derivation (hashlib + numpy, no Spark/Arrow) pins the mapInPandas
plumbing end-to-end.

Usage: python scripts/gen_multimodal_oracle.py [n]
"""

import hashlib
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N = int(sys.argv[1]) if len(sys.argv) > 1 else 64
SEED = 5
DIM = 8

rows = {"media_id": [], "mime": [], "n_bytes": [], "feat_sum": []}
for media_id in range(N):
    payload = hashlib.sha256(f"{SEED}{media_id}".encode()).hexdigest().encode()
    rng = np.random.default_rng(zlib.crc32(payload))
    feats = rng.standard_normal(DIM).astype(np.float32)
    # mirror the query's F.aggregate left-fold: double accumulator over
    # float32 elements, then round(…, 4)
    acc = 0.0
    for f in feats:
        acc += float(f)
    rows["media_id"].append(media_id)
    rows["mime"].append("image/png" if media_id % 2 == 0 else "audio/wav")
    rows["n_bytes"].append(len(payload))
    rows["feat_sum"].append(round(acc, 4))

table = pa.table(
    {
        "media_id": pa.array(rows["media_id"], pa.int64()),
        "mime": pa.array(rows["mime"], pa.string()),
        "n_bytes": pa.array(rows["n_bytes"], pa.int32()),
        "feat_sum": pa.array(rows["feat_sum"], pa.float64()),
    }
)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
pq.write_table(table, os.path.join(ROOT, "fixtures", "multimodal_features.parquet"))
print(f"wrote {N} rows to fixtures/multimodal_features.parquet")
