"""Profile the extraction stages (used to tune the hot path).

Usage (from the repository root): PYTHONPATH=. python scripts/profile_extraction.py [n_rows]
"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pyspark.sql import functions as F

from bench import warm_python_workers
from mopper_spark.pipeline.extract import (
    extract_mentions,
    extract_triples,
    mention_triples,
)
from mopper_spark.pipeline.transcripts import synth_transcripts
from mopper_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

s = get_spark("profile", "local[32]", shuffle_partitions=32)
warm_python_workers(s, 32)
tr = synth_transcripts(s, N, max(N // 200, 10)).cache()
tr.count()


def force(label, df, cols):
    expr = None
    for c in cols:
        e = F.sum(F.length(c))
        expr = e if expr is None else expr + e
    t0 = time.time()
    df.agg(expr.alias("x")).collect()
    print(f"{label}: {time.time()-t0:.1f}s", flush=True)


trip = extract_triples(tr)
force("triples-all-cols", trip, ["subj", "pred", "obj", "graph"])
force("triples-subj-only", trip, ["subj"])
force("triples-obj-only", trip, ["obj"])
m = extract_mentions(tr)
force("mentions", m, ["surface"])
force("mention-triples", mention_triples(m), ["subj", "obj"])
s.stop()
