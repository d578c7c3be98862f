"""End-to-end spark-submit --py-files exercise (the north-rule ship shape).

Runs the real ``spark-submit`` binary with a ``mopper_spark.zip`` artifact,
built from the current sources once per module, in a SEPARATE JVM/Python
process — proving executors resolve the package from the zip alone (no repo
PYTHONPATH), per-stage lineage lands in the checkpoint manifests, and a
re-run resumes (skips every stage).
"""
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.fixture(scope="module")
def zip_path(tmp_path_factory):
    """The --py-files artifact, built from the current sources."""
    out = str(tmp_path_factory.mktemp("dist") / "mopper_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py"), out],
        check=True,
        capture_output=True,
    )
    return out


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit binary not available"
)
def test_spark_submit_pyfiles_job_and_resume(tmp_path, zip_path):
    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--py-files",
        zip_path,
        os.path.join(REPO, "jobs", "kg_job.py"),
        "--synth-turns",
        "400",
        "--checkpoints",
        str(tmp_path / "ck"),
        "--output",
        str(tmp_path / "graph"),
        "--intervals-out",
        str(tmp_path / "intervals"),
        "--intervals-gap-s",
        "60",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r1 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert r1.returncode == 0, r1.stderr[-3000:]
    d1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert d1["turns"] == 400
    assert d1["intervals"] > 0
    assert os.path.exists(tmp_path / "intervals" / "_SUCCESS")
    stages1 = {s["stage"]: s for s in d1["stages"]}
    assert not any(s["skipped"] for s in stages1.values())
    assert stages1["graph"]["rows"] > 0
    # per-partition lineage recorded for every stage
    assert all(s["files"] >= 1 for s in stages1.values())
    assert os.path.exists(tmp_path / "graph" / "_SUCCESS")

    # second run: identical manifests -> every stage resumes (skips)
    r2 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    d2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert all(s["skipped"] for s in d2["stages"])
    assert {s["stage"]: s["rows"] for s in d2["stages"]} == {
        k: v["rows"] for k, v in stages1.items()
    }
    # intervals rebuild deterministically on the resumed (skipped) stages
    assert d2["intervals"] == d1["intervals"]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit binary not available"
)
def test_spark_submit_streaming_kg_job(tmp_path, zip_path):
    """jobs/kg_stream_job.py end-to-end in a separate JVM: the streaming
    incremental job's graph + dictionary must equal the batch pipeline's
    (order-insensitive convergence), and a resumed run with no new data
    must be a no-op."""
    # slice the committed fixture into three landing files
    fixture = os.path.join(REPO, "fixtures", "transcripts_2000.parquet")
    prep = subprocess.run(
        [
            sys.executable,
            "-c",
            f"""
import sys; sys.path.insert(0, {str(REPO)!r})
from mopper_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(master="local[4]", shuffle_partitions=4)
tr = spark.read.parquet({fixture!r})
for i in range(3):
    tr.filter(F.abs(F.xxhash64("conv_id")) % 3 == i).write.mode(
        "overwrite").parquet({str(tmp_path)!r} + f"/in/part{{i}}")
""",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert prep.returncode == 0, prep.stderr[-2000:]

    cmd = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--py-files",
        zip_path,
        os.path.join(REPO, "jobs", "kg_stream_job.py"),
        "--input",
        str(tmp_path / "in" / "part*"),
        "--state",
        str(tmp_path / "state"),
        "--checkpoints",
        str(tmp_path / "ck"),
        "--graph",
        str(tmp_path / "graph"),
        "--max-files-per-trigger",
        "1",
        "--intervals-state",
        str(tmp_path / "istate"),
        "--intervals-gap-s",
        "60",
        "--available-now",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r1 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert r1.returncode == 0, r1.stderr[-3000:]
    d1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert d1["graph_statements"] == 6660  # batch extract_triples count
    assert d1["dict_forms"] == 11  # batch entity-linking fixpoint size
    assert d1["batches"] >= 3
    # the streamed interval fold must end at the BATCH operator's table
    # over the same fixture (1273 rows at gap 60 — the kg_entity_intervals
    # oracle count; the fold is a monoid so the micro-batch split is
    # irrelevant)
    assert d1["intervals"] == 1273

    # resume with no new data: no new batches, same state
    r2 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    d2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert d2["graph_statements"] == 6660
    assert d2["dict_forms"] == 11
    assert d2["batches"] == d1["batches"]
    assert d2["intervals"] == 1273


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit binary not available"
)
def test_prep_job_resume_and_chained_invalidation(tmp_path, zip_path):
    """jobs/prep_job.py: render→scrub→dedup→quality→pack→split as ONE
    resumable spark-submit job; fingerprints chain, so a --seq-len change
    re-runs exactly the packed+split suffix."""
    base = [
        SPARK_SUBMIT,
        "--master",
        "local[4]",
        "--py-files",
        zip_path,
        os.path.join(REPO, "jobs", "prep_job.py"),
        "--synth-turns",
        "2000",
        "--checkpoints",
        str(tmp_path / "ck"),
        "--output",
        str(tmp_path / "prep"),
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r1 = subprocess.run(base, capture_output=True, text=True, env=env, timeout=600)
    assert r1.returncode == 0, r1.stderr[-3000:]
    d1 = json.loads(r1.stdout.strip().splitlines()[-1])
    stages1 = {s["stage"]: s for s in d1["stages"]}
    assert not any(s["skipped"] for s in stages1.values())
    assert d1["out_rows"] > 0
    assert set(d1["splits"]) <= {"train", "val"}
    assert sum(d1["splits"].values()) == d1["out_rows"]
    # every doc got a packing layout (schema: seq_first/seq_last present)
    assert stages1["packed"]["rows"] == stages1["quality"]["rows"]

    # identical re-run: all stages resume from manifests
    r2 = subprocess.run(base, capture_output=True, text=True, env=env, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    d2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert all(s["skipped"] for s in d2["stages"])
    assert d2["out_rows"] == d1["out_rows"]

    # knob change invalidates exactly its downstream suffix
    r3 = subprocess.run(
        base + ["--seq-len", "512"],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert r3.returncode == 0, r3.stderr[-3000:]
    d3 = json.loads(r3.stdout.strip().splitlines()[-1])
    ran = sorted(s["stage"] for s in d3["stages"] if not s["skipped"])
    assert ran == ["packed", "split"]
