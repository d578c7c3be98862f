"""Checkpoint manifests: per-stage lineage, counters, idempotent resume.

Every pipeline stage runs through ``CheckpointManager.stage``: if a manifest
for (stage, fingerprint) exists and its output is complete, the stage is
**skipped** and its materialized output is read back; otherwise the stage
computes, writes its output parquet atomically (write → fsync manifest via
tmp+rename), and records lineage:

- the input fingerprint (caller-supplied config/content hash),
- counters, all read in this process from the parquet footers of the
  part files the write just produced (no Spark job, no data scan):
  ``files_detail`` maps each part file's path relative to the stage's
  ``data`` dir to its footer row count, ``rows`` is their sum, ``files``
  their number, and ``partitions`` sums them per partition directory,
  keyed by the unescaped ``col=value`` values joined with ``"|"``,
- wall-clock duration,
- the read-back schema (the written one, partition columns last, as Spark
  reads it back): every read-back is given it, so none runs a
  schema-inference job; a manifest without one counts as incomplete.

Atomicity model: Spark's parquet writer is itself atomic-ish per directory
(_SUCCESS marker); the manifest is only written after a successful write,
and a re-run after a mid-run kill finds either (a) no manifest → recompute
and overwrite (idempotent), or (b) a complete manifest → skip.  Either way
the emitted triple set is identical — verified by the resume test.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# directory name Spark writes for a NULL (or empty-string) partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


@dataclass
class StageResult:
    name: str
    df: DataFrame
    skipped: bool
    manifest: dict


@dataclass
class CheckpointManager:
    spark: SparkSession
    root: str
    metrics: list[dict] = field(default_factory=list)

    def _paths(self, name: str) -> tuple[str, str]:
        return (
            os.path.join(self.root, name, "data"),
            os.path.join(self.root, name, "manifest.json"),
        )

    def _read_manifest(self, path: str) -> dict | None:
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def stage(
        self,
        name: str,
        fingerprint: str,
        compute: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> StageResult:
        data_path, manifest_path = self._paths(name)
        man = self._read_manifest(manifest_path)
        if (
            man
            and man.get("fingerprint") == fingerprint
            and man.get("status") == "complete"
            and "schema" in man
            and os.path.exists(os.path.join(data_path, "_SUCCESS"))
        ):
            schema = StructType.fromJson(man["schema"])
            df = self.spark.read.schema(schema).parquet(data_path)
            result = StageResult(name, df, skipped=True, manifest=man)
            self.metrics.append({"stage": name, "skipped": True, **man["counters"]})
            return result

        t0 = time.time()
        df = compute()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_path)

        part = partition_by or []
        schema = StructType(
            [f for f in df.schema if f.name not in part] + [df.schema[c] for c in part]
        )
        # lazy read-back: cuts the lineage for the stages downstream
        out = self.spark.read.schema(schema).parquet(data_path)
        counters = _footer_counters(data_path, partition_by)
        counters["seconds"] = round(time.time() - t0, 3)

        man = {
            "stage": name,
            "fingerprint": fingerprint,
            "status": "complete",
            "schema": out.schema.jsonValue(),
            "counters": counters,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = manifest_path + ".tmp"
        os.makedirs(os.path.dirname(manifest_path), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(man, f, indent=2)
        os.replace(tmp, manifest_path)  # atomic publish

        self.metrics.append({"stage": name, "skipped": False, **counters})
        return StageResult(name, out, skipped=False, manifest=man)


def _footer_counters(data_path: str, partition_by: list[str] | None) -> dict:
    """Stage counters from the footers of the part files under ``data_path``."""
    files_detail: dict[str, int] = {}
    partitions: dict[str, int] = {}
    for dirpath, _, names in os.walk(data_path):
        rel_dir = os.path.relpath(dirpath, data_path)
        # partition values as the read-back shows them (NULL reads as None)
        key = "|".join(
            "None" if v == _NULL_PARTITION else unquote(v)
            for v in (seg.partition("=")[2] for seg in rel_dir.split(os.sep))
        )
        for fn in names:
            if fn.endswith(".parquet"):
                n = pq.read_metadata(os.path.join(dirpath, fn)).num_rows
                files_detail[os.path.normpath(os.path.join(rel_dir, fn))] = n
                partitions[key] = partitions.get(key, 0) + n
    counters: dict = {"rows": sum(files_detail.values())}
    if partition_by:
        counters["partitions"] = partitions
    counters["files_detail"] = files_detail
    counters["files"] = len(files_detail)
    return counters
