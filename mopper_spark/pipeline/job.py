"""The end-to-end transcript→KG job with checkpoint/resume.

``run_pipeline`` chains every stage through a ``CheckpointManager``; each
stage's fingerprint folds in the job parameters and its upstream stage's
fingerprint, so changing an input invalidates exactly the suffix of the
pipeline that depends on it.  A mid-run kill resumes idempotently: completed
stages are read back from their manifests, incomplete ones recompute and
overwrite (see checkpoint.py docstring for the atomicity argument).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mopper_spark.pipeline.canonicalize import canonical_map
from mopper_spark.pipeline.checkpoint import CheckpointManager
from mopper_spark.pipeline.extract import (
    extract_mentions,
    extract_triples,
    mention_triples,
)
from mopper_spark.pipeline.linking import link_mentions, normalize_surface
from mopper_spark.pipeline.materialize import with_graph_key
from mopper_spark.pipeline.transcripts import synth_transcripts


@dataclass
class PipelineResult:
    graph: DataFrame
    metrics: list[dict] = field(default_factory=list)
    turns: int = 0
    seconds: float = 0.0
    # intermediate relations downstream stages may reuse (e.g. the job's
    # optional temporal-intervals output) without re-running extraction
    transcripts: DataFrame | None = None
    mentions: DataFrame | None = None

    @property
    def turns_per_sec(self) -> float:
        return self.turns / self.seconds if self.seconds else 0.0


def _fp(*parts) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    checkpoint_root: str,
    transcripts: DataFrame | None = None,
    n_turns: int = 1000,
    n_convs: int = 50,
    seed: int = 42,
    fail_after_stage: str | None = None,
    checkpoint_stages: set[str] | None = None,
) -> PipelineResult:
    """Run extract → link → canonicalize → materialize with resume.

    ``fail_after_stage`` injects a mid-run kill (for the resume test).

    ``checkpoint_stages`` selects which stages persist + manifest (resume
    points); stages not listed stay lazy in the lineage and fuse into
    their consumers — no intermediate parquet, no resume point. ``None``
    = all stages (max resume granularity). At 100 TB you checkpoint the
    expensive-to-recompute boundaries (e.g. {'edges', 'graph'}), not
    every narrow map: the 1M-turn local run measures 19.4k turns/s fully
    checkpointed vs 31.4k fused to {'edges','graph'} (1.6×).
    """
    t0 = time.time()
    ckpt = CheckpointManager(spark, checkpoint_root)
    params = {"n_turns": n_turns, "n_convs": n_convs, "seed": seed}

    def stage(name, fp, compute, partition_by=None) -> DataFrame:
        if checkpoint_stages is not None and name not in checkpoint_stages:
            return compute()
        return ckpt.stage(name, fp, compute, partition_by=partition_by).df

    fp_in = _fp("transcripts", params)
    if transcripts is None:
        tr = stage(
            "transcripts",
            fp_in,
            lambda: synth_transcripts(spark, n_turns, n_convs, seed),
        )
    else:
        tr = transcripts

    def guard(name: str) -> None:
        if fail_after_stage == name:
            raise RuntimeError(f"injected failure after stage {name!r}")

    fp_tr = _fp(fp_in, "extract")
    turns = Observation()  # the turn count rides on the triples write
    triples = stage(
        "triples", fp_tr, lambda: extract_triples(tr.observe(turns, F.expr("count(*) AS n")))
    )
    observed = any(m["stage"] == "triples" and not m["skipped"] for m in ckpt.metrics)
    guard("triples")

    fp_m = _fp(fp_in, "mentions")
    mentions = stage("mentions", fp_m, lambda: extract_mentions(tr))
    guard("mentions")

    fp_e = _fp(fp_m, "edges")
    edges = stage("edges", fp_e, lambda: link_mentions(mentions))
    guard("edges")

    fp_c = _fp(fp_e, "canonical")

    def compute_canonical() -> DataFrame:
        forms = mentions.select(
            normalize_surface(F.col("surface")).alias("norm")
        ).distinct()
        return canonical_map(forms, edges)

    canonical = stage("canonical", fp_c, compute_canonical)
    guard("canonical")

    fp_g = _fp(fp_tr, fp_c, "graph")
    graph = stage(
        "graph",
        fp_g,
        lambda: with_graph_key(
            triples.unionByName(mention_triples(mentions, canonical))
        ),
        partition_by=["graph_key"],
    )
    guard("graph")

    return PipelineResult(
        graph=graph,
        metrics=ckpt.metrics,
        turns=turns.get["n"] if observed else tr.count(),
        seconds=time.time() - t0,
        transcripts=tr,
        mentions=mentions,
    )
