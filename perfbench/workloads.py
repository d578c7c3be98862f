"""The measured procedure: set-up, warm-up, timed loop, output checks.

Every run exercises both user paths of mopper_spark on inputs generated
from the workload's seed:

- the transcript pipeline, ``run_pipeline(transcripts=…)`` with every
  stage checkpointed, fresh into an empty root and resumed after a kill
  following the ``edges`` stage;
- the command-line mapping, ``mopper_spark.__main__.main`` over an RML
  Turtle document and CSV sources, written with ``--force-to-file``.

The workloads differ in the corpus they generate (see README.md).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

from perfbench import gen, oracle

# kill point of the resume measurement
FAIL_AFTER = "edges"
# stages a kill after FAIL_AFTER leaves unwritten
UNWRITTEN = ("canonical", "graph")
SETUP_ROUNDS = 3
# share of the timed window the pipeline loop may start iterations in; the
# loop always runs at least one iteration
PIPELINE_SHARE = 0.5
# the pipeline warm-up runs on every WARMUP_STRIDE-th turn of the corpus
WARMUP_STRIDE = 6
# timed command-line runs made even when the window is over
MIN_CLI_RUNS = 4
# turns of the pipeline corpus, and of the corpus the command line maps: at
# 6,000 turns (42k statements) main()'s fixed cost of about a second
# dominated and its JIT warm-up lasted ten calls
PIPELINE_TURNS = 6_000
CLI_TURNS = 12_000
# untimed command-line calls on the first CLI_WARMUP_TURNS turns: they warm
# main()'s fixed-cost path, which takes the same JIT time at any input size
CLI_WARMUP_CALLS = 2
CLI_WARMUP_TURNS = 1_000


# workload name -> corpus generator of (seed, turns); why each: README.md
WORKLOADS: dict[str, Callable[[int, int], gen.Corpus]] = {
    "kg_pipeline": lambda seed, n: gen.default_corpus(seed, n_turns=n),
    "kg_entities": lambda seed, n: gen.entity_corpus(seed, n_turns=n,
                                                     n_entities=1_000),
}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def get_session(extra_conf: dict | None = None):
    from mopper_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=extra_conf)


def warm_python_workers(spark) -> None:
    """Start a Python worker on every core (one Arrow UDF task per core)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def ident(s):
        return s

    # real annotations: this module's are strings (postponed evaluation)
    ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).select(F.pandas_udf(ident, "long")("id")).collect()


def graph_fingerprint(df) -> tuple[int, str]:
    """Order-independent (rows, hash sum) of a graph table."""
    from pyspark.sql import functions as F

    cols = ["subj", "pred", "obj", "okind", "graph"]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def stage_rows(metrics: list[dict]) -> dict[str, int]:
    return {m["stage"]: m["rows"] for m in metrics}


@dataclass
class Inputs:
    """One generated input set on disk, plus what its outputs must equal."""

    directory: str
    corpus: gen.Corpus
    fingerprint: tuple[int, str] | None = None  # first graph produced
    oracle: tuple[int, str] | None = None  # (lines, digest) of the mapping

    @property
    def transcripts_path(self) -> str:
        return os.path.join(self.directory, "transcripts")

    @property
    def cli_dir(self) -> str:
        return os.path.join(self.directory, "cli")

    @property
    def mapping(self) -> str:
        return os.path.join(self.cli_dir, "mapping.ttl")

    def write_transcripts(self) -> None:
        gen.write_corpus_parquet(self.corpus, self.transcripts_path)

    def write_cli(self) -> None:
        gen.write_cli_sources(self.corpus, self.cli_dir)

    def compute_oracle(self) -> None:
        lines = sorted(oracle.expected_lines(self.cli_dir))
        self.oracle = (len(lines), oracle.lines_digest(lines))


@dataclass
class Run:
    """State of one benchmark run: session, inputs, samples, failures."""

    make_corpus: Callable[[int, int], gen.Corpus]
    seed: int
    work: str
    spark: object = None
    measured: Inputs | None = None  # the timed pipeline runs
    warmup: Inputs | None = None  # the pipeline warm-up
    cli: Inputs | None = None  # the command-line runs
    cli_warmup: Inputs | None = None  # the command-line warm-up
    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    n_roots: int = 0

    @property
    def nquads_path(self) -> str:
        return os.path.join(self.work, "out.nq")

    def new_root(self) -> str:
        self.n_roots += 1
        return os.path.join(self.work, "checkpoints", f"run{self.n_roots}")

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def attempt(self, what: str, fn: Callable[[], str | None]) -> bool:
        """Count one operation; it fails if it raises or returns a problem."""
        self.attempted += 1
        try:
            problem = fn()
        except Exception:
            traceback.print_exc()
            problem = "raised"
        if problem:
            self.failed += 1
            log(f"FAILED {what}: {problem}")
        return not problem

    def start_session(self, extra_conf: dict | None = None) -> None:
        self.stop()
        self.spark = get_session(extra_conf)
        warm_python_workers(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- set-up -------------------------------------------------------
    def setup_round(self) -> float:
        """Session start, Python-worker warm-up, input generation and write."""
        self.stop()
        t0 = time.perf_counter()
        self.start_session()
        inputs = os.path.join(self.work, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        corpus = self.make_corpus(self.seed, PIPELINE_TURNS)
        self.measured = Inputs(os.path.join(inputs, "measured"), corpus)
        self.warmup = Inputs(os.path.join(inputs, "warmup"),
                             gen.Corpus(corpus.rows[::WARMUP_STRIDE], corpus.gold))
        cli = self.make_corpus(self.seed, CLI_TURNS)
        self.cli = Inputs(os.path.join(inputs, "cli"), cli)
        self.cli_warmup = Inputs(os.path.join(inputs, "cli_warmup"),
                                 gen.Corpus(cli.rows[:CLI_WARMUP_TURNS], cli.gold))
        self.measured.write_transcripts()
        self.warmup.write_transcripts()
        self.cli.write_cli()
        self.cli_warmup.write_cli()
        return time.perf_counter() - t0

    def setup(self) -> None:
        for _ in range(SETUP_ROUNDS):
            self.sample("setup_s", self.setup_round())
        self.cli.compute_oracle()
        self.cli_warmup.compute_oracle()

    # -- pipeline -----------------------------------------------------
    def run_pipeline(self, inputs: Inputs, root: str, **kwargs):
        from mopper_spark.pipeline.job import run_pipeline

        transcripts = self.spark.read.parquet(inputs.transcripts_path)
        t0 = time.perf_counter()
        result = run_pipeline(self.spark, root, transcripts=transcripts, **kwargs)
        return result, time.perf_counter() - t0

    @staticmethod
    def check_graph(inputs: Inputs, result) -> str | None:
        """Graph rows = triples + mentions rows, and the graph equals the
        first graph made from these inputs; returns the problem, if any."""
        rows = stage_rows(result.metrics)
        if rows["graph"] != rows["triples"] + rows["mentions"]:
            return (f"graph rows {rows['graph']} != triples {rows['triples']}"
                    f" + mentions {rows['mentions']}")
        fp = graph_fingerprint(result.graph)
        if inputs.fingerprint is None:
            inputs.fingerprint = fp
        elif fp != inputs.fingerprint:
            return f"graph fingerprint {fp} != {inputs.fingerprint}"
        return None

    @staticmethod
    def kill_after_edges(root: str) -> None:
        """Leave ``root`` as a kill right after the edges stage leaves it."""
        for stage in UNWRITTEN:
            shutil.rmtree(os.path.join(root, stage))

    def pipeline_iteration(self) -> str | None:
        """One timed fresh run, then one timed resume after a kill following
        ``edges``; returns the checkpoint root, or None on failure."""
        root = self.new_root()

        def fresh():
            result, wall = self.run_pipeline(self.measured, root)
            self.sample("turns_per_s", result.turns / wall)
            return self.check_graph(self.measured, result)

        def resume():
            self.kill_after_edges(root)
            result, wall = self.run_pipeline(self.measured, root)
            self.sample("resume_s", wall)
            return self.check_graph(self.measured, result)

        ok = self.attempt("fresh run", fresh) and self.attempt("resume", resume)
        return root if ok else None

    def injected_failure_resumes(self, inputs: Inputs) -> str | None:
        """The real ``fail_after_stage`` path leaves what the timed loop
        simulates, and resuming from it gives the same graph."""
        root = self.new_root()
        try:
            self.run_pipeline(inputs, root, fail_after_stage=FAIL_AFTER)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        else:
            return "fail_after_stage did not raise"
        left = [s for s in UNWRITTEN if os.path.exists(os.path.join(root, s))]
        if left:
            return f"stages written after the kill point: {left}"
        result, _ = self.run_pipeline(inputs, root)
        return self.check_graph(inputs, result)

    def link_quality(self, root: str) -> tuple[float, float]:
        """Pairwise precision/recall of predicted clusters against gold over
        every generated surface form; an undetected form is a singleton."""
        from mopper_spark.pipeline.linking import (
            clustering_pair_counts,
            normalize_surface_py,
        )

        def stage(name: str):
            return self.spark.read.parquet(os.path.join(root, name, "data"))

        detected = {r[0] for r in stage("mentions").select("surface").distinct().collect()}
        canon = dict(stage("canonical").select("norm", "canonical_norm").collect())
        labels = []
        for form, gold_id in self.measured.corpus.gold.items():
            pred = canon.get(normalize_surface_py(form)) if form in detected else None
            labels.append((form, pred if pred is not None else "\0" + form, gold_id))
        df = self.spark.createDataFrame(labels, "form string, pred string, truth long")
        row = clustering_pair_counts(df, "pred", "truth").first()
        tp, fp, fn = row["tp"], row["fp"], row["fn"]
        return tp / (tp + fp) if tp + fp else 1.0, tp / (tp + fn) if tp + fn else 1.0

    # -- command line -------------------------------------------------
    def cli_iteration(self, inputs: Inputs, record: bool) -> None:
        """One ``main()`` call; its sorted output must equal the oracle's.

        ``main()`` adopts (``getOrCreate``) the running session, and the
        timer stops when ``main()`` calls ``stop`` on it: the time is the
        mapping's — parse, plan, execute, pull, write — without SparkContext
        start-up (``setup_s`` measures it) or teardown, whose Python side
        waits out a 0.5 s accumulator-server poll and so moves the wall time
        in 0.5 s steps.  That ``stop`` only records the time; the session,
        its cache cleared, serves the next call.
        """
        from pyspark.sql import SparkSession

        from mopper_spark.__main__ import main

        argv = ["-m", inputs.mapping, "-l", "rml", "-q", "--force-to-file",
                self.nquads_path]
        stop = SparkSession.stop
        stopped_at: list[float] = []

        def cli():
            if self.spark is None:
                self.start_session()
            self.spark.catalog.clearCache()
            SparkSession.stop = lambda session: stopped_at.append(time.perf_counter())
            t0 = time.perf_counter()
            try:
                code = main(argv)
            finally:
                SparkSession.stop = stop
            wall = stopped_at[-1] - t0
            got = oracle.nquads_digest(self.nquads_path)
            if code != 0 or got != inputs.oracle:
                return f"exit {code}, output {got} != oracle {inputs.oracle}"
            if record:
                self.sample("statements_per_s", got[0] / wall)
            return None

        self.attempt("command line", cli)


def measure(run: Run, seconds: float) -> dict[str, float]:
    """Set up, warm up, then time both paths for ``seconds``; returns the
    end-to-end metrics (medians of the samples)."""
    run.setup()
    log(f"setup rounds {['%.2f' % s for s in run.samples['setup_s']]}")

    # warm-up, untimed, on a slice of the corpus: a run killed by
    # ``fail_after_stage`` and its resume execute every stage once
    run.attempt("resume after injected failure",
                lambda: run.injected_failure_resumes(run.warmup))
    log("pipeline warm-up done")

    t0 = time.perf_counter()
    root = None
    while True:
        root = run.pipeline_iteration() or root
        if time.perf_counter() - t0 > PIPELINE_SHARE * seconds:
            break
    log("pipeline loop done")
    quality = run.link_quality(root) if root is not None else None

    for _ in range(CLI_WARMUP_CALLS):
        run.cli_iteration(run.cli_warmup, record=False)
    n = 0
    while n < MIN_CLI_RUNS or time.perf_counter() - t0 < seconds:
        run.cli_iteration(run.cli, record=True)
        n += 1

    metrics = {k: statistics.median(v) for k, v in run.samples.items()}
    if quality is not None:
        metrics["link_precision"], metrics["link_recall"] = quality
    log("samples " + ", ".join(
        f"{k}={['%.3f' % x for x in v]}" for k, v in run.samples.items()))
    return metrics
