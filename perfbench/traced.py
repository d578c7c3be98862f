"""The traced run (``--trace 1``): per-layer metrics from spans and Spark's
event log.

Order of work: the same set-up and warm-up as an untraced run; one untimed
reference fresh pipeline run without tracing; then, on a session whose
event log is enabled, one traced fresh run, one traced resume, one traced
``main()`` call, and the stand-alone execute and scan measurements of the
mapping.  ``trace.overhead_frac`` compares the traced fresh run with the
reference one.  End-to-end metrics never come from this run.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import oracle, trace
from perfbench.workloads import Run, log, stage_rows

LAYERS_SPLIT = ["extract", "linking", "cc", "canonicalize", "materialize", "cli"]

UNITS = {
    "extract.triples_s": "s",
    "extract.mentions_s": "s",
    "extract.triples_rows": "count",
    "extract.mentions_rows": "count",
    "checkpoint.write_s": "s",
    "checkpoint.counter_s": "s",
    "checkpoint.counter_jobs": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.skipped_stages": "count",
    "linking.edges_s": "s",
    "linking.candidate_pairs": "count",
    "linking.edges_rows": "count",
    "linking.accept_ratio": "ratio",
    "linking.python_s": "s",
    "cc.s": "s",
    "cc.rounds": "count",
    "canonicalize.canonical_s": "s",
    "canonicalize.rows": "count",
    "materialize.graph_s": "s",
    "materialize.graph_rows": "count",
    "materialize.files": "count",
    "rml.to_plan_s": "s",
    "engine.build_s": "s",
    "engine.execute_s": "s",
    "engine.shuffle_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.rows": "count",
    "serializer.statements_per_row": "ratio",
    "cli.sink_s": "s",
    "cli.jobs": "count",
    **{f"{layer}.{m}": u for layer in LAYERS_SPLIT
       for m, u in [("task_s", "s"), ("shuffle_bytes", "bytes"),
                    ("spill_bytes", "bytes"), ("core_util", "ratio")]},
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def measure(run: Run) -> dict[str, float]:
    from mopper_spark.__main__ import main
    from mopper_spark.engine import run_plan
    from mopper_spark.options import MopperOptions
    from mopper_spark.pipeline.linking import candidate_pairs, normalize_surface
    from mopper_spark.plan import parse_plan
    from mopper_spark.rml import mapping_to_plan
    from mopper_spark.sources import resolve_source
    from pyspark.sql import functions as F

    run.setup()
    run.attempt("resume after injected failure",
                lambda: run.injected_failure_resumes(run.warmup))
    inputs = run.measured
    # untraced reference fresh runs bracket the traced one, so JVM warm-up
    # does not read as negative tracing overhead
    ref_walls = [run.run_pipeline(inputs, run.new_root())[1]]

    events = os.path.join(run.work, "eventlog")
    os.makedirs(events)
    conf = trace.event_log_conf(events)
    tracer = trace.Tracer()
    out: dict[str, float] = {}

    # -- pipeline: fresh, then resume after a kill following edges --------
    run.start_session(conf)
    root = run.new_root()
    with trace.patched(tracer) as cc_rounds:
        with tracer.span("pipeline.fresh"):
            fresh, traced_wall = run.run_pipeline(inputs, root)
        out["checkpoint.bytes_written"] = dir_bytes(root)
        run.attempt("traced fresh run", lambda: run.check_graph(inputs, fresh))
        run.kill_after_edges(root)
        with tracer.span("pipeline.resume"):
            resumed, _ = run.run_pipeline(inputs, root)
        run.attempt("traced resume", lambda: run.check_graph(inputs, resumed))
    run.start_session()
    ref_walls.append(run.run_pipeline(inputs, run.new_root())[1])
    log(f"fresh runs: untraced {ref_walls}, traced {traced_wall:.3f} s")
    out["trace.overhead_frac"] = traced_wall / (sum(ref_walls) / 2) - 1.0
    out["cc.rounds"] = cc_rounds.rounds[0] if cc_rounds.rounds else 0
    out["checkpoint.skipped_stages"] = sum(m["skipped"] for m in resumed.metrics)

    mentions = run.spark.read.parquet(os.path.join(root, "mentions", "data"))
    forms = mentions.select(normalize_surface(F.col("surface")).alias("norm")).distinct()
    out["linking.candidate_pairs"] = candidate_pairs(forms).count()

    # -- command line: main() adopts the event-logging session ------------
    cli = run.cli
    argv = ["-m", cli.mapping, "-l", "rml", "-q", "--force-to-file",
            run.nquads_path]
    run.start_session(conf)
    try:
        with trace.patched(tracer), tracer.span("cli.main"):
            main(argv)
    finally:
        run.spark = None  # main() stopped it

    def cli_output():
        got = oracle.nquads_digest(run.nquads_path)
        return None if got == cli.oracle else f"{got} != oracle {cli.oracle}"

    run.attempt("traced command line", cli_output)

    # -- mapping execute and source scan, each to a noop sink ---------------
    run.start_session(conf)
    with open(cli.mapping) as f:
        plan = mapping_to_plan(f.read(), "rml")
    options = MopperOptions(working_dir_hint=cli.cli_dir, force_to_file=run.nquads_path)
    targets = run_plan(plan, run.spark, options)
    with tracer.span("engine.execute"):
        for target in targets:
            target.statements.write.format("noop").mode("overwrite").save()
    with tracer.span("sources.scan"):
        for node in parse_plan(plan).nodes.values():
            if node.operator_type == "SourceOp":
                resolve_source(run.spark, node.config, options, None,
                               node.attributes).write.format("noop").mode(
                                   "overwrite").save()
    out["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
    cores = run.spark.sparkContext.defaultParallelism
    run.stop()

    out.update(layer_metrics(tracer, trace.read_event_logs(events), cores,
                             fresh.metrics))
    n_convs = len({row[0] for row in cli.corpus.rows})
    out["sources.rows"] = cli.corpus.n_turns + n_convs
    out["serializer.statements_per_row"] = cli.oracle[0] / out["sources.rows"]
    out["linking.accept_ratio"] = (out["linking.edges_rows"] / out["linking.candidate_pairs"]
                                   if out["linking.candidate_pairs"] else 0.0)
    log("spans " + json.dumps([
        {"name": s.name, "start": round(s.start, 4), "end": round(s.end, 4),
         "parent": s.parent, **s.attrs} for s in tracer.spans]))
    return out


def layer_metrics(tracer: trace.Tracer, logs: dict[str, trace.GroupStats],
                  cores: int, manifests: list[dict]) -> dict[str, float]:
    """Per-layer numbers from the spans of one traced run and its event log."""
    spans = tracer.spans
    fresh = tracer.find("pipeline.fresh")[0]
    fresh_idx = spans.index(fresh)
    stage = {s.attrs["stage"]: spans.index(s) for s in spans
             if s.name == "checkpoint.stage" and s.parent == fresh_idx}
    cc = [i for i, s in enumerate(spans) if s.name == "cc.connected_components"
          and spans[s.parent].parent == fresh_idx]
    cli = spans.index(tracer.find("cli.main")[0])

    def stats(include: list[int], exclude: list[int] = ()) -> trace.GroupStats:
        groups = set().union(*(tracer.groups_under(i) for i in include))
        groups -= set().union(set(), *(tracer.groups_under(i) for i in exclude))
        total = trace.GroupStats()
        for g in groups:
            total = total.add(logs.get(g, trace.GroupStats()))
        return total

    def wall(include: list[int], exclude: list[int] = ()) -> float:
        return (sum(spans[i].seconds for i in include)
                - sum(spans[i].seconds for i in exclude))

    rows = stage_rows(manifests)
    files = {m["stage"]: m["files"] for m in manifests}
    out = {
        "extract.triples_s": spans[stage["triples"]].seconds,
        "extract.mentions_s": spans[stage["mentions"]].seconds,
        "extract.triples_rows": rows["triples"],
        "extract.mentions_rows": rows["mentions"],
        "linking.edges_s": spans[stage["edges"]].seconds,
        "linking.edges_rows": rows["edges"],
        "linking.python_s": stats([stage["edges"]]).python_s,
        "cc.s": wall(cc),
        "canonicalize.canonical_s": spans[stage["canonical"]].seconds,
        "canonicalize.rows": rows["canonical"],
        "materialize.graph_s": spans[stage["graph"]].seconds,
        "materialize.graph_rows": rows["graph"],
        "materialize.files": files["graph"],
    }

    # checkpoint: the parquet write, then the read-back counter jobs
    write_s = counter_s = counter_jobs = 0
    for idx in stage.values():
        writes = [s for s in tracer.children(idx) if s.name == "checkpoint.write"]
        write_s += sum(s.seconds for s in writes)
        counter_s += spans[idx].end - max(s.end for s in writes)
        counter_jobs += logs.get(spans[idx].group, trace.GroupStats()).jobs
    out.update({"checkpoint.write_s": write_s, "checkpoint.counter_s": counter_s,
                "checkpoint.counter_jobs": counter_jobs})

    # mapping path: main() = to_plan + build + sink pull/write
    to_plan = [s for s in tracer.children(cli) if s.name == "rml.mapping_to_plan"]
    build = [s for s in tracer.children(cli) if s.name == "engine.run_plan"]
    execute = tracer.find("engine.execute")[0]
    out.update({
        "rml.to_plan_s": sum(s.seconds for s in to_plan),
        "engine.build_s": sum(s.seconds for s in build),
        "engine.execute_s": execute.seconds,
        "engine.shuffle_bytes": stats([spans.index(execute)]).shuffle_bytes,
        "sources.scan_s": tracer.find("sources.scan")[0].seconds,
        "cli.jobs": stats([cli]).jobs,
    })
    # main()'s own time outside its to-plan and build spans, less execute
    out["cli.sink_s"] = tracer.self_seconds(cli) - out["engine.execute_s"]

    # Spark-side split per layer: task time, shuffle, spill, core use
    split = {
        "extract": ([stage["triples"], stage["mentions"]], []),
        "linking": ([stage["edges"]], []),
        "cc": (cc, []),
        "canonicalize": ([stage["canonical"]], cc),
        "materialize": ([stage["graph"]], []),
        "cli": ([cli], []),
    }
    for layer, (include, exclude) in split.items():
        st, w = stats(include, exclude), wall(include, exclude)
        out[f"{layer}.task_s"] = st.task_s
        out[f"{layer}.shuffle_bytes"] = st.shuffle_bytes
        out[f"{layer}.spill_bytes"] = st.spill_bytes
        out[f"{layer}.core_util"] = st.task_s / (w * cores) if w > 0 else 0.0
    return out
