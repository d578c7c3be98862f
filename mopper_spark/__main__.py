"""CLI entry point: ``python -m mopper_spark -m mapping.ttl -l rml``.

Mirrors the reference CLI's argument surface (``/root/reference/src/main.rs:23-64``):
mapping file, mapping language (AlgeMapLoom plan JSON assumed when absent),
verbosity, ``--force-std-out`` / ``--force-to-file``, and ``-d`` per-sink
dedup.  ``--message-buffer-capacity`` is accepted for flag parity but is a
no-op: bounded-channel backpressure has no analogue in Spark's exchange
model (mopper_options.rs:33-36).

Relative source paths resolve against the mapping file's directory (the
reference resolves via ``working_dir_hint``, lib.rs:244-263).

The sink: the reference sends every statement to one sequential writer
(writer_sink.rs:57-66).  Here each target's statements are written by one
parallel Spark text write into a local staging directory, one part file per
partition, and the driver then concatenates the part files into the
destination in partition order.  The bytes are those of a sequential writer
over the same rows: each statement followed by ``\n``, UTF-8.  The driver
reads what the executors wrote, so the session's master must be local
(``get_spark`` always builds one); a session adopted from elsewhere with a
cluster master is refused with ``NonLocalMasterError``.

``main()`` adopts the caller's active session as it is, runtime settings
included, and builds one with ``get_spark`` only when there is none.  It
stops the session it ran on when it returns, an adopted one included: a
library caller that wants to keep its session must not call ``main()``
with it active (the tests patch ``SparkSession.stop``).
"""

from __future__ import annotations

import argparse
import logging
import os
import pathlib
import shutil
import sys
import tempfile


class NonLocalMasterError(RuntimeError):
    """The session's executors may run on other hosts, where the driver
    cannot read the part files they write."""


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="mopper_spark",
        description="PySpark-native declarative row-to-triple mapping engine",
    )
    ap.add_argument("-m", "--mapping-file", required=True, metavar="FILE",
                    help="path to the mapping file")
    ap.add_argument("-l", "--mapping-lang", choices=["rml", "shexml", "alge"],
                    default=None,
                    help="mapping language; AlgeMapLoom plan JSON if omitted")
    ap.add_argument("-v", "--verbose", action="count", default=0,
                    help="increase log level")
    ap.add_argument("-q", "--quiet", action="store_true", help="no logging")
    ap.add_argument("--force-std-out", action="store_true",
                    help="force output to stdout, ignoring plan targets")
    ap.add_argument("--force-to-file", metavar="FILE", default=None,
                    help="force output to a file, ignoring plan targets")
    ap.add_argument("--message-buffer-capacity", type=int, default=None,
                    metavar="N", help="accepted for reference-CLI parity; no-op")
    ap.add_argument("-d", "--deduplicate", action="store_true",
                    help="remove duplicate triples/quads per sink")
    return ap


def _write_parts(statements, directory: str) -> list[str]:
    """Write the non-empty statements as text under ``directory``; returns
    the part files in partition order.  The text writer ends every value
    with ``\n``."""
    from pyspark.sql import functions as F

    col = F.col(statements.columns[0])
    statements.where(col.isNotNull() & (col != "")).write.text(
        pathlib.Path(directory).as_uri()
    )
    names = [n for n in os.listdir(directory) if n.startswith("part-")]
    # part-<partition>-<uuid>-c<file>.txt
    names.sort(key=lambda n: (int(n.split("-")[1]), n))
    return [os.path.join(directory, n) for n in names]


def _concat(parts: list[str], out) -> None:
    for part in parts:
        with open(part, "rb") as src:
            shutil.copyfileobj(src, out)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.quiet:
        level = logging.CRITICAL
    else:
        level = {0: logging.WARNING, 1: logging.INFO}.get(args.verbose, logging.DEBUG)
    logging.basicConfig(level=level, format="%(levelname)s %(name)s: %(message)s")

    with open(args.mapping_file) as f:
        text = f.read()

    if args.mapping_lang in ("rml", "shexml"):
        from mopper_spark.rml import mapping_to_plan

        plan = mapping_to_plan(text, args.mapping_lang)
    else:
        plan = text  # AlgeMapLoom plan JSON

    from pyspark.sql import SparkSession

    from mopper_spark.engine import run_plan
    from mopper_spark.options import MopperOptions
    from mopper_spark.session import get_spark

    options = MopperOptions(
        force_to_std_out=args.force_std_out,
        force_to_file=args.force_to_file,
        deduplicate=args.deduplicate,
        working_dir_hint=os.path.dirname(os.path.abspath(args.mapping_file)),
    )
    spark = SparkSession.getActiveSession() or get_spark()
    out_path = args.force_to_file
    written: set[str] = set()  # first write per path this run truncates —
    # appending to a file left by a PREVIOUS run would duplicate output
    staging = tempfile.mkdtemp(prefix="mopper-sink-")
    try:
        master = spark.sparkContext.master
        if not master.startswith("local"):
            raise NonLocalMasterError(
                f"the command line needs a local master, got {master!r}: "
                "the driver concatenates the part files the executors write"
            )
        for i, target in enumerate(run_plan(plan, spark, options)):
            parts = _write_parts(target.statements, os.path.join(staging, str(i)))
            target_type = target.config.get("target_type", "StdOut")
            if out_path or (target_type == "File" and not args.force_std_out):
                path = out_path or target.config.get("path", "output.nq")
                mode = "ab" if path in written else "wb"
                written.add(path)
                with open(path, mode) as f:
                    _concat(parts, f)
            else:
                sys.stdout.flush()
                _concat(parts, sys.stdout.buffer)
                sys.stdout.buffer.flush()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
