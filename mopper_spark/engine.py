"""End-to-end plan execution: AlgeMapLoom plan JSON → statement DataFrames.

The Spark re-expression of the reference's engine wiring
(``/root/reference/src/lib.rs:76-231``): instead of one OS thread per node
connected by bounded channels, each plan node compiles to a DataFrame
transformation and Catalyst/Tungsten handle scheduling, vectorization and
exchange.  Thread boundaries become (at most) shuffle boundaries — and the
only shuffling operator in the whole algebra is the real inner join.

Per-node mapping (SURVEY.md §2.1):
- SourceOp     → pruned scan (``sources.resolve_source``)
- ProjectOp    → folded away by the rewriter (Catalyst column pruning)
- FragmentOp   → folded away (DataFrame DAG reuse)
- JoinOp       → ``left.join(right_prefixed, on=…, how='inner')``; right
                 columns renamed ``{join_alias}_{c}`` (join.rs:133) by one
                 ``selectExpr``
- ExtendOp     → one ``selectExpr`` of the compiled SQL expressions (plus
                 one ``select`` per registered FnO call binding its result)
- SerializerOp → statement templating + ``explode`` fan-out
- TargetOp     → ``unionByName`` of incoming statement streams
                 (+ optional ``dropDuplicates`` ↔ the -d flag)
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mopper_spark.compiler import compile_extend
from mopper_spark.options import MopperOptions
from mopper_spark.plan import PlanGraph, parse_plan
from mopper_spark.rewriter import rewrite
from mopper_spark.serializer import _sql_ident, serialize
from mopper_spark.sources import SourceRegistry, resolve_source

log = logging.getLogger(__name__)


@dataclass
class TargetResult:
    node_id: str
    config: dict
    statements: DataFrame  # single column: statement:string


class PlanExecutor:
    def __init__(
        self,
        spark: SparkSession,
        options: MopperOptions | None = None,
        registry: SourceRegistry | None = None,
    ):
        self.spark = spark
        self.options = options or MopperOptions()
        self.registry = registry
        self._df: dict[str, DataFrame] = {}
        self._kinds: dict[str, dict[str, str]] = {}

    def run(self, plan: str | dict) -> list[TargetResult]:
        graph = rewrite(
            parse_plan(plan),
            force_one_target=(
                self.options.force_to_std_out
                or self.options.force_to_file is not None
            ),
        )
        results = []
        for node in graph.nodes.values():
            if node.operator_type == "TargetOp":
                results.append(
                    TargetResult(
                        node_id=node.id,
                        config=node.config,
                        statements=self._output(graph, node.id),
                    )
                )
        return results

    # -- memoized per-node compilation ------------------------------------
    def _output(self, graph: PlanGraph, node_id: str) -> DataFrame:
        if node_id in self._df:
            return self._df[node_id]
        node = graph.nodes[node_id]
        op = node.operator_type

        if op == "SourceOp":
            df = resolve_source(
                self.spark, node.config, self.options, self.registry, node.attributes
            )
        elif op == "JoinOp":
            df = self._join(graph, node)
        elif op == "ExtendOp":
            parent = self._output(graph, node.from_[0])
            df, self._kinds[node_id] = compile_extend(
                node.config,
                parent,
                node.join_alias,
                self.options.fno_registry,
                self.options.literal_annotations,
            )
        elif op == "SerializerOp":
            parent_id = node.from_[0]
            parent = self._output(graph, parent_id)
            kinds = self._kinds.get(parent_id)
            if kinds is None:
                raise ValueError(
                    f"Serializer {node_id} must consume an ExtendOp output"
                )
            df = serialize(
                parent, node.config["template"], kinds, node.config.get("format", "NQuads")
            )
        elif op == "TargetOp":
            inputs = [self._output(graph, f) for f in node.from_]
            df = inputs[0]
            for other in inputs[1:]:
                df = df.unionByName(other)
            if self.options.deduplicate:
                df = df.dropDuplicates()
        else:
            raise NotImplementedError(f"Operator {op!r} not supported")

        self._df[node_id] = df
        return df

    def _join(self, graph: PlanGraph, node) -> DataFrame:
        cfg = node.config
        left = self._output(graph, node.from_[0])
        right = self._output(graph, node.from_[1])
        alias = cfg.get("join_alias", "join_0")
        pairs = [tuple(p) for p in cfg.get("left_right_attr_pairs", [])]

        renamed = right.selectExpr(
            *(f"{_sql_ident(c)} AS {_sql_ident(f'{alias}_{c}')}" for c in right.columns)
        )
        if not pairs:
            # Reference quirk: a genuinely surviving join with no key pairs
            # never leaves header mode and emits nothing
            # (join.rs:81-106) — NOT a cross join. Preserve that.
            log.warning(
                "Join %s has no key pairs between distinct sources; "
                "emitting empty result (reference parity)", node.id
            )
            return left.limit(0).crossJoin(renamed.limit(0))

        cond = None
        for l, r in pairs:
            c = left[_sql_ident(l)] == renamed[_sql_ident(f"{alias}_{r}")]
            cond = c if cond is None else (cond & c)
        return left.join(renamed, cond, "inner")


def run_plan(
    plan: str | dict,
    spark: SparkSession,
    options: MopperOptions | None = None,
    registry: SourceRegistry | None = None,
) -> list[TargetResult]:
    return PlanExecutor(spark, options, registry).run(plan)


def run_plan_to_lines(
    plan: str | dict,
    spark: SparkSession,
    options: MopperOptions | None = None,
    registry: SourceRegistry | None = None,
) -> list[str]:
    """Execute and collect every target's statements (test helper).

    Output statements may embed ``\\n`` (multi-line templates write one
    *message* per row in the reference and the sink appends a newline —
    writer_sink.rs:57-66); split them so callers see one statement per line,
    which is also what the set-wise golden comparison does (tests.rs:52-66).
    """
    lines: list[str] = []
    for target in run_plan(plan, spark, options, registry):
        for row in target.statements.collect():
            if row[0]:
                lines.extend(row[0].split("\n"))
    return lines
