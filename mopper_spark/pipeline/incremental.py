"""Incremental (streaming) entity linking that provably converges to the
batch fixpoint.

The batch pipeline (``linking.py`` → ``canonicalize.py``) computes
min-label connected components over the co-reference edge set of ALL
distinct surface forms.  Incremental construction must keep ingesting new
transcript turns without recomputing that from scratch — and, crucially,
must not depend on arrival order: two deployments that saw the same turns
in different micro-batch orders must end with the same canonical
dictionary.

Order-insensitivity argument (why end state == batch):

- The dictionary invariant is *"dict = min-label components of every edge
  discovered so far, over every form seen so far"*.
- Edges are a pure function of the (unordered) form SET: a pair (a, b)
  sharing a blocking key is discovered exactly when the LATER of the two
  arrives, because each increment joins the fresh forms' keys against the
  keys of ALL forms seen so far.  Scoring (``_score_pair``) is per-pair
  and deterministic.
- A merge is a union-find union: when fresh edges bridge existing
  components, the mini connected-components pass below runs over
  CANONICAL labels, and the merged component's new label is the min over
  the member canonicals (each of which is the min of ITS members) and the
  fresh forms — i.e. the global min of the merged member set.  Unions
  commute, so any arrival order yields the same final partition — the
  batch partition.

One documented divergence: the anti-quadratic ``max_block_size`` cap is
evaluated against the CUMULATIVE key table at each increment, so a block
that only later exceeds the cap has already contributed pairs the batch
run would drop.  Streaming may therefore link a SUPERSET on cap-saturated
data; on data where no block exceeds the cap (the oracle fixture — recall
pinned by tests) the two are identical.  This is the standard streaming-ER
trade-off: pruning decisions cannot be retracted without replay.

Scale shape per increment: fresh-forms keys ⋈ cumulative keys (shuffled
hash join on the block key, fresh side is small), Arrow-batched pair
scoring, then connected components over the AFFECTED canonical labels
only — never over the full dictionary.  State lives in versioned parquet
(``dict/v{batch_id}`` + a ``_LATEST`` pointer written last), so a killed
run resumes from the pointer and a replayed micro-batch rewrites its
version deterministically — same idempotence discipline as
``pipeline/checkpoint.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mopper_spark.pipeline.canonicalize import canonical_map
from mopper_spark.pipeline.linking import (
    _score_pair,
    blocking_keys,
    normalize_surface,
)

_DICT_SCHEMA = "norm string, canonical_norm string"


def empty_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _DICT_SCHEMA)


def link_increment(
    dictionary: DataFrame,
    new_mentions: DataFrame,
    max_block_size: int = 64,
) -> DataFrame:
    """One incremental step: (current dictionary, new mentions with a
    ``surface`` column) → next dictionary ``(norm, canonical_norm)``.

    Pure and deterministic — the streaming wrapper just threads state.
    """
    spark = dictionary.sparkSession
    fresh = (
        new_mentions.select(normalize_surface(F.col("surface")).alias("norm"))
        .distinct()
        .join(dictionary.select("norm"), "norm", "left_anti")
        .localCheckpoint(eager=False)
    )
    if fresh.isEmpty():
        return dictionary
    all_forms = dictionary.select("norm").unionByName(fresh.select("norm"))
    keys_all = blocking_keys(all_forms)
    # cumulative anti-quadratic cap (see module docstring for semantics)
    sized = keys_all.join(
        keys_all.groupBy("key").count().filter(F.col("count") <= max_block_size),
        "key",
    )
    fresh_keys = sized.join(fresh, "norm")
    a, b = fresh_keys.alias("a"), sized.alias("b")
    pairs = (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.norm") != F.col("b.norm")))
        .select(
            F.least(F.col("a.norm"), F.col("b.norm")).alias("norm_a"),
            F.greatest(F.col("a.norm"), F.col("b.norm")).alias("norm_b"),
        )
        .distinct()
    )
    edges = pairs.filter(_score_pair(F.col("norm_a"), F.col("norm_b")))

    # lift form-level edges to CANONICAL-level edges (fresh forms are their
    # own canonical until merged)
    canon = dictionary.select(
        F.col("norm").alias("c_norm"), F.col("canonical_norm").alias("c_canon")
    )
    edges_c = (
        edges.join(canon.withColumnRenamed("c_norm", "norm_a"), "norm_a", "left")
        .withColumnRenamed("c_canon", "ca")
        .join(canon.withColumnRenamed("c_norm", "norm_b"), "norm_b", "left")
        .withColumnRenamed("c_canon", "cb")
        .select(
            F.coalesce("ca", F.col("norm_a")).alias("norm_a"),
            F.coalesce("cb", F.col("norm_b")).alias("norm_b"),
        )
        .filter(F.col("norm_a") != F.col("norm_b"))
        .localCheckpoint(eager=False)
    )

    # mini canonicalization over ONLY the affected labels + fresh forms
    touched = (
        edges_c.select(F.col("norm_a").alias("norm"))
        .unionByName(edges_c.select(F.col("norm_b").alias("norm")))
        .unionByName(fresh.select("norm"))
        .distinct()
    )
    mini = canonical_map(touched, edges_c).select(
        F.col("norm").alias("old_label"), F.col("canonical_norm").alias("new_label")
    )

    updated = (
        dictionary.join(
            mini.withColumnRenamed("old_label", "canonical_norm"),
            "canonical_norm",
            "left",
        )
        .select(
            "norm",
            F.coalesce("new_label", F.col("canonical_norm")).alias("canonical_norm"),
        )
    )
    fresh_rows = fresh.join(
        mini.withColumnRenamed("old_label", "norm"), "norm", "left"
    ).select("norm", F.coalesce("new_label", F.col("norm")).alias("canonical_norm"))
    return updated.unionByName(fresh_rows)


def with_canonical_iri(dictionary: DataFrame) -> DataFrame:
    """Add the entity IRI column, same encoding as the batch pipeline."""
    from mopper_spark.compiler import pct_encode_native
    from mopper_spark.pipeline.canonicalize import EX

    return dictionary.selectExpr(
        "norm",
        "canonical_norm",
        f"concat('{EX}entity/', {pct_encode_native('canonical_norm')}) AS canonical_iri",
    )


def _latest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_LATEST")


def _read_latest(state_dir: str) -> str | None:
    try:
        with open(_latest_path(state_dir)) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return None


def read_dictionary(spark: SparkSession, state_dir: str) -> DataFrame:
    """Resolve the _LATEST pointer; empty dictionary if none yet."""
    try:
        with open(_latest_path(state_dir)) as fh:
            version = fh.read().strip()
    except FileNotFoundError:
        return empty_dictionary(spark)
    return spark.read.schema(_DICT_SCHEMA).parquet(
        os.path.join(state_dir, version)
    )


def incremental_link_stream(
    mentions_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    max_block_size: int = 64,
):
    """Run the incremental linker over a STREAM of mentions (any streaming
    DataFrame with a ``surface`` column).

    ``foreachBatch`` is the right tool, not ``applyInPandasWithState``:
    merging co-reference components is a cross-key operation (a fresh form
    bridges two existing components), which per-key state cannot express.
    Each micro-batch runs the pure ``link_increment`` and commits the next
    dictionary version; the ``_LATEST`` pointer is written last, so a
    mid-write kill leaves the previous version live and Structured
    Streaming's checkpoint replays the batch into the same version path
    (deterministic content ⇒ idempotent).
    """
    os.makedirs(state_dir, exist_ok=True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_increment(batch_df, batch_id, state_dir, max_block_size)

    return (
        mentions_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def process_increment(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    max_block_size: int = 64,
) -> None:
    """One micro-batch of the incremental linker (the ``foreachBatch``
    body, module-level so the replay window is unit-testable).

    Replay short-circuit: a kill can land AFTER the ``_LATEST`` pointer
    advanced to this version but BEFORE the streaming checkpoint
    committed.  On replay, ``read_dictionary`` would then read from
    ``state/v{batch_id}`` while we ``overwrite`` the same path — Spark
    refuses ("Cannot overwrite a path that is also being read from") and
    the query crash-loops.  The pointer advancing IS the commit of record
    for the dictionary, so a replayed batch whose version is already live
    is fully applied: skip it.  As defense for any other lineage overlap,
    the next dictionary is eagerly materialized (``localCheckpoint``)
    before the overwrite, severing it from the state files it read.
    """
    spark = batch_df.sparkSession
    version = f"v{batch_id:06d}"
    if _read_latest(state_dir) == version:
        return
    current = read_dictionary(spark, state_dir)
    nxt = link_increment(
        current, batch_df, max_block_size=max_block_size
    ).localCheckpoint(eager=True)
    nxt.write.mode("overwrite").parquet(os.path.join(state_dir, version))
    tmp = _latest_path(state_dir) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, _latest_path(state_dir))
