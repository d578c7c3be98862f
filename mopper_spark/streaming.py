"""Structured Streaming surface: incremental KG construction.

The reference is a finite batch engine — its "streaming" is bounded
pipelined execution (``/root/reference/README.md:18-20``), so none of this
is parity surface; it is the scale path for continuously-arriving
transcripts (Kafka / files landing in object storage):

- ``stream_transcripts``: file-source stream over a transcripts directory
  (swap for ``spark.readStream.format("kafka")`` in production — the
  downstream graph is identical);
- ``stream_extract``: the SAME ``extract_triples`` compilation applied
  incrementally — it is stateless (narrow ops only), so it runs unchanged
  under the streaming planner;
- ``windowed_mention_counts``: event-time windowed aggregation with a
  watermark for late data;
- ``conversation_progress``: custom stateful operator via
  ``applyInPandasWithState`` (running per-conversation turn counter +
  max turn_idx — the streaming analogue of the stable-ordering invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mopper_spark.scan import exclusive_scan

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

PROGRESS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turns_seen", LongType()),
        StructField("max_turn_idx", IntegerType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_transcripts_rate(
    spark: SparkSession, rows_per_second: int = 1000, n_convs: int = 50
) -> DataFrame:
    """Transcript-shaped stream from Spark's built-in unbounded ``rate``
    source — the Kafka-less stand-in for a true infinite feed (swap for
    ``format("kafka")`` + a deserializer in production; everything
    downstream is identical).  Turn content is the same deterministic
    column arithmetic as the batch generator, keyed by the rate source's
    monotonically increasing ``value``."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    conv = F.pmod("value", F.lit(n_convs))
    return rate.select(
        F.format_string("conv_%05d", conv).alias("conv_id"),
        (F.col("value") / n_convs).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.pmod(F.xxhash64("value"), 3) + 1).cast("int"),
        ).alias("role"),
        F.concat(
            F.lit("streamed turn about "),
            F.element_at(
                F.array(F.lit("Ada Lovelace"), F.lit("Grace Hopper"), F.lit("Alan Turing")),
                (F.pmod(F.xxhash64("value", F.lit(1)), 3) + 1).cast("int"),
            ),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("timestamp").alias("ts"),
    )


def stream_extract(transcripts: DataFrame) -> DataFrame:
    """Incremental triple extraction — stateless, identical semantics to
    the batch path (stream/batch parity is asserted in tests)."""
    from mopper_spark.pipeline.extract import extract_triples

    return extract_triples(transcripts)


def windowed_mention_counts(
    transcripts: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time mention counts per window; late data beyond the
    watermark is dropped and its state reclaimed."""
    from mopper_spark.pipeline.extract import extract_mentions
    from mopper_spark.pipeline.linking import normalize_surface

    mentions_src = transcripts.withWatermark("ts", watermark)
    m = extract_mentions(mentions_src.select("conv_id", "turn_idx", "text", "ts"))
    # extract_mentions keeps (conv_id, turn_idx, surface); re-join ts via
    # select on the same projection to stay stateless before the agg
    m = (
        mentions_src.select("conv_id", "turn_idx", "ts")
        .join(m, ["conv_id", "turn_idx"])
        .select("ts", normalize_surface(F.col("surface")).alias("norm"))
    )
    return m.groupBy(F.window("ts", window), "norm").agg(
        F.count("*").alias("n_mentions")
    )


def conversation_progress(transcripts: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-conversation progress.

    State per conv_id: (turns_seen, max_turn_idx), updated each
    micro-batch via ``applyInPandasWithState`` (Arrow-batched)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        turns, max_idx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            turns += len(pdf)
            if len(pdf):
                max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, max_idx))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "turns_seen": [turns], "max_turn_idx": [max_idx]}
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=PROGRESS_SCHEMA,
        stateStructType="turns_seen long, max_turn_idx int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def as_utc_instant(ntz_col: str):
    """NTZ wall time → TIMESTAMP (LTZ) carrying the same value as a UTC
    instant, via epoch-µs arithmetic only — the session timezone is never
    consulted, so downstream event-time processing (watermarks, session
    windows) is TZ-independent.  Needed because Spark 4.1 rejects
    TIMESTAMP_NTZ as an event-time/watermark column
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)."""
    return F.timestamp_micros(
        F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" {ntz_col})"
        )
    )


def stream_events(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over an events directory with the driver-testdata
    schema.  ``ts`` is read TIMESTAMP_NTZ (the parquet file's faithful
    type) then converted to a UTC-instant TIMESTAMP via epoch arithmetic —
    see ``as_utc_instant`` — so event-time processing is
    session-timezone-free (same rationale as the batch sessionize read)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir).withColumn("ts", as_utc_instant("ts"))


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 minute"
) -> DataFrame:
    """Gap-based session aggregation over an event stream — the built-in
    ``session_window`` with an event-time watermark (Spark's native
    streaming sessionization; state is evicted once the watermark passes a
    session's end, so per-key state is bounded by active sessions only).

    Sessions merge while consecutive events are strictly less than ``gap``
    apart; ``session_end`` is ``last event + gap``.  In append mode a
    session is emitted only once the watermark passes its end — the
    correct late-data contract for continuously-arriving events; the batch
    cutoff equivalent is pinned by tests and the gate oracle.

    Output is fully deterministic (counts and timestamps only — no
    float sums whose partial order could wobble the last ulp)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_counts_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact-dedup ledger: running per-fingerprint occurrence
    counts via ``applyInPandasWithState`` — the streaming analogue of
    exact dedup for continuously-arriving documents (state per distinct
    fingerprint: one long; emission per batch in update mode, so the
    latest row per key is the running total).

    The fingerprint is computed natively (``md5`` over the text bytes,
    JVM-side) BEFORE the stateful operator, so the Python stage only ever
    sees (fingerprint) rows — at 100 TB the state store holds one long per
    distinct document, and the text never crosses into Python."""

    keyed = docs.select(F.md5(F.col(text_col).cast("binary")).alias("fingerprint"))

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"fingerprint": [key[0]], "n_seen": [n]})

    return keyed.groupBy("fingerprint").applyInPandasWithState(
        update,
        outputStructType="fingerprint string, n_seen long",
        stateStructType="n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    max_span: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: left rows matched to right rows of the
    same ``by`` key with ``left_ts ∈ [right_ts, right_ts + max_span]``.

    Both sides carry an event-time watermark; with the time-range
    condition on the event-time columns Spark bounds each side's join
    state to ``watermark + max_span`` — the state-eviction contract that
    makes an unbounded stream-stream join feasible.  Inner-join matches
    emit eagerly (append mode), so the emitted set equals the batch join
    whenever no matching partner is dropped by eviction: pick
    ``watermark`` ≥ the worst-case event-time disorder of the source (for
    a replay of unsorted files, the full time span — the gate query does
    exactly that to make stream == batch provable; a production log
    source arrives roughly time-ordered needs only minutes)."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return l.join(
        r,
        (F.col(f"l.{by}") == F.col(f"r.{by}"))
        & (lts >= rts)
        & (lts <= rts + F.expr(f"INTERVAL {max_span}")),
        "inner",
    )


def write_stream(
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    available_now: bool = True,
):
    """Start a parquet sink; ``available_now`` drains the backlog and stops
    (the batch-like trigger used by tests and backfills).

    The parquet sink only supports append mode; update-mode streams (e.g.
    the stateful operators) are routed through ``foreachBatch`` appending
    each micro-batch's updates — downstream readers take the latest row
    per key."""
    writer = df.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir
    )
    if output_mode == "update":
        writer = writer.foreachBatch(
            lambda bdf, _id: bdf.write.mode("append").parquet(output_dir)
        )
    else:
        writer = writer.format("parquet").option("path", output_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def contamination_hits_stream(
    doc_stream: DataFrame, benchmark: DataFrame, n: int = 4
) -> DataFrame:
    """Streaming benchmark-contamination screen: every incoming document's
    distinct word n-grams are probed against the (static) benchmark's
    distinct n-gram set; emits one ``(doc_id, g)`` row per hit.

    Entirely STATELESS — a stream-static inner join where the static side
    is the broadcast benchmark set, so it is append-mode-safe with no
    watermark and no state store: each document's grams are derived from
    its own input row, and Spark re-plans the broadcast per micro-batch.
    This is the shape for screening an ingest firehose before documents
    ever land in the training corpus; the batch ``ngram_contamination``
    is the retrospective full-corpus audit of the same predicate.
    """
    from pyspark.sql import functions as F

    from mopper_spark.textops.contamination import benchmark_ngram_set
    from mopper_spark.textops.dedup import _lower_tokens, word_ngram_array

    bset = F.broadcast(benchmark_ngram_set(benchmark, n=n))
    grams = doc_stream.select(
        "doc_id", _lower_tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(word_ngram_array("toks", n))).alias("g"),
    )
    return grams.join(bset, "g").select("doc_id", "g")


def entity_intervals_stream(
    mentions_ts: DataFrame,
    gap: str = "60 seconds",
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming analogue of
    ``pipeline/temporal.py::entity_activity_intervals``: entity activity
    intervals over a continuously-arriving mention stream, via
    ``session_window`` keyed by (conv_id, entity).

    ``session_window`` merges events whose spacing is <= gap (inclusive
    boundary, pinned by TestSessionizeStream), which is exactly the batch
    operator's "a gap of exactly max_gap still chains" rule — so a
    finalized streaming interval equals the batch interval row for the
    same data (parity pinned in tests).  Bounds are min/max EVENT time in
    epoch microseconds (the batch convention), not the session_window
    start/end (which pad by the gap).

    State/scale: per-key state is bounded by OPEN intervals only — the
    watermark finalizes and evicts an interval once it passes
    ``last mention + gap``; append mode emits each interval exactly once.
    """
    return (
        mentions_ts.withWatermark("ts", watermark)
        .groupBy("conv_id", "entity", F.session_window("ts", gap))
        .agg(
            F.unix_micros(F.min("ts")).alias("valid_from_us"),
            F.unix_micros(F.max("ts")).alias("valid_to_us"),
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
        )
        .select("conv_id", "entity", "valid_from_us", "valid_to_us", "n_mentions")
    )


def process_hll_batch(batch_df: DataFrame, batch_id: int, state_dir: str) -> None:
    """One micro-batch of the streaming distinct-count sketch: fold the
    batch's HLL registers into the versioned register state by per-bucket
    MAX — the mergeability property that makes HLL THE streaming distinct
    counter (registers of a union = max of register tables).

    Same versioned-parquet + ``_LATEST``-pointer-last idempotence
    discipline as ``pipeline/incremental.py::process_increment``,
    including the replay short-circuit for the pointer-advanced-but-
    checkpoint-uncommitted crash window and the eager ``localCheckpoint``
    severing the overwrite from the state files it read.
    """
    import os

    from mopper_spark.textops.sketches import hll_registers

    spark = batch_df.sparkSession
    version = f"v{batch_id:06d}"
    latest_path = os.path.join(state_dir, "_LATEST")

    def read_latest() -> DataFrame:
        try:
            with open(latest_path) as fh:
                v = fh.read().strip()
        except FileNotFoundError:
            return spark.createDataFrame([], "bucket long, mj int")
        return spark.read.parquet(os.path.join(state_dir, v))

    try:
        with open(latest_path) as fh:
            if fh.read().strip() == version:
                return  # replayed batch already fully applied
    except FileNotFoundError:
        pass
    batch_regs = hll_registers(batch_df, batch_df.columns[-1])
    merged = (
        read_latest()
        .unionByName(batch_regs)
        .groupBy("bucket")
        .agg(F.max("mj").cast("int").alias("mj"))
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(os.path.join(state_dir, version))
    tmp = latest_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, latest_path)


def hll_distinct_stream(
    value_stream: DataFrame, state_dir: str, checkpoint_dir: str
):
    """Streaming distinct-count: merge each micro-batch's HLL registers
    into versioned state via ``foreachBatch`` (cross-bucket max is a
    cross-key operation, so per-key state tools don't apply — the
    ``incremental_link_stream`` reasoning).  The LAST column of
    ``value_stream`` is the sketched value.  After the stream drains,
    ``sketches.hll_summary`` over the latest register table yields the
    estimate — byte-identical to the batch ``hll_distinct`` over the same
    (unordered) value multiset, because register merge is associative and
    commutative."""
    import os

    os.makedirs(state_dir, exist_ok=True)

    def process(bdf: DataFrame, bid: int) -> None:
        process_hll_batch(bdf, bid, state_dir)

    return (
        value_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_registers(spark, state_dir: str) -> DataFrame:
    """Resolve the _LATEST pointer to the current register table."""
    import os

    with open(os.path.join(state_dir, "_LATEST")) as fh:
        v = fh.read().strip()
    return spark.read.parquet(os.path.join(state_dir, v))


def process_mg_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, k: int
) -> None:
    """One micro-batch of the streaming Misra-Gries heavy-hitter sketch:
    fold the batch's exact value counts into the ≤ k-entry counter state,
    then trim with the batched MG rule (subtract the (k+1)-largest count
    from all counters, drop non-positive — the same rule as the batch
    sketch's ``sketches._mg_partition``).  MG summaries are MERGEABLE
    (Agarwal et al. PODS'12): any merge sequence undercounts each value
    by at most n/(k+1), so every true ε-heavy hitter survives REGARDLESS
    of batch order — the order-insensitivity that makes the drained
    candidate set safe to finalize with one exact counting pass.

    State per version: ``counters`` (≤ k rows of (value, cnt)) and
    ``meta`` (one row: exact n_total of non-null stream values, for the
    final threshold).  Versioned-parquet + ``_LATEST``-pointer-last
    idempotence, replay short-circuit, and eager ``localCheckpoint``
    before overwrite — the ``process_hll_batch`` discipline.

    The (k+1)-th-largest cut and the batch total are driver scalars by
    design: MG state is O(k) and meta is one row — nothing corpus-sized
    crosses to the driver.
    """
    import os

    spark = batch_df.sparkSession
    version = f"v{batch_id:06d}"
    latest_path = os.path.join(state_dir, "_LATEST")

    try:
        with open(latest_path) as fh:
            if fh.read().strip() == version:
                return  # replayed batch already fully applied
    except FileNotFoundError:
        pass

    def read_latest():
        try:
            with open(latest_path) as fh:
                v = fh.read().strip()
        except FileNotFoundError:
            empty = spark.createDataFrame([], "value string, cnt long")
            return empty, 0
        base = os.path.join(state_dir, v)
        counters = spark.read.parquet(os.path.join(base, "counters"))
        n_total = spark.read.parquet(os.path.join(base, "meta")).first()[
            "n_total"
        ]
        return counters, n_total

    col = batch_df.columns[-1]
    vals = batch_df.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    batch_counts = vals.groupBy("value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    n_batch = vals.count()
    prev, n_prev = read_latest()
    merged = (
        prev.unionByName(batch_counts)
        .groupBy("value")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    if merged.count() > k:
        cut = (
            merged.orderBy(F.desc("cnt"), F.asc("value"))
            .limit(k + 1)
            .agg(F.min("cnt"))
            .first()[0]
        )
        merged = (
            merged.select("value", (F.col("cnt") - F.lit(cut)).alias("cnt"))
            .filter(F.col("cnt") > 0)
            .localCheckpoint(eager=True)
        )
    base = os.path.join(state_dir, version)
    merged.write.mode("overwrite").parquet(os.path.join(base, "counters"))
    spark.createDataFrame(
        [(int(n_prev) + int(n_batch),)], "n_total long"
    ).write.mode("overwrite").parquet(os.path.join(base, "meta"))
    tmp = latest_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, latest_path)


def heavy_hitters_stream(
    value_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 500,
):
    """Streaming ε-heavy-hitter sketch (ε = 1/(k+1)): fold each
    micro-batch into the bounded Misra-Gries counter state via
    ``foreachBatch`` (the trim is a cross-key operation, so per-key state
    tools don't apply — the ``hll_distinct_stream`` reasoning).  The LAST
    column of ``value_stream`` is the sketched value.  After the stream
    drains, ``heavy_hitters_from_state`` finalizes candidates with exact
    counts — output identical to the batch ``sketches.heavy_hitters``
    over the same (unordered) value multiset, because MG candidate
    recall is total under any merge order."""
    import os

    os.makedirs(state_dir, exist_ok=True)

    def process(bdf: DataFrame, bid: int) -> None:
        process_mg_batch(bdf, bid, state_dir, k)

    return (
        value_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def heavy_hitters_from_state(
    spark, state_dir: str, values: DataFrame, col: str, k: int
) -> DataFrame:
    """Finalize the drained MG stream: exact counts of the ≤ k surviving
    candidates over ``values`` (the archived stream content), thresholded
    at the meta table's exact n_total — ``(value, freq)``, the batch
    ``heavy_hitters`` contract.  One broadcast semi-probe + one
    aggregation; candidates and meta are O(k) and one row."""
    import os

    with open(os.path.join(state_dir, "_LATEST")) as fh:
        v = fh.read().strip()
    base = os.path.join(state_dir, v)
    candidates = spark.read.parquet(os.path.join(base, "counters")).select(
        "value"
    )
    n_total = spark.read.parquet(os.path.join(base, "meta")).first()["n_total"]
    vals = values.select(F.col(col).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    )
    exact = (
        vals.join(F.broadcast(candidates), "value")
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return exact.filter(F.col("freq") * (k + 1) > F.lit(int(n_total)))


def lateness_audit(
    df: DataFrame,
    ts_col: str,
    arrival_col: str,
    *,
    delay_seconds: int,
    bucket_width: int = 4096,
) -> DataFrame:
    """Batch audit of a streaming watermark policy: replaying the rows
    in ``arrival_col`` order, which ones would
    ``withWatermark(ts, delay)`` drop?  A row is LATE iff its event time
    is older than ``max(event time of strictly-earlier arrivals) −
    delay`` — exactly Spark's watermark rule, evaluated exactly, so the
    "how much data does a 1 h watermark cost us?" design question is
    answered from history before committing a streaming job to it.

    The running max over arrival order is ``scan.exclusive_scan``
    bucketed by arrival range (``bucket_width`` ordinals per bucket) —
    no global sort of the event log.

    Output: input columns plus ``wm_us`` (the watermark each row faced;
    −1 for the first arrival — no earlier rows, never late, the
    fetch-safe sentinel) and ``late`` (0/1).
    """
    if delay_seconds < 0:
        raise ValueError("lateness_audit: delay_seconds must be >= 0")
    if bucket_width < 1:
        raise ValueError("lateness_audit: bucket_width must be >= 1")
    ep = (
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" {ts_col})"
    )
    arr = F.col(arrival_col).cast("long")
    t = exclusive_scan(
        df.withColumn("_ts_us", F.expr(ep).cast("long")).withColumn("_arr", arr),
        F.floor(F.col("_arr") / F.lit(int(bucket_width))).cast("long"),
        ["_arr"],
        maxes={"_run": "_ts_us"},
    )
    delay_us = int(delay_seconds) * 1_000_000
    out = (
        t.withColumn(
            "wm_us",
            F.coalesce(F.col("_run") - F.lit(delay_us), F.lit(-1)).cast("long"),
        )
        .withColumn(
            "late",
            F.when(
                F.col("_run").isNotNull()
                & (F.col("_ts_us") < F.col("_run") - F.lit(delay_us)),
                1,
            ).otherwise(0).cast("long"),
        )
    )
    return out.drop("_ts_us", "_arr", "_run")


def process_band_count_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """One micro-batch of the streaming drift monitor: fold the batch's
    per-band value counts into the versioned count state by per-band SUM
    — counts are the simplest mergeable sketch of all, so the drained
    state equals the batch GROUP BY over the same rows under any micro-
    batch split.  Same versioned-parquet + ``_LATEST``-pointer-last
    idempotence discipline as ``process_hll_batch`` (replay
    short-circuit, eager localCheckpoint before the overwrite)."""
    import os

    spark = batch_df.sparkSession
    version = f"v{batch_id:06d}"
    latest_path = os.path.join(state_dir, "_LATEST")

    def read_latest() -> DataFrame:
        try:
            with open(latest_path) as fh:
                v = fh.read().strip()
        except FileNotFoundError:
            return spark.createDataFrame([], "band long, n long")
        return spark.read.parquet(os.path.join(state_dir, v))

    try:
        with open(latest_path) as fh:
            if fh.read().strip() == version:
                return  # replayed batch already fully applied
    except FileNotFoundError:
        pass
    batch_counts = batch_df.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    merged = (
        read_latest()
        .unionByName(batch_counts)
        .groupBy("band")
        .agg(F.sum("n").cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(os.path.join(state_dir, version))
    tmp = latest_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, latest_path)


def drift_counts_stream(
    value_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    value_col: str = "value",
    band_width: int = 1,
):
    """Streaming side of the PSI drift monitor: bin the live value
    stream into the SAME fixed-width bands as the frozen baseline and
    fold per-band counts into versioned parquet state via
    ``foreachBatch``.  After the stream drains (or at any checkpointed
    point mid-stream), ``timeseries.psi_terms_from_counts(baseline,
    read_band_counts(...))`` yields the drift terms — the
    train-vs-serving monitor, incremental because counts merge by sum.
    """
    import os

    os.makedirs(state_dir, exist_ok=True)
    banded = value_stream.select(
        F.floor(F.col(value_col).cast("double") / F.lit(float(band_width)))
        .cast("long")
        .alias("band")
    )

    def process(bdf: DataFrame, bid: int) -> None:
        process_band_count_batch(bdf, bid, state_dir)

    return (
        banded.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_band_counts(spark, state_dir: str) -> DataFrame:
    """Resolve the _LATEST pointer to the current band-count table."""
    import os

    with open(os.path.join(state_dir, "_LATEST")) as fh:
        v = fh.read().strip()
    return spark.read.parquet(os.path.join(state_dir, v))
