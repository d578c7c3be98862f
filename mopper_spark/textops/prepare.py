"""Training-example preparation: chat rendering, PII scrubbing, paragraph
dedup, token-budget mixing.

These are the last-mile operators between a curated transcript corpus and
a tokenizer: render conversations into model-ready text, scrub PII
(Dolma's approach, Soldaini et al. 2024 §2: regex classes, not NER, at
corpus scale), drop duplicated paragraphs (CCNet operates at paragraph
granularity precisely because boilerplate repeats BELOW document level),
and assemble a per-source token-budget mixture (the "data mixing" step
every pretraining recipe documents).  All native expressions; the only
shuffles are one per-conversation aggregation and word-count-shaped
paragraph/group aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- chat


def render_conversations(
    transcripts: DataFrame,
    *,
    turn_sep: str = "\n",
    role_open: str = "<|",
    role_close: str = "|>",
) -> DataFrame:
    """Transcripts → one training document per conversation:
    ``(conv_id, n_turns, text)`` with turns in stable ``turn_idx`` order,
    each rendered ``<|role|>text``.

    Ordering under distribution: per-conversation turn order is
    reconstructed with ``array_sort`` over ``(turn_idx, rendered)``
    structs AFTER a plain ``collect_list`` aggregation — collect_list's
    arrival order is partition-dependent, the sort makes the result a
    pure function of the data (the same per-row invariant the north rule
    demands: per-turn text equality under stable (conv_id, turn_idx)
    ordering).  One map-side-combining aggregation keyed on conv_id; a
    single monster conversation skews one task but never a join.
    """
    rendered = F.concat(
        F.lit(role_open), F.col("role"), F.lit(role_close), F.col("text")
    )
    return (
        transcripts.select(
            "conv_id", F.struct(F.col("turn_idx"), rendered.alias("r")).alias("t")
        )
        .groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("t")).alias("ts"))
        .select(
            "conv_id",
            F.size("ts").cast("long").alias("n_turns"),
            F.array_join(F.transform("ts", lambda s: s["r"]), turn_sep).alias("text"),
        )
    )


def render_loss_spans(
    transcripts: DataFrame,
    *,
    loss_role: str = "assistant",
    turn_sep: str = "\n",
    role_open: str = "<|",
    role_close: str = "|>",
) -> DataFrame:
    """Loss-mask spans for SFT training over ``render_conversations``
    output: one row per ``loss_role`` turn with ``(conv_id, turn_idx,
    start_off, end_off)`` — 0-based, end-exclusive CHARACTER offsets into
    the rendered conversation text covering the turn's CONTENT only (the
    ``<|role|>`` header stays out of the loss, the standard
    assistant-only SFT masking contract).

    Offsets are pure integer arithmetic over per-turn rendered lengths —
    an exclusive prefix sum of ``len(header)+len(text)+len(sep)`` within
    each conversation, ordered by ``(turn_idx, rendered)`` — the SAME
    tie-break ``render_conversations`` gets from ``array_sort`` over
    ``(turn_idx, r)`` structs, so the two functions agree even on a
    pathological duplicate ``turn_idx``.  One per-conversation window
    (spillable, conversation-sized partitions — the identical skew unit
    as the render itself); text never moves, only its lengths do.
    """
    rendered = F.concat(
        F.lit(role_open), F.col("role"), F.lit(role_close), F.col("text")
    )
    hdr = F.length(F.col("role")) + F.lit(len(role_open) + len(role_close))
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        hdr.cast("long").alias("_hl"),
        (hdr + F.length("text")).cast("long").alias("_rl"),
        rendered.alias("_r"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "_r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(
        F.sum(F.col("_rl") + F.lit(len(turn_sep))).over(w), F.lit(0)
    )
    return (
        t.withColumn("_pre", pre.cast("long"))
        .filter(F.col("role") == loss_role)
        .select(
            "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            (F.col("_pre") + F.col("_hl")).cast("long").alias("start_off"),
            (F.col("_pre") + F.col("_rl")).cast("long").alias("end_off"),
        )
    )


# ----------------------------------------------------------------- PII

# RE2-compatible (works verbatim in Java regex AND DuckDB's RE2 — no
# lookarounds, no backreferences) so the oracle replicates byte-for-byte
PII_PATTERNS: list[tuple[str, str]] = [
    # order matters: emails contain digit runs; scrub them first
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IP", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("PHONE", r"\+?\d[\d\s().-]{7,}\d"),
]


def scrub_pii(text: Column, patterns: list[tuple[str, str]] | None = None) -> Column:
    """Replace each PII class with ``|||<CLASS>|||`` (the Dolma marker
    style).  A fixed regexp_replace chain — whole-stage-codegen'd, zero
    Python, trivially auditable; swap in stricter class patterns per
    deployment."""
    out = text
    for name, pat in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"|||{name}|||")
    return out


# ---------------------------------------------- paragraph-level dedup


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """CCNet-style paragraph dedup: split each document on ``sep``, keep
    only the corpus-wide FIRST occurrence of each paragraph (by smallest
    (doc_id, position)), reassemble surviving paragraphs in original
    order.  Returns ``(doc_id, text, n_kept, n_dropped)``.

    First-occurrence is the associative ``min(struct(doc, pos))``
    aggregate on the paragraph hash — no per-key window sort, so a
    boilerplate line repeated 10^9 times costs one combine-tree, not one
    task sorting 10^9 rows (same guard as ``dedup.keep_first_occurrence``,
    one level down).  Reassembly is a per-document ``array_sort`` over
    (pos, paragraph) structs — document-bounded, never corpus-wide.
    """
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).filter(F.length(F.trim(F.col("para"))) >= min_len)
    first = (
        paras.groupBy("para")
        .agg(F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("f"))
        .select("para", F.col("f.doc_id").alias("f_doc"), F.col("f.pos").alias("f_pos"))
    )
    tagged = paras.join(first, "para").withColumn(
        "keep", (F.col("doc_id") == F.col("f_doc")) & (F.col("pos") == F.col("f_pos"))
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep"), F.struct(F.col("pos"), F.col("para").alias("p")))
                )
            ).alias("kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
        .select(
            "doc_id",
            F.array_join(F.transform("kept", lambda s: s["p"]), sep).alias("text"),
            F.size("kept").cast("long").alias("n_kept"),
            F.col("n_dropped").cast("long"),
        )
    )


# ------------------------------------------------- token-budget mixing


def budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mix-v1",
) -> DataFrame:
    """Assemble a data mixture: per group, admit documents in a
    deterministic hash order until the group's TOKEN budget is reached
    (the first document crossing the boundary is included, so every
    non-empty budget admits ≥1 document).  Returns the admitted rows plus
    ``(n_tokens, cum_tokens)``.

    Hash order (md5 of seed‖id — the ``sampling.py`` portability idiom)
    makes the mixture a pure function of (seed, corpus): stable under
    growth for already-admitted docs ONLY if ids are stable, and
    re-drawable with a new seed — the two properties mixture reruns need.
    The cumulative sum is a window per GROUP (groups = sources, a handful
    at corpus scale — each window partition is one source, spillable;
    for a single giant source fall back to ``scan.exclusive_scan``).
    """
    if not budgets:
        raise ValueError("budget_sample: empty budgets dict")
    whens = None
    for g, b in budgets.items():
        c = F.when(F.col(group_col) == g, F.lit(b))
        whens = c if whens is None else whens.when(F.col(group_col) == g, F.lit(b))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    base = (
        docs.withColumn("budget", whens)
        .filter(F.col("budget").isNotNull())
        .withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn(
            "draw",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 12
                ),
                16,
                10,
            ).cast("long"),
        )
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("draw", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn(
            "cum_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .filter(F.col("cum_tokens") < F.col("budget"))
        .drop("draw", "budget")
    )


# ----------------------------------------------- conversation segmentation


def segment_conversations(
    transcripts: DataFrame,
    *,
    jaccard_threshold_tenths: int = 1,
) -> DataFrame:
    """Lexical-cohesion segmentation (TextTiling's core signal, Hearst
    CL'97, reduced to its distributable essence): within each conversation
    a new segment starts when the token-set Jaccard between a turn and its
    predecessor drops below ``threshold_tenths/10``.  Long transcripts get
    chunked at topic shifts instead of arbitrary token offsets — the
    training-window boundary that preserves local coherence.

    Exactness: the comparison ``|∩|/|∪| < t/10`` is evaluated as the
    INTEGER inequality ``10·|∩| < t·|∪|`` — no float ever exists, so the
    segmentation is bit-stable across engines and partitionings (strictly
    SQL-oracle-able like the rest of this module).

    Plan: one window pass partitioned by ``conv_id`` (lag + running sum of
    boundary flags) — per-conversation state only, the same skew posture
    as every other per-conversation operator here.  Returns
    ``(conv_id, turn_idx, seg_id)`` with ``seg_id`` 0-based per
    conversation; the first turn always opens segment 0.
    """
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag(toks).over(w)
    inter = F.size(F.array_intersect(toks, prev))
    union = F.size(F.array_union(toks, prev))
    boundary = F.when(prev.isNull(), F.lit(0)).otherwise(
        (
            F.lit(10) * inter
            < F.lit(jaccard_threshold_tenths) * union
        ).cast("int")
    )
    run = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.sum(boundary).over(run).cast("long").alias("seg_id"),
    )


def sft_pairs(
    transcripts: DataFrame,
    *,
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Supervised-fine-tuning pair extraction: every ``response_role``
    turn paired with the NEAREST PRECEDING ``prompt_role`` turn of its
    conversation — ``(conv_id, turn_idx, prompt, response)``, ordered by
    the same stable (conv_id, turn_idx) key as every transcript operator.

    Intervening other-role turns (tool calls, system notes) are skipped,
    not blocking: the pair is (last user utterance, assistant reply),
    which is the layout SFT corpora like OpenAssistant/ShareGPT exports
    use.  Assistant turns with NO preceding user turn in the conversation
    (e.g. a tool-initiated opener) produce no pair.

    Plan: ONE window pass partitioned by ``conv_id`` (running
    ``last(…, ignorenulls=True)`` over the preceding rows), then a
    filter — per-conversation state only; the skewed 10k-turn fixture
    conversation costs one partition-local sort, the posture documented
    for every per-conversation operator here.
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prompt = F.last(
        F.when(F.col("role") == prompt_role, F.col("text")), ignorenulls=True
    ).over(w)
    return (
        transcripts.withColumn("prompt", prompt)
        .filter((F.col("role") == response_role) & F.col("prompt").isNotNull())
        .select("conv_id", "turn_idx", "prompt", F.col("text").alias("response"))
    )


def response_latency(
    transcripts: DataFrame,
    *,
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Agent-ops metrics over the transcript stream: per conversation,
    how quickly ``response_role`` turns follow their IMMEDIATELY
    preceding ``prompt_role`` turn — ``(conv_id, n_responses,
    total_latency_us, min_latency_us, max_latency_us)``.  Only adjacent
    prompt→response turn pairs count (an intervening tool/system turn
    means the response latency measures something else — excluded, like
    sft_pairs' skip semantics but stricter by design; the INTEGER epoch-µs
    sums keep the row fetch-path-exact).

    One per-conversation window pass (lag over turn_idx) + one
    combine-able aggregation — the standard per-conversation skew bound.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    lagged = (
        transcripts.select(
            "conv_id", "turn_idx", "role", F.expr(epoch).alias("at_us")
        )
        .withColumn("prev_role", F.lag("role").over(w))
        .withColumn("prev_us", F.lag("at_us").over(w))
    )
    pairs = lagged.filter(
        (F.col("role") == response_role) & (F.col("prev_role") == prompt_role)
    ).select("conv_id", (F.col("at_us") - F.col("prev_us")).alias("lat_us"))
    return pairs.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_responses"),
        F.sum("lat_us").cast("long").alias("total_latency_us"),
        F.min("lat_us").alias("min_latency_us"),
        F.max("lat_us").alias("max_latency_us"),
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Agent-ops tool-usage Markov profile: corpus-wide counts and
    maximum-likelihood probabilities of ``prev_tool -> next_tool``
    transitions along each conversation's tool-invocation sequence
    (non-tool turns are skipped; the first tool call of a conversation
    transitions from the synthetic state ``_START_``).  Mirrors the
    reference's row-stream view of a logical source (mopper iterates rows
    in source order, ``src/source/csv_file.rs:27-115``) lifted to
    per-conversation order.

    Output: ``(prev_tool, next_tool, n_trans, n_from, p)`` where ``p`` is
    the ONE double division ``n_trans / n_from`` over exact integers (the
    cross-engine-deterministic shape used throughout this repo).

    Scale shape: the window is partitioned by ``conv_id`` — per-key state
    is one row (the previous tool turn), and the hot-conversation skew
    bound is the same one every per-conversation window in this repo
    documents; the transition matrix itself is at most
    ``(n_tools + 1)^2`` rows, so the final aggregate is a map-side-combine
    count shuffle followed by a broadcast-size join for the denominator.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tool_turns = transcripts.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    seq = tool_turns.withColumn(
        "prev_tool", F.coalesce(F.lag("tool").over(w), F.lit("_START_"))
    )
    counts = seq.groupBy("prev_tool", F.col("tool").alias("next_tool")).agg(
        F.count(F.lit(1)).cast("long").alias("n_trans")
    )
    from_totals = counts.groupBy("prev_tool").agg(
        F.sum("n_trans").alias("n_from")
    )
    return counts.join(F.broadcast(from_totals), "prev_tool").select(
        "prev_tool",
        "next_tool",
        "n_trans",
        F.col("n_from").cast("long").alias("n_from"),
        (F.col("n_trans") / F.col("n_from")).alias("p"),
    )


def mixture_weights(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    *,
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled source mixture weights — the multilingual /
    multi-domain sampling-rate formula ``p_s ∝ n_s^alpha`` (Lample &
    Conneau 2019 §3.1; the pre-step DoReMi-style reweighting starts
    from), over per-source TOKEN counts.

    Engine-portable determinism: ``n^alpha = exp(alpha * ln(n))`` is
    quantized to the fixed-point BIGINT ``w_fp = floor(n^alpha * 1e6)``
    per source, the normalizer is an exact integer sum, and ``p`` is one
    double division — so the table hash-matches any ANSI oracle.

    One count aggregate over the corpus + a one-row broadcast normalizer:
    the output has one row per source.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    per_source = (
        docs.select(F.col(source_col).alias("source"), F.size(toks).alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "w_fp",
            F.floor(
                F.exp(F.lit(alpha) * F.log(F.col("n_tokens").cast("double")))
                * F.lit(1000000.0)
            ).cast("long"),
        )
    )
    total = per_source.groupBy().agg(F.sum("w_fp").cast("long").alias("z_fp"))
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "w_fp",
        (F.col("w_fp") / F.col("z_fp").cast("double")).alias("p"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """k-anonymity / l-diversity audit over a quasi-identifier tuple
    (Sweeney 2002; Machanavajjhala et al. 2007): group rows by the QI
    columns and report, per equivalence class, the row count, the number
    of DISTINCT sensitive values, and whether the class meets the
    k-anonymity bar — the release-gate audit a transcript corpus runs
    before publication (a class of < k rows means those rows' QI
    combination alone re-identifies them; a class with one distinct
    sensitive value leaks it even at k rows — homogeneity attack).

    NULL is a QI value like any other (SQL GROUP BY semantics): an absent
    ``tool`` column still partitions the population.

    Returns the QI columns + ``(n_rows, n_sensitive, k_anonymous,
    l_diverse)`` with the flags as exact 0/1 integers against ``k`` and
    l = 2 respectively.

    Scale shape: ONE combine-able aggregation keyed by the QI tuple
    (count + count_distinct; map-side partial on the count, distinct via
    the standard two-phase expand).  No self-join, no window — the audit
    costs one pass at any corpus size.
    """
    if not quasi_identifiers:
        raise ValueError("k_anonymity_audit: empty quasi_identifiers")
    if k < 1:
        raise ValueError("k_anonymity_audit: k must be >= 1")
    return (
        df.groupBy(*[F.col(c) for c in quasi_identifiers])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct(F.col(sensitive_col)).cast("long").alias(
                "n_sensitive"
            ),
        )
        .select(
            *quasi_identifiers,
            "n_rows",
            "n_sensitive",
            (F.col("n_rows") >= k).cast("long").alias("k_anonymous"),
            (F.col("n_sensitive") >= 2).cast("long").alias("l_diverse"),
        )
    )


def tool_entropy(transcripts: DataFrame) -> DataFrame:
    """Per-tool next-step entropy of the transition Markov profile
    (``tool_transitions``): ``H(next | prev) = ln(n_from) −
    Σ n·ln(n) / n_from`` — low entropy = a scripted tool (one dominant
    successor), high = a branching decision point; the agent-ops signal
    for which tools gate divergent behavior.

    Exactness: each count's log enters as the fixed-point
    ``floor(ln(n)·1e6)`` (the ``docs_unigram_xent`` idiom), so the
    reported ``h_num_fp = n_from·lnf(n_from) − Σ n·lnf(n)`` is an exact
    int64 and ``H = h_num_fp / (n_from · 1e6)`` one consumer division.

    Output: ``(prev_tool, n_from, branching, h_num_fp)`` — transition-
    matrix-sized (≤ (tools+1)²) end to end.
    """
    t = tool_transitions(transcripts)
    lnf = lambda c: F.floor(F.log(c.cast("double")) * F.lit(1000000.0)).cast("long")  # noqa: E731
    return (
        t.groupBy("prev_tool")
        .agg(
            F.sum("n_trans").cast("long").alias("n_from"),
            F.count(F.lit(1)).cast("long").alias("branching"),
            F.sum(F.col("n_trans") * lnf(F.col("n_trans")))
            .cast("long")
            .alias("_s"),
        )
        .select(
            "prev_tool",
            "n_from",
            "branching",
            (F.col("n_from") * lnf(F.col("n_from")) - F.col("_s"))
            .cast("long")
            .alias("h_num_fp"),
        )
    )


def drop_common_paragraphs(
    docs: DataFrame,
    n_docs: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
    max_df_frac: float = 0.1,
    min_len: int = 1,
) -> DataFrame:
    """Boilerplate stripping by document frequency: a paragraph present
    in more than ``max_df_frac`` of the ``n_docs`` corpus documents is
    navigation/footer/template noise and is dropped from EVERY document
    (the C4 "policy line" rule generalized) — unlike
    ``dedup_paragraphs``, which keeps the first occurrence of
    everything.

    The threshold compares integers (``df · 1 > floor(max_df_frac ·
    n_docs)``); ``n_docs`` is a caller-supplied constant (one prior
    ``count()`` — corpus metadata, same contract as the quantile
    bounds), so the hot set is computable in one word-count-shaped
    aggregate and broadcast back.  Reassembly is the per-document
    ``array_sort`` idiom.

    Returns ``(doc_id, text, n_kept, n_dropped)``.
    """
    if n_docs < 1:
        raise ValueError("drop_common_paragraphs: n_docs must be >= 1")
    if not (0 < max_df_frac <= 1):
        raise ValueError("drop_common_paragraphs: max_df_frac must be in (0, 1]")
    import math

    cap = math.floor(max_df_frac * n_docs)
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).filter(F.length(F.trim(F.col("para"))) >= min_len)
    hot = (
        paras.select("doc_id", F.md5("para").alias("_h"))
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cap)
        .select("_h")
    )
    tagged = paras.withColumn("_h", F.md5("para")).join(
        F.broadcast(hot.withColumn("_drop", F.lit(1))), "_h", "left"
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_drop").isNull(),
                        F.struct(F.col("pos"), F.col("para").alias("p")),
                    )
                )
            ).alias("kept"),
            F.sum(F.col("_drop").isNotNull().cast("long")).alias("n_dropped"),
        )
        .select(
            "doc_id",
            F.array_join(F.transform("kept", lambda s: s["p"]), sep).alias("text"),
            F.size("kept").cast("long").alias("n_kept"),
            F.col("n_dropped").cast("long"),
        )
    )


# ------------------------------------------------------- preference pairs


def dpo_pairs(
    transcripts: DataFrame,
    *,
    prompt_role: str = "user",
    response_role: str = "assistant",
    min_candidates: int = 2,
) -> DataFrame:
    """Preference-pair mining for DPO/RLHF-style training (Rafailov et
    al. 2023): collect every (prompt, response) pair via the
    ``sft_pairs`` nearest-preceding-prompt rule, group the corpus by
    EXACT prompt text, and inside each group with >= ``min_candidates``
    DISTINCT responses emit one ``(prompt, chosen, rejected,
    chosen_len, rejected_len, n_candidates)`` row.

    Chosen/rejected selection is a deterministic ranking, not a reward
    model: longer response wins (whitespace-token count — the
    standard length-bias-aware baseline when no reward signal exists),
    ties broken lexicographically by response text so the pair is a pure
    function of the response SET.  Swap the ranking struct for a reward
    column when one is available — the aggregation shape is unchanged.

    Plan: one per-conversation window (inside sft_pairs) + ONE groupBy
    on prompt with two associative ``max(struct)``/``min(struct)``
    aggregations — no window over the prompt groups, so a viral prompt
    shared by millions of conversations costs a combine-able agg, never
    a single-task sort.  Distinct responses are counted exactly;
    identical duplicated responses collapse before ranking.
    """
    from mopper_spark.textops.analysis import token_count

    if min_candidates < 2:
        raise ValueError("dpo_pairs: min_candidates must be >= 2")
    pairs = sft_pairs(
        transcripts, prompt_role=prompt_role, response_role=response_role
    )
    cand = (
        pairs.select("prompt", "response")
        .distinct()
        .withColumn("resp_len", token_count(F.col("response")).cast("long"))
    )
    rank = F.struct(F.col("resp_len"), F.col("response"))
    grouped = cand.groupBy("prompt").agg(
        F.max(rank).alias("best"),
        F.min(rank).alias("worst"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )
    return grouped.filter(F.col("n_candidates") >= min_candidates).select(
        "prompt",
        F.col("best.response").alias("chosen"),
        F.col("worst.response").alias("rejected"),
        F.col("best.resp_len").alias("chosen_len"),
        F.col("worst.resp_len").alias("rejected_len"),
        "n_candidates",
    )


# ------------------------------------------------------ prefix dedup


def prefix_duplicates(
    transcripts: DataFrame,
    *,
    max_prefix_turns: int = 32,
    sep: str = "\x1e",
) -> DataFrame:
    """Conversation-prefix duplicate detection: a conversation A is a
    prefix-duplicate of a host B when A's ENTIRE turn sequence equals
    B's first ``len(A)`` turns (per-turn text equality under the stable
    (conv_id, turn_idx) order).  Regenerated/retried agent sessions
    produce exactly this shape — the shared prefix re-sent, then a
    longer continuation — and keeping both double-counts the prefix
    tokens, so dedup pipelines drop the strictly-contained one.

    Returns ``(conv_id, n_turns, host_conv, host_turns)`` — one row per
    duplicated conversation, with the DETERMINISTIC host: the
    lexicographically-least conv_id among its longest containers.
    Exact-equal conversations keep the least conv_id as survivor (it is
    nobody's duplicate; the others point at it).

    Cap: only conversations with <= ``max_prefix_turns`` turns can be
    flagged as duplicates, and only the first ``max_prefix_turns`` turns
    of any host are candidate cut points.  The cap bounds the cumulative
    concat at ``max_prefix_turns``x the mean turn length per
    conversation (the window below is quadratic in turns without it);
    longer containments are out of scope BY DEFINITION of the cap —
    raise it, or chain-hash per conversation via applyInPandas, when
    full-depth containment matters.

    Plan: one per-conversation window (cumulative concat + md5 prefix
    fingerprints, rows truncated at the cap), one exact-count agg, one
    equi-join on the 128-bit fingerprint + one associative max(struct)
    to pick the host.  No pairwise conversation comparison anywhere.
    """
    if max_prefix_turns < 1:
        raise ValueError("prefix_duplicates: max_prefix_turns must be >= 1")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cum = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = (
        transcripts.select("conv_id", "turn_idx", "text")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_prefix_turns)
        .withColumn(
            # collect_list AND concat_ws both silently skip NULLs, so a
            # NULL-text turn would fingerprint identically to no turn at
            # all and distinct prefixes could collide — coalesce to a NUL
            # sentinel (outside the text contract) first (ADVICE r4).
            "ph",
            F.md5(
                F.concat_ws(
                    sep,
                    F.collect_list(
                        F.coalesce(F.col("text"), F.lit("\x00NULL"))
                    ).over(cum),
                )
            ),
        )
    )
    n_turns = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns")
    )
    # A's signature: its prefix fingerprint at rn == n_turns (whole conv).
    sig = (
        pref.join(n_turns, "conv_id")
        .filter(F.col("rn") == F.col("n_turns"))
        .select("conv_id", "n_turns", F.col("ph").alias("sig"))
    )
    hosts = pref.join(n_turns, "conv_id").select(
        F.col("conv_id").alias("host_conv"),
        F.col("n_turns").alias("host_turns"),
        F.col("rn").alias("host_rn"),
        F.col("ph").alias("sig"),
    )
    cand = sig.join(hosts, "sig").filter(
        (F.col("host_conv") != F.col("conv_id"))
        & (
            (F.col("host_turns") > F.col("n_turns"))
            | (
                (F.col("host_turns") == F.col("n_turns"))
                & (F.col("host_conv") < F.col("conv_id"))
            )
        )
    )
    # Longest container, then least conv_id: max(struct(host_turns, neg-lex))
    # is not expressible for strings, so rank by (host_turns, host_conv)
    # with min over conv_ids at the MAX host_turns: two associative aggs.
    best = cand.groupBy("conv_id", "n_turns").agg(
        F.max("host_turns").alias("host_turns")
    )
    return (
        cand.join(best, ["conv_id", "n_turns", "host_turns"])
        .groupBy("conv_id", "n_turns", "host_turns")
        .agg(F.min("host_conv").alias("host_conv"))
        .select("conv_id", "n_turns", "host_conv", "host_turns")
    )


# -------------------------------------------------- context truncation


def truncate_context(
    transcripts: DataFrame,
    *,
    budget_tokens: int,
    keep_last: bool = True,
) -> DataFrame:
    """Context-window truncation: per conversation, keep the LONGEST
    SUFFIX of turns whose whitespace-token total fits ``budget_tokens``
    — the standard "drop oldest turns first" policy every chat runtime
    applies before inference.  With ``keep_last`` (default), the final
    turn survives even when it alone exceeds the budget (truncating to
    an EMPTY conversation is never useful; disable for a strict audit).

    Returns one row per conversation: ``(conv_id, n_turns, kept_turns,
    kept_tokens, first_kept_idx)`` — the summary a batching layer needs
    to slice the real rows; join back on ``turn_idx >= first_kept_idx``
    to materialize the truncated transcript itself.

    Plan: one per-conversation window pass (suffix running sum: ORDER BY
    turn_idx DESC, rows unbounded-preceding) + one combine-able agg.
    Same skew posture as every per-conversation operator here: the
    10k-turn outlier costs one partition-local sort.
    """
    from mopper_spark.textops.analysis import token_count

    if budget_tokens < 0:
        raise ValueError("truncate_context: budget_tokens must be >= 0")
    sfx = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_desc = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    toks = transcripts.select(
        "conv_id", "turn_idx", token_count(F.col("text")).cast("long").alias("nt")
    )
    marked = (
        toks.withColumn("suffix_tokens", F.sum("nt").over(sfx))
        .withColumn("rn_from_end", F.row_number().over(w_desc))
        .withColumn(
            "keep",
            (F.col("suffix_tokens") <= budget_tokens)
            | (F.lit(keep_last) & (F.col("rn_from_end") == 1)),
        )
    )
    return marked.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("kept_turns"),
        F.sum(F.when(F.col("keep"), F.col("nt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
        F.min(F.when(F.col("keep"), F.col("turn_idx")))
        .cast("long")
        .alias("first_kept_idx"),
    )


# ---------------------------------------------------- tool-loop detection


def tool_loops(
    transcripts: DataFrame,
    *,
    max_cycle_len: int = 3,
    min_cycles: int = 3,
) -> DataFrame:
    """Agent tool-loop detection: find conversations where the tool-call
    sequence repeats with period L (``tool[i] == tool[i−L]`` over the
    conversation's tool turns in (conv_id, turn_idx) order) for at least
    ``min_cycles`` consecutive repetitions — the stuck-agent signature
    (retry loops, oscillating search↔read cycles) an agent-ops dashboard
    pages on.  Returns ``(conv_id, cycle_len, n_cycles, run_start_idx)``
    — per conversation and period, the LONGEST such run (as complete
    cycle count) and the turn_idx where it starts; ties on length keep
    the earliest run.

    A period-1 loop (AAAA…) also matches every multiple (L = 2, 3);
    minimal-period filtering is deliberately NOT applied — each period
    row answers "does it repeat at this lag", and the consumer reads
    cycle_len = 1 first.  n_cycles counts FULL periods: a run of k
    consecutive lag-L matches spans k + L turns = ``(k + L) div L``
    cycles.

    Plan: per-conversation lag windows (one per period — max_cycle_len
    is a literal, so this is ≤ 3 window functions in ONE pass) + the
    gaps-and-islands run grouping (rn − row_number over the matching
    rows) + one associative max(struct).  Per-conversation state only;
    the usual 10k-turn-outlier sort posture.
    """
    if max_cycle_len < 1:
        raise ValueError("tool_loops: max_cycle_len must be >= 1")
    if min_cycles < 2:
        raise ValueError("tool_loops: min_cycles must be >= 2")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = (
        transcripts.filter(F.col("tool").isNotNull())
        .select("conv_id", "turn_idx", "tool")
        .withColumn("rn", F.row_number().over(w))
    )
    out = None
    for L in range(1, max_cycle_len + 1):
        flagged = seq.withColumn("_prev", F.lag("tool", L).over(w)).filter(
            F.col("_prev") == F.col("tool")
        )
        wl = Window.partitionBy("conv_id").orderBy("rn")
        runs = (
            flagged.withColumn("grp", F.col("rn") - F.row_number().over(wl))
            .groupBy("conv_id", "grp")
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.min("turn_idx").alias("first_match_idx"),
                F.min("rn").alias("first_match_rn"),
            )
            .withColumn("n_cycles", F.expr(f"(k + {L}) div {L}").cast("long"))
            .filter(F.col("n_cycles") >= min_cycles)
        )
        # run starts L tool-turns before the first match; recover its
        # turn_idx by joining rn - L back to the sequence
        starts = seq.select(
            "conv_id",
            F.col("rn").alias("start_rn"),
            F.col("turn_idx").alias("run_start_idx"),
        )
        best = (
            runs.withColumn("start_rn", F.col("first_match_rn") - L)
            .join(starts, ["conv_id", "start_rn"])
            .groupBy("conv_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("n_cycles"),
                        (-F.col("run_start_idx")).alias("neg_start"),
                    )
                ).alias("b")
            )
            .select(
                "conv_id",
                F.lit(L).cast("long").alias("cycle_len"),
                F.col("b.n_cycles").alias("n_cycles"),
                (-F.col("b.neg_start")).cast("long").alias("run_start_idx"),
            )
        )
        out = best if out is None else out.unionByName(best)
    return out
