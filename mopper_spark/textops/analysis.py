"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

All pure native column expressions (JVM-side, whole-stage codegen): these
run once per document over the entire corpus, so even an Arrow UDF would be
a measurable tax at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from mopper_spark.textops.rankstats import mann_whitney_u

# tiny per-language stopword profiles for the n-gram/stopword heuristic
_LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "que", "dans"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
}

_STOPWORDS_EN = _LANG_PROFILES["en"] + ["this", "with", "as", "on", "be", "are"]

#: BPE-ish tokenizer: words, numbers, or single non-space symbols
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty-string-safe)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_REGEX), 0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or _STOPWORDS_EN)])
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    total = F.size(toks)
    return F.when(total > 0, hits / total).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: length band + low punct + stopword presence.

    The exact formula is arbitrary (as in any corpus pipeline); what matters
    is that it is deterministic and fully native.
    """
    n_tok = token_count(text)
    length_ok = F.when((n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    punct_ok = 1.0 - F.least(punct_ratio(text) * 4, F.lit(1.0))
    sw_ok = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    score = F.round(0.4 * length_ok + 0.3 * punct_ok + 0.3 * sw_ok, 4)
    return F.when(n_tok == 0, F.lit(0.0)).otherwise(score)


def lang_id(text: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language hit counts.

    Returns 'und' when nothing matches.
    """
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    scored = []
    for lang, words in _LANG_PROFILES.items():
        sw = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scored.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scored))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """64-bit rolling content fingerprint (normalized whitespace + case)."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.xxhash64(normalized)


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1),
    adapted to word streams (the corpus has no line structure):

    - ``top{top_n}gram_char_frac``: fraction of the document's token
      characters covered by occurrences of its single most frequent word
      ``top_n``-gram (ties broken by lexicographically smallest gram, so
      the statistic is deterministic under any partitioning);
    - ``dup{dup_n}gram_frac``: fraction of word ``dup_n``-gram occurrences
      that are repeats of an earlier occurrence (``1 - distinct/total``).

    High values mean boilerplate/spam repetition; Gopher drops docs above
    per-metric thresholds — thresholding is left to the caller.

    Scale shape: one explode + two map-side-combining aggregates, all keyed
    by (doc_id, gram) then doc_id — the doc id in every key means no
    corpus-wide hot key exists, and no window function or driver state is
    involved.  Entirely native expressions (whole-stage codegen).
    """
    from mopper_spark.textops.dedup import word_ngram_array

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("total_chars"),
        word_ngram_array("toks", top_n).alias("top_grams"),
        word_ngram_array("toks", dup_n).alias("dup_grams"),
    )
    # most-frequent top_n-gram per doc, ties broken by smallest gram: a
    # max-count aggregate, a same-key join back, and a min(g) aggregate —
    # all keyed by doc_id (combine-able, no per-doc window sort, and the
    # tie-break is plain MIN on the string, exactly what a SQL oracle
    # expresses with ORDER BY cnt DESC, g ASC)
    counts = (
        base.select("doc_id", "total_chars", F.explode("top_grams").alias("g"))
        .groupBy("doc_id", "total_chars", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    mx = counts.groupBy("doc_id", "total_chars").agg(F.max("cnt").alias("top_cnt"))
    top = (
        counts.join(mx, on=["doc_id", "total_chars"])
        .filter(F.col("cnt") == F.col("top_cnt"))
        .groupBy("doc_id", "total_chars", "top_cnt")
        .agg(F.min("g").alias("top_gram"))
    )
    dg = base.select("doc_id", F.explode("dup_grams").alias("g"))
    dup = dg.groupBy("doc_id").agg(
        F.count("g").cast("long").alias("n_grams"),
        F.count_distinct("g").cast("long").alias("n_distinct"),
    )
    gram_chars = F.length(F.regexp_replace(F.col("top_gram"), " ", ""))
    return (
        top.join(dup, "doc_id")
        .select(
            "doc_id",
            "total_chars",
            "top_gram",
            "top_cnt",
            F.round(
                F.when(
                    F.col("total_chars") > 0,
                    F.least(
                        F.col("top_cnt") * gram_chars / F.col("total_chars"),
                        F.lit(1.0),
                    ),
                ).otherwise(F.lit(0.0)),
                5,
            ).alias("top_char_frac"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    1.0 - F.col("n_distinct") / F.col("n_grams"),
                ).otherwise(F.lit(0.0)),
                5,
            ).alias("dup_gram_frac"),
        )
    )


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """EXACT per-group order statistics (nearest-rank quantiles, plus
    n/min/max) — corpus profiling for length/score distributions where
    ``approx_percentile`` sketches would not be engine-reproducible.

    Nearest-rank definition: q-quantile = the value at rank ``ceil(q·n)``
    in ascending order.  Ties in the value order don't matter: any tie
    permutation puts the same VALUE at a given rank, so the result is
    deterministic even though row_number itself is not.

    Scale shape: one window sort per group (Spark's window sort spills;
    groups are the profiling dimensions — lang/source — so no group
    approaches corpus size) + one combine-able aggregate.  For truly
    single-group corpus-wide quantiles at 100 TB, prefer a two-pass
    count-then-select or a sketched estimate; this operator is for
    per-dimension profiles.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(value_col)
    wn = Window.partitionBy(*group_cols)
    ranked = (
        df.select(*group_cols, value_col)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    aggs = [
        F.max("n").cast("long").alias("n"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    ]
    for q in qs:
        aggs.append(
            F.max(
                F.when(F.col("rn") == F.ceil(F.col("n") * F.lit(q)), F.col(value_col))
            ).alias(f"p{int(round(q * 100))}")
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def vocab_oov(
    df: DataFrame,
    top_k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-coverage profile: build the corpus top-``top_k``
    vocabulary (by occurrence count, ties to the lexicographically
    smallest token — deterministic under any partitioning) and report
    each document's out-of-vocabulary token count/fraction.  The standard
    pre-tokenizer health check: a rising OOV rate on new data means the
    vocabulary (or BPE merges) no longer fit the distribution.

    Scale shape: token counts are one combine-able aggregate; the top-K
    cut is a TakeOrdered (per-partition top-K then a K-row driver merge —
    never a global sort shuffle); the K-row vocabulary broadcasts back
    into a narrow per-doc pass.  Exactly two corpus-wide shuffles (token
    counts + per-doc aggregate).
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    exploded = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id", F.explode_outer("toks").alias("tok")
    )
    vocab = (
        # explode_outer keeps empty docs alive for the per-doc aggregate,
        # but its NULL placeholder must not compete for a vocab slot
        # (Spark's asc tie-break sorts NULL first; DuckDB's unnest never
        # emits the row at all).
        exploded.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_k)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    return (
        exploded.join(F.broadcast(vocab), on="tok", how="left")
        .groupBy("doc_id")
        .agg(
            F.count("tok").cast("long").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("tok").isNotNull() & F.col("_in_vocab").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_frac",
            F.round(
                F.when(
                    F.col("n_tokens") > 0, F.col("n_oov") / F.col("n_tokens")
                ).otherwise(F.lit(0.0)),
                5,
            ),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style sliding-window chunking: whitespace tokens in windows of
    ``chunk_tokens``, each window advancing by ``chunk_tokens - overlap``
    — the retrieval-corpus preparation step every RAG pipeline runs.

    Returns ``(id, chunk_idx, n_tokens, chunk)``; the final window may be
    shorter (whatever tokens remain), zero-token documents produce no
    chunks, and the chunk COUNT is pure integer arithmetic
    (``ceil((n - chunk) / stride) + 1``) so the layout is engine- and
    partitioning-reproducible.  One narrow pass: split → sequence →
    posexplode → slice; the only wide operation is whatever the caller
    does next.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        toks.alias("_tk"),
        F.size(toks).alias("_n"),
    ).filter(F.col("_n") > 0)
    # integer `div`, not floor(double /): exact for any size (packing.py)
    base = base.withColumn(
        "_nc",
        F.when(F.col("_n") <= chunk_tokens, F.lit(1)).otherwise(
            F.expr(
                f"int((_n - {chunk_tokens} + {stride - 1}) div {stride}) + 1"
            )
        ),
    )
    return base.select(
        "id",
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias(
            "chunk_idx", "_c"
        ),
        "_tk",
    ).select(
        "id",
        "chunk_idx",
        F.size(
            F.slice(F.col("_tk"), F.col("chunk_idx") * stride + 1, chunk_tokens)
        ).alias("n_tokens"),
        F.array_join(
            F.slice(F.col("_tk"), F.col("chunk_idx") * stride + 1, chunk_tokens),
            " ",
        ).alias("chunk"),
    )


def unigram_xent(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style quality signal: per-document cross-entropy under the
    corpus's own unigram language model — the filter that ranks "does this
    document look like the corpus" (CCNet, Wenzek et al. LREC 2020, uses a
    KenLM 5-gram; the unigram variant is the same signal computable with
    two word-count-shaped shuffles and no model artifact).

    xent(d) = -(1/n_d) * SUM_t ln(c_t / N)  =  ln(N) - SUM_t ln(c_t) / n_d

    Engine-portable determinism: doubles never flow through a multi-row
    SUM (float addition is partition-order-dependent).  Each DISTINCT
    token count gets ONE fixed-point log ``lnc_fp = floor(ln(c)*1e6)``
    (BIGINT); per-document sums are exact integer arithmetic; the final
    ``xent`` is one double expression over exact integers, so Spark and
    any ANSI oracle agree bit-for-bit under %.9g.

    Scale shape: exactly two corpus-wide shuffles (token counts + the
    per-doc aggregate), the same bound as ``vocab_oov``; the vocabulary
    join is a broadcast at fixture scale and a word-shaped shuffle at
    corpus scale.  Output: ``(doc_id, n_tokens, sum_lnc_fp, xent)`` for
    documents with at least one token.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    exploded = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    vocab = (
        exploded.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("lnc_fp", F.floor(F.log("cnt") * F.lit(1000000.0)).cast("long"))
    )
    total = vocab.groupBy().agg(F.sum("cnt").cast("long").alias("n_total"))
    per_doc = (
        exploded.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lnc_fp").cast("long").alias("sum_lnc_fp"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "sum_lnc_fp",
        (
            F.log(F.col("n_total").cast("double"))
            - F.col("sum_lnc_fp") / (F.lit(1000000.0) * F.col("n_tokens"))
        ).alias("xent"),
    )


def filter_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 5,
    max_tokens: int = 10000,
) -> DataFrame:
    """Composed Gopher/C4-style quality filter (Rae et al. 2021 §A1.1;
    Raffel et al. 2020 §2.2): every rule as its own boolean column plus
    the conjunction ``keep`` — the per-rule flags are what a corpus audit
    needs (which rule fired how often), not just the surviving rows.

    Every threshold is evaluated in EXACT integer arithmetic
    (cross-multiplied ratios, never a float division), so the row is
    engine-exact by construction.  Rules:

    - ``r_len``: token count in ``[min_tokens, max_tokens]``
    - ``r_mean_word``: mean word length in [2, 12] chars
      (``2*n <= chars <= 12*n``, the Gopher band)
    - ``r_distinct``: ≥ 30% of tokens distinct (mass-duplication guard)
    - ``r_symbol``: non-word chars ≤ 20% of characters
    - ``r_stopword``: at least one English stopword hit (Gopher's
      "2 of a stop list" softened for the synthetic corpus)

    One narrow pass, pure native expressions — no shuffle at all.
    """
    t = F.col(text_col)
    toks = F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != "")
    n_tok = F.size(toks).cast("long")
    n_chars_words = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_all = F.length(t).cast("long")
    n_sym = (n_all - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("long")
    sw = F.array(*[F.lit(s) for s in _STOPWORDS_EN])
    sw_hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("long")

    r_len = (n_tok >= min_tokens) & (n_tok <= max_tokens)
    r_mean_word = (n_tok > 0) & (2 * n_tok <= n_chars_words) & (
        n_chars_words <= 12 * n_tok
    )
    r_distinct = n_distinct * 10 >= n_tok * 3
    r_symbol = n_sym * 5 <= n_all
    r_stopword = sw_hits >= 1

    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        r_len.alias("r_len"),
        r_mean_word.alias("r_mean_word"),
        r_distinct.alias("r_distinct"),
        r_symbol.alias("r_symbol"),
        r_stopword.alias("r_stopword"),
        (r_len & r_mean_word & r_distinct & r_symbol & r_stopword).alias("keep"),
    )


def source_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source distribution drift: KL(p_source || p_corpus) over
    unigram distributions — the mixture-audit statistic that flags a
    source whose text stops looking like the blend (data-mixing QA;
    same family as DoReMi's per-domain excess loss).

    ``KL(p_s||p) = (1/N_s) * SUM_t c_st * ln((c_st * N) / (N_s * c_t))``

    Determinism: each (source, token) term's log-ratio is ONE ln over a
    ratio of exact integer products, quantized to the fixed-point BIGINT
    ``floor(ln(.)*1e6)``; per-source sums are exact integers and the
    final ``kl`` is one double division.  The integer products assume
    ``c_st * N < 2^63`` — true far past fixture scale; at 10^12-token
    corpora compute the ratio as ``(c_st/N_s)/(c_t/N)`` instead and keep
    the same quantization.

    Scale shape: one (source, token)-keyed count (word-shaped shuffle),
    the token-marginal joined back (broadcast at fixture scale, a
    word-shaped shuffle at corpus scale), and a per-source aggregate of
    at most |sources| rows.  Zero terms never occur (c_st > 0 by
    construction and c_t >= c_st).
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    ex = df.select(F.col(source_col).alias("source"), toks.alias("toks")).select(
        "source", F.explode("toks").alias("tok")
    )
    st = ex.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c_st")
    )
    marg = st.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    n = marg.groupBy().agg(F.sum("c_t").cast("long").alias("n_total"))
    terms = (
        st.join(F.broadcast(marg), "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "t_fp",
            F.floor(
                F.log(
                    (F.col("c_st") * F.col("n_total")).cast("double")
                    / (F.col("n_s") * F.col("c_t")).cast("double")
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.sum(F.col("c_st") * F.col("t_fp")).cast("long").alias("kl_fp"),
        )
        .select(
            "source",
            "n_tokens",
            "kl_fp",
            (F.col("kl_fp") / (F.lit(1000000.0) * F.col("n_tokens"))).alias("kl"),
        )
    )


def source_vocab_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary overlap between sources: ``(s1, s2, v1, v2,
    n_common, jaccard)`` for s1 < s2 with NONZERO overlap (a missing pair
    means disjoint vocabularies) — the corpus-audit matrix that says
    which mixture components share a lexicon (dedup-risk / redundancy
    screening between sources before mixing).

    All set sizes are exact integers (distinct-token sets); ``jaccard``
    is one double division over ``n_common / (v1 + v2 - n_common)``.

    Scale shape: one distinct (source, token) projection, then a
    token-keyed self-join whose per-token fan-out is bounded by
    |sources|^2 (sources are a handful, never a skew source), and a
    |sources|^2-row aggregate.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    st = (
        df.select(F.col(source_col).alias("source"), toks.alias("toks"))
        .select("source", F.explode("toks").alias("tok"))
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("v"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("source", "s1").withColumnRenamed("v", "v1")), "s1")
        .join(F.broadcast(sizes.withColumnRenamed("source", "s2").withColumnRenamed("v", "v2")), "s2")
        .select(
            "s1",
            "s2",
            "v1",
            "v2",
            "n_common",
            (
                F.col("n_common")
                / (F.col("v1") + F.col("v2") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def top_tokens_per_group(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    k: int = 5,
) -> DataFrame:
    """Grouped top-k: each group's ``k`` most frequent tokens with exact
    counts and the deterministic (count DESC, token ASC) tie-break —
    ``(group, rank, tok, cnt)``.

    The 100 TB shape: token counts are one map-side-combining aggregate;
    the top-k cut is a per-group window over the (group, token) COUNT
    table — the window input is the aggregated count table (vocabulary ×
    groups rows), never the corpus, so the sort per group is bounded by
    vocabulary size.  For a group count small enough to broadcast, the
    same cut could be a TakeOrdered per group; the window form is the one
    that survives many groups.
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    counts = (
        df.select(F.col(group_col).alias("grp"), toks.alias("toks"))
        .select("grp", F.explode("toks").alias("tok"))
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("grp", "rank", "tok", "cnt")
    )


def global_order_statistics(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    branching: int = 4096,
    max_rounds: int = 8,
) -> DataFrame:
    """EXACT corpus-wide nearest-rank quantiles of an INTEGER column
    WITHOUT a global sort — the scale path ``group_quantiles`` documents
    for single-group corpora: iterative histogram narrowing (distributed
    selection).  Each round scans only the still-candidate value range,
    buckets it ``branching`` ways, and keeps for each target rank the
    one bucket containing it; integer values force convergence in
    ``ceil(log_branching(range))`` rounds (e.g. 3 rounds cover a 2^36
    range at 4096), after which every target is pinned to a single
    value.

    Only METADATA crosses the driver (per-round histograms of ≤
    ``branching`` rows — the checkpoint-manifest-counts precedent);
    corpus rows never do.  Every scan's range predicate is pushed down,
    so successive rounds read a shrinking fraction of the column.

    Output: one row — ``(n, min_v, max_v, p50, p90, …)`` (column names
    from ``qs``); NULL quantiles for an empty corpus.
    """
    if not qs or any(not (0 < q <= 1) for q in qs):
        raise ValueError("global_order_statistics: qs must be in (0, 1]")
    vals = df.select(F.col(value_col).cast("long").alias("v")).filter(
        F.col("v").isNotNull()
    )
    base = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    ).collect()[0]
    n, lo_all, hi_all = base.n, base.min_v, base.max_v
    spark = df.sparkSession
    names = [f"p{str(q * 100).rstrip('0').rstrip('.').replace('.', '_')}" for q in qs]
    if n == 0:
        row = [(0, None, None) + (None,) * len(qs)]
        return spark.createDataFrame(
            row,
            "n long, min_v long, max_v long, "
            + ", ".join(f"{c} long" for c in names),
        )
    # nearest-rank targets: rank_i = ceil(q * n), 1-based in sorted order
    import math

    targets = {name: math.ceil(q * n) for name, q in zip(names, qs)}
    # state per target: candidate [lo, hi] and the rank within it.
    # Each round buckets every still-open target by ITS OWN range and
    # width (boundaries aligned per target — a shared global histogram
    # would let one bucket straddle another target's boundary and
    # corrupt its rank accounting), all inside ONE job: the scan is
    # filtered to the union range, and each row explodes into the
    # (target, bucket) cells of the ranges that contain it.
    state = {name: (lo_all, hi_all, rank) for name, rank in targets.items()}
    for _ in range(max_rounds):
        open_ts = {nm: s for nm, s in state.items() if s[0] < s[1]}
        if not open_ts:
            break
        glo = min(s[0] for s in open_ts.values())
        ghi = max(s[1] for s in open_ts.values())
        widths = {
            nm: max(1, (hi - lo) // branching + 1)
            for nm, (lo, hi, _) in open_ts.items()
        }
        cells = [
            F.when(
                (F.col("v") >= lo) & (F.col("v") <= hi),
                F.struct(
                    F.lit(nm).alias("t"),
                    F.expr(f"(v - {lo}) div {widths[nm]}").alias("b"),
                ),
            )
            for nm, (lo, hi, _) in open_ts.items()
        ]
        hist: dict[tuple[str, int], int] = {
            (r.cell.t, r.cell.b): r.c
            for r in (
                vals.filter((F.col("v") >= glo) & (F.col("v") <= ghi))
                .select(F.explode(F.array(*cells)).alias("cell"))
                .filter(F.col("cell").isNotNull())
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
        }
        for nm, (lo, hi, rank) in open_ts.items():
            seen = 0
            w = widths[nm]
            for b in sorted(bb for (t, bb) in hist if t == nm):
                c = hist[(nm, b)]
                if seen + c >= rank:
                    state[nm] = (
                        lo + b * w,
                        min(hi, lo + (b + 1) * w - 1),
                        rank - seen,
                    )
                    break
                seen += c
    out = {nm: s[0] for nm, s in state.items()}  # lo == hi after convergence
    row = [(n, lo_all, hi_all) + tuple(out[nm] for nm in names)]
    return spark.createDataFrame(
        row,
        "n long, min_v long, max_v long, "
        + ", ".join(f"{c} long" for c in names),
    )


def skew_profile(
    df: DataFrame, key_cols: list[str], top_k: int = 20
) -> DataFrame:
    """Hot-key audit before a join/groupBy: the ``top_k`` heaviest keys
    with exact counts and parts-per-million share — the number that says
    whether a shuffle on these keys needs salting (textops/joins.py::
    salted_join) or AQE skew handling.  Deterministic rank by
    (count DESC, key ASC).

    Scale shape: one combine-able count aggregate + ``orderBy().limit``
    over the aggregated KEY table — Spark plans that as
    TakeOrderedAndProject (per-partition top-k heaps merged at the
    driver, O(top_k) state per partition), NOT a single-partition sort
    of every distinct key, so a corpus-cardinality key column costs its
    count aggregate and nothing more (VERDICT r4 #5; the rank window
    runs AFTER the limit, over ≤ top_k rows).  For vocabulary-sized key
    spaces see the two-pass Misra-Gries ``heavy_hitters`` instead.

    Output: ``(key…, n, share_ppm, rank)``.
    """
    if not key_cols:
        raise ValueError("skew_profile: need at least one key column")
    from pyspark.sql import Window

    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    order = [F.col("n").desc(), *[F.col(c).asc() for c in key_cols]]
    top = counts.orderBy(*order).limit(top_k)
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n",
            F.expr("(n * 1000000) div total").cast("long").alias("share_ppm"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def rank_auc(df: DataFrame, score_col: str, label_col) -> DataFrame:
    """Exact tie-corrected ROC-AUC (the Mann-Whitney U formulation) of a
    score against a binary label, in pure integers until the final
    division: ``auc_num2x`` is ``rankstats.mann_whitney_u``'s ``u2x_a``
    with the positives as group A, i.e. ``Σ_g (2·pos_g·neg_below_g +
    pos_g·neg_g)`` over distinct scores — strictly-lower negatives count
    fully, tied negatives count half (the standard ½ tie credit) — and
    ``AUC = auc_num2x / (2·n_pos·n_neg)``.  The numerator and denominator
    are exact BIGINTs, so the statistic is identical under any
    partitioning and in any engine.  Overflow bound: ``2·n_pos·n_neg ≤
    n²`` — fits int64 up to n ≈ 3·10⁹ labeled rows.

    ``score_col`` must be integral (``mann_whitney_u`` scans BIGINT
    values): bin continuous scores first; anything else raises a
    ``ValueError``.  A row with a NULL score is dropped; a NULL label
    counts as a negative.  ``label_col``: a boolean/0-1 column name or
    Column (e.g. ``F.col("lang") == "en"``).

    Returns ONE row ``(n_pos, n_neg, auc_num2x, auc)``.
    """
    if not isinstance(df.schema[score_col].dataType, IntegralType):
        raise ValueError(
            f"rank_auc: score column {score_col!r} is "
            f"{df.schema[score_col].dataType.simpleString()}, not integral; "
            "bin continuous scores first"
        )
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    u = mann_whitney_u(
        df.select(F.col(score_col).alias("score"), label.alias("label")),
        "score",
        "label",
    )
    return u.select(
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        F.col("u2x_a").alias("auc_num2x"),
        F.round(
            F.col("u2x_a").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_a").cast("double")
                * F.col("n_b").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def token_chi2(
    df: DataFrame,
    text_col: str,
    label_col,
    *,
    top_k: int = 30,
    min_df: int = 5,
) -> DataFrame:
    """Chi-square feature selection over document-level token PRESENCE
    (Yang & Pedersen ICML'97): per token, the 2×2 contingency of
    (document contains token) × (binary label), scored with the classic
    χ² = n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) — which tokens most
    discriminate the label, the first stage of any interpretable
    classifier or corpus-drift audit.

    All contingency cells are EXACT BIGINTs; χ² is one double expression
    over them with a fixed parenthesization (the ``rate_anomaly``
    discipline — deterministic IEEE evaluation, engine-identical).
    Degenerate margins (a+b, c+d, a+c or b+d zero) are excluded — χ² is
    undefined there, and such tokens carry no signal by definition.
    ``min_df`` prunes rare tokens (χ² is unreliable under ~5 expected
    counts, the standard guidance).

    Returns top-``top_k`` by (χ² desc, token asc): ``(token, df_t, a, b,
    chi2)`` where ``a``/``b`` split the token's document frequency by
    label.

    Scale shape: distinct-(doc, token) explode → ONE token-keyed
    aggregation (map-side combine) → one-row label totals broadcast back
    → TakeOrdered top-k.  No self-join, no window.
    """
    # NULL labels are EXCLUDED consistently (they would otherwise count as
    # negatives in the per-token cells but be skipped by the totals,
    # leaving a + b + c + d != n and a silently wrong χ²)
    df = df.filter(label_col.isNotNull())
    base = df.select(
        label_col.cast("long").alias("y"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
                )
            )
        ).alias("token"),
    )
    per_tok = base.groupBy("token").agg(
        F.sum("y").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("b"),
    )
    totals = df.agg(
        F.sum(label_col.cast("long")).cast("long").alias("n1"),
        F.sum(1 - label_col.cast("long")).cast("long").alias("n0"),
    )
    j = per_tok.crossJoin(F.broadcast(totals)).select(
        "token",
        (F.col("a") + F.col("b")).alias("df_t"),
        "a",
        "b",
        (F.col("n1") - F.col("a")).alias("c"),
        (F.col("n0") - F.col("b")).alias("d"),
        (F.col("n1") + F.col("n0")).alias("n"),
    )
    chi2 = (
        F.col("n").cast("double")
        * (
            (
                F.col("a").cast("double") * F.col("d").cast("double")
                - F.col("b").cast("double") * F.col("c").cast("double")
            )
            * (
                F.col("a").cast("double") * F.col("d").cast("double")
                - F.col("b").cast("double") * F.col("c").cast("double")
            )
        )
        / (
            (
                (F.col("a") + F.col("b")).cast("double")
                * (F.col("c") + F.col("d")).cast("double")
            )
            * (
                (F.col("a") + F.col("c")).cast("double")
                * (F.col("b") + F.col("d")).cast("double")
            )
        )
    )
    return (
        j.filter(
            (F.col("df_t") >= min_df)
            & (F.col("c") + F.col("d") > 0)
            & (F.col("a") + F.col("c") > 0)
            & (F.col("b") + F.col("d") > 0)
        )
        .select("token", "df_t", "a", "b", chi2.alias("chi2"))
        .orderBy(F.desc("chi2"), F.asc("token"))
        .limit(top_k)
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    *,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Winsorized moments of an integer column: exact nearest-rank
    quantile bounds ``[lo, hi]`` (from ``global_order_statistics`` —
    distributed selection, no global sort), then the clamped count /
    sum / sum-of-squares as exact int64 — the outlier-robust mean and
    variance inputs a curation report wants when a handful of
    mega-documents would otherwise own the moments.

    The bounds are corpus metadata (two integers) resolved at plan
    time — the same driver-side-metadata contract as the quantile op
    itself and the checkpoint manifest counts; rows never leave
    executors.  Empty corpus → a single all-NULL-stats row.

    Output: one row ``(n, lo, hi, wsum, wsumsq)`` with
    ``winsorized mean = wsum/n``, variance from the two sums.
    """
    if not (0 < lo_q < hi_q <= 1):
        raise ValueError("winsorized_stats: need 0 < lo_q < hi_q <= 1")
    b = global_order_statistics(df, value_col, qs=(lo_q, hi_q)).collect()[0]
    n, lo, hi = b[0], b[3], b[4]
    if n == 0:
        return df.sparkSession.createDataFrame(
            [(0, None, None, None, None)],
            "n long, lo long, hi long, wsum long, wsumsq long",
        )
    w = F.least(F.greatest(F.col(value_col).cast("long"), F.lit(lo)), F.lit(hi))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.lit(lo).cast("long").alias("lo"),
        F.lit(hi).cast("long").alias("hi"),
        F.sum(w).cast("long").alias("wsum"),
        F.sum(w * w).cast("long").alias("wsumsq"),
    )


def token_burstiness(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_df: int = 2,
) -> DataFrame:
    """Per-token burstiness terms (index of dispersion / Fano factor
    inputs): over the N corpus documents, each token's document
    frequency ``df``, occurrence sum ``s1 = Σ c_d`` and square sum
    ``s2 = Σ c_d²`` (zero-count documents contribute zero to both, so
    presence-only sums ARE the full-population sums) — dispersion
    ``D = (N·s2 − s1²) / (N·s1)`` is one consumer-side division over
    exact integers.  ``D ≈ 1`` is Poisson scatter; ``D ≫ 1`` marks
    bursty tokens (boilerplate, code, templated spans) — a
    content-quality signal orthogonal to raw frequency.

    Word-count-shaped: one (doc, token) count aggregate, one per-token
    aggregate; ``min_df`` prunes the hapax tail (where dispersion is
    meaningless anyway).  Output: ``(token, df, s1, s2)``.
    """
    per_doc = (
        df.select(
            F.col(id_col).alias("_d"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("_d", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    out = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    return out.filter(F.col("df") >= min_df)


def lexical_profile(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    long_word_len: int = 7,
    scale: int = 10**6,
) -> DataFrame:
    """Per-group lexical-richness and readability profile — the corpus
    dashboard row quality triage reads next to ``quality_scores``:

    - ``n_docs, n_tokens, n_types, n_hapax``: vocabulary size and
      hapax-legomena count (types occurring exactly once IN THE GROUP) —
      the classic richness signals; boilerplate-heavy sources show low
      type/token ratio and a thin hapax tail.
    - ``ttr_fp = n_types·scale div n_tokens`` and
      ``hapax_fp = n_hapax·scale div n_types``: fixed-point ratios.
    - ``n_sentences, n_long``: sentence-terminator runs (``[.!?]+``)
      and long words (≥ ``long_word_len`` chars), the LIX readability
      terms (Björnsson 1968), reported with
      ``lix_fp = n_tokens·1000 div n_sentences + 100000·n_long div
      n_tokens`` — LIX ≈ ``lix_fp/1000``; docs with no terminator count
      one sentence (a fragment is read as one sentence, and the div
      stays total).

    All counts are exact BIGINTs from whitespace tokens (``tokens``,
    the house tokenizer); both divisions are non-negative integer div —
    engine-reproducible.  Plan: one explode + two word-count-shaped
    aggregations for the type/hapax side, one narrow per-doc pass +
    per-group aggregate for the sentence side, one small join of
    group-cardinality rows.
    """
    g, txt = F.col(group_col), F.col(text_col)
    tok = docs.select(g.alias("grp"), F.explode(tokens(txt)).alias("tok"))
    freq = tok.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = freq.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.sum(
            F.when(F.length("tok") >= long_word_len, F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("n_long"),
    )
    sent = docs.select(
        g.alias("grp"),
        F.greatest(
            F.lit(1), F.size(F.regexp_extract_all(txt, F.lit(r"[.!?]+"), 0))
        ).alias("ns"),
    ).groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ns").cast("long").alias("n_sentences"),
    )
    out = vocab.join(sent, "grp")
    return out.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_tokens",
        "n_types",
        "n_hapax",
        "n_sentences",
        "n_long",
        F.expr(f"(n_types * {int(scale)}) div n_tokens").alias("ttr_fp"),
        F.expr(f"(n_hapax * {int(scale)}) div n_types").alias("hapax_fp"),
        F.expr(
            "(n_tokens * 1000) div n_sentences"
            " + (100000 * n_long) div n_tokens"
        ).alias("lix_fp"),
    )


def zipf_terms(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    top_k: int = 100,
    log_scale: int = 10**6,
) -> DataFrame:
    """Zipf's-law fit inputs per group: the OLS regression terms of
    ``ln(freq)`` on ``ln(rank)`` over the group's ``top_k`` tokens —
    ``(group, n, sx, sy, sxx, sxy)`` with every log a
    ``floor(ln·log_scale)`` BIGINT, so the slope

        b = (n·sxy − sx·sy) / (n·sxx − sx²)

    is one consumer division and b ≈ −1 is the natural-language
    signature (a much flatter slope flags templated/boilerplate
    corpora, a steeper one flags vocabulary collapse — the
    quality-triage readout next to ``lexical_profile``).

    Ranks are deterministic: frequency DESC, token ASC on ties.  Only
    the head (`top_k`) is fitted — the classic practice, since the
    Zipf tail bends and the head carries the law.  One word-count
    aggregate + one per-group top-k window (vocabulary-sized) + one
    combine-able sum.
    """
    if top_k < 2:
        raise ValueError("zipf_terms: top_k must be >= 2")
    from pyspark.sql import Window

    freq = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("grp").orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = freq.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= top_k
    )
    s = float(log_scale)
    xy = ranked.select(
        "grp",
        F.floor(F.log(F.col("r").cast("double")) * F.lit(s))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * F.lit(s))
        .cast("long")
        .alias("y"),
    )
    return xy.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    ).withColumnRenamed("grp", group_col)


def frequency_spectrum(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    max_r: int = 10,
) -> DataFrame:
    """Frequency-of-frequencies spectrum per group — ``N_r`` = how many
    token types occur exactly ``r`` times — the input table of
    Good-Turing smoothing (Gale & Sampson 1995) and the quickest
    Heaps/Zipf sanity check (natural text has a heavy ``N_1`` and a
    smooth decay; templated corpora show spikes).  Returns
    ``(group, r, n_types, n_tokens)`` for ``r <= max_r`` plus ONE tail
    row ``r = max_r + 1`` aggregating all rarer-than-``max_r``…
    i.e. higher-count types (the GT estimator only uses small r;
    the tail row keeps the rows bounded and the totals reconcilable:
    Σ n_tokens over a group = the group's token count).

    Two word-count-shaped aggregations — nothing rank- or
    window-shaped anywhere.
    """
    if max_r < 1:
        raise ValueError("frequency_spectrum: max_r must be >= 1")
    freq = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    r = F.when(F.col("c") <= max_r, F.col("c")).otherwise(
        F.lit(max_r + 1)
    )
    return (
        freq.select("grp", r.cast("long").alias("r"), "c")
        .groupBy("grp", "r")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
        .withColumnRenamed("grp", group_col)
    )
