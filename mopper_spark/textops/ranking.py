"""Corpus-statistics ranking: BM25 scoring and PMI collocation mining.

Neither exists in the reference engine (ghsnd/mopper has no free-text
ranking surface at all); a training-data pipeline needs both — BM25 for
retrieval-style quality filtering ("keep documents relevant to a topic
seed"), PMI for collocation/phrase mining before tokenizer training.

Scale design (both operators):

- The per-document work (tokenize, count) is a single narrow native pass —
  whole-stage codegen, zero Python.
- The corpus statistics (N, avgdl, per-term df; total token / bigram
  counts) reduce to a ONE-ROW aggregate (or a small term-count table) that
  is broadcast back.  At 100 TB the only shuffles are map-side-combining
  aggregations on low-cardinality keys; nothing is ever collected to the
  driver.
- Cross-engine determinism: every floating-point expression is written
  with a FIXED association order (per-term scores added left-to-right, one
  ``ln`` per output value) so an independent SQL engine computing the same
  formula bit-agrees within 1 ulp; integer statistics (tf, dl, df, counts)
  are exact by construction.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mopper_spark.scan import exclusive_scan
from mopper_spark.textops.analysis import tokens


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 score of every document against a fixed bag of query ``terms``.

    Uses the Lucene/ATIRE idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (never negative).  Returns ``(id_col, bm25 double)`` for documents
    matching at least one term.

    Physical shape: one narrow pass computes ``dl`` and one ``tf_i`` column
    per term (native array ops); a single one-row aggregate yields
    ``(N, sum_dl, df_1..df_k)`` and is cross-joined back (broadcast — one
    row).  No explode, no per-term shuffle: cost is O(corpus) + one
    scalar-aggregate exchange regardless of term count.

    Determinism: the score is a sum of per-term closed forms added in the
    fixed order of ``terms``; each term contributes one division chain with
    explicit parenthesization mirrored by the SQL oracle.
    """
    if not terms:
        raise ValueError("bm25_scores requires at least one query term")
    toks = tokens(F.lower(F.col(text_col)))

    def _tf(term: str):
        # NB: a two-arg lambda would be treated by F.filter as
        # (element, index) — close over the term instead
        return F.size(F.filter(toks, lambda t: t == term))

    tf_cols = [_tf(term).alias(f"tf_{i}") for i, term in enumerate(terms)]
    per_doc = docs.select(F.col(id_col), F.size(toks).alias("dl"), *tf_cols)

    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + (F.lit(b) * F.col("dl").cast("double")) / avgdl
        )
        contribs.append(idf * ((tf * F.lit(k1 + 1.0)) / denom))
    # fixed left-to-right association — mirrored exactly by the SQL oracle
    score = reduce(lambda acc, c: acc + c, contribs)
    matched = reduce(
        lambda acc, i: acc | (F.col(f"tf_{i}") > 0), range(1, len(terms)), F.col("tf_0") > 0
    )
    return scored.filter(matched).select(F.col(id_col), score.alias("bm25"))


def bigram_pmi(
    docs: DataFrame,
    *,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Pointwise mutual information of adjacent-token bigrams over the corpus.

    ``pmi(a, b) = ln( P(ab) / (P(a) P(b)) )`` with ``P(ab) = c_ab / n_bigrams``
    and ``P(x) = c_x / n_tokens``; computed as ONE ``ln`` over an exact
    integer ratio ``(c_ab * n_tok * n_tok) / (n_big * c_a * c_b)`` (numerator
    and denominator each a fixed-order double product of exact integers), so
    two engines agree to 1 ulp.  Returns
    ``(w1, w2, n_pair bigint, pmi double)`` for bigrams seen ≥ ``min_count``.

    Physical shape: tokenize + explode adjacent pairs (narrow), then one
    map-side-combining count per bigram and one per unigram; the unigram
    count table and the two one-row totals are broadcast into the final
    join.  The only data-sized shuffle is the bigram count aggregation —
    exactly the word-count pattern that scales linearly.
    """
    toks = tokens(F.lower(F.col(text_col)))
    t = docs.select(toks.alias("t")).filter(F.size("t") > 0)

    uni = (
        t.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    # adjacent pairs via 1-based element_at over an index sequence — keeps
    # the whole expression native and mirrors the SQL oracle's 1-based lists
    pairs = t.filter(F.size("t") > 1).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + F.lit(1)).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")

    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    totals = t.agg(
        F.sum(F.size("t")).alias("n_tok"),
        F.sum(F.size("t") - 1).alias("n_big"),
    )

    # unigram joins are left to AQE: the vocab table is usually broadcastable
    # but can reach hundreds of MB on a 100 TB corpus — a forced broadcast
    # would OOM the driver, while AQE picks broadcast iff it actually fits
    joined = (
        big.filter(F.col("n_pair") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
    )
    num = (
        F.col("n_pair").cast("double")
        * F.col("n_tok").cast("double")
        * F.col("n_tok").cast("double")
    )
    den = (
        F.col("n_big").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    return joined.select(
        "w1", "w2", F.col("n_pair").cast("long").alias("n_pair"), F.log(num / den).alias("pmi")
    )


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    *,
    iters: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) over
    the corpus-level token adjacency graph: tokens are nodes, an
    undirected edge connects each ADJACENT token pair (window 2, the
    paper's default), and keyword salience is PageRank on that graph —
    computed with ``pipeline/graph.py::pagerank_fixed``'s exact-integer
    iteration, so the ranking is bit-reproducible and SQL-oracle-able.

    Returns the ``top_k`` tokens as ``(node, pr_scaled)``, ordered by
    ``(pr_scaled DESC, node ASC)`` — a TakeOrdered, never a global sort.

    Scale shape: the edge list is one narrow array pass + a distinct
    (vocabulary-pair-sized, NOT corpus-sized); each PR round is one join
    + one map-side-combining sum over that graph.
    """
    from mopper_spark.pipeline.graph import pagerank_fixed

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    pairs = F.expr(
        "transform(sequence(1, greatest(size(toks) - 1, 0)), i -> "
        "named_struct('u', least(toks[i - 1], toks[i]), "
        "'v', greatest(toks[i - 1], toks[i])))"
    )
    edges = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.u").alias("a"), F.col("p.v").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    pr = pagerank_fixed(edges, iters=iters)
    return pr.orderBy(F.desc("pr_scaled"), F.asc("node")).limit(top_k)


def bigram_backoff_xent(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    backoff: float = 0.4,
) -> DataFrame:
    """Held-out cross-entropy under a bigram LM with Stupid Backoff
    (Brants et al., EMNLP 2007 — the web-scale LM scoring rule: no
    normalization, a fixed backoff factor): documents in ``score`` are
    ranked by how well the ``train`` corpus's bigram statistics predict
    them — the CCNet perplexity filter one order up from
    ``analysis.unigram_xent``.

        lp(u,v) = ln(c(u,v) / c(u·))              if c(u,v) > 0
                = ln(0.4 * (c(v)+1) / (N+V))      otherwise (smoothed)

    Fixed-point discipline: one ``floor(ln(ratio)*1e6)`` per DISTINCT
    train bigram and per distinct scored token (ratios of exact
    integers), integer per-document sums, one double division at the
    end.  Output: ``(doc_id, n_bigrams, sum_lp_fp, xent)`` for scored
    docs with ≥ 1 bigram; ``xent = -sum/(1e6*n_bigrams)`` in nats.

    Scale shape: train-side counts are word/bigram-shaped aggregates;
    scoring is two hash joins against the (broadcastable at fixture
    scale, word-shaped at corpus scale) fp log tables; nothing
    quadratic.
    """
    FP = 1_000_000.0

    def bigrams(df: DataFrame, with_id: bool) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
        )
        pairs = F.expr(
            "transform(sequence(1, greatest(size(toks) - 1, 0)), i -> "
            "named_struct('u', toks[i - 1], 'v', toks[i]))"
        )
        cols = [F.col(id_col).alias("doc_id")] if with_id else []
        return (
            df.select(*cols, toks.alias("toks"))
            .filter(F.size("toks") >= 2)
            .select(*(["doc_id"] if with_id else []), F.explode(pairs).alias("p"))
            .select(
                *(["doc_id"] if with_id else []),
                F.col("p.u").alias("u"),
                F.col("p.v").alias("v"),
            )
        )

    tb = bigrams(train, with_id=False)
    big = tb.groupBy("u", "v").agg(F.count(F.lit(1)).cast("long").alias("c_uv"))
    pre = big.groupBy("u").agg(F.sum("c_uv").cast("long").alias("c_u"))
    toks_tr = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    uni = (
        train.select(toks_tr.alias("toks"))
        .select(F.explode("toks").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c_v"))
    )
    totals = uni.groupBy().agg(
        F.sum("c_v").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    lp_big = big.join(F.broadcast(pre), "u").select(
        "u",
        "v",
        F.floor(
            F.log(F.col("c_uv").cast("double") / F.col("c_u").cast("double"))
            * F.lit(FP)
        ).cast("long").alias("lp_fp"),
    )
    lp_back = uni.crossJoin(F.broadcast(totals)).select(
        "v",
        F.floor(
            F.log(
                F.lit(backoff)
                * (F.col("c_v") + 1).cast("double")
                / (F.col("n_total") + F.col("n_vocab")).cast("double")
            )
            * F.lit(FP)
        ).cast("long").alias("lb_fp"),
    )
    # OOV scored tokens (not in the train vocab): smoothed c_v = 0
    lb_oov = totals.select(
        F.floor(
            F.log(
                F.lit(backoff)
                / (F.col("n_total") + F.col("n_vocab")).cast("double")
            )
            * F.lit(FP)
        ).cast("long").alias("lb_oov_fp")
    )
    scored = (
        bigrams(score, with_id=True)
        .join(F.broadcast(lp_big), ["u", "v"], "left")
        .join(F.broadcast(lp_back), "v", "left")
        .crossJoin(F.broadcast(lb_oov))
        .select(
            "doc_id",
            F.coalesce(
                F.col("lp_fp"), F.col("lb_fp"), F.col("lb_oov_fp")
            ).alias("fp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("fp").cast("long").alias("sum_lp_fp"),
    ).select(
        "doc_id",
        "n_bigrams",
        "sum_lp_fp",
        (-F.col("sum_lp_fp") / (F.lit(FP) * F.col("n_bigrams"))).alias("xent"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.5,
    max_df: int = 4096,
) -> DataFrame:
    """Vector-space near-duplicate pairs: cosine similarity over TF-IDF
    vectors (Salton's VSM — the classic IR alternative to Jaccard/
    MinHash when token FREQUENCY matters, e.g. templated docs with
    different fill rates).

    Vocabulary restriction ``df <= max_df`` (sklearn TfidfVectorizer's
    ``max_df``): tokens in more than ``max_df`` documents are excluded
    from the vector space ENTIRELY — both from pair generation and from
    the weights — so the inverted-index self-join is bounded (a
    stop-token shared by every doc generates no pairs) and the cosine
    stays EXACT over the restricted space by definition, not by
    approximation.

    Determinism: ``idf_fp = floor(ln(N/df) * 1e3)`` per token (one ln
    over an exact integer ratio; the 10^3 scale keeps
    ``(tf·idf)² ≤ ~10^14`` and corpus dots within int64), all dots and
    norms exact integer sums, cosine one double expression.

    Scale shape — PREFIX FILTERING (Bayardo/Ma/Srikant "All-Pairs",
    WWW'07; Chaudhuri et al. ICDE'06): a naive inverted-index self-join
    explodes on mid-frequency tokens (measured 111 s at sf0.1 — every
    token under ``max_df`` fans out df² pair rows).  Instead, within each
    doc order terms rarest-first (df asc, tok asc) and call a term
    PREFIX iff the suffix starting at it could still reach the threshold
    alone: ``suffix_norm² ≥ t²·norm²``.  If a pair's shared terms all sit
    outside either doc's prefix then ``cos(A,B) ≤ ‖suffix_A‖/‖A‖ < t``,
    so every qualifying pair shares ≥1 token lying in BOTH prefixes —
    candidate generation joins only the (small) prefix postings, then an
    exact integer dot product over the full postings verifies each
    candidate.  Exactness-preserving by construction: the prefix test is
    inclusion-conservative (double compare with a 1e-9 slack toward
    inclusion; both operands are exact int64 window sums, so the test is
    partitioning-stable).  At threshold 0.8 the prefix keeps ~⌈(1-t²)·m⌉
    of each doc's mass, collapsing the candidate space to near-linear.
    Output: ``(id_a, id_b, dot_fp, norm_a_fp, norm_b_fp, cos)`` for pairs
    with ``cos >= threshold``, id_a < id_b.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    tf = (
        docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .select("id", F.explode("toks").alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = (
        tf.join(dfreq.filter(F.col("df") <= max_df), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "tok",
            "df",
            (
                F.col("tf")
                * F.floor(
                    F.log(F.col("n").cast("double") / F.col("df").cast("double"))
                    * F.lit(1000.0)
                ).cast("long")
            ).alias("w"),
        )
        .filter(F.col("w") > 0)  # df == N gives idf 0: dimensionless
        .localCheckpoint(eager=False)  # postings feed prefix AND verify
    )
    norms = w.groupBy("id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("nrm")
    )
    # prefix postings: rarest-first suffix norms per doc (exact int64
    # window sum over the doc's own terms — per-partition volume is one
    # doc's vocabulary, spillable), then the inclusion-conservative test.
    from pyspark.sql import Window

    sufw = (
        Window.partitionBy("id")
        .orderBy(F.col("df").asc(), F.col("tok").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t2_ppm = int(round(threshold * threshold * 1_000_000))
    prefix = (
        w.withColumn("suf2", F.sum(F.col("w") * F.col("w")).over(sufw))
        .withColumn("nrm2", F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("id")))
        .filter(
            F.col("suf2").cast("double") * F.lit(1_000_000.0)
            >= F.col("nrm2").cast("double") * F.lit(float(t2_ppm)) * F.lit(1.0 - 1e-9)
        )
        .select("id", "tok")
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok")) & (F.col("pa.id") < F.col("pb.id")),
        )
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )
    # exact verify: integer dot product over the FULL postings of each
    # candidate pair only (two shuffles keyed on the ids, never a df²
    # token fan-out)
    dots = (
        cand.join(w.select(F.col("id").alias("id_a"), "tok", F.col("w").alias("wa")), "id_a")
        .join(
            w.select(F.col("id").alias("id_b"), "tok", F.col("w").alias("wb")),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot_fp"))
    )
    return (
        dots.join(norms.toDF("id_a", "norm_a_fp"), "id_a")
        .join(norms.toDF("id_b", "norm_b_fp"), "id_b")
        .withColumn(
            "cos",
            F.col("dot_fp")
            / (
                F.sqrt(F.col("norm_a_fp").cast("double"))
                * F.sqrt(F.col("norm_b_fp").cast("double"))
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "dot_fp", "norm_a_fp", "norm_b_fp", "cos")
    )


def reciprocal_rank_fusion(
    ranked: dict[str, DataFrame],
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of several ranked
    lists: ``score(d) = Σ_lists 1/(k + rank_list(d))``, absent-from-list
    contributing 0.  The standard hybrid-retrieval combiner (BM25 list +
    embedding list) — rank-based, so the lists' raw scores never need
    calibrating against each other.

    ``ranked`` maps a ranker name to a DataFrame with (``id_col``,
    ``rank_col``); ranks are 1-based.  Returns the fused top-``top``
    as ``(id_col, rrf double, rank)``, ties broken by ascending id.

    Determinism: contributions are added in SORTED ranker-name order
    (dict order is a hash-map accident an engine replay can't reproduce),
    each as ``1/(k + rank)`` with the missing-list branch an exact 0e0.
    Scale shape: the inputs are already top-N lists (tiny); the fusion is
    a chain of full outer joins over them and the final top-``top`` is a
    TakeOrdered, never a global sort of a corpus.
    """
    if not ranked:
        raise ValueError("reciprocal_rank_fusion requires at least one list")
    names = sorted(ranked)
    fused = None
    for name in names:
        part = ranked[name].select(
            F.col(id_col), F.col(rank_col).alias(f"_r_{name}")
        )
        fused = part if fused is None else fused.join(part, id_col, "full_outer")
    score = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"_r_{name}").cast("double")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    out = (
        fused.select(F.col(id_col), score.alias("rrf"))
        .orderBy(F.desc("rrf"), id_col)
        .limit(top)
    )
    w = Window.orderBy(F.desc("rrf"), id_col)
    return out.withColumn("rank", F.row_number().over(w))


def ndcg_at_k(
    runs: DataFrame,
    query_col: str = "qid",
    item_col: str = "item",
    score_col: str = "score",
    rel_col: str = "rel",
    *,
    k: int = 10,
) -> DataFrame:
    """nDCG@k per query (Järvelin & Kekäläinen, TOIS'02 — the standard
    graded-relevance retrieval metric): ``(qid, dcg, idcg, ndcg)`` with
    exponential gain ``2^rel - 1`` and ``log2(pos+1)`` discount, ideal
    ranking = relevance-descending.

    Determinism: both rankings tie-break on ``item`` ascending, so the
    permutation (and therefore the score, float or not) is a pure function
    of the data; the gain ``2^rel - 1`` is computed as an exact integer
    shift before the single division per term.

    Scale shape: two ``row_number`` windows partitioned by query — a
    ranked run is bounded per query (a retrieval system returns hundreds
    of candidates, not the corpus), so per-partition state is small and
    skew-free by construction; one map-side-combining aggregate each.
    A query with no positive item gets ``ndcg = 0`` (idcg = 0 — defined,
    not NULL, so downstream averages are stable).
    """
    base = runs.select(
        F.col(query_col).alias("qid"),
        F.col(item_col).alias("item"),
        F.col(score_col).alias("score"),
        F.col(rel_col).cast("long").alias("rel"),
    )
    gain = (F.expr("shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT))") - 1).cast(
        "double"
    )
    run_w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("item"))
    ideal_w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("item"))
    ranked = base.select(
        "qid",
        gain.alias("g"),
        F.row_number().over(run_w).alias("pos"),
        F.row_number().over(ideal_w).alias("ipos"),
    )
    agg = ranked.groupBy("qid").agg(
        F.sum(
            F.when(
                F.col("pos") <= k,
                F.col("g") / F.log2(F.col("pos").cast("double") + F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("ipos") <= k,
                F.col("g") / F.log2(F.col("ipos").cast("double") + F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        ).alias("idcg"),
    )
    return agg.select(
        "qid",
        "dcg",
        "idcg",
        F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


def _bigram_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, n_pair) adjacent-bigram counts — the shared first pass of
    the collocation / LM estimators (the bigram_pmi tokenization)."""
    toks = tokens(F.lower(F.col(text_col)))
    t = docs.select(toks.alias("t")).filter(F.size("t") > 1)
    pairs = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + F.lit(1)).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    return pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))


def collocations_llr(
    docs: DataFrame,
    *,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Collocation extraction by Dunning's log-likelihood ratio (Dunning,
    CL'93 — the G² statistic over the bigram 2×2 contingency table),
    the classic phrase miner that, unlike PMI, does not explode on rare
    pairs.  Returns ``(w1, w2, n_pair bigint, llr double)`` for bigrams
    seen ≥ ``min_count``.

    With ``k11 = c(w1,w2)``, ``r1 = c(w1,·)``, ``c1 = c(·,w2)``, ``N`` =
    total bigrams: the table is (k11, r1-k11; c1-k11, N-r1-c1+k11) and

        G² = 2 · Σ_cell  k · ln( k·N / (rowsum · colsum) )    (0 at k=0)

    Each term is ONE ``ln`` over a ratio of fixed-order double products
    of exact integers (the ``bigram_pmi`` determinism discipline), the
    four terms added left-to-right — an independent SQL engine agrees to
    1 ulp per term.

    Scale shape: the word-count pattern — one bigram count shuffle, two
    marginal aggregations OVER THE BIGRAM TABLE (not the corpus), one-row
    total broadcast back; AQE picks broadcast for the marginals when they
    fit.
    """
    big = _bigram_counts(docs, text_col)
    left = big.groupBy("w1").agg(F.sum("n_pair").alias("r1"))
    right = big.groupBy("w2").agg(F.sum("n_pair").alias("c1"))
    total = big.agg(F.sum("n_pair").alias("nn"))
    j = (
        big.filter(F.col("n_pair") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
    )

    def term(kk, row, colc):
        return F.when(
            kk > 0,
            kk.cast("double")
            * F.log(
                (kk.cast("double") * F.col("nn").cast("double"))
                / (row.cast("double") * colc.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    k11 = F.col("n_pair")
    k12 = F.col("r1") - k11
    k21 = F.col("c1") - k11
    k22 = F.col("nn") - F.col("r1") - F.col("c1") + k11
    r2 = F.col("nn") - F.col("r1")
    c2 = F.col("nn") - F.col("c1")
    g2 = (
        term(k11, F.col("r1"), F.col("c1"))
        + term(k12, F.col("r1"), c2)
        + term(k21, r2, F.col("c1"))
        + term(k22, r2, c2)
    ) * F.lit(2.0)
    return j.select(
        "w1", "w2", F.col("n_pair").cast("long").alias("n_pair"), g2.alias("llr")
    )


def kneser_ney_bigrams(
    docs: DataFrame,
    *,
    discount: float = 0.75,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney,
    ICASSP'95; the Chen & Goodman '98 interpolated form with one fixed
    discount D) — the smoothing that actual LM-quality scoring uses,
    where ``bigram_backoff_xent``'s add-k is the toy:

        p(w|v) = max(c(vw) − D, 0)/c(v·)  +  D·N1+(v·)/c(v·) · p_cont(w)
        p_cont(w) = N1+(·w) / N1+(··)

    (continuation probability = how many distinct LEFT contexts w
    follows, normalized by the bigram-type count — the KN insight that
    "Francisco" is frequent but only ever follows "San").

    Returns ``(w1, w2, n_pair bigint, n1f bigint, n1b bigint, p_kn
    double)`` for observed bigrams with count ≥ ``min_count``; all four
    statistics are exact integers and ``p_kn`` is one fixed-order double
    expression over them, so the result is engine-reproducible (strict
    SQL oracle) — and ``Σ_w p(w|v) ≤ 1`` exactly (unit-tested), the
    probability-mass sanity a hand-rolled smoother usually gets wrong.

    Scale shape: identical to ``collocations_llr`` — bigram word-count
    shuffle + three bigram-table aggregations (left totals, left type
    counts, right type counts) + one-row type total broadcast back.
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("kneser_ney_bigrams: discount must be in (0, 1)")
    big = _bigram_counts(docs, text_col)
    left = big.groupBy("w1").agg(
        F.sum("n_pair").alias("cv"), F.count("*").alias("n1f")
    )
    right = big.groupBy("w2").agg(F.count("*").alias("n1b"))
    total = big.agg(F.count("*").alias("n1all"))
    j = (
        big.filter(F.col("n_pair") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
    )
    d = F.lit(float(discount))
    p_kn = (
        F.greatest(F.col("n_pair").cast("double") - d, F.lit(0.0))
        + d
        * F.col("n1f").cast("double")
        * (F.col("n1b").cast("double") / F.col("n1all").cast("double"))
    ) / F.col("cv").cast("double")
    return j.select(
        "w1",
        "w2",
        F.col("n_pair").cast("long").alias("n_pair"),
        F.col("n1f").cast("long").alias("n1f"),
        F.col("n1b").cast("long").alias("n1b"),
        p_kn.alias("p_kn"),
    )


def perplexity_buckets(
    train: DataFrame,
    score: DataFrame,
    *,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al., LREC 2020 §3.3): the
    scored corpus split into ``n_buckets`` equal-count bands by language-
    model perplexity — CCNet keeps the "head" (lowest-perplexity third)
    as the quality tier, which made this THE standard LM-based quality
    filter before classifier-era pipelines.  The LM is this package's
    Stupid-Backoff bigram model (``bigram_backoff_xent``), trained on
    ``train`` and applied to ``score``.

    Returns ``(doc_id, n_bigrams, xm_fp, bucket)``: ``xm_fp =
    (−sum_lp_fp · 1000) div n_bigrams`` is the per-doc milli-fixed-point
    cross entropy (non-negative BIGINT — the per-doc mean as one exact
    integer division, so ordering never touches a float), and ``bucket``
    is 0-based (0 = head/lowest perplexity) by the equal-count rule
    ``bucket = (n_buckets · (rank − 1)) div n`` with the deterministic
    (xm_fp, doc_id) rank order.  Documents with zero bigrams are
    EXCLUDED (no evidence to band on — score them by a unigram fallback
    upstream if they matter).

    One LM scoring pass + one corpus-wide rank.  The rank and the corpus
    size come from ``scan.exclusive_scan`` bucketed by ``xm_fp div
    10^6`` (whole milli-nats).  Every per-bigram log-probability lies in
    ``[ln(0.4 / (N + V)), 0]`` for a train corpus of N tokens and V
    distinct tokens, so ``0 <= xm_fp <= 10^9 · ln((N + V) / 0.4) + 1000``
    and the bucket list has at most ``1000 · ln((N + V) / 0.4) + 2``
    rows: under 45,000 for any N + V that fits a BIGINT.  A NULL
    ``xm_fp`` (an empty train corpus) takes bucket -1, first, as the
    global order puts it.
    """
    if n_buckets < 2:
        raise ValueError("perplexity_buckets: n_buckets must be >= 2")
    scored = bigram_backoff_xent(
        train, score, text_col=text_col, id_col=id_col
    ).filter(F.col("n_bigrams") > 0)
    xm = scored.select(
        "doc_id",
        "n_bigrams",
        F.expr("(-sum_lp_fp * 1000) div n_bigrams").alias("xm_fp"),
    )
    ranked = exclusive_scan(
        xm,
        F.expr("coalesce(xm_fp div 1000000, -1)"),
        ["xm_fp", "doc_id"],
        sums={"_below": F.lit(1)},
        totals={"_n": F.lit(1)},
    )
    return ranked.select(
        "doc_id",
        "n_bigrams",
        "xm_fp",
        F.expr(f"({int(n_buckets)} * _below) div _n")
        .cast("long")
        .alias("bucket"),
    )
