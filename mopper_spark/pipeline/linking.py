"""Stage 2: blocking-key entity linking over detected mentions.

Scale design (north rule: 10^12 turns):

1. **Collapse to distinct surface forms first.**  Mentions at corpus scale
   are ~10^12 rows but *distinct* normalized forms are orders of magnitude
   fewer; every subsequent step runs on the distinct-forms table, never on
   the raw mention stream.
2. **Blocking keys** bound the candidate space — no all-pairs join:
   - token-sort key (sorted tokens joined),
   - first-token-initial + last-token key (catches "V. Williams" ↔
     "Venus Williams"),
   - MinHash band keys over character 3-shingles (LSH: forms sharing any
     band key become candidates), computed in one Arrow-batched pandas UDF.
3. **Candidate pairs**: one grouping of the (key, form) table collects each
   block's sorted forms and one SQL higher-order expression pairs them —
   no self-join, so MinHash runs once.  Blocks over ``max_block_size``
   forms are dropped as non-discriminative (the standard ER guard against
   quadratic blowup on stop-word-ish blocks).
4. **Pair scoring** in Arrow batches (shingle Jaccard + token containment +
   initial-expansion rule), threshold → accepted edges.

Everything shuffles on either ``norm`` or a block key — never on conv_id —
so conversation skew cannot concentrate here.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StringType

# MinHash parameters: 16 hashes in 4 bands of 4 — near-dup recall at
# Jaccard ≳ 0.5 for short strings.
_NUM_HASHES = 16
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS
_MERSENNE = (1 << 61) - 1
# deterministic affine hash params seeded by a fixed PRNG
_HASH_PARAMS = []
_state = 88172645463325252
for _ in range(_NUM_HASHES):
    _state = (_state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    a = (_state % (_MERSENNE - 1)) + 1
    _state = (_state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    b = _state % _MERSENNE
    _HASH_PARAMS.append((a, b))


_ACCENTS = "àáâãäåèéêëìíîïòóôõöùúûüýçñ"
_FOLDED = "aaaaaaeeeeiiiiooooouuuuycn"


def normalize_surface(col: Column) -> Column:
    """lower-case, accent-fold, strip periods, collapse whitespace."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.lower(col), _ACCENTS, _FOLDED), r"\.", ""
            ),
            r"\s+",
            " ",
        )
    )


def normalize_surface_py(s: str) -> str:
    """Python mirror of :func:`normalize_surface` (for oracles/tests)."""
    s = s.lower().translate(str.maketrans(_ACCENTS, _FOLDED)).replace(".", "")
    return " ".join(s.split())


def _shingles(s: str, k: int = 3) -> set[int]:
    # zlib.crc32: deterministic across processes (python str hash() is
    # salted per-interpreter and would break executor-side determinism)
    s = f"^{s}$"
    if len(s) <= k:
        return {zlib.crc32(s.encode("utf-8"))}
    return {
        zlib.crc32(s[i : i + k].encode("utf-8")) for i in range(len(s) - k + 1)
    }


_A_VEC = None
_B_VEC = None


def _hash_vecs():
    global _A_VEC, _B_VEC
    if _A_VEC is None:
        import numpy as np

        _A_VEC = np.array([a for a, _ in _HASH_PARAMS], dtype=np.int64)[:, None]
        _B_VEC = np.array([b for _, b in _HASH_PARAMS], dtype=np.int64)[:, None]
    return _A_VEC, _B_VEC


def minhash_band_keys(norms: Column) -> Column:
    """Per form: LSH band keys 'mh{band}:{joined minhash values}'.

    One (num_hashes × |shingles|) numpy pass per form instead of a Python
    generator per hash function (same formulation as
    ``dedup.make_minhash_udf``); int64 wraparound in ``a*x`` is part of the
    (deterministic) hash family.

    NOTE (behavior change, round 2): the round-1 pure-Python version
    computed ``a*x + b`` exactly (big-int); this int64 version wraps, so
    band keys — and therefore blocking candidates — differ from round 1.
    That is acceptable ONLY because blocking recall 1.0 is re-pinned on
    the committed fixture by
    tests/test_pipeline.py (blocking-recall test); whenever the fixture
    changes, that pin re-validates the fixture-dependent recall.

    Built per call: a pandas UDF built at import keeps the accumulator of
    its first SparkContext, whose updates fail after a restart.
    """
    return F.pandas_udf(_minhash_band_keys, ArrayType(StringType()))(norms)


def _minhash_band_keys(norms: pd.Series) -> pd.Series:
    import numpy as np

    a_vec, b_vec = _hash_vecs()

    def keys(norm: str) -> list[str]:
        sh = _shingles(norm or "")
        arr = np.fromiter(sh, dtype=np.int64)[None, :]
        sig = ((a_vec * arr + b_vec) % _MERSENNE).min(axis=1)
        return [
            f"mh{band}:"
            + ",".join(map(str, sig[band * _ROWS_PER_BAND : (band + 1) * _ROWS_PER_BAND]))
            for band in range(_BANDS)
        ]

    return norms.map(keys)


def blocking_keys(forms: DataFrame) -> DataFrame:
    """Distinct forms (norm, …) → exploded (norm, …, key) blocking table."""
    toks = F.split(F.col("norm"), " ")
    token_sort = F.concat(F.lit("ts:"), F.array_join(F.array_sort(toks), " "))
    initial_last = F.concat(
        F.lit("il:"),
        F.substring(F.element_at(toks, 1), 1, 1),
        F.lit("|"),
        F.element_at(toks, -1),
    )
    keys = F.concat(
        F.array(token_sort, initial_last), minhash_band_keys(F.col("norm"))
    )
    return forms.select("*", F.explode(keys).alias("key"))


def _score_pair(a: Column, b: Column) -> Column:
    """Accept/reject a candidate pair of normalized forms (built per call,
    like ``minhash_band_keys``)."""
    return F.pandas_udf(_score_pairs, BooleanType())(a, b)


def _score_pairs(a: pd.Series, b: pd.Series) -> pd.Series:
    def initials_match(ta: list[str], tb: list[str]) -> bool:
        # "v williams" vs "venus williams": same length, each token either
        # equal or one is the other's initial
        if len(ta) != len(tb):
            return False
        ok = False
        for x, y in zip(ta, tb):
            if x == y:
                continue
            if len(x) == 1 and y.startswith(x):
                ok = True
            elif len(y) == 1 and x.startswith(y):
                ok = True
            else:
                return False
        return ok

    def token_subset(ta: list[str], tb: list[str]) -> bool:
        sa, sb = set(ta), set(tb)
        small, big = (sa, sb) if len(sa) <= len(sb) else (sb, sa)
        extra = big - small
        # subset with only initial-like extras ("alan m turing" ⊃ "alan turing")
        return small <= big and all(len(t) <= 2 for t in extra)

    def score(x: str, y: str) -> bool:
        if x == y:
            return True
        ta, tb = x.split(" "), y.split(" ")
        if initials_match(ta, tb) or token_subset(ta, tb):
            return True
        sa, sb = _shingles(x), _shingles(y)
        jac = len(sa & sb) / max(len(sa | sb), 1)
        return jac >= 0.6

    return pd.Series([score(x, y) for x, y in zip(a, b)])


def block_pairs(keys: DataFrame, max_block_size: int, touching: str | None = None) -> DataFrame:
    """(key, norm, …) blocking table → distinct (norm_a < norm_b) pairs inside
    each block of 2 to ``max_block_size`` distinct forms; larger blocks are
    dropped as non-discriminative.  With ``touching`` (a boolean column of
    ``keys``), only the pairs with a form for which it holds."""
    pairs = (
        "flatten(transform(ns, (a, i) -> transform(slice(ns, i + 2, size(ns)),"
        " b -> named_struct('norm_a', a, 'norm_b', b))))"
    )
    aggs = ["array_sort(collect_set(norm)) AS ns"]
    keep = f"size(ns) BETWEEN 2 AND {int(max_block_size)}"
    if touching:
        aggs.append(f"collect_set(IF({touching}, norm, NULL)) AS hit")
        keep += " AND size(hit) > 0"
        pairs = (
            f"filter({pairs}, p -> array_contains(hit, p.norm_a) OR array_contains(hit, p.norm_b))"
        )
    blocks = keys.groupBy("key").agg(*map(F.expr, aggs)).where(keep)
    return blocks.selectExpr(f"inline({pairs})").distinct()


def candidate_pairs(forms: DataFrame, max_block_size: int = 64) -> DataFrame:
    """Distinct forms → distinct candidate (norm_a < norm_b) pairs."""
    return block_pairs(blocking_keys(forms), max_block_size)


def link_mentions(mentions: DataFrame, max_block_size: int = 64) -> DataFrame:
    """Mentions → accepted co-reference edges between normalized forms.

    Returns (norm_a, norm_b) with norm_a < norm_b.
    """
    forms = mentions.select(
        normalize_surface(F.col("surface")).alias("norm")
    ).distinct()
    pairs = candidate_pairs(forms, max_block_size)
    return pairs.filter(_score_pair(F.col("norm_a"), F.col("norm_b")))


def clustering_pair_counts(
    labels: DataFrame, pred_col: str, truth_col: str
) -> DataFrame:
    """Pairwise clustering-quality counts of a predicted labeling against
    a gold labeling: one row ``(n_items, tp, fp, fn)``.

    A pair of items is a true positive when predicted AND gold co-cluster
    it, a false positive when only the prediction does, a false negative
    when only gold does.  Pairwise precision = tp/(tp+fp), recall =
    tp/(tp+fn) — the standard entity-resolution quality measure; counts
    are returned instead of ratios so the row stays integer-exact under
    any fetch path.

    Scale shape: pairs are NEVER materialized.  tp = Σ over
    (pred, truth) cells of C(n,2), predicted pairs = Σ over pred groups,
    gold pairs = Σ over truth groups — three combine-able aggregations
    over the labels table, each a word-count-shaped shuffle; fp and fn
    follow by subtraction.  Exact for any cluster sizes (integer ``div``,
    no doubles).
    """
    def pair_sum(df: DataFrame, *group: str):
        return (
            df.groupBy(*group)
            .agg(F.count(F.lit(1)).alias("n"))
            # coalesce: SUM over zero groups is NULL, but an empty labels
            # table means zero pairs, not unknown
            .agg(
                F.coalesce(
                    F.sum(F.expr("n * (n - 1) div 2")), F.lit(0)
                ).alias("pairs")
            )
        )

    tp = pair_sum(labels, pred_col, truth_col).withColumnRenamed("pairs", "tp")
    pred = pair_sum(labels, pred_col).withColumnRenamed("pairs", "pp")
    gold = pair_sum(labels, truth_col).withColumnRenamed("pairs", "gp")
    n = labels.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    return (
        n.crossJoin(tp).crossJoin(pred).crossJoin(gold)
        .select(
            "n_items",
            F.col("tp").cast("long").alias("tp"),
            (F.col("pp") - F.col("tp")).cast("long").alias("fp"),
            (F.col("gp") - F.col("tp")).cast("long").alias("fn"),
        )
    )


def fs_weights(
    pairs: DataFrame,
    agree_cols: list[str],
    label_col: str = "is_match",
) -> DataFrame:
    """Fellegi-Sunter record-linkage parameters (Fellegi & Sunter,
    JASA'69) from LABELED candidate pairs: one row with, per comparison
    field j, the agreement counts among matches (``am_j``) and among
    non-matches (``au_j``), plus the class totals ``n_m`` / ``n_u`` —
    the sufficient statistics for ``m_j = P(agree_j | match)`` and
    ``u_j = P(agree_j | unmatch)``.

    Kept as EXACT integer counts (the probabilities are derived at
    scoring time with +1/+2 Laplace smoothing) so the statistics are
    associative-safe, mergeable across shards, and SQL-oracle-able.

    Scale shape: ONE map-side-combining aggregate over the pair table —
    no shuffle wider than one row.
    """
    lab = F.col(label_col).cast("boolean")
    aggs = [
        F.sum(F.when(lab, 1).otherwise(0)).cast("long").alias("n_m"),
        F.sum(F.when(lab, 0).otherwise(1)).cast("long").alias("n_u"),
    ]
    for c in agree_cols:
        a = F.col(c).cast("boolean")
        aggs.append(
            F.sum(F.when(lab & a, 1).otherwise(0)).cast("long").alias(f"am_{c}")
        )
        aggs.append(
            F.sum(F.when((~lab) & a, 1).otherwise(0))
            .cast("long")
            .alias(f"au_{c}")
        )
    return pairs.agg(*aggs)


def fs_scores(
    pairs: DataFrame,
    weights: DataFrame,
    agree_cols: list[str],
) -> DataFrame:
    """Fellegi-Sunter match score per candidate pair: the sum over fields
    of the log2 likelihood ratio — ``log2(m_j/u_j)`` on agreement,
    ``log2((1-m_j)/(1-u_j))`` on disagreement — under the naive-Bayes
    conditional-independence model of the original paper (the scoring
    core of modern probabilistic linkers like Splink).

    ``m_j = (am_j+1)/(n_m+2)``, ``u_j = (au_j+1)/(n_u+2)`` (Laplace:
    keeps every ratio finite and in (0,1) even for degenerate fields).
    Terms are added in ``agree_cols`` order — fixed association, 1-ulp
    engine agreement.

    Scale shape: the one-row weights table is broadcast; scoring is a
    narrow map over the pair table.  Pair GENERATION stays the blocked
    ``candidate_pairs`` path — this function never joins wide.
    """
    j = pairs.crossJoin(F.broadcast(weights))
    score = F.lit(0.0)
    for c in agree_cols:
        m = (F.col(f"am_{c}").cast("double") + 1.0) / (
            F.col("n_m").cast("double") + 2.0
        )
        u = (F.col(f"au_{c}").cast("double") + 1.0) / (
            F.col("n_u").cast("double") + 2.0
        )
        term = F.when(
            F.col(c).cast("boolean"), F.log2(m / u)
        ).otherwise(F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)))
        score = score + term
    return j.select(*pairs.columns, score.alias("fs_score"))
