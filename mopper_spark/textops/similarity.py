"""Similarity search over an embedding column (array<float>).

Two tiers:

- ``brute_force_topk``: exact cosine top-k of every query against the
  corpus.  The query set is broadcast (it is small by construction); the
  corpus is scanned once; per-partition scoring is a native ``zip_with`` +
  ``aggregate`` dot product (JVM, no Python), then a top-k window.  This is
  the correctness oracle and is already the right plan for "few queries ×
  huge corpus".
- ``lsh_topk``: BANDED multi-probe random-hyperplane LSH — corpus vectors
  keyed by independent sign-pattern bands; each query probes its per-band
  keys plus single-flip neighbours.  Sub-linear candidate sets at 100 TB;
  same scoring kernel.

Hyperplanes are generated deterministically from a seed on the driver and
shipped in the UDF closure (a few KB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType


def cosine_native(a: Column, b: Column) -> Column:
    """Exact cosine similarity, pure native expressions."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_udf(a: Column, b: Column) -> Column:
    """Arrow-batched cosine (numpy) — for UDF-stage composition.  Built per
    call, like ``linking.minhash_band_keys``."""
    return F.pandas_udf(_cosines, DoubleType())(a, b)


def _cosines(a: pd.Series, b: pd.Series) -> pd.Series:
    def c(x, y) -> float:
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        nx, ny = np.linalg.norm(x), np.linalg.norm(y)
        return float(x @ y / (nx * ny)) if nx > 0 and ny > 0 else 0.0

    return pd.Series([c(x, y) for x, y in zip(a, b)])


def _sign_pattern(planes: np.ndarray, v) -> str:
    v = np.asarray(v, dtype=np.float64)
    p = planes[:, : v.shape[0]] if v.shape[0] < planes.shape[1] else planes
    signs = (p @ v[: p.shape[1]]) >= 0
    return "".join("1" if s else "0" for s in signs)


def hyperplane_bucket_udf(n_planes: int = 16, seed: int = 11, dim: int = 64):
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf(StringType())
    def bucket(vecs: pd.Series) -> pd.Series:
        return vecs.map(lambda v: _sign_pattern(planes, v))

    return bucket


def lsh_band_plan(
    n_rows: int,
    threshold: float,
    target_recall: float = 0.99,
    target_bucket: int = 512,
    max_bands: int = 64,
) -> tuple[int, int]:
    """Size ``(n_planes, n_bands)`` for hyperplane-LSH near-dup at a corpus
    size — the scale discipline for ``embedding_near_dup_pairs``, as code.

    Depth ``r = ceil(log2(n_rows / target_bucket))`` holds expected bucket
    occupancy at ~``target_bucket`` as the corpus grows (random-hyperplane
    signs over spread-out data are near-balanced), so the within-bucket
    verify stays ``B * n * target_bucket`` pairs instead of the fixed-depth
    configuration's ``B * n^2 / 2^r`` — the round-4 sf1 probe measured the
    fixed gate config at 117.9x wall for 10x rows, the quadratic signature.

    Width ``B`` is the smallest band count with analytic recall
    ``1 - (1 - p^r)^B >= target_recall`` for a pair AT the threshold, where
    ``p = 1 - arccos(threshold)/pi`` is the per-plane collision probability
    (Goemans–Williamson bound; Charikar STOC'02 SimHash).  Pairs above the
    threshold collide with higher probability, so the bound is uniform over
    the accepted set.

    The induced total candidate work is Theta(n^(1+rho)) with
    ``rho = ln(1/p)/ln 2`` — the classic LSH exponent: ~n^1.22 at cosine
    0.9, ~n^1.66 at cosine 0.4.  Guaranteed-recall sign-LSH cannot beat
    this; when the operating point needs more than ``max_bands`` bands
    (low thresholds on large corpora) this raises ``ValueError`` naming the
    alternatives (IVF/SemDeDup clustering with K ∝ n, or the exact-oracle
    path at small n) rather than silently planning an n^2-grade job.
    """
    import math

    if not -1.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (-1, 1], got {threshold}")
    if n_rows < 1 or target_bucket < 1:
        raise ValueError("n_rows and target_bucket must be >= 1")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    p = 1.0 - math.acos(threshold) / math.pi
    r = max(1, math.ceil(math.log2(max(1.0, n_rows / target_bucket))))
    p_band = p**r
    if p_band >= 1.0:  # threshold == 1.0 → every band collides
        return r, 1
    n_bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    n_bands = max(1, n_bands)
    if n_bands > max_bands:
        rho = math.log(1.0 / p) / math.log(2.0)
        raise ValueError(
            f"LSH operating point infeasible: threshold={threshold} at "
            f"n={n_rows} needs {n_bands} bands of {r} planes for recall "
            f">= {target_recall} (per-plane p={p:.3f}, exponent "
            f"rho={rho:.2f} -> n^{1 + rho:.2f} candidate work). Use the "
            "IVF/SemDeDup path (semantic_dedup with K proportional to n) "
            "or raise target_bucket/max_bands deliberately."
        )
    return r, n_bands


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k: (query_id, vec_id, cosine, rank). Queries broadcast."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    scored = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        "vec_id",
        cosine_native(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _band_keys(signs: Column, n_planes: int, n_bands: int) -> Column:
    """Split a sign-string into per-band 'b:signs' keys (native substring)."""
    return F.array(
        *[
            F.concat_ws(
                ":", F.lit(b), F.substring(signs, b * n_planes + 1, n_planes)
            )
            for b in range(n_bands)
        ]
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_bands: int = 1,
    seed: int = 11,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k via BANDED multi-probe hyperplane LSH.

    The corpus is keyed by ``n_bands`` independent bands of ``n_planes``
    plane-signs each (one UDF pass for all signs); each query probes, per
    band, its own key plus every single-flip neighbour when
    ``probe_radius >= 1``.  A pair is a candidate if ANY band probe hits,
    so the miss probability per pair is ``(1 - hit_band)^B`` — shallow
    wide banding reaches measured recall 1.0 on the gate fixture even for
    the near-orthogonal tail (pinned in tests), while deep narrow bands
    are the production shape for high-cosine corpora.  Duplicated
    candidates across bands are deduped by (query, doc) BEFORE ranking.

    Plan shape at scale: corpus scanned once (exploded ×B in flight),
    probe table broadcast, one shuffle of the scored candidate set for
    the dedup + per-query top-k window.
    """
    total = n_planes * n_bands
    bucket = hyperplane_bucket_udf(n_planes=total, seed=seed)

    c = corpus.withColumn("_signs", bucket(F.col(vec_col))).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        F.explode(_band_keys(F.col("_signs"), n_planes, n_bands)).alias("bkt"),
    )

    def probe_keys(signs: Column) -> Column:
        keys = []
        for b in range(n_bands):
            band = F.substring(signs, b * n_planes + 1, n_planes)
            keys.append(F.concat_ws(":", F.lit(b), band))
            if probe_radius >= 1:
                for i in range(1, n_planes + 1):
                    flipped = F.concat(
                        F.substring(band, 1, i - 1),
                        F.when(F.substring(band, i, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
                        F.substring(band, i + 1, n_planes - i),
                    )
                    keys.append(F.concat_ws(":", F.lit(b), flipped))
        return F.array_distinct(F.array(*keys))

    q = queries.withColumn("_signs", bucket(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_keys(F.col("_signs"))).alias("bkt"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bkt")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_native(
                F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")
            ).alias("cosine"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def label_centroid_cosines(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    *,
    fp_scale: int = 1 << 20,
) -> DataFrame:
    """Class-separation audit: cosine similarity between per-label SUM
    vectors (≡ centroid cosines, since the 1/n factors cancel) — the
    embedding-quality check before trusting label-conditioned ANN or
    SemDeDup cluster assignments.

    Determinism: each component is quantized once to the fixed-point
    BIGINT ``round(x * 2^20)``; per-label per-dimension sums, dots and
    squared norms are exact integer arithmetic (bounds: |x|≈1 → 2^20 per
    component, 2^26 per summed dim at 10^2 rows/label, 2^58 per dot at
    64 dims — int64-safe to ~10^4 rows/label; rescale fp_scale down for
    more).  ``cos`` is the one double expression
    ``dot / (sqrt(n1) * sqrt(n2))`` over exact integers.

    Scale shape: one posexplode to (label, dim) keyed integer sums
    (64·|labels| reduce keys, map-side combining), then an
    all-label-pairs join — |labels|² is a statistics table, never data-
    sized.  Output: ``(l1, l2, dot_fp, norm1_fp, norm2_fp, cos)``, l1<l2.
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(fp_scale))).cast("long"),
    )
    per_dim = (
        embeddings.select(F.col(label_col).alias("label"), q.alias("qv"))
        .select("label", F.posexplode("qv").alias("dim", "c"))
        .groupBy("label", "dim")
        .agg(F.sum("c").cast("long").alias("s"))
    )
    a, b = per_dim.alias("a"), per_dim.alias("b")
    dots = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") <= F.col("b.label")))
        .groupBy(F.col("a.label").alias("l1"), F.col("b.label").alias("l2"))
        .agg(F.sum(F.col("a.s") * F.col("b.s")).cast("long").alias("dot"))
    )
    norms = dots.filter(F.col("l1") == F.col("l2")).select(
        F.col("l1").alias("label"), F.col("dot").alias("nrm")
    )
    return (
        dots.filter(F.col("l1") < F.col("l2"))
        .join(F.broadcast(norms.withColumnRenamed("label", "l1").withColumnRenamed("nrm", "norm1_fp")), "l1")
        .join(F.broadcast(norms.withColumnRenamed("label", "l2").withColumnRenamed("nrm", "norm2_fp")), "l2")
        .select(
            "l1",
            "l2",
            F.col("dot").alias("dot_fp"),
            "norm1_fp",
            "norm2_fp",
            (
                F.col("dot")
                / (
                    F.sqrt(F.col("norm1_fp").cast("double"))
                    * F.sqrt(F.col("norm2_fp").cast("double"))
                )
            ).alias("cos"),
        )
    )


def edit_distance_join(
    strings: DataFrame,
    id_col: str = "id",
    str_col: str = "s",
    k: int = 1,
) -> DataFrame:
    """String similarity self-join: all pairs within Levenshtein distance
    ``k`` — typo-tolerant entity/surface matching (the ER blocking
    complement for NAME noise rather than token reorderings).

    Candidate generation is the deletion-neighborhood signature scheme
    (FastSS; Bocek et al. 2007): every string emits itself plus every
    variant with ≤ k characters deleted, tagged with how many deletions
    produced it; two strings within edit distance k ALWAYS share a
    signature reachable with ≤ k total deletions (substitution = delete
    the differing position from both; insert/delete = delete the extra
    character) — so a join on the signature is recall-COMPLETE, and the
    exact ``levenshtein()`` verify (JVM-side, whole-stage codegen) makes
    precision exact.  No brute-force pair space anywhere: candidates are
    signature-bucket joins, verified pairs only.

    Scale shape: signatures per string = Σ_{j≤k} C(L, j) — linear in L
    for k=1, quadratic for k=2; k ≤ 2 enforced.  The signature join
    shuffles on the signature; a pathological bucket (e.g. every string
    sharing one variant) is bounded by the verify's early length filter
    ``|len_a − len_b| ≤ k`` pushed into the join condition.

    Output: ``(id_a, id_b, s_a, s_b, dist)``, id_a < id_b, dist ≤ k.
    """
    if k not in (1, 2):
        raise ValueError("edit_distance_join: k must be 1 or 2")
    base = strings.select(
        F.col(id_col).alias("sid"), F.col(str_col).alias("s")
    ).filter(F.col("s").isNotNull())
    # deletion variants: j characters removed, j = 0..k.  For k=1 the
    # variant list is [s] + [s minus position i]; for k=2 additionally
    # every two-position deletion (i < j) — built natively with
    # sequence/transform/flatten, no Python per row.
    del1 = (
        "transform(sequence(1, length(s)),"
        " i -> concat(substring(s, 1, i - 1), substring(s, i + 1)))"
    )
    if k == 1:
        sigs = F.expr(f"array_union(array(s), {del1})")
    else:
        del2 = (
            "flatten(transform(sequence(1, length(s)), i ->"
            " transform(sequence(i + 1, length(s)), j ->"
            " concat(substring(s, 1, i - 1), substring(s, i + 1, j - i - 1),"
            " substring(s, j + 1)))))"
        )
        sigs = F.expr(
            f"array_union(array_union(array(s), {del1}),"
            f" CASE WHEN length(s) >= 2 THEN {del2} ELSE array() END)"
        )
    tagged = base.select("sid", "s", F.explode(sigs).alias("sig"))
    x, y = tagged.alias("x"), tagged.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.sid") < F.col("y.sid"))
            & (
                F.abs(F.length(F.col("x.s")) - F.length(F.col("y.s")))
                <= F.lit(k)
            ),
        )
        .select(
            F.col("x.sid").alias("id_a"),
            F.col("y.sid").alias("id_b"),
            F.col("x.s").alias("s_a"),
            F.col("y.s").alias("s_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "s_a",
        "s_b",
        F.levenshtein("s_a", "s_b").cast("int").alias("dist"),
    ).filter(F.col("dist") <= k)


def jl_signs(dim: int, out_dim: int, seed: str = "jl-v1") -> list[list[int]]:
    """The deterministic ±1 projection matrix of :func:`jl_project` —
    ``signs[j][i]`` from the parity of the first md5 nibble of
    ``seed:j:i``.  A plain Python constant (out_dim × dim ints), shared
    verbatim by the Spark plan and the SQL oracle, so "same matrix on
    both sides" is true by construction, not by cross-engine hashing."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    vectors: DataFrame,
    dim: int,
    out_dim: int,
    *,
    seed: str = "jl-v1",
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1
    (Achlioptas 2003) projection: ``y_j = Σ_i sign_{j,i} · v_i`` —
    pairwise distances survive to within (1±ε) at
    ``out_dim = O(log n / ε²)``, which is what makes 64-dim embeddings
    16-dim BEFORE the LSH/IVF stage (4× less shuffle weight per vector
    through every downstream join).

    Exact integers: components enter as ``floor(v·scale)`` and each
    output is a ±-sum of them — int64, partitioning-proof, and the
    oracle replays the identical literal matrix.  The whole projection
    is one narrow unrolled expression (out_dim × dim add/sub terms) in
    whole-stage codegen — no UDF, no shuffle.

    Output: ``(vec_id, j, y_fp)`` — one row per output component.
    """
    if dim < 1 or out_dim < 1:
        raise ValueError("jl_project: dim and out_dim must be >= 1")
    signs = jl_signs(dim, out_dim, seed)
    vfp = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    t = vectors.select(F.col(id_col).alias("vec_id"), vfp.alias("_v"))
    comps = []
    for j in range(out_dim):
        y = None
        for i, s in enumerate(signs[j]):
            term = F.element_at("_v", i + 1)
            term = term if s > 0 else -term
            y = term if y is None else y + term
        comps.append(
            F.struct(F.lit(j).cast("long").alias("j"), y.cast("long").alias("y_fp"))
        )
    return t.select(
        "vec_id", F.explode(F.array(*comps)).alias("_c")
    ).select("vec_id", F.col("_c.j").alias("j"), F.col("_c.y_fp").alias("y_fp"))


def power_iteration_step(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    scale: int = 1 << 14,
    seed: str = "pi-v1",
) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: ``w = Xᵀ (X v₀)`` with a deterministic md5-derived ±1
    start vector ``v₀`` — the spectral building block (von Mises
    iteration; Halko et al. 2011 use exactly this matvec pair as the
    randomized-SVD range finder).  One step from a random sign vector
    is the classic cheap estimate of the dominant variance direction;
    iterating is two more joins per step with ``w`` re-signed, and the
    Rayleigh quotient ``wᵀv₀ / v₀ᵀv₀`` falls out of the same frame.

    Everything is exact integer arithmetic: components are quantized
    ONCE to fixed point (``floor(x·scale)``), ``v₀ⱼ ∈ {+1, −1}`` by the
    first hex nibble of ``md5(seed:j)`` (engine-portable), both matvecs
    are BIGINT sums — the result is bit-identical under any
    partitioning and in any engine.  Returns one row per dimension:
    ``(dim, v0, w_fp)``.

    Plan: posexplode to (row, dim, x_fp), broadcast the 1-per-dim sign
    relation, one per-row aggregate (s = X v₀), broadcast-join s back,
    one per-dim aggregate (w = Xᵀ s).  Two dim-bounded shuffles; never
    materializes a dense matrix.  Overflow: |w| ≤ n·scale²·dim — safe
    through ~10⁹ rows at the default scale; shrink ``scale`` past that.
    """
    spark = embeddings.sparkSession
    # the caller's id column, not monotonically_increasing_id(): x feeds TWO
    # join branches, and a synthetic id re-evaluated per branch under AQE /
    # task retry is not guaranteed to agree between them
    x = embeddings.select(
        F.col(id_col).alias("_row"),
        F.posexplode(F.col(vec_col)).alias("dim", "xv"),
    ).select(
        "_row",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("xv").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("x_fp"),
    )
    dim_count = embeddings.select(
        F.size(F.col(vec_col)).alias("d")
    ).limit(1).collect()[0]["d"]
    signs = spark.range(dim_count).select(
        F.col("id").cast("long").alias("dim"),
        F.when(
            F.substring(F.md5(F.concat(F.lit(seed + ":"), F.col("id"))), 1, 1)
            < "8",
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("v0"),
    )
    s = (
        x.join(F.broadcast(signs), "dim")
        .groupBy("_row")
        .agg(F.sum(F.col("x_fp") * F.col("v0")).alias("s"))
    )
    return (
        x.join(s, "_row")
        .groupBy("dim")
        .agg(F.sum(F.col("x_fp") * F.col("s")).cast("long").alias("w_fp"))
        .join(F.broadcast(signs), "dim")
        .select("dim", "v0", "w_fp")
    )


def dominant_eigen(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    n_steps: int = 3,
    x_scale: int = 1 << 10,
    v_scale: int = 1 << 10,
    seed: str = "pi-v1",
) -> DataFrame:
    """Dominant-eigenvector estimate of the corpus Gram matrix XᵀX by
    ``n_steps`` power iterations with EXACT INTEGER renormalization —
    the converged sibling of ``power_iteration_step``: after each
    ``w = Xᵀ(X v)`` matvec pair, the iterate is rescaled to
    ``v' = (w · v_scale) div max|w|`` (integer div against the max
    absolute component), so every iterate is a bounded BIGINT vector and
    the whole trajectory is bit-reproducible on any engine and under any
    partitioning — the same fixed-point discipline as
    ``ivf.kmeans_step`` and ``graph.pagerank_fixed``.

    Returns one row per dimension: ``(dim, v_fp, rq_num, rq_den)`` —
    the final iterate plus the Rayleigh-quotient terms
    ``rq_num = Σᵢ (Σⱼ xᵢⱼ vⱼ)²`` and ``rq_den = Σⱼ vⱼ²`` (identical on
    every row; λ₁ ≈ rq_num / (rq_den · x_scale²) is the consumer
    division).

    Each step is the two dim-bounded shuffles of the single-step
    operator plus a 1-row broadcast max; ``n_steps`` is a literal, so
    the whole loop is a static plan chain with per-step lineage cuts.
    Overflow: |w| ≤ n·dim·x_scale²·v_scale — safe through ~10⁸ rows at
    the defaults; halve the scales past that.
    """
    if n_steps < 1:
        raise ValueError("dominant_eigen: n_steps must be >= 1")
    spark = embeddings.sparkSession
    x = embeddings.select(
        F.col(id_col).alias("_row"),
        F.posexplode(F.col(vec_col)).alias("dim", "xv"),
    ).select(
        "_row",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("xv").cast("double") * F.lit(float(x_scale)))
        .cast("long")
        .alias("x_fp"),
    ).localCheckpoint(eager=False)
    dim_count = embeddings.select(
        F.size(F.col(vec_col)).alias("d")
    ).limit(1).collect()[0]["d"]
    v = spark.range(dim_count).select(
        F.col("id").cast("long").alias("dim"),
        (
            F.when(
                F.substring(
                    F.md5(F.concat(F.lit(seed + ":"), F.col("id"))), 1, 1
                )
                < "8",
                F.lit(1),
            ).otherwise(F.lit(-1))
            * F.lit(int(v_scale))
        )
        .cast("long")
        .alias("v_fp"),
    ).localCheckpoint(eager=False)
    for _ in range(n_steps):
        s = (
            x.join(F.broadcast(v), "dim")
            .groupBy("_row")
            .agg(F.sum(F.col("x_fp") * F.col("v_fp")).alias("s"))
        )
        w = (
            x.join(s, "_row")
            .groupBy("dim")
            .agg(F.sum(F.col("x_fp") * F.col("s")).alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        v = (
            w.crossJoin(F.broadcast(mx))
            .select(
                "dim",
                # Spark `div` and DuckDB `//` both truncate toward zero
                # for integers (verified: -7//2 = -3 on both), so the
                # plain div is engine-equal even for negative w
                F.when(F.col("mx") > 0,
                       F.expr(f"(w * {int(v_scale)}) div mx"))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("v_fp"),
            )
            .localCheckpoint(eager=True)
        )
    sv = (
        x.join(F.broadcast(v), "dim")
        .groupBy("_row")
        .agg(F.sum(F.col("x_fp") * F.col("v_fp")).alias("s"))
    )
    rq = sv.agg(F.sum(F.col("s") * F.col("s")).cast("long").alias("rq_num"))
    vden = v.agg(
        F.sum(F.col("v_fp") * F.col("v_fp")).cast("long").alias("rq_den")
    )
    return (
        v.crossJoin(F.broadcast(rq))
        .crossJoin(F.broadcast(vden))
        .select("dim", "v_fp", "rq_num", "rq_den")
    )


def covariance_diag(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    *,
    scale: int = 1 << 14,
) -> DataFrame:
    """Per-dimension embedding health check: exact integer first and
    second moments of each coordinate — ``(dim, n, s1, s2)`` with
    ``s1 = Σ floor(x·scale)`` and ``s2 = Σ floor(x·scale)²``, so mean,
    variance (``(n·s2 − s1²) / n²``), and the collapsed-dimension flag
    (variance ≈ 0 — the classic embedding-degeneration symptom a
    representation audit looks for first) are consumer divisions over
    BIGINTs.  The full covariance matrix is a dim² extension of the
    same shape; the diagonal answers the health question at dim cost.

    One posexplode + one combine-able per-dim aggregate — a single
    dim-bounded shuffle.
    """
    x = embeddings.select(
        F.posexplode(F.col(vec_col)).alias("dim", "xv")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("xv").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("x_fp"),
    )
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_fp").cast("long").alias("s1"),
        F.sum(F.col("x_fp") * F.col("x_fp")).cast("long").alias("s2"),
    )


def quantization_audit(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    *,
    scale: int = 1 << 14,
    q_max: int = 127,
) -> DataFrame:
    """Symmetric int8 quantization audit — the pre-flight check before
    shipping an ANN index in compressed form: per dimension, quantize
    every coordinate to ``q = (x_fp · q_max) div max_abs`` (per-dim
    absmax scaling, the faiss/PQ-free symmetric scheme; truncating
    integer div — identical on Spark/DuckDB) and report the EXACT
    residual ``err = x_fp · q_max − q · max_abs`` in the scaled space:
    ``(dim, max_abs_fp, n, sum_abs_err, max_abs_err)``.

    Relative error per coordinate is ``err / (q_max · max_abs)`` — one
    consumer division; a dimension whose ``max_abs`` is dominated by
    one outlier shows a large error mass, which is exactly the signal
    to clip before quantizing.  All-BIGINT, bit-reproducible.

    One posexplode + one per-dim max (broadcast back) + one per-dim
    aggregate — two dim-bounded shuffles.
    """
    x = embeddings.select(
        F.posexplode(F.col(vec_col)).alias("dim", "xv")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("xv").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("x_fp"),
    )
    mx = x.groupBy("dim").agg(
        F.max(F.abs(F.col("x_fp"))).cast("long").alias("max_abs_fp")
    )
    j = x.join(F.broadcast(mx), "dim")
    q = F.when(
        F.col("max_abs_fp") > 0,
        F.expr(f"(x_fp * {int(q_max)}) div max_abs_fp"),
    ).otherwise(F.lit(0))
    err = F.abs(
        F.col("x_fp") * F.lit(int(q_max)) - q * F.col("max_abs_fp")
    )
    return (
        j.select("dim", "max_abs_fp", err.alias("e"))
        .groupBy("dim", "max_abs_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("e").cast("long").alias("sum_abs_err"),
            F.max("e").cast("long").alias("max_abs_err"),
        )
    )
