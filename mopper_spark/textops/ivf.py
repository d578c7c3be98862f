"""IVF coarse quantizer: one distributed Lloyd (k-means) step, fixed-point.

``lsh_topk`` (similarity.py) is one scale path for ANN; the other standard
one is IVF (inverted-file) search: train K coarse centroids, assign every
corpus vector to its nearest, and at query time scan only the ``nprobe``
nearest clusters.  This module implements the training step — the part
that is a genuine distributed computation over the full corpus.

Everything is EXACT integer (fixed-point) arithmetic after a per-element
rounding, for the same reason as ``pagerank_fixed``: a floating-point sum
over a cluster's members is association-order-dependent, so two runs of
the same job on different partitionings would produce different centroids
in the last ulps — and a single-threaded SQL engine could not serve as a
strict oracle.  Concretely:

- squared-L2 distance = ``Σ_d round((x_d - c_d)² · S_dist)`` summed as
  int64 (each term is rounded from the SAME double both engines compute,
  then integer-summed — associative, partitioning-proof);
- assignment = argmin over ``(dist_fp, cid)`` — integer tuple, total
  order, deterministic tie-break;
- new centroid = per-dimension ``Σ round(x_d · S_cent)`` as int64 plus the
  member count (divide on read for the float centroid).

Scale shape: centroids are tiny (K × dim) and BROADCAST; assignment is a
single narrow pass over the corpus (broadcast nested-loop of K rows per
vector inside one stage) followed by one combine-able min-struct aggregate
keyed by vector id.  The centroid update explodes (cid, pos, value) and
sums — keys are (K × dim) so the reduce side is tiny regardless of corpus
size.  No iteration state lives on the driver beyond the K×dim centroid
table itself.

Bounds: with |x| ≤ X, dist terms ≤ (2X)²·S_dist; dim·(2X)²·S_dist must
stay below 2⁶³ (defaults: dim 64, X ~1, S_dist 1e12 → ~2.6e14 ✓).  The
centroid sum needs n_members·X·S_cent < 2⁶³ (S_cent 1e6 → safe to ~9e12
members per cluster).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

S_DIST = 10**12
S_CENT = 10**6


def scaled_k(n_rows: int, target_cluster: int = 50, k_min: int = 8) -> int:
    """The K ∝ n sizing rule for the IVF/SemDeDup family, as code.

    ``semantic_dedup``'s pair stage costs Σ cluster² ≈ n²/K: a FIXED K
    is quadratic in the corpus (the round-4 sf1 probe measured 36.5×
    wall at 10× rows with K=8), while K = n / target_cluster holds the
    expected cluster size constant so the pair stage is
    Θ(n · target_cluster) — linear (the companion probe measured the
    K=80 re-run at ~linear).  ``k_min`` keeps tiny corpora from
    degenerating to one cluster.

    The rule is deliberately a pure integer function of the row count so
    a SQL oracle can recompute the identical K
    (``greatest(k_min, n // target_cluster)``).
    """
    if n_rows < 1 or target_cluster < 1 or k_min < 1:
        raise ValueError("scaled_k: all arguments must be >= 1")
    return max(k_min, n_rows // target_cluster)


def seed_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic seeds: the vectors with the K smallest ids, numbered
    0..K-1 in id order.  (k-means++ would need a random stream; seeded
    determinism matters more here than seeding quality, and callers can
    pass any centroid table to ``kmeans_step`` instead.)"""
    return (
        vectors.orderBy(id_col)
        .limit(k)
        .withColumn("cid", F.row_number().over(Window.orderBy(id_col)) - 1)
        .select(
            F.col("cid").cast("int"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
        )
    )


def hash_seed_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic SPREAD seeds: the K vectors smallest by
    ``(md5(id), id)``, numbered 0..K-1 in that order.

    ``seed_centroids``' smallest-K-ids rule is fine on an id-shuffled
    corpus but is a coverage hazard at scale: ids usually correlate with
    ingest order (shard, source, time), so a prefix of ids seeds only
    the oldest slice and the rest of the corpus piles into few giant
    clusters — Σ cluster² explodes even with K ∝ n (the r5 sf1 probe
    measured 57.9× wall at 10× rows from exactly this skew; hash-spread
    seeds restore balanced ~target-size clusters).  md5 of the id string
    is a pseudo-random but engine-exact order, so a SQL oracle replays
    the identical seed set (``ORDER BY md5(CAST(id AS VARCHAR)), id``).
    """
    hid = F.md5(F.col(id_col).cast("string"))
    return (
        vectors.orderBy(hid, F.col(id_col))
        .limit(k)
        .withColumn(
            "cid",
            F.row_number().over(
                Window.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            )
            - 1,
        )
        .select(
            F.col("cid").cast("int"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
        )
    )


def _dist_fp_col():
    """Fixed-point squared L2 between array columns ``vec`` and ``cvec``."""
    return F.aggregate(
        F.zip_with(
            "vec",
            "cvec",
            lambda a, b: F.round((a - b) * (a - b) * F.lit(float(S_DIST)), 0).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def assign_vectors(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest centroid per vector: ``(vec_id, cid, dist_fp, vec)``.

    The K-per-vector nested-loop expansion stays SKINNY: the vec array
    is read to compute each distance but only ``(vec_id, cid, dist_fp)``
    survives the projection, so the combine-able ``min(struct)`` argmin
    aggregates 3-field structs — not K copies of a d-dim array per
    vector.  (The previous vec-rides-in-the-struct shape materialized
    n·K array copies through the aggregation buffers: measured 275 s vs
    ~5 s for the identical semantic_dedup answer at n=20k, K=400, d=64.)
    The vec column is re-attached by one n-row join on vec_id.
    """
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    best = (
        v.crossJoin(F.broadcast(centroids))
        .withColumn("dist_fp", _dist_fp_col())
        .select("vec_id", "cid", "dist_fp")
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("dist_fp"), F.col("cid"))).alias("b"))
        .select(
            "vec_id",
            F.col("b.cid").alias("cid"),
            F.col("b.dist_fp").alias("dist_fp"),
        )
    )
    return best.join(v, "vec_id").select("vec_id", "cid", "dist_fp", "vec")


def assign_vectors_np(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``assign_vectors``, Arrow-vectorized — bit-identical output, except
    at half-ulp ties (below).

    The JVM path's n·K·d distance evaluation runs through Catalyst
    higher-order functions (zip_with/aggregate), which are interpreted
    per element, never codegen'd — measured ~275 s for n=20k, K=400,
    d=64 where numpy does the same arithmetic in ~2 s.  This variant
    computes the identical fixed-point distance in numpy inside
    ``mapInPandas``: per element ``floor((a-b)²·S_DIST + 0.5)`` (the
    IEEE-exact spelling of Spark's HALF_UP ``round`` for non-negative
    values, same multiply order) summed as int64 — integer sums are
    order-independent, so the result is exactly ``_dist_fp_col`` and
    the strict SQL oracles hold unchanged (pinned by
    tests/test_ivf.py::test_np_assign_bit_identical).

    Ties go to the smallest cid (ascending-cid scan with strict-less
    update — the same ``min(struct(dist_fp, cid))`` rule).

    Not bit-identical: an element whose scaled square ``t`` lies within
    half an ulp below an ``m + 0.5`` boundary.  ``t + 0.5`` then rounds up
    to ``m + 1`` in double arithmetic, so the floor gives ``m + 1`` where
    Spark's decimal HALF_UP gives ``m`` (``0.49999999999999994`` is the
    smallest case).  Such a term moves a distance by one fixed-point unit.

    Every embedding must be non-NULL with the centroids' dimension; a
    violating row raises ``ValueError`` naming its ``vec_id``.

    Scale bound: the centroid table is collected to the driver and
    closure-broadcast (K·d doubles — ~50 MB at K=100k, d=64; beyond
    that, route hierarchically or shard the centroid blocks).

    Raises ``ValueError`` on an empty centroid table (there is no
    nearest centroid to assign).
    """
    id_type = next(
        f.dataType.simpleString()
        for f in vectors.schema.fields
        if f.name == id_col
    )
    rows = centroids.orderBy("cid").collect()
    if not rows:
        raise ValueError("assign_vectors_np: the centroid table is empty")
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    cmat = np.array([list(r["cvec"]) for r in rows], dtype=np.float64)
    scale = float(S_DIST)

    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dims = pdf["vec"].map(lambda a: -1 if a is None else len(a))
            bad = (dims != cmat.shape[1]).to_numpy()
            if bad.any():
                i = int(np.argmax(bad))
                what = "NULL" if dims.iat[i] < 0 else f"of dimension {dims.iat[i]}"
                raise ValueError(
                    f"assign_vectors_np: vec_id {pdf['vec_id'].iat[i]}: "
                    f"embedding is {what}, the centroids have dimension "
                    f"{cmat.shape[1]}"
                )
            x = np.stack([np.asarray(a, dtype=np.float64) for a in pdf["vec"]])
            best_d = None
            best_c = None
            for k in range(len(cids)):
                diff = x - cmat[k]
                dk = (
                    np.floor(diff * diff * scale + 0.5)
                    .astype(np.int64)
                    .sum(axis=1)
                )
                if best_d is None:
                    best_d, best_c = dk, np.full(len(dk), cids[k])
                else:
                    m = dk < best_d
                    best_d = np.where(m, dk, best_d)
                    best_c = np.where(m, cids[k], best_c)
            pdf = pdf.assign(cid=best_c.astype(np.int32), dist_fp=best_d)
            yield pdf[["vec_id", "cid", "dist_fp", "vec"]]

    return v.mapInPandas(
        assign,
        f"vec_id {id_type}, cid int, dist_fp long, vec array<double>",
    )


def kmeans_step(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """One Lloyd iteration.  Returns ``(assignments, new_centroids)``:

    - assignments: ``(vec_id, cid, dist_fp)`` — nearest centroid per
      vector by fixed-point squared L2, ties to the smallest cid;
    - new_centroids: ``(cid, n_members, inertia_fp, centroid_fp)`` where
      ``centroid_fp[d] / (n_members · S_CENT)`` is the new coordinate and
      ``inertia_fp`` is the cluster's summed fixed-point distance.

    Empty clusters simply drop out of ``new_centroids`` (standard Lloyd
    behaviour; re-seeding policy is the caller's).
    """
    best = assign_vectors(vectors, centroids, id_col=id_col, vec_col=vec_col)
    assignments = best.select("vec_id", "cid", "dist_fp")
    dims = best.select(
        "cid",
        "dist_fp",
        F.posexplode("vec").alias("pos", "x"),
    ).select(
        "cid",
        "dist_fp",
        "pos",
        F.round(F.col("x") * F.lit(float(S_CENT)), 0).cast("long").alias("x_fp"),
    )
    per_dim = dims.groupBy("cid", "pos").agg(F.sum("x_fp").alias("s"))
    new_centroids = (
        per_dim.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: st["s"],
            ).alias("centroid_fp")
        )
        .join(
            best.groupBy("cid").agg(
                F.count(F.lit(1)).cast("long").alias("n_members"),
                F.sum("dist_fp").alias("inertia_fp"),
            ),
            "cid",
        )
        .select("cid", "n_members", "inertia_fp", "centroid_fp")
    )
    return assignments, new_centroids


def kmeans_train(
    vectors: DataFrame,
    k: int,
    *,
    max_iters: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, list[dict]]:
    """Full Lloyd training: iterate :func:`kmeans_step` to the integer
    inertia fixpoint (VERDICT r3 #4).

    Convergence is EXACT: total inertia is an int64 sum of fixed-point
    distances, so "unchanged since last round" is integer equality — no
    epsilon, no float drift, and (like every step) invariant under
    partitioning.  Lloyd's monotonicity makes an equal inertia a true
    fixpoint: the assignment that produced it is stable.

    Empty clusters are re-seeded DETERMINISTICALLY: the m missing cids are
    given the m furthest members (by ``(dist_fp DESC, vec_id ASC)``) of
    the largest surviving cluster (ties to the smallest cid) — the
    standard "split the biggest cluster" policy with a total order.  A
    re-seeded round never tests convergence (its inertia is incomparable).

    Scale shape per round: one :func:`kmeans_step` (broadcast centroids,
    narrow assignment pass, K×dim-keyed reduce) + a K-row ``collect`` for
    the convergence probe and re-seed decision (the centroid table is
    driver-size by construction — it is the broadcast side).  The
    centroid lineage is cut every round (``localCheckpoint``) so deep
    trainings don't accumulate an unexecutable plan; corpus-sized data
    never reaches the driver.

    Returns ``(assignments, centroids_fp, history)``: the final
    assignment table ``(vec_id, cid, dist_fp)``, the final INTEGER
    centroid table ``(cid, n_members, inertia_fp, centroid_fp)`` from the
    converged step, and one history dict per round
    ``{round, inertia_fp, n_clusters, reseeded}``.
    """
    if k < 1:
        raise ValueError(f"kmeans_train: k must be >= 1, got {k}")
    if max_iters < 1:
        raise ValueError(f"kmeans_train: max_iters must be >= 1, got {max_iters}")
    cents = (
        centroids
        if centroids is not None
        else seed_centroids(vectors, k, id_col=id_col, vec_col=vec_col)
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("embedding"),
    ).localCheckpoint(eager=False)
    history: list[dict] = []
    prev_inertia: int | None = None
    assignments = None
    new_c = None
    for rnd in range(max_iters):
        assignments, new_c = kmeans_step(v, cents)
        new_c = new_c.localCheckpoint(eager=True)  # K rows; cuts the lineage
        stats = new_c.select("cid", "n_members", "inertia_fp").collect()
        inertia = sum(r.inertia_fp for r in stats)
        missing = sorted(set(range(k)) - {r.cid for r in stats})
        reseeded = False
        # float centroids for the next round: per-element int/int division,
        # association-free, so partitioning-proof like everything else
        cents = new_c.select(
            "cid",
            F.transform(
                "centroid_fp",
                lambda s: s / (F.col("n_members") * F.lit(S_CENT)),
            ).alias("cvec"),
        )
        if missing and stats:
            largest = max(stats, key=lambda r: (r.n_members, -r.cid)).cid
            # top-m furthest members: orderBy().limit(m) plans as
            # TakeOrderedAndProject (per-partition top-m + an m-row driver
            # merge) — NOT a global sort; a Window here would funnel the
            # largest cluster through one reducer
            far = (
                assignments.filter(F.col("cid") == largest)
                .select("vec_id", "dist_fp")
                .orderBy(F.desc("dist_fp"), F.asc("vec_id"))
                .limit(len(missing))
                .collect()
            )
            if far:
                cid_of = {
                    r.vec_id: missing[i] for i, r in enumerate(far)
                }  # collect() after orderBy().limit() preserves the order
                mexpr = F.create_map(
                    *[
                        x
                        for vid, cid in cid_of.items()
                        for x in (F.lit(vid), F.lit(cid))
                    ]
                )
                reseed = v.filter(
                    F.col("vec_id").isin(list(cid_of))
                ).select(
                    mexpr[F.col("vec_id")].cast("int").alias("cid"),
                    F.col("embedding").alias("cvec"),
                )
                cents = cents.unionByName(reseed)
                reseeded = True
        cents = cents.localCheckpoint(eager=True)
        history.append(
            {
                "round": rnd,
                "inertia_fp": int(inertia),
                "n_clusters": len(stats),
                "reseeded": reseeded,
            }
        )
        if not reseeded and prev_inertia is not None and inertia == prev_inertia:
            break
        prev_inertia = None if reseeded else int(inertia)
    return assignments, new_c, history


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Index side: every corpus vector is assigned to its nearest centroid
    (``assign_vectors`` — one narrow broadcast pass; at scale this table
    is materialized once and bucketed by ``cid``).  Query side: each query
    probes its ``nprobe`` nearest centroids and exact-scores ONLY the
    vectors in those clusters — the candidate set is ~``nprobe/K`` of the
    corpus, which is the IVF speedup (Jégou et al., TPAMI'11; the
    FAISS IndexIVFFlat design).

    Every routing decision is fixed-point integer (dist_fp, cid) — so the
    *operator* is deterministic and strictly oracle-able even though the
    RESULT is approximate vs exact top-k; recall against brute force is a
    property of the data/config, measured and pinned in tests, not assumed.

    Returns ``(query_id, vec_id, cosine, rank)``, rank 1..k per query by
    (unrounded cosine DESC, vec_id ASC) over the candidate set;
    self-matches excluded.
    """
    from pyspark.sql import Window

    from mopper_spark.textops.similarity import cosine_native

    corpus_assign = assign_vectors(corpus, centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    q_probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("dist_fp", _dist_fp_col())
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_fp", "cid")
            ),
        )
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "cid", F.col("vec").alias("qvec"))
    )
    cands = q_probes.join(
        corpus_assign.select("cid", "vec_id", "vec"), on="cid"
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        "vec_id",
        cosine_native(F.col("qvec"), F.col("vec")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos", 5).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster with the coarse quantizer, compare pairs
    ONLY within a cluster, drop near-duplicates.

    The published method keeps one representative per similarity group
    inside each cluster; the deterministic rule here is the ANCHOR rule:
    drop ``j`` iff some ``i < j`` in the same cluster has
    ``cosine(i, j) >= threshold``.  Like the rest of this repo's dedup
    family the kept set is then a pure function of the data (engine- and
    partitioning-independent), which is what makes the operator strictly
    SQL-oracle-able.  (The anchor rule differs from connected-components
    transitivity on chains a~b~c where a~c fails the threshold — both are
    defensible reading of "keep one"; CC semantics are available by
    feeding the pair table to ``pipeline/cc.py`` instead.)

    Scale shape: one numpy-vectorized assignment pass
    (``assign_vectors_np`` — bit-identical to ``assign_vectors`` but the
    n·K·d distance arithmetic runs in Arrow batches instead of
    interpreted Catalyst higher-order functions), then the pairwise
    stage is confined to clusters — the SemDeDup trick that replaces
    the corpus-quadratic comparison with K small quadratics.  Clusters
    larger than ``max_cluster`` are EXCLUDED from pair generation
    (their members are all kept) — same documented
    cap-over-silent-quadratic trade as the LSH dedup buckets; size K so
    corpus/K stays under the cap (``scaled_k``), and seed with
    ``hash_seed_centroids`` so cluster sizes stay near corpus/K.

    Returns the KEPT rows of ``vectors`` (original schema).
    """
    assign = assign_vectors_np(vectors, centroids, id_col, vec_col)
    sizes = assign.groupBy("cid").count().filter(F.col("count") <= max_cluster)
    member = assign.join(sizes.select("cid"), "cid").select("cid", "vec_id", "vec")
    a = member.select(
        F.col("cid"),
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
    )
    b = member.select(
        F.col("cid"),
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
    )
    from mopper_spark.textops.similarity import cosine_native

    drops = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_native(F.col("vec_a"), F.col("vec_b")) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return vectors.join(drops, id_col, "left_anti")
