"""IVF fixed-point k-means step."""
import pytest
from pyspark.sql import functions as F

from mopper_spark.textops.ivf import S_CENT, kmeans_step, seed_centroids


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_step_two_clear_clusters(spark):
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.1, 0.2]),      # near seed 0
        (3, [9.9, 10.1]),     # near seed 1
        (4, [0.3, -0.1]),     # near seed 0
    ]
    df = _vecs(spark, rows)
    seeds = seed_centroids(df, k=2)
    assign, cents = kmeans_step(df, seeds)
    a = {r.vec_id: r.cid for r in assign.collect()}
    assert a == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1}
    c = {r.cid: r for r in cents.collect()}
    assert c[0].n_members == 3 and c[1].n_members == 2
    # cluster-0 centroid: mean of (0,0.1,0.3) and (0,0.2,-0.1) in fixed point
    got = [x / (c[0].n_members * S_CENT) for x in c[0].centroid_fp]
    assert abs(got[0] - 0.13333) < 1e-4 and abs(got[1] - 0.03333) < 1e-4
    # a vector equal to its seed has distance 0, counted in inertia
    assert c[0].inertia_fp > 0


def test_kmeans_assignment_partitioning_invariant(spark):
    """Fixed-point sums are associative: repartitioning must not change
    any output bit."""
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4)]) for i in range(60)]
    df = _vecs(spark, rows)
    seeds = seed_centroids(df, k=4)
    _, c1 = kmeans_step(df.repartition(1), seeds)
    _, c2 = kmeans_step(df.repartition(13), seeds)
    r1 = sorted(map(tuple, c1.collect()))
    r2 = sorted(map(tuple, c2.collect()))
    assert r1 == r2


def test_kmeans_broadcast_plan(spark):
    rows = [(i, [float(i), 1.0]) for i in range(50)]
    df = _vecs(spark, rows)
    seeds = seed_centroids(df, k=2)
    assign, _ = kmeans_step(df, seeds)
    plan = assign._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_topk_measured_recall_pinned(spark):
    """IVF is approximate: pin the measured recall vs brute force on the
    sf0.001 fixture at the gate config (K=8, nprobe=3, k=5) so a silent
    routing change shows up here, and document that the strict
    similarity_topk_ivf oracle checks the OPERATOR, not ANN exactness."""
    from mopper_spark.textops.ivf import ivf_topk, seed_centroids
    from mopper_spark.textops.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id < 5")
    cents = seed_centroids(emb, k=8)
    ivf = {(r.query_id, r.vec_id) for r in ivf_topk(emb, qs, cents, k=5, nprobe=3).collect()}
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, recall  # clusterless random fixture; real corpora higher
    # and each query still returns a full k
    from collections import Counter
    per_q = Counter(q for q, _ in ivf)
    assert all(v == 5 for v in per_q.values())


class TestSemanticDedup:
    """semantic_dedup: anchor-rule python replica, cap exclusion,
    partitioning invariance."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        # two tight groups + singletons; ids chosen so anchors are obvious
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),   # ~dup of 0
            (2, [0.0, 1.0, 0.0]),
            (3, [0.01, 0.999, 0.0]),   # ~dup of 2
            (4, [0.0, 0.0, 1.0]),
            (5, [0.7, 0.7, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _py_kept(self, rows, centroids, threshold):
        import math

        def dist_fp(v, c):
            return sum(int(round((a - b) * (a - b) * 1e12)) for a, b in zip(v, c))

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

        assign = {}
        for i, v in rows:
            assign[i] = min(
                ((dist_fp(v, c), cid) for cid, c in centroids), key=lambda t: t
            )[1]
        vec = dict(rows)
        dropped = set()
        for i, _ in rows:
            for j, _ in rows:
                if i < j and assign[i] == assign[j] and cos(vec[i], vec[j]) >= threshold:
                    dropped.add(j)
        return sorted(i for i, _ in rows if i not in dropped)

    def test_matches_python_replica(self, spark, vecs):
        from mopper_spark.textops.ivf import seed_centroids, semantic_dedup

        cents = seed_centroids(vecs, k=3)
        cent_rows = [(r.cid, list(r.cvec)) for r in cents.collect()]
        rows = [(r.vec_id, list(r.embedding)) for r in vecs.collect()]
        got = sorted(
            r.vec_id for r in semantic_dedup(vecs, cents, threshold=0.9).collect()
        )
        assert got == self._py_kept(rows, cent_rows, 0.9)
        # id 1 survives: it IS seed/centroid 1, so it never co-clusters
        # with 0; id 3 co-clusters with its near-dup 2 and is dropped
        assert 3 not in got
        assert {0, 1, 2, 4, 5} == set(got)

    def test_oversized_clusters_excluded_from_pairs(self, spark, vecs):
        from mopper_spark.textops.ivf import seed_centroids, semantic_dedup

        cents = seed_centroids(vecs, k=1)  # everything in one cluster
        kept = semantic_dedup(vecs, cents, threshold=0.9, max_cluster=2)
        assert kept.count() == vecs.count()  # cap: all kept, none compared

    def test_partitioning_invariance(self, spark, vecs):
        from mopper_spark.textops.ivf import seed_centroids, semantic_dedup

        cents = seed_centroids(vecs, k=3)
        a = sorted(r.vec_id for r in semantic_dedup(vecs, cents, 0.9).collect())
        b = sorted(
            r.vec_id
            for r in semantic_dedup(vecs.repartition(5), cents, 0.9).collect()
        )
        assert a == b


class TestKmeansTrain:
    """Full Lloyd loop: integer-inertia fixpoint + deterministic re-seed
    (VERDICT r3 #4)."""

    def _replica(self, rows, k, max_iters=20):
        """Single-threaded python replica of the exact fixed-point loop."""
        import numpy as np

        S_DIST, S_CENTv = 10**12, 10**6
        # the Spark fixture stores array<float>; cast-to-double of float32
        # is what the engine actually computes on
        vecs = {i: [float(np.float32(x)) for x in v] for i, v in rows}
        seeds = sorted(vecs)[:k]
        cents = {ci: vecs[vid][:] for ci, vid in enumerate(seeds)}
        prev = None
        hist = []
        for rnd in range(max_iters):
            assign, reseeded = {}, False
            for vid, v in vecs.items():
                best = min(
                    (sum(int(round((a - b) * (a - b) * S_DIST)) for a, b in zip(v, c)), ci)
                    for ci, c in cents.items()
                )
                assign[vid] = best
            stats = {}
            for vid, (d, ci) in assign.items():
                s = stats.setdefault(ci, {"n": 0, "inertia": 0, "sum": [0] * len(vecs[vid])})
                s["n"] += 1
                s["inertia"] += d
                for p, x in enumerate(vecs[vid]):
                    s["sum"][p] += int(round(x * S_CENTv))
            inertia = sum(s["inertia"] for s in stats.values())
            cents = {
                ci: [sv / (s["n"] * S_CENTv) for sv in s["sum"]]
                for ci, s in stats.items()
            }
            missing = sorted(set(range(k)) - set(stats))
            if missing and stats:
                largest = max(stats, key=lambda ci: (stats[ci]["n"], -ci))
                far = sorted(
                    ((d, vid) for vid, (d, ci) in assign.items() if ci == largest),
                    key=lambda t: (-t[0], t[1]),
                )[: len(missing)]
                for m, (_, vid) in zip(missing, far):
                    cents[m] = vecs[vid][:]
                    reseeded = True
            hist.append({"round": rnd, "inertia_fp": inertia,
                         "n_clusters": len(stats), "reseeded": reseeded})
            if not reseeded and prev is not None and inertia == prev:
                break
            prev = None if reseeded else inertia
        final = {
            ci: (s["n"], s["inertia"], tuple(s["sum"]))
            for ci, s in stats.items()
        }
        return final, hist

    ROWS = [(i, [float((i * 7) % 5), float((i * 3) % 4), float(i % 3)])
            for i in range(80)]

    def test_matches_python_replica(self, spark):
        from mopper_spark.textops.ivf import kmeans_train

        df = _vecs(spark, self.ROWS)
        _, cents, hist = kmeans_train(df, k=4, max_iters=15)
        got = {
            r.cid: (r.n_members, r.inertia_fp, tuple(r.centroid_fp))
            for r in cents.collect()
        }
        want, want_hist = self._replica(self.ROWS, 4, 15)
        assert got == want
        assert hist == want_hist
        assert hist[-1]["inertia_fp"] == hist[-2]["inertia_fp"]  # converged

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.ivf import kmeans_train

        a1, c1, h1 = kmeans_train(_vecs(spark, self.ROWS).repartition(1), k=4)
        a2, c2, h2 = kmeans_train(_vecs(spark, self.ROWS).repartition(13), k=4)
        assert h1 == h2
        assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))
        assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))

    def test_empty_cluster_reseeded_deterministically(self, spark):
        from mopper_spark.textops.ivf import kmeans_train

        # k=3 but seeds 0,1,2 are the three smallest ids; vectors 0 and 1
        # coincide, so one seed's cluster empties after round 1
        rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [10.0, 10.0]),
                (3, [10.1, 10.0]), (4, [20.0, 0.0]), (5, [20.1, 0.1])]
        df = _vecs(spark, rows)
        _, cents, hist = kmeans_train(df, k=3, max_iters=10)
        want, want_hist = self._replica(rows, 3, 10)
        got = {
            r.cid: (r.n_members, r.inertia_fp, tuple(r.centroid_fp))
            for r in cents.collect()
        }
        assert got == want
        assert hist == want_hist
        assert any(h["reseeded"] for h in hist)  # the scenario actually fired
        assert hist[-1]["n_clusters"] == 3       # and training recovered all k

    def test_bad_args_refused(self, spark):
        from mopper_spark.textops.ivf import kmeans_train

        df = _vecs(spark, self.ROWS[:5])
        with pytest.raises(ValueError, match="k must"):
            kmeans_train(df, k=0)
        with pytest.raises(ValueError, match="max_iters"):
            kmeans_train(df, k=2, max_iters=0)

    def test_gate_fixture_runs_full_rounds_no_reseed(self, spark):
        """RECALL_PINS precondition for the ivf_kmeans_train STRICT oracle
        (an unrolled 12-step SQL replay): at the sf0.01 gate fixture the
        training must run ALL 12 rounds with no re-seed and no early
        convergence -- otherwise the engine's rounds/final_inertia_fp
        diverge from the oracle's constants and a gate failure means a
        fixture/round-shape change, not an engine bug."""
        from mopper_spark.textops.ivf import kmeans_train

        vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        _, _, hist = kmeans_train(vecs, k=8, max_iters=12)
        assert len(hist) == 12
        assert not any(h["reseeded"] for h in hist)
        inertias = [h["inertia_fp"] for h in hist]
        # strictly decreasing => no two consecutive rounds were equal,
        # so the fixpoint probe never fired before max_iters
        assert all(a > b for a, b in zip(inertias, inertias[1:]))



class TestScaledK:
    """ivf.scaled_k — the K ∝ n sizing rule for the SemDeDup family
    (r4 VERDICT #3): expected cluster size stays ~target_cluster, so the
    within-cluster pair stage is linear in the corpus."""

    def test_rule_values(self):
        from mopper_spark.textops.ivf import scaled_k

        assert scaled_k(500) == 10          # sf0.01 gate operating point
        assert scaled_k(2000) == 40         # sf0.1 bench operating point
        assert scaled_k(100) == 8           # k_min floor
        assert scaled_k(10**9) == 20_000_000
        # the SQL oracle recomputes greatest(k_min, n // target_cluster)
        for n in (1, 49, 50, 51, 399, 400, 401, 12345):
            assert scaled_k(n) == max(8, n // 50)

    def test_rejects_nonpositive(self):
        import pytest

        from mopper_spark.textops.ivf import scaled_k

        with pytest.raises(ValueError):
            scaled_k(0)
        with pytest.raises(ValueError):
            scaled_k(100, target_cluster=0)

    def test_linear_pair_work(self):
        from mopper_spark.textops.ivf import scaled_k

        # sum(cluster^2) ~ n * target_cluster under the rule: pair work
        # at 10x rows is ~10x, not 100x
        w1 = 10_000**2 / scaled_k(10_000)
        w10 = 100_000**2 / scaled_k(100_000)
        assert w10 / w1 < 12


def test_np_assign_bit_identical(spark):
    """assign_vectors_np must reproduce assign_vectors EXACTLY — same
    (vec_id, cid, dist_fp) for every vector — because the strict SQL
    oracles for the semantic-dedup family replay the JVM fixed-point
    arithmetic.  Integer per-element rounding + int64 sums make the
    distance order-independent, so the two implementations can (and
    must) agree bit-for-bit."""
    from mopper_spark.textops.ivf import (
        assign_vectors,
        assign_vectors_np,
        hash_seed_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = hash_seed_centroids(emb, k=10)
    jvm = {
        (r["vec_id"], r["cid"], r["dist_fp"])
        for r in assign_vectors(emb, cents).collect()
    }
    nps = {
        (r["vec_id"], r["cid"], r["dist_fp"])
        for r in assign_vectors_np(emb, cents).collect()
    }
    assert jvm == nps


def test_np_assign_empty_centroids_raises(spark):
    from mopper_spark.textops.ivf import assign_vectors_np

    emb = spark.createDataFrame([(1, [0.0, 1.0])], "vec_id long, embedding array<float>")
    cents = spark.createDataFrame([], "cid int, cvec array<double>")
    with pytest.raises(ValueError, match="centroid table is empty"):
        assign_vectors_np(emb, cents)


@pytest.mark.parametrize(
    "embedding, what",
    [(None, "embedding is NULL"), ([1.0, 2.0, 3.0], "embedding is of dimension 3")],
    ids=["null", "ragged"],
)
def test_np_assign_bad_embedding_names_vec_id(spark, embedding, what):
    from mopper_spark.textops.ivf import assign_vectors_np

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (7, embedding), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    cents = spark.createDataFrame([(0, [0.0, 0.0])], "cid int, cvec array<double>")
    with pytest.raises(Exception, match=f"vec_id 7: {what}, the centroids have dimension 2"):
        assign_vectors_np(emb, cents).collect()
