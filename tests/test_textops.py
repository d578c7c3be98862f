"""Textops tests: dedup (exact/minhash/simhash/embedding), similarity
search, analysis functions, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mopper_spark.textops.analysis import analyze
from mopper_spark.textops.dedup import (
    dedup_keep_min,
    exact_dedup,
    embedding_near_dup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from mopper_spark.textops.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media,
)
from mopper_spark.textops.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "speedy")),  # near dup of 0
        (3, "completely different text about spark query engines and joins"),
        (4, "THE  QUICK brown fox jumps over the lazy dog and runs far away today"),  # case/ws dup
        (5, "short one"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_cosine_pairs(df, threshold: float) -> set:
    """Every ``(id_a < id_b)`` pair of ``df``'s ``(vec_id, embedding)`` rows
    with ``cosine_native(a, b) >= threshold``, computed all-pairs in numpy.

    It replays ``cosine_native``'s arithmetic step for step in float64
    (products summed left to right from 0.0, ``sqrt`` of the left-to-right
    sums of squares, 0.0 when a norm is 0), so each cosine is bit-identical
    to the Spark expression's; only the O(n²) pair loop leaves the JVM.
    """
    pdf = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).toPandas()
    ids = pdf["vec_id"].to_numpy()
    v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    dot = np.zeros((len(ids), len(ids)))
    sq = np.zeros(len(ids))
    for k in range(v.shape[1]):
        dot = dot + v[:, k][:, None] * v[:, k][None, :]
        sq = sq + v[:, k] * v[:, k]
    norm = np.sqrt(sq)
    nz = (norm[:, None] > 0) & (norm[None, :] > 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(nz, dot / (norm[:, None] * norm[None, :]), 0.0)
    ia, ib = np.nonzero((cos >= threshold) & (ids[:, None] < ids[None, :]))
    return {(int(ids[a]), int(ids[b])) for a, b in zip(ia, ib)}


class TestDedup:
    def test_exact(self, docs):
        out = exact_dedup(docs).collect()
        clusters = {r.doc_id: r.dup_count for r in out}
        assert clusters[0] == 3  # 0, 1, 4 normalize identically
        assert clusters[2] == 1 and clusters[3] == 1 and clusters[5] == 1

    def test_minhash_near_dup(self, docs):
        pairs = {
            (r.id_a, r.id_b)
            for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
        }
        assert (0, 1) in pairs
        assert (0, 2) in pairs  # one-word change → high shingle jaccard
        assert not any(3 in p for p in pairs)

    def test_ngram_jaccard_exact_values(self, docs):
        rows = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
        }
        # identical docs → jaccard exactly 1.0 on distinct 3-gram sets
        assert rows[(0, 1)] == 1.0
        # one word changed mid-way: 14 tokens → 12 trigrams, 3 differ
        assert 0.5 < rows[(0, 2)] < 1.0
        assert not any(3 in p for p in rows)

    def test_ngram_jaccard_short_docs_whole_text_shingle(self, spark):
        df = spark.createDataFrame(
            [(0, "short one"), (1, "short one"), (2, "short two")],
            "doc_id long, text string",
        )
        rows = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
        }
        assert rows == {(0, 1): 1.0}

    def test_simhash_near_dup(self, spark):
        # simhash needs enough features for a small edit to stay within a
        # few bits: use paragraph-sized docs with one word changed
        para = (
            "the quick brown fox jumps over the lazy dog and runs far away "
            "while the river flows past the old stone bridge near the mill "
        ) * 5
        rows = [
            (0, para),
            (1, para),
            (2, para.replace("river", "stream", 1)),
            (3, "an entirely different document about distributed query engines"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r.id_a, r.id_b)
            for r in simhash_near_dup_pairs(df, max_hamming=6).collect()
        }
        assert (0, 1) in pairs
        assert (0, 2) in pairs
        assert not any(3 in p for p in pairs)

    def test_dedup_keep_min(self, docs):
        pairs = minhash_near_dup_pairs(docs, threshold=0.5)
        kept = sorted(r.doc_id for r in dedup_keep_min(docs, pairs).collect())
        assert 0 in kept and 1 not in kept and 2 not in kept
        assert 3 in kept and 5 in kept

    def test_embedding_near_dup(self, spark):
        rng = np.random.default_rng(3)
        base = rng.standard_normal(64)
        rows = [
            (0, (base / np.linalg.norm(base)).tolist()),
            (1, ((base + 0.01 * rng.standard_normal(64)) / np.linalg.norm(base)).tolist()),
            (2, rng.standard_normal(64).tolist()),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = embedding_near_dup_pairs(df, threshold=0.95).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


class TestDedupScaleGuards:
    """Hot-bucket caps + banding recall: the properties that keep the LSH
    dedup family correct at the gate AND non-quadratic at corpus scale."""

    def test_minhash_banding_recall_is_total(self, spark):
        """The dedup_minhash oracle is exact-Jaccard SQL, which is only an
        equality oracle if banding recall is 1.0 on the fixture.  Pin that:
        every exact word-3-shingle-Jaccard ≥ 0.5 pair (computed by the
        independent native inverted-index path) must be found by the
        banded-LSH path."""
        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
        }
        assert exact == lsh

    def test_oph_banding_recall_is_total(self, spark):
        """Same pinning for dedup_minhash_oph: the one-permutation-hashing
        signature path (densified bins, one hash pass) must also find
        every exact word-3-shingle-Jaccard ≥ 0.5 pair on the gate
        fixture, or the shared exact-Jaccard SQL is not an equality
        oracle for it."""
        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
        }
        oph = {
            (r.id_a, r.id_b)
            for r in minhash_near_dup_pairs(
                docs, threshold=0.5, scheme="oph"
            ).collect()
        }
        assert exact == oph

    def test_embedding_banding_recall_is_total(self, spark):
        """Same pinning for dedup_embedding: banded hyperplane LSH at the
        gate parameters (2 planes × 24 bands, threshold 0.4) must find every
        exact-cosine pair."""
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        exact = _exact_cosine_pairs(emb, 0.4)
        lsh = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_pairs(
                emb, threshold=0.4, n_planes=2, n_bands=24
            ).collect()
        }
        assert exact == lsh

    def test_embedding_planned_band_recall_total(self, spark):
        """ORACLE PRECONDITION for the dedup_embedding_planned gate query:
        the lsh_band_plan(n, 0.4, target_recall=0.999) geometry must find
        every exact-cosine pair on BOTH the sf0.01 gate fixture (plans
        r=1, B=7) and the sf0.1 bench fixture (plans r=2, B=14) — the
        planned path is the scale default, so its recall contract is
        pinned at both operating points."""
        from mopper_spark.textops.similarity import lsh_band_plan

        for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            emb = spark.read.parquet(f"{sf}/embeddings.parquet")
            r, bands = lsh_band_plan(emb.count(), 0.4, target_recall=0.999)
            exact = _exact_cosine_pairs(emb, 0.4)
            lsh = {
                (x.id_a, x.id_b)
                for x in embedding_near_dup_pairs(
                    emb, threshold=0.4, n_planes=r, n_bands=bands
                ).collect()
            }
            assert exact == lsh, sf

    def test_embedding_deep_band_recall_total(self, spark):
        """ORACLE PRECONDITION for the dedup_embedding_deep gate query
        (__spark_entry__.py): at the production config (threshold 0.9,
        8 planes × 8 bands) over the perturbed-dupe corpus, banded LSH
        must find every exact-cosine pair.  If this test is skipped or the
        corpus construction changes, a dedup_embedding_deep gate failure
        means a RECALL GAP, not an engine bug — re-validate here first."""
        import __spark_entry__ as entry_mod
        corpus = entry_mod._dedup_deep_corpus(spark, "/root/testdata/sf0.001")
        exact = _exact_cosine_pairs(corpus, 0.9)
        lsh = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup_pairs(
                corpus, threshold=0.9, n_planes=8, n_bands=8
            ).collect()
        }
        assert exact == lsh
        # every 4th vector got a dupe; all must be recovered
        assert len(exact) == 125

    def test_ngram_hot_shingle_cap_stays_linear(self, spark):
        """One stop-phrase trigram shared by EVERY doc must not go
        quadratic: with the df cap binding, docs that share nothing else
        produce zero candidate pairs (uncapped this corpus would emit
        n(n-1)/2 ≈ 45k pairs through a single 300-doc bucket)."""
        n = 300
        rows = [(i, f"common stop phrase unique{i} tail{i} word{i}") for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_df=10).collect()
        assert out == []

    def test_ngram_cap_keeps_jaccard_exact(self, spark):
        """Docs sharing a hot shingle AND discriminative shingles: the
        capped run must return the SAME jaccard values as the uncapped run
        (the hot-set correction restores the full intersection count)."""
        hot = "the shared stop phrase appears everywhere"
        rows = [(i, f"{hot} filler{i} padding{i}") for i in range(40)]
        # two docs with real overlap beyond the hot phrase
        rows += [
            (100, hot + " alpha beta gamma delta epsilon zeta"),
            (101, hot + " alpha beta gamma delta epsilon eta"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, n=3, threshold=0.3, max_df=5).collect()
        }
        uncapped = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, n=3, threshold=0.3, max_df=10**6).collect()
        }
        assert (100, 101) in capped
        assert capped[(100, 101)] == uncapped[(100, 101)]

    def test_simhash_signature_matches_duckdb(self, spark):
        """The dedup_simhash oracle recomputes signatures in SQL; pin the
        cross-engine agreement (md5_number_lower == little-endian lower 8
        bytes of md5, bit votes, sign fold, int64 two's complement) on the
        gate corpus including short/empty-ish docs."""
        import duckdb

        from mopper_spark.textops.dedup import make_simhash_udf

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        spark_sigs = {
            r.id: r.sim
            for r in docs.select(
                F.col("doc_id").alias("id"),
                make_simhash_udf()(F.col("text")).alias("sim"),
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "'/root/testdata/sf0.01/documents.parquet'"
        )
        sql_sigs = dict(
            con.execute(
                r"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
  FROM documents
), grams AS (
  SELECT id, unnest(CASE WHEN len(tk) >= 2
      THEN [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]
      ELSE tk END) AS g
  FROM toks
), bits AS (
  SELECT id, b.b AS b,
         SUM(CASE WHEN (md5_number_lower(g) >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM grams CROSS JOIN (SELECT unnest(range(64)) AS b) b
  GROUP BY id, b.b
), usig AS (
  SELECT id, SUM(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << b AS HUGEINT) ELSE 0::HUGEINT END) AS u
  FROM bits GROUP BY id
)
SELECT t.id,
       COALESCE(CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                      THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT), 0)
FROM toks t LEFT JOIN usig s ON s.id = t.id
"""
            ).fetchall()
        )
        assert spark_sigs == sql_sigs

    def test_simhash_bucket_cap(self, spark):
        """All-identical docs collapse every band to one bucket; the cap
        must drop those degenerate buckets instead of emitting n² pairs."""
        df = spark.createDataFrame(
            [(i, "identical text body for the skew stress") for i in range(50)],
            "doc_id long, text string",
        )
        capped = simhash_near_dup_pairs(df, max_hamming=3, max_bucket=10).collect()
        assert capped == []
        full = simhash_near_dup_pairs(df, max_hamming=3, max_bucket=100).collect()
        assert len(full) == 50 * 49 // 2

    def test_embedding_bucket_cap(self, spark):
        df = spark.createDataFrame(
            [(i, [1.0] * 8 + [0.0] * 56) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        capped = embedding_near_dup_pairs(
            df, threshold=0.9, n_planes=4, max_bucket=10
        ).collect()
        assert capped == []
        full = embedding_near_dup_pairs(
            df, threshold=0.9, n_planes=4, max_bucket=100
        ).collect()
        assert len(full) == 40 * 39 // 2

    def test_incremental_band_recall_is_total(self, spark):
        """The dedup_incremental_shard oracle is exact all-pairs Jaccard
        SQL, an equality oracle only if the CROSS-SIDE band probe finds
        every fresh×corpus pair with exact Jaccard ≥ 0.5 on the gate
        fixture (including the re-idded exact copies the query injects).
        Pin it: exact pairs via the independent string-shingle inverted
        index, candidates via the band join."""
        from mopper_spark.textops.dedup import incremental_band_candidates

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        corpus = docs.filter("doc_id % 5 <> 4").select("doc_id", "text")
        copies = docs.filter("doc_id IN (0, 5, 10)").select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
        fresh = docs.filter("doc_id % 5 = 4").select("doc_id", "text").unionByName(copies)
        fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
        exact_cross = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(
                corpus.unionByName(fresh), n=3, threshold=0.5
            ).collect()
            if (r.id_a in fresh_ids) != (r.id_b in fresh_ids)
        }
        cands = {
            tuple(sorted((r.doc_id, r.corpus_id)))
            for r in incremental_band_candidates(corpus, fresh).collect()
        }
        assert exact_cross <= cands, sorted(exact_cross - cands)[:5]
        assert exact_cross, "fixture lost its cross-side near-dup pairs"


class TestIncrementalShardDedup:
    def test_verdicts_python_replica(self, spark):
        """All three verdicts on a synthetic corpus: exact copy, paraphrase
        (high-Jaccard), unrelated — plus tie-break to the smallest corpus
        id when two corpus docs match equally well."""
        from mopper_spark.textops.dedup import incremental_shard_dedup

        base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
        corpus = spark.createDataFrame(
            [
                (0, base),
                (1, base),  # same text as 0: exact match must pick MIN id 0
                (2, "one two three four five six seven eight nine ten"),
                (3, "totally different words in this corpus document here"),
            ],
            "doc_id long, text string",
        )
        fresh = spark.createDataFrame(
            [
                (100, base),  # exact dup (of 0, not 1)
                (101, base + " kilo"),  # near dup of 0 and 1: tie → 0
                (102, "unrelated new content nothing shared with anything"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.verdict, r.match_id, r.best_jaccard)
            for r in incremental_shard_dedup(corpus, fresh, threshold=0.5).collect()
        }
        assert out[100] == ("exact_dup", 0, None)
        assert out[101][0] == "near_dup" and out[101][1] == 0
        # 10-token base: 8 shingles; +1 token: 9 shingles, 8 shared → 8/9
        assert out[101][2] == pytest.approx(round(8 / 9, 5))
        assert out[102] == ("new", None, None)

    def test_fresh_vs_fresh_not_paired(self, spark):
        """Two identical fresh docs with no corpus match are both 'new' —
        within-shard dedup is deliberately out of scope."""
        from mopper_spark.textops.dedup import incremental_shard_dedup

        corpus = spark.createDataFrame(
            [(0, "corpus words only here")], "doc_id long, text string"
        )
        dup = "identical fresh shard text repeated twice exactly"
        fresh = spark.createDataFrame(
            [(10, dup), (11, dup)], "doc_id long, text string"
        )
        out = {r.doc_id: r.verdict for r in incremental_shard_dedup(corpus, fresh).collect()}
        assert out == {10: "new", 11: "new"}


class TestOverlapPairs:
    def test_containment_detected_where_jaccard_misses(self, spark):
        """A 25-token excerpt of a 100-token doc: overlap coefficient 1.0
        (its shingles are a subset), Jaccard ≈ 23/98 — below any dedup
        threshold.  The asymmetric measure is the point of the operator."""
        from mopper_spark.textops.dedup import ngram_jaccard_pairs, ngram_overlap_pairs

        words = [f"w{i}" for i in range(100)]
        df = spark.createDataFrame(
            [(0, " ".join(words)), (1, " ".join(words[:25]))],
            "doc_id long, text string",
        )
        ov = ngram_overlap_pairs(df, threshold=0.9).collect()
        assert len(ov) == 1
        r = ov[0]
        assert (r.id_a, r.id_b, r.overlap) == (0, 1, 1.0)
        assert (r.n_a, r.n_b) == (98, 23)
        assert ngram_jaccard_pairs(df, threshold=0.5).collect() == []

    def test_hot_shingle_cap_keeps_overlap_exact(self, spark):
        """Same exactness-correction contract as the Jaccard variant: a
        corpus-wide hot shingle above max_df still counts toward the
        intersection of every candidate pair."""
        from mopper_spark.textops.dedup import ngram_overlap_pairs

        hot = "common shared phrase"
        rows = [(i, f"{hot} unique{i} tail{i} extra{i}") for i in range(30)]
        rows.append((100, f"{hot} unique1 tail1 extra1"))  # contains doc 1's set
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = ngram_overlap_pairs(df, threshold=0.99, max_df=5).collect()
        uncapped = ngram_overlap_pairs(df, threshold=0.99, max_df=10_000).collect()
        assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
        assert {(r.id_a, r.id_b) for r in capped} == {(1, 100)}


class TestLshBandPlan:
    """lsh_band_plan — the depth-grows-with-log(n) scale discipline as code
    (round-4 probe: fixed-depth gate config hit 117.9x wall at 10x rows)."""

    def test_pinned_plans(self):
        from mopper_spark.textops.similarity import lsh_band_plan

        # threshold 0.9 (p = 1 - acos(.9)/pi ~= 0.8564): depth tracks
        # ceil(log2(n/512)), width tracks the analytic 0.99-recall bound
        assert lsh_band_plan(2500, 0.9) == (3, 5)
        assert lsh_band_plan(25000, 0.9) == (6, 10)
        assert lsh_band_plan(75000, 0.9) == (8, 14)
        assert lsh_band_plan(600000, 0.9) == (11, 23)
        # n below target_bucket: one plane, recall from width alone
        assert lsh_band_plan(625, 0.9) == (1, 3)
        # threshold 1.0: every band collides, one band suffices
        assert lsh_band_plan(10_000, 1.0) == (5, 1)

    def test_recall_bound_holds(self):
        import math

        from mopper_spark.textops.similarity import lsh_band_plan

        for n, t in [(2500, 0.9), (25000, 0.9), (1_000_000, 0.95)]:
            r, b = lsh_band_plan(n, t)
            p = 1 - math.acos(t) / math.pi
            assert 1 - (1 - p**r) ** b >= 0.99
            # and B is minimal: one fewer band breaks the bound
            if b > 1:
                assert 1 - (1 - p**r) ** (b - 1) < 0.99

    def test_infeasible_point_refused(self):
        from mopper_spark.textops.similarity import lsh_band_plan

        # the gate fixture's operating point (cosine 0.4, large n) needs
        # 100+ bands — refused with the IVF alternative named
        with pytest.raises(ValueError, match="IVF/SemDeDup"):
            lsh_band_plan(60000, 0.4)
        with pytest.raises(ValueError, match="threshold"):
            lsh_band_plan(1000, 1.5)

    def test_planned_recall_measured_total(self, spark):
        """Measured recall 1.0 with PLANNED params on the deep-dupe corpus
        (the analytic bound is at the threshold; injected dupes sit above
        it, so every exact pair must survive banding)."""
        import __spark_entry__ as entry_mod
        from mopper_spark.textops.similarity import cosine_native, lsh_band_plan

        corpus = entry_mod._dedup_deep_corpus(spark, "/root/testdata/sf0.001")
        n = corpus.count()
        r, b = lsh_band_plan(n, 0.9)
        t = corpus.select("vec_id", F.col("embedding").alias("v"))
        x, y = t.alias("a"), t.alias("b")
        exact = {
            (row.id_a, row.id_b)
            for row in x.join(y, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cosine_native(F.col("a.v"), F.col("b.v")).alias("c"),
            )
            .filter(F.col("c") >= 0.9)
            .collect()
        }
        lsh = {
            (row.id_a, row.id_b)
            for row in embedding_near_dup_pairs(
                corpus, threshold=0.9, n_planes=r, n_bands=b
            ).collect()
        }
        assert exact == lsh and len(exact) == 125


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_brute_force_topk(self, emb):
        out = brute_force_topk(emb, emb.filter("vec_id < 3"), k=4)
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        assert set(by_q) == {0, 1, 2}
        for q, rs in by_q.items():
            assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4]
            cos = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
            assert cos == sorted(cos, reverse=True)
            assert all(r.vec_id != q for r in rs)

    def test_lsh_recall_vs_exact(self, emb):
        exact = brute_force_topk(emb, emb.filter("vec_id < 10"), k=3)
        approx = lsh_topk(emb, emb.filter("vec_id < 10"), k=3, n_planes=4)
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.5  # multi-probe (radius 1), 4 planes, 1 band
        assert all(q != v for q, v in a)

    def test_banded_lsh_topk_exact_at_gate_config(self, spark):
        """The similarity_topk_lsh oracle is the brute-force SQL, valid
        only because banded probing covers every exact top-5 row at the
        gate config (3 planes × 12 bands, flip probes) on sf0.01 — pin
        the full (query, rank) → (doc, cosine) agreement."""
        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = emb.filter("vec_id < 5")
        exact = {
            (r.query_id, r.rank): (r.vec_id, round(r.cosine, 5))
            for r in brute_force_topk(emb, q, k=5).collect()
        }
        banded = {
            (r.query_id, r.rank): (r.vec_id, round(r.cosine, 5))
            for r in lsh_topk(emb, q, k=5, n_planes=3, n_bands=12).collect()
        }
        assert banded == exact


class TestAnalysis:
    def test_analyze_columns(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog sat on a mat in the sun, it is warm."),
                (2, "el perro y el gato en la casa con los amigos"),
                (3, "???!!!"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in analyze(df).collect()}
        assert out[1].lang_pred == "en"
        assert out[2].lang_pred == "es"
        assert out[3].lang_pred == "und"
        assert out[1].n_tokens == 15
        assert out[4].n_tokens == 0 and out[4].quality == 0.0
        assert 0 < out[1].stopword_ratio < 1
        assert out[3].punct_ratio == 1.0
        # fingerprint ignores case/whitespace
        df2 = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world")], "doc_id long, text string"
        )
        fps = [r.fingerprint for r in analyze(df2).collect()]
        assert fps[0] == fps[1]


class TestMultimodal:
    def test_feature_extraction_fake(self, spark):
        media = synth_media(spark, n=16)
        feats = extract_features(media, feature_dim=8, deterministic_fake=True)
        rows = feats.collect()
        assert len(rows) == 16
        assert all(len(r.features) == 8 for r in rows)
        assert all(r.n_bytes > 0 for r in rows)
        # deterministic across runs
        again = extract_features(synth_media(spark, n=16), 8, True).collect()
        assert {r.media_id: tuple(r.features) for r in rows} == {
            r.media_id: tuple(r.features) for r in again
        }

    def test_decode_stub_raises(self, spark):
        media = synth_media(spark, n=2)
        with pytest.raises(Exception, match="NotImplementedError|decode"):
            extract_features(media, deterministic_fake=False).collect()

    def test_wav_decode_real_kernel(self, spark):
        """The audio/wav path decodes REAL RIFF bytes (stdlib wave):
        header fields round-trip and the PCM16 analysis is sane for a
        sine wave (nonzero RMS, zcr ≈ 2·freq/rate)."""
        from mopper_spark.textops.multimodal import (
            extract_wav_features,
            synth_wav_media,
            synth_wav_payload,
        )

        rows = {
            r.media_id: r
            for r in extract_wav_features(synth_wav_media(spark, n=8)).collect()
        }
        assert len(rows) == 8
        for media_id, r in rows.items():
            assert r.sample_rate == 8000 and r.n_channels == 1
            assert r.n_frames == 160 + (media_id * 13) % 240
            assert 0.2 < r.rms < 0.3  # sine: rms = (12000/32768)/√2 ≈ 0.259
            freq = 200 + (media_id * 37 + 7) % 600
            assert abs(r.zcr - 2 * freq / 8000) < 0.02
        # payload is a genuine WAV container
        assert synth_wav_payload(0)[:4] == b"RIFF"

    def test_wav_decode_malformed_fails_loud(self, spark):
        from mopper_spark.textops.multimodal import extract_wav_features

        bad = synth_media(spark, n=2).filter("mime = 'audio/wav'")
        with pytest.raises(Exception, match="Error|wave|RIFF|file"):
            extract_wav_features(bad).collect()

    def test_png_decode_round_trips_all_filters(self):
        """decode_png must invert every scanline filter the synth encoder
        emits (cycling 0..4 per row) and reassemble split IDAT chunks:
        decoded pixels == the closed-form synth_png_pixel values."""
        from mopper_spark.textops.multimodal import (
            decode_png,
            synth_png_payload,
            synth_png_pixel,
        )

        for media_id in (0, 1, 2, 3, 6):  # gray+RGB, incl. split-IDAT ids
            payload = synth_png_payload(media_id)
            assert payload[:8] == b"\x89PNG\r\n\x1a\n"
            w, h, depth, ctype, px = decode_png(payload)
            channels = 3 if ctype == 2 else 1
            assert (w, h, depth) == (8 + (media_id * 5) % 24,
                                     8 + (media_id * 3) % 16, 8)
            expected = bytes(
                synth_png_pixel(media_id, x, y, c)
                for y in range(h)
                for x in range(w)
                for c in range(channels)
            )
            assert px == expected

    def test_png_decode_kernel_end_to_end(self, spark):
        from mopper_spark.textops.multimodal import (
            extract_png_features,
            synth_png_media,
        )

        rows = {
            r.media_id: r
            for r in extract_png_features(synth_png_media(spark, n=6)).collect()
        }
        assert len(rows) == 6
        for media_id, r in rows.items():
            assert r.color_type == (2 if media_id % 2 else 0)
            assert r.bit_depth == 8
            assert 0.0 <= r.mean_px <= 255.0

    def test_png_decode_refusals_and_corruption(self):
        import struct
        import zlib as _zlib

        from mopper_spark.textops.multimodal import (
            _png_chunk,
            decode_png,
            synth_png_payload,
        )

        with pytest.raises(ValueError, match="signature"):
            decode_png(b"not a png at all")
        # interlaced image: named refusal
        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
        interlaced = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _zlib.compress(b"\x00" * 20))
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match="non-interlaced"):
            decode_png(interlaced)
        # flipped payload byte: CRC check fails loud
        good = bytearray(synth_png_payload(1))
        good[40] ^= 0xFF
        with pytest.raises(ValueError, match="CRC|IDAT|invalid|error"):
            decode_png(bytes(good))

    def test_frame_sample_plan(self, spark):
        media = synth_media(spark, n=4)
        plan = frame_sample_plan(media, every_n=1)
        counts = {r.media_id: r["count"] for r in plan.groupBy("media_id").count().collect()}
        assert all(c >= 1 for c in counts.values())


class TestSampling:
    def test_split_proportions_and_determinism(self, spark):
        from mopper_spark.textops.sampling import hash_split

        keys = spark.range(0, 20000).withColumnRenamed("id", "k")
        s1 = hash_split(keys, key="k")
        counts = {r.split: r.n for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert abs(counts["train"] / 20000 - 0.8) < 0.02
        assert abs(counts["val"] / 20000 - 0.1) < 0.01
        assert abs(counts["test"] / 20000 - 0.1) < 0.01
        # pure function of (seed, key): a second evaluation is identical
        s2 = hash_split(keys, key="k")
        assert s1.exceptAll(s2).isEmpty()
        # a different seed reassigns a nontrivial fraction
        s3 = hash_split(keys, key="k", seed="split-v2")
        moved = (
            s1.alias("a")
            .join(s3.alias("b"), F.col("a.k") == F.col("b.k"))
            .filter(F.col("a.split") != F.col("b.split"))
            .count()
        )
        assert moved > 3000

    def test_split_is_stable_under_corpus_growth(self, spark):
        """A key's split never changes when more keys are added — the
        property rand()-based splitting lacks."""
        from mopper_spark.textops.sampling import hash_split

        small = hash_split(spark.range(0, 100).withColumnRenamed("id", "k"), key="k")
        big = hash_split(spark.range(0, 10000).withColumnRenamed("id", "k"), key="k")
        joined = (
            small.alias("s")
            .join(big.alias("b"), F.col("s.k") == F.col("b.k"))
            .filter(F.col("s.split") != F.col("b.split"))
        )
        assert joined.isEmpty()

    def test_nested_samples_compose(self, spark):
        from mopper_spark.textops.sampling import deterministic_sample

        keys = spark.range(0, 20000).withColumnRenamed("id", "k")
        one = {r.k for r in deterministic_sample(keys, "k", 0.01).collect()}
        ten = {r.k for r in deterministic_sample(keys, "k", 0.10).collect()}
        assert one <= ten
        assert abs(len(ten) / 20000 - 0.10) < 0.01 and len(one) > 100

    def test_bucket_matches_duckdb_arithmetic(self, spark):
        """The portable contract: DuckDB's strpos-based hex parse of the
        same md5 prefix reproduces hash_bucket bit-for-bit."""
        import duckdb

        from mopper_spark.textops.sampling import hash_bucket

        keys = spark.range(0, 500).withColumnRenamed("id", "k")
        got = {
            r.k: r.b
            for r in keys.select("k", hash_bucket(F.col("k"), "split-v1").alias("b")).collect()
        }
        want = {
            k: b
            for k, b in duckdb.sql(
                """
                SELECT k,
                  (strpos('0123456789abcdef', substr(hx,1,1))-1)*4096
                + (strpos('0123456789abcdef', substr(hx,2,1))-1)*256
                + (strpos('0123456789abcdef', substr(hx,3,1))-1)*16
                + (strpos('0123456789abcdef', substr(hx,4,1))-1) AS b
                FROM (SELECT range AS k,
                             substr(md5('split-v1' || CAST(range AS VARCHAR)), 1, 4) AS hx
                      FROM range(0, 500))
                """
            ).fetchall()
        }
        assert got == want


class TestQualityModel:
    """hashed linear quality scorer (textops/quality_model.py)."""

    def _py_score(self, text, seed="qm-v1", n_buckets=1 << 20, scale=1000):
        import hashlib

        toks = [t for t in text.strip().lower().split() if t]
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

        def h48(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

        total = 0
        for f in feats:
            bucket = h48(seed + f) % n_buckets
            total += h48(seed + "w" + str(bucket)) % (2 * scale + 1) - scale
        return len(feats), total

    def test_matches_python_replica(self, spark):
        from mopper_spark.textops.quality_model import quality_scores

        rows = [
            (1, "the quick brown fox"),
            (2, "single"),
            (3, ""),
            (4, "  padded   whitespace  tokens "),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_features, r.score_fp)
               for r in quality_scores(docs).collect()}
        for doc_id, text in rows:
            assert got[doc_id] == self._py_score(text), doc_id
        assert got[3] == (0, 0)

    def test_no_shuffle_no_python(self, spark):
        from mopper_spark.textops.quality_model import quality_scores

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = quality_scores(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "EvalPython" not in plan


class TestQualityModelTrained:
    """Trained-weights path (quality_scores_trained, VERDICT r3 #5)."""

    ROWS = [
        (1, "the quick brown fox"),
        (2, "single"),
        (3, ""),
        (4, "the the the"),
    ]
    N_BUCKETS = 64

    def _weights(self, spark):
        # tiny committed model: bucket -> bucket*3 - 90, odd buckets only
        rows = [(b, b * 3 - 90) for b in range(self.N_BUCKETS) if b % 2 == 1]
        return spark.createDataFrame(rows, "bucket long, weight_fp long")

    def _py_score(self, text, wdict, seed="qm-v1"):
        import hashlib

        toks = [t for t in text.strip().lower().split() if t]
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        total = 0
        for f in feats:
            b = int(hashlib.md5((seed + f).encode()).hexdigest()[:12], 16) % self.N_BUCKETS
            total += wdict.get(b, 0)  # absent bucket -> 0 (sparse model)
        return len(feats), total

    def test_both_strategies_match_python_replica(self, spark):
        from mopper_spark.textops.quality_model import quality_scores_trained

        docs = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        w = self._weights(spark)
        wdict = {r.bucket: r.weight_fp for r in w.collect()}
        for strategy in ("map", "join"):
            got = {
                r.doc_id: (r.n_features, r.score_fp)
                for r in quality_scores_trained(
                    docs, w, n_buckets=self.N_BUCKETS, strategy=strategy
                ).collect()
            }
            for doc_id, text in self.ROWS:
                assert got[doc_id] == self._py_score(text, wdict), (strategy, doc_id)
            assert got[3] == (0, 0)  # empty doc survives both shapes

    def test_map_strategy_no_shuffle_plan(self, spark):
        """The docs side must not shuffle: the ONLY exchange allowed is the
        one-row BroadcastExchange of the weight map."""
        from mopper_spark.textops.quality_model import quality_scores_trained

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        q = quality_scores_trained(
            docs, self._weights(spark), n_buckets=self.N_BUCKETS
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        stripped = plan.replace("BroadcastExchange", "")
        assert "Exchange" not in stripped  # no shuffle exchange anywhere

    def test_duplicate_bucket_rejected(self, spark):
        from mopper_spark.textops.quality_model import quality_scores_trained

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        dup = spark.createDataFrame(
            [(1, 5), (1, 7)], "bucket long, weight_fp long"
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="duplicate bucket"):
            quality_scores_trained(docs, dup, n_buckets=4)

    def test_unknown_strategy_rejected(self, spark):
        from mopper_spark.textops.quality_model import quality_scores_trained

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="strategy"):
            quality_scores_trained(docs, self._weights(spark), strategy="udf")


class TestChunkDocuments:
    def test_layout_and_overlap(self, spark):
        from mopper_spark.textops.analysis import chunk_documents

        text = " ".join(f"t{i}" for i in range(10))
        docs = spark.createDataFrame([(1, text), (2, "a b"), (3, "  ")],
                                     "doc_id long, text string")
        out = chunk_documents(docs, chunk_tokens=4, overlap=2)
        rows = sorted((r.id, r.chunk_idx, r.n_tokens, r.chunk) for r in out.collect())
        # doc 1: 10 tokens, stride 2 -> ceil((10-4)/2)+1 = 4 chunks
        assert [r for r in rows if r[0] == 1] == [
            (1, 0, 4, "t0 t1 t2 t3"),
            (1, 1, 4, "t2 t3 t4 t5"),
            (1, 2, 4, "t4 t5 t6 t7"),
            (1, 3, 4, "t6 t7 t8 t9"),
        ]
        # doc 2: shorter than one window -> one (short) chunk
        assert [r for r in rows if r[0] == 2] == [(2, 0, 2, "a b")]
        # doc 3: zero tokens -> no chunks
        assert not [r for r in rows if r[0] == 3]

    def test_full_coverage_no_gap(self, spark):
        from mopper_spark.textops.analysis import chunk_documents

        text = " ".join(f"w{i}" for i in range(101))  # awkward remainder
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            (r.chunk_idx, r.chunk) for r in chunk_documents(
                docs, chunk_tokens=16, overlap=4
            ).collect()
        )
        seen = set()
        for _, chunk in rows:
            seen.update(chunk.split(" "))
        assert seen == {f"w{i}" for i in range(101)}
        # consecutive chunks overlap by exactly `overlap` except the tail
        firsts = [int(c.split(" ")[0][1:]) for _, c in rows]
        assert firsts == [i * 12 for i in range(len(rows))]

    def test_validation(self, spark):
        from mopper_spark.textops.analysis import chunk_documents

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(docs, chunk_tokens=4, overlap=4)


class TestScd2Intervals:
    def test_runs_collapse_and_intervals(self, spark):
        from mopper_spark.textops.joins import scd2_intervals

        rows = [
            ("u1", 1, "A"), ("u1", 2, "A"), ("u1", 3, "B"),
            ("u1", 4, "B"), ("u1", 5, "A"),
            ("u2", 1, None), ("u2", 2, "X"), ("u2", 3, None),
        ]
        ev = spark.createDataFrame(rows, "k string, ts long, state string")
        out = scd2_intervals(ev, ["k"], "ts", ["state"])
        got = sorted(
            ((r.k, r.state, r.valid_from, r.valid_to) for r in out.collect()),
            key=lambda t: (t[0], t[2]),
        )
        assert got == sorted([
            ("u1", "A", 1, 3), ("u1", "B", 3, 5), ("u1", "A", 5, None),
            ("u2", None, 1, 2), ("u2", "X", 2, 3), ("u2", None, 3, None),
        ], key=lambda t: (t[0], t[2]))

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.joins import scd2_intervals

        rows = [(f"u{i % 5}", t, f"s{(i * t) % 3}") for i, t in
                [(i, t) for i in range(5) for t in range(1, 9)]]
        ev = spark.createDataFrame(rows, "k string, ts long, state string")
        a = sorted(map(tuple, scd2_intervals(ev, ["k"], "ts", ["state"]).collect()))
        b = sorted(map(tuple, scd2_intervals(
            ev.repartition(7), ["k"], "ts", ["state"]).collect()))
        assert a == b


class TestUnigramXent:
    def test_matches_python_replica(self, spark):
        """Fixed-point formula replicated exactly in pure python."""
        import math

        from mopper_spark.textops.analysis import unigram_xent

        rows = [
            (1, "the cat sat on the mat"),
            (2, "the dog"),
            (3, "cat cat cat"),
            (4, "   "),  # no tokens -> excluded
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.sum_lnc_fp, r.xent)
               for r in unigram_xent(df).collect()}

        toks = {1: "the cat sat on the mat".split(),
                2: "the dog".split(),
                3: "cat cat cat".split()}
        from collections import Counter
        cnt = Counter(t for ts in toks.values() for t in ts)
        n_total = sum(cnt.values())
        lnc = {t: math.floor(math.log(c) * 1e6) for t, c in cnt.items()}
        for d, ts in toks.items():
            s = sum(lnc[t] for t in ts)
            xent = math.log(float(n_total)) - s / (1e6 * len(ts))
            assert got[d] == (len(ts), s, xent), (d, got[d])
        assert 4 not in got

    def test_rarer_docs_score_higher(self, spark):
        """A doc of corpus-frequent tokens has lower xent than a doc of
        hapaxes — the CCNet ranking direction."""
        from mopper_spark.textops.analysis import unigram_xent

        rows = [(i, "common common common") for i in range(10)]
        rows.append((100, "zyxwv qwert plonk"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        x = {r.doc_id: r.xent for r in unigram_xent(df).collect()}
        assert x[100] > x[0]

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.analysis import unigram_xent

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, unigram_xent(docs).collect()))
        b = sorted(map(tuple, unigram_xent(docs.repartition(17)).collect()))
        assert a == b and len(a) > 10


class TestImportanceResample:
    def test_matches_python_replica(self, spark):
        import hashlib
        import math

        from mopper_spark.textops.dsir import importance_resample

        rows = [
            (1, "alpha beta gamma", "tgt"),
            (2, "alpha alpha beta", "tgt"),
            (3, "alpha beta delta", "raw"),
            (4, "epsilon zeta eta theta", "raw"),
            (5, "alpha beta", "raw"),
            (6, "   ", "raw"),  # tokenless -> excluded
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = [tuple(r) for r in importance_resample(
            df, target_source="tgt", k=10, n_buckets=64, seed="s").collect()]

        B = 64

        def bucket(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:3], 16) % B

        toks = {d: t.split() for d, t, _ in rows if t.split()}
        srcs = {d: s for d, _, s in rows}
        c_t, c_r = {}, {}
        for d, ts in toks.items():
            for t in ts:
                (c_t if srcs[d] == "tgt" else c_r).setdefault(bucket(t), 0)
                (c_t if srcs[d] == "tgt" else c_r)[bucket(t)] += 1
        n_t, n_r = sum(c_t.values()), sum(c_r.values())
        const_fp = math.floor(
            (math.log(n_r + B) - math.log(n_t + B)) * 1e6)
        exp = []
        for d, ts in toks.items():
            if srcs[d] == "tgt":
                continue
            s_fp = sum(math.floor(
                (math.log(c_t.get(bucket(t), 0) + 1)
                 - math.log(c_r.get(bucket(t), 0) + 1)) * 1e6) for t in ts)
            w_fp = s_fp + len(ts) * const_fp
            h = int(hashlib.md5(f"s{d}".encode()).hexdigest()[:12], 16)
            g_fp = math.floor(-math.log(-math.log((h + 1) / 2**48)) * 1e6)
            exp.append((d, len(ts), w_fp, w_fp + g_fp))
        exp.sort(key=lambda r: (-r[3], r[0]))
        assert got == exp

    def test_selects_target_like_docs(self, spark):
        """Raw docs written in the target's vocabulary out-weigh raw docs
        in a disjoint vocabulary — the DSIR selection direction."""
        from mopper_spark.textops.dsir import importance_resample

        rows = [(i, "wiki facts science history", "tgt") for i in range(20)]
        rows += [(100 + i, "wiki science history notes", "raw") for i in range(5)]
        rows += [(200 + i, "lol spam click buy now", "raw") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = importance_resample(df, target_source="tgt", k=5).collect()
        assert {r.doc_id for r in out} == {100, 101, 102, 103, 104}

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.dsir import importance_resample

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = [tuple(r) for r in importance_resample(docs, "src0", k=20).collect()]
        b = [tuple(r) for r in importance_resample(
            docs.repartition(17), "src0", k=20).collect()]
        assert a == b and len(a) == 20

    def test_validation(self, spark):
        import pytest

        from mopper_spark.textops.dsir import importance_resample

        df = spark.createDataFrame(
            [(1, "x", "a")], "doc_id long, text string, source string")
        with pytest.raises(ValueError):
            importance_resample(df, "a", k=0)
        with pytest.raises(ValueError):
            importance_resample(df, "a", n_buckets=1)


class TestFilterPipeline:
    def test_rules_fire_individually(self, spark):
        from mopper_spark.textops.analysis import filter_pipeline

        rows = [
            (1, "the cat sat on the mat for a while today"),   # all pass
            (2, "the cat"),                                    # too short
            (3, "the " + "a " * 20),                           # distinct ratio fails
            (4, "!!! ??? ;;; ::: the cat sat on mat crash"),   # symbols fail
            (5, "zz yy xx ww vv uu tt ss"),                    # no stopword
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in filter_pipeline(df).collect()}
        assert got[1].keep
        assert not got[2].r_len and not got[2].keep
        assert not got[3].r_distinct and not got[3].keep
        assert not got[4].r_symbol and not got[4].keep
        assert not got[5].r_stopword and not got[5].keep

    def test_no_shuffle_plan(self, spark):
        from mopper_spark.textops.analysis import filter_pipeline

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = filter_pipeline(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "EvalPython" not in plan


class TestMixtureWeights:
    def test_matches_python_replica_and_sums_to_one(self, spark):
        import math

        from mopper_spark.textops.prepare import mixture_weights

        rows = [(i, "w " * (10 + i % 3), f"s{i % 3}") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {r.source: (r.n_docs, r.n_tokens, r.w_fp, r.p)
               for r in mixture_weights(df, alpha=0.7).collect()}

        from collections import Counter
        nd, nt = Counter(), Counter()
        for i in range(30):
            nd[f"s{i % 3}"] += 1
            nt[f"s{i % 3}"] += 10 + i % 3
        w = {s: math.floor(math.exp(0.7 * math.log(n)) * 1e6) for s, n in nt.items()}
        z = sum(w.values())
        for s in nd:
            assert got[s] == (nd[s], nt[s], w[s], w[s] / z)
        assert abs(sum(p for _, _, _, p in got.values()) - 1.0) < 1e-12

    def test_temperature_flattens(self, spark):
        """alpha < 1 gives the small source a larger share than its raw
        proportion — the point of temperature sampling."""
        from mopper_spark.textops.prepare import mixture_weights

        rows = [(i, "tok " * 50, "big") for i in range(50)]
        rows += [(100 + i, "tok " * 50, "small") for i in range(2)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {r.source: (r.n_tokens, r.p) for r in
               mixture_weights(df, alpha=0.5).collect()}
        raw_small = got["small"][0] / (got["small"][0] + got["big"][0])
        assert got["small"][1] > raw_small


class TestSourceDivergence:
    def test_matches_python_replica_and_nonnegative(self, spark):
        import math
        from collections import Counter

        from mopper_spark.textops.analysis import source_divergence

        rows = [
            (1, "a a b c", "s1"),
            (2, "a b b d", "s1"),
            (3, "x y z x", "s2"),
            (4, "a b x y", "s2"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {r.source: (r.n_tokens, r.kl_fp, r.kl)
               for r in source_divergence(df).collect()}

        st: Counter = Counter()
        for _, t, s in rows:
            for tok in t.split():
                st[(s, tok)] += 1
        ct: Counter = Counter()
        ns: Counter = Counter()
        for (s, tok), c in st.items():
            ct[tok] += c
            ns[s] += c
        n = sum(ct.values())
        for s in ns:
            kl_fp = sum(
                c * math.floor(math.log((c * n) / (ns[s] * ct[tok])) * 1e6)
                for (s2, tok), c in st.items() if s2 == s
            )
            assert got[s] == (ns[s], kl_fp, kl_fp / (1e6 * ns[s]))
            # fp quantization floor-biases each term by < 1e-6 nats
            assert got[s][2] > -1e-5

    def test_identical_sources_have_zero_kl(self, spark):
        from mopper_spark.textops.analysis import source_divergence

        rows = [(i, "same text tokens here", f"s{i % 3}") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        for r in source_divergence(df).collect():
            assert abs(r.kl) < 1e-5

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.analysis import source_divergence

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, source_divergence(docs).collect()))
        b = sorted(map(tuple, source_divergence(docs.repartition(11)).collect()))
        assert a == b and len(a) >= 2


class TestWinnowing:
    def test_matches_python_replica(self, spark):
        """Robust-winnowing selection (rightmost min per window) replicated
        in pure python over the same md5 gram hashes."""
        import hashlib

        from mopper_spark.textops.dedup import winnowing_fingerprints

        texts = {1: "a b c d e f g h", 2: "p q r s t", 3: "a b"}
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {tuple(r) for r in winnowing_fingerprints(df, k=3, window=4).collect()}

        def grams(words, k=3):
            if len(words) < k:
                return [" ".join(words)]
            return [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]

        exp = set()
        for d, t in texts.items():
            hs = [int(hashlib.md5(g.encode()).hexdigest()[:12], 16)
                  for g in grams(t.lower().split())]
            for i in range(max(len(hs) - 4, 0) + 1):
                sl = hs[i:i + 4]
                m = min(sl)
                pos = i + len(sl) - 1 - sl[::-1].index(m)
                exp.add((d, pos, m))
        assert got == exp

    def test_shared_run_guarantee(self, spark):
        """Any shared run of >= window + k - 1 words shares a fingerprint
        (the winnowing guarantee)."""
        from mopper_spark.textops.dedup import winnowing_fingerprints

        shared = "one two three four five six"  # 6 = 4 + 3 - 1
        df = spark.createDataFrame(
            [(1, "aa bb " + shared + " cc"), (2, shared + " zz yy xx ww")],
            "doc_id long, text string",
        )
        rows = winnowing_fingerprints(df, k=3, window=4).collect()
        h1 = {r.h48 for r in rows if r.doc_id == 1}
        h2 = {r.h48 for r in rows if r.doc_id == 2}
        assert h1 & h2

    def test_density_and_invariance(self, spark):
        from mopper_spark.textops.dedup import winnowing_fingerprints

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        fp = winnowing_fingerprints(docs, k=3, window=4)
        a = sorted(map(tuple, fp.collect()))
        b = sorted(map(tuple,
                       winnowing_fingerprints(docs.repartition(9), k=3,
                                              window=4).collect()))
        assert a == b
        # density: far fewer fingerprints than grams
        n_grams = docs.selectExpr(
            "greatest(size(split(lower(trim(text)), '\\\\s+')) - 2, 1) AS n"
        ).groupBy().sum("n").collect()[0][0]
        assert len(a) < 0.75 * n_grams


class TestCdcChunks:
    def test_shared_passage_chunks_identically(self, spark):
        """Shift resistance: the same passage behind different prefixes
        yields at least one identical interior chunk (n_copies 2)."""
        from mopper_spark.textops.dedup import cdc_chunks

        shared = "the quick brown fox jumps over the lazy dog again and again here"
        df = spark.createDataFrame(
            [(1, "prefix words " + shared + " suffix one"),
             (2, "totally different opening " + shared + " other tail")],
            "doc_id long, text string",
        )
        rows = cdc_chunks(df).collect()
        dup = [r for r in rows if r.n_copies == 2]
        assert dup and {r.doc_id for r in dup} == {1, 2}

    def test_matches_python_replica(self, spark):
        import hashlib

        from mopper_spark.textops.dedup import cdc_chunks

        texts = {1: "aa bb cc dd ee ff gg hh ii jj kk ll", 2: "solo"}
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {(r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_hash)
               for r in cdc_chunks(df, divisor=4).collect()}

        exp = {}
        all_chunks = []
        for d, t in texts.items():
            tk = t.lower().split()
            cur, idx = [tk[0]], 0
            chunks = []
            for i in range(1, len(tk)):
                h = int(hashlib.md5(f"{tk[i-1]} {tk[i]}".encode()).hexdigest()[:12], 16)
                if h % 4 == 0:
                    chunks.append(cur)
                    cur = []
                cur.append(tk[i])
            chunks.append(cur)
            for idx, c in enumerate(chunks):
                exp[(d, idx)] = (len(c), hashlib.md5(" ".join(c).encode()).hexdigest())
        assert {k: v for k, v in got.items()} == exp

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.dedup import cdc_chunks

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, cdc_chunks(docs).collect()))
        b = sorted(map(tuple, cdc_chunks(docs.repartition(9)).collect()))
        assert a == b and len(a) > 100


class TestTopTokensPerGroup:
    def test_deterministic_tiebreak_and_counts(self, spark):
        from mopper_spark.textops.analysis import top_tokens_per_group

        rows = [
            (1, "a a b b c", "g1"),
            (2, "b c c", "g1"),
            (3, "z z y", "g2"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {(r.grp, r.rank): (r.tok, r.cnt)
               for r in top_tokens_per_group(df, k=2).collect()}
        # g1: b=3, c=3 tie -> b before c (token asc); a=2 cut at k=2
        assert got[("g1", 1)] == ("b", 3)
        assert got[("g1", 2)] == ("c", 3)
        assert got[("g2", 1)] == ("z", 2)
        assert got[("g2", 2)] == ("y", 1)

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.analysis import top_tokens_per_group

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = sorted(map(tuple, top_tokens_per_group(docs, k=3).collect()))
        b = sorted(map(tuple, top_tokens_per_group(docs.repartition(7), k=3).collect()))
        assert a == b and len(a) >= 6


class TestLabelCentroidCosines:
    def test_matches_python_replica(self, spark):
        import math

        from mopper_spark.textops.similarity import label_centroid_cosines

        rows = [
            (1, [1.0, 0.0], 0), (2, [1.0, 0.25], 0),
            (3, [0.0, 1.0], 1), (4, [0.5, 1.0], 1),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        got = [tuple(r) for r in label_centroid_cosines(df).collect()]
        fp = 1 << 20
        s0 = [round(1.0 * fp) + round(1.0 * fp), round(0.0) + round(0.25 * fp)]
        s1 = [round(0.0) + round(0.5 * fp), round(1.0 * fp) + round(1.0 * fp)]
        dot = s0[0] * s1[0] + s0[1] * s1[1]
        n0 = s0[0] ** 2 + s0[1] ** 2
        n1 = s1[0] ** 2 + s1[1] ** 2
        cos = dot / (math.sqrt(float(n0)) * math.sqrt(float(n1)))
        assert got == [(0, 1, dot, n0, n1, cos)]

    def test_identical_labels_cos_one(self, spark):
        from mopper_spark.textops.similarity import label_centroid_cosines

        rows = [(i, [1.0, 2.0, 3.0], i % 2) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        (r,) = label_centroid_cosines(df).collect()
        assert abs(r.cos - 1.0) < 1e-12


class TestBigramBackoffXent:
    def test_matches_python_replica_all_branches(self, spark):
        import math
        from collections import Counter

        from mopper_spark.textops.ranking import bigram_backoff_xent

        train_rows = [(1, "a b c a b"), (2, "b c d")]
        score_rows = [(10, "a b c"),      # all bigrams seen
                      (11, "c a d b"),    # mixed seen/backoff
                      (12, "zz a qq d")]  # OOV tokens -> oov leg
        train = spark.createDataFrame(train_rows, "doc_id long, text string")
        score = spark.createDataFrame(score_rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_bigrams, r.sum_lp_fp, r.xent)
               for r in bigram_backoff_xent(train, score).collect()}

        big, uni = Counter(), Counter()
        for _, t in train_rows:
            tk = t.split()
            uni.update(tk)
            big.update(zip(tk, tk[1:]))
        pre = Counter()
        for (u, _), c in big.items():
            pre[u] += c
        n, v = sum(uni.values()), len(uni)

        def lp(u, w):
            if big[(u, w)] > 0:
                return math.floor(math.log(big[(u, w)] / pre[u]) * 1e6)
            return math.floor(math.log(0.4 * (uni[w] + 1) / (n + v)) * 1e6)

        for d, t in score_rows:
            tk = t.split()
            fps = [lp(u, w) for u, w in zip(tk, tk[1:])]
            s = sum(fps)
            assert got[d] == (len(fps), s, -s / (1e6 * len(fps)))
        # held-out doc full of unseen pairs scores WORSE (higher xent)
        assert got[12][2] > got[10][2]

    def test_partitioning_invariance(self, spark):
        from pyspark.sql import functions as F

        from mopper_spark.textops.ranking import bigram_backoff_xent

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        tr, sc = docs.filter(F.col("doc_id") % 5 != 0), docs.filter(F.col("doc_id") % 5 == 0)
        a = sorted(map(tuple, bigram_backoff_xent(tr, sc).collect()))
        b = sorted(map(tuple, bigram_backoff_xent(tr.repartition(9), sc.repartition(7)).collect()))
        assert a == b and len(a) > 10


class TestTfidfCosinePairs:
    def test_matches_python_replica(self, spark):
        import math
        from collections import Counter

        from mopper_spark.textops.ranking import tfidf_cosine_pairs

        texts = {1: "apple banana apple", 2: "apple banana cherry",
                 3: "dog cat", 4: "dog cat dog"}
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {(r.id_a, r.id_b): (r.dot_fp, r.norm_a_fp, r.norm_b_fp, r.cos)
               for r in tfidf_cosine_pairs(df, threshold=0.1).collect()}

        tf = {d: Counter(t.split()) for d, t in texts.items()}
        dfreq = Counter(tok for c in tf.values() for tok in c)
        n = len(texts)
        w = {d: {t: c * math.floor(math.log(n / dfreq[t]) * 1e3)
                 for t, c in cnt.items()
                 if math.floor(math.log(n / dfreq[t]) * 1e3) > 0}
             for d, cnt in tf.items()}
        nrm = {d: sum(x * x for x in v.values()) for d, v in w.items()}
        exp = {}
        for a in texts:
            for b in texts:
                if a >= b:
                    continue
                dot = sum(w[a][t] * w[b][t] for t in w[a] if t in w[b])
                if dot == 0:
                    continue
                cos = dot / (math.sqrt(float(nrm[a])) * math.sqrt(float(nrm[b])))
                if cos >= 0.1:
                    exp[(a, b)] = (dot, nrm[a], nrm[b], cos)
        assert got == exp
        assert (1, 2) in got and (3, 4) in got and (1, 3) not in got

    def test_max_df_excludes_stop_tokens(self, spark):
        """A token in EVERY doc is dimensionless (idf 0) and a token over
        max_df is out of the space — neither generates pairs."""
        from mopper_spark.textops.ranking import tfidf_cosine_pairs

        rows = [(i, "common uniq%d" % i) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert tfidf_cosine_pairs(df, threshold=0.01).count() == 0
        assert tfidf_cosine_pairs(df, threshold=0.01, max_df=5).count() == 0


class TestGlobalOrderStatistics:
    """analysis.global_order_statistics — sort-free exact selection."""

    def _check(self, spark, values, qs):
        import math

        from mopper_spark.textops.analysis import global_order_statistics

        df = spark.createDataFrame([(v,) for v in values], "v long")
        row = global_order_statistics(df.repartition(9), "v", qs=qs).collect()[0]
        srt = sorted(values)
        assert row.n == len(values)
        assert row.min_v == srt[0] and row.max_v == srt[-1]
        got = list(row)[3:]
        want = [srt[math.ceil(q * len(values)) - 1] for q in qs]
        assert got == want, (got, want)

    def test_matches_nearest_rank_definition(self, spark):
        vals = [((i * 7919) % 100003) - 50000 for i in range(2000)]
        self._check(spark, vals, (0.5, 0.9, 0.99))

    def test_skewed_duplicates_and_extremes(self, spark):
        vals = [5] * 900 + [1000000007] * 90 + [-3] * 10
        self._check(spark, vals, (0.01, 0.5, 0.95, 1.0))

    def test_empty_and_validation(self, spark):
        import pytest

        from mopper_spark.textops.analysis import global_order_statistics

        df = spark.createDataFrame([], "v long")
        row = global_order_statistics(df, "v").collect()[0]
        assert row.n == 0 and row.min_v is None
        with pytest.raises(ValueError):
            global_order_statistics(df, "v", qs=(0.0,))

    def test_wide_range_converges(self, spark):
        vals = [0, 1, 2, 2**62, -(2**61), 17, 17, 17]
        self._check(spark, vals, (0.5,))


class TestSkewProfile:
    """analysis.skew_profile — hot-key audit."""

    def test_topk_counts_and_shares(self, spark):
        from mopper_spark.textops.analysis import skew_profile

        rows = [("hot",)] * 70 + [("warm",)] * 20 + [("a",)] * 5 + [("b",)] * 5
        df = spark.createDataFrame(rows, "k string")
        got = [(r.k, r.n, r.share_ppm, r.rank)
               for r in skew_profile(df, ["k"], top_k=3).collect()]
        got.sort(key=lambda x: x[3])
        assert got == [
            ("hot", 70, 700000, 1),
            ("warm", 20, 200000, 2),
            ("a", 5, 50000, 3),   # count tie broken key-ASC
        ]

    def test_validation_and_partitioning_invariance(self, spark):
        import pytest

        from mopper_spark.textops.analysis import skew_profile

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        with pytest.raises(ValueError):
            skew_profile(ev, [])
        a = sorted(map(tuple, skew_profile(ev, ["event_type"], 10).collect()))
        b = sorted(map(tuple, skew_profile(ev.repartition(7), ["event_type"], 10).collect()))
        assert a == b and len(a) == 5


class TestEditDistanceJoin:
    """similarity.edit_distance_join — FastSS deletion-neighborhood join."""

    def _strings(self, spark):
        words = ["spark", "spork", "sparks", "park", "quark", "query",
                 "queue", "quer", "a", "b", "ab", "spark"]
        return spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "id long, s string"
        )

    def _brute(self, spark, df, k):
        import itertools

        def ed(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        rows = df.collect()
        return sorted(
            (r1.id, r2.id, r1.s, r2.s, ed(r1.s, r2.s))
            for r1, r2 in itertools.combinations(rows, 2)
            if r1.id < r2.id and ed(r1.s, r2.s) <= k
        )

    def test_complete_and_exact_k1(self, spark):
        from mopper_spark.textops.similarity import edit_distance_join

        df = self._strings(spark)
        got = sorted(map(tuple, edit_distance_join(df, "id", "s", k=1).collect()))
        assert got == self._brute(spark, df, 1)
        assert len(got) >= 4  # spark~spork, spark~sparks, spark~spark, ...

    def test_complete_and_exact_k2(self, spark):
        import pytest

        from mopper_spark.textops.similarity import edit_distance_join

        df = self._strings(spark)
        got = sorted(map(tuple, edit_distance_join(df, "id", "s", k=2).collect()))
        assert got == self._brute(spark, df, 2)
        with pytest.raises(ValueError):
            edit_distance_join(df, "id", "s", k=3)

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.similarity import edit_distance_join

        df = self._strings(spark)
        a = sorted(map(tuple, edit_distance_join(df, "id", "s", 1).collect()))
        b = sorted(map(tuple,
                       edit_distance_join(df.repartition(7), "id", "s", 1).collect()))
        assert a == b


class TestKeepList:
    """textops/dedup.py::keep_list — the end-to-end dedup verdict."""

    def _docs(self, spark):
        rows = [
            (1, "a" * 10),   # cluster {1,2,3} via pairs below
            (2, "b" * 30),   # longest -> canonical
            (3, "c" * 30),   # same length as 2 -> id tie-break keeps 2
            (4, "d" * 5),    # singleton
            (5, "e" * 7),    # cluster {5,6}
            (6, "f" * 6),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _pairs(self, spark):
        return spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )

    def test_verdicts(self, spark):
        from mopper_spark.textops.dedup import keep_list

        out = {
            r["doc_id"]: r
            for r in keep_list(self._docs(spark), self._pairs(spark)).collect()
        }
        assert len(out) == 6
        # cluster {1,2,3}: canonical is 2 (30 chars, smaller id than 3)
        for d in (1, 2, 3):
            assert out[d]["component"] == 1
            assert out[d]["canonical_id"] == 2
        assert [out[d]["keep"] for d in (1, 2, 3)] == [False, True, False]
        # cluster {5,6}: 5 is longest
        assert out[5]["canonical_id"] == 5 and out[5]["keep"] is True
        assert out[6]["canonical_id"] == 5 and out[6]["keep"] is False
        # singleton 4 keeps itself as its own component
        assert out[4]["component"] == 4 and out[4]["keep"] is True

    def test_partitioning_invariance(self, spark):
        from mopper_spark.textops.dedup import keep_list

        docs, pairs = self._docs(spark), self._pairs(spark)
        a = sorted(map(tuple, keep_list(docs, pairs).collect()))
        b = sorted(
            map(
                tuple,
                keep_list(docs.repartition(7), pairs.repartition(3)).collect(),
            )
        )
        assert a == b

    def test_kept_fraction_matches_cluster_count(self, spark):
        from mopper_spark.textops.dedup import keep_list

        out = keep_list(self._docs(spark), self._pairs(spark))
        n_clusters = out.select("component").distinct().count()
        assert out.filter("keep").count() == n_clusters == 3


class TestRankAuc:
    def test_perfect_and_inverted_separation(self, spark):
        from mopper_spark.textops.analysis import rank_auc

        df = spark.createDataFrame(
            [(i, i, i >= 5) for i in range(10)], "doc_id long, s long, y boolean"
        )
        r = rank_auc(df, "s", "y").collect()[0]
        assert (r.n_pos, r.n_neg, r.auc) == (5, 5, 1.0)
        inv = spark.createDataFrame(
            [(i, -i, i >= 5) for i in range(10)], "doc_id long, s long, y boolean"
        )
        assert rank_auc(inv, "s", "y").collect()[0].auc == 0.0

    def test_tie_credit_is_half(self, spark):
        """All scores equal → every pos/neg pair is a tie → AUC exactly 0.5
        (2·pos·neg·½ in the integer numerator)."""
        from mopper_spark.textops.analysis import rank_auc

        df = spark.createDataFrame(
            [(i, 7, i % 3 == 0) for i in range(12)], "doc_id long, s long, y boolean"
        )
        r = rank_auc(df, "s", "y").collect()[0]
        assert r.auc == 0.5
        assert r.auc_num2x == r.n_pos * r.n_neg  # the exact half credit

    def test_python_replica(self, spark):
        from mopper_spark.textops.analysis import rank_auc

        rows = [(i, (i * 13) % 7, (i * 5) % 3 == 0) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, s long, y boolean")
        r = rank_auc(df, "s", "y").collect()[0]
        pos = sorted(s for _, s, y in rows if y)
        neg = sorted(s for _, s, y in rows if not y)
        num2 = sum(
            2 * sum(1 for n in neg if n < p) + sum(1 for n in neg if n == p)
            for p in pos
        )
        assert r.auc_num2x == num2
        assert r.auc == round(num2 / (2.0 * len(pos) * len(neg)), 6)


class TestAssociationRules:
    def test_replica_on_tiny_baskets(self, spark):
        from mopper_spark.textops.olap import association_rules

        rows = [
            (1, "a"), (1, "b"), (1, "b"),  # duplicate item rows collapse
            (2, "a"), (2, "c"),
            (3, "a"), (3, "b"),
            (4, "c"),
        ]
        df = spark.createDataFrame(rows, "basket long, item string")
        got = {
            (r.ant, r.cons): (r.support_ab, r.support_ant, r.support_cons,
                              r.n_baskets, r.confidence, r.lift)
            for r in association_rules(df, "basket", "item").collect()
        }
        # a: {1,2,3}, b: {1,3}, c: {2,4}
        assert got[("a", "b")] == (2, 3, 2, 4, round(2 / 3, 6), round(8 / 6, 6))
        assert got[("b", "a")] == (2, 2, 3, 4, 1.0, round(8 / 6, 6))
        assert got[("a", "c")] == (1, 3, 2, 4, round(1 / 3, 6), round(4 / 6, 6))
        assert ("b", "c") not in got  # never co-occur

    def test_min_support_drops_rules(self, spark):
        from mopper_spark.textops.olap import association_rules

        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")],
            "basket long, item string",
        )
        got = {(r.ant, r.cons) for r in
               association_rules(df, "basket", "item", min_support=2).collect()}
        assert got == {("a", "b"), ("b", "a")}


class TestOphMinhash:
    """One-permutation-hashing signature kernel: determinism, densification
    invariants, estimator sanity, scheme validation."""

    def _sigs(self, spark, rows):
        from mopper_spark.textops.dedup import make_oph_minhash_udf

        df = spark.createDataFrame(rows, "doc_id long, text string")
        udf = make_oph_minhash_udf(32)
        return {
            r.doc_id: tuple(r.s)
            for r in df.select("doc_id", udf("text").alias("s")).collect()
        }

    def test_identical_texts_identical_signatures(self, spark):
        t = "the quick brown fox jumps over the lazy dog again and again"
        sigs = self._sigs(spark, [(0, t), (1, t)])
        assert sigs[0] == sigs[1]
        assert len(sigs[0]) == 32

    def test_short_doc_densifies_deterministically(self, spark):
        # 4 tokens → 2 word-3-shingles → at most 2 non-empty bins; the
        # other 30 are rotation borrows.  Signature must be identical
        # across partitionings (pure function of the text).
        t = "alpha beta gamma delta"
        a = self._sigs(spark, [(0, t)])
        b = self._sigs(spark, [(1, t), (2, "unrelated filler words here")])
        assert a[0] == b[1]
        from mopper_spark.textops.dedup import _MERSENNE

        direct_max = _MERSENNE // 32
        n_direct = sum(1 for v in a[0] if v <= direct_max)
        assert 1 <= n_direct <= 2  # everything else is an offset borrow

    def test_estimator_tracks_jaccard(self, spark):
        base = " ".join(f"tok{i}" for i in range(60))
        near = " ".join(f"tok{i}" for i in range(58)) + " other words"
        far = " ".join(f"zzz{i}" for i in range(60))
        sigs = self._sigs(spark, [(0, base), (1, near), (2, far)])
        match_near = sum(a == b for a, b in zip(sigs[0], sigs[1]))
        match_far = sum(a == b for a, b in zip(sigs[0], sigs[2]))
        assert match_near >= 20  # J ≈ 0.9 → expect ~29/32
        assert match_far <= 4

    def test_empty_text_and_unknown_scheme(self, spark):
        from mopper_spark.textops.dedup import minhash_band_table

        sigs = self._sigs(spark, [(0, ""), (1, None)])
        assert sigs[0] == sigs[1] == tuple([0] * 32)
        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        import pytest

        with pytest.raises(ValueError):
            minhash_band_table(df, scheme="nope")


class TestBmpKernel:
    def test_payload_roundtrips_formula(self, spark):
        from mopper_spark.textops.multimodal import (
            decode_bmp,
            synth_bmp_payload,
            synth_bmp_pixel,
        )

        for m in (0, 3, 7):  # different padding remainders
            w, h, bpp, bs, gs, rs = decode_bmp(synth_bmp_payload(m))
            assert bpp == 24 and w == 5 + m % 6 and h == 3 + (m * 3) % 5
            i = 0
            for y in range(h):
                for x in range(w):
                    assert bs[i] == synth_bmp_pixel(m, x, y, 0)
                    assert gs[i] == synth_bmp_pixel(m, x, y, 1)
                    assert rs[i] == synth_bmp_pixel(m, x, y, 2)
                    i += 1

    def test_strict_rejections(self, spark):
        import struct

        from mopper_spark.textops.multimodal import decode_bmp, synth_bmp_payload

        good = synth_bmp_payload(1)
        with pytest.raises(ValueError, match="magic"):
            decode_bmp(b"XX" + good[2:])
        with pytest.raises(ValueError, match="truncated header"):
            decode_bmp(good[:30])
        # flip bpp to 8 in the info header (offset 14+14=28)
        bad = bytearray(good)
        struct.pack_into("<H", bad, 28, 8)
        with pytest.raises(ValueError, match="24-bpp"):
            decode_bmp(bytes(bad))
        with pytest.raises(ValueError, match="truncated pixel"):
            decode_bmp(good[:-4])

    def test_extract_matches_fixture(self, spark):
        from mopper_spark.textops.multimodal import (
            extract_bmp_features,
            synth_bmp_media,
        )

        got = sorted(
            map(tuple, extract_bmp_features(synth_bmp_media(spark, n=8)).collect())
        )
        want = sorted(
            map(tuple, spark.read.parquet("fixtures/bmp_features.parquet")
                .filter("media_id < 8").collect())
        )
        assert got == want
