"""SemDeDup (functions/semdedup.py) and distributed PCA
(functions/pca.py): brute-force twins, chunk/block boundary behavior,
and numpy-reference parity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import pca as P
from tidb_cdc_spark.functions import semdedup as SD


def _vec_df(spark, vecs: np.ndarray):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(vecs), dtype=np.int64),
                "embedding": [row.astype(float).tolist() for row in vecs],
            }
        )
    )


def _brute_semdedup(vecs: np.ndarray, threshold: float) -> dict[int, int]:
    """id → dup_of for the single-cell case: dup iff any lower-id
    vector has cosine ≥ threshold; keeper = most-similar, ties to
    lowest id."""
    M = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for i in range(1, len(M)):
        sims = M[:i] @ M[i]
        j = int(sims.argmax())
        if sims[j] >= threshold:
            out[i] = j
    return out


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(42)


class TestSemanticDedup:
    def test_matches_bruteforce_single_cell(self, spark, rng):
        # 40 random vectors + 15 perturbed near-copies ⇒ nontrivial
        # dup structure; n_cells=1 removes the k-means variable so
        # the pandas prune is pinned EXACTLY against brute force.
        base = rng.normal(size=(40, 8))
        near = base[:15] + rng.normal(scale=1e-3, size=(15, 8))
        vecs = np.vstack([base, near])
        res = (
            SD.semantic_dedup(
                _vec_df(spark, vecs), n_cells=1, threshold=0.99
            )
            .toPandas()
            .sort_values("vec_id")
        )
        expected = _brute_semdedup(vecs, 0.99)
        got = {
            int(r.vec_id): int(r.dup_of)
            for r in res.itertuples()
            if r.is_dup
        }
        assert got == expected
        assert not res.truncated.any()
        # every near-copy must be flagged (cosine to its base ≈ 1)
        assert set(range(40, 55)) <= set(got)

    def test_chunk_boundaries(self, spark, rng, monkeypatch):
        # tiny gemm chunk forces many chunk boundaries through the
        # same corpus — identical result proves the chunked masked
        # argmax stitches correctly.
        base = rng.normal(size=(30, 6))
        vecs = np.vstack([base, base[:10] + 1e-4])
        df = _vec_df(spark, vecs)
        full = (
            SD.semantic_dedup(df, n_cells=1, threshold=0.99)
            .toPandas()
            .sort_values("vec_id", ignore_index=True)
        )
        monkeypatch.setattr(SD, "_CHUNK", 3)
        chunked = (
            SD.semantic_dedup(df, n_cells=1, threshold=0.99)
            .toPandas()
            .sort_values("vec_id", ignore_index=True)
        )
        pd.testing.assert_frame_equal(full, chunked)

    def test_oversized_cell_blocks(self, spark, rng):
        # cap smaller than the cell ⇒ deterministic id-order blocks,
        # flagged truncated; a dup WITHIN a block is still caught, a
        # dup pair SPLIT across blocks is (documented) missed.
        base = rng.normal(size=(6, 5))
        # ids: 0..5 originals, 6 = copy of 5 (same block of 8),
        # 15 = copy of 0 (different block)
        vecs = np.vstack(
            [base, base[5:6] + 1e-5, rng.normal(size=(8, 5)), base[0:1]]
        )
        res = (
            SD.semantic_dedup(
                _vec_df(spark, vecs),
                n_cells=1,
                threshold=0.99,
                max_cell_rows=8,
            )
            .toPandas()
            .set_index("vec_id")
        )
        assert res.truncated.all()
        assert bool(res.loc[6, "is_dup"]) and res.loc[6, "dup_of"] == 5
        assert not bool(res.loc[15, "is_dup"])  # split across blocks

    def test_zero_vector_safe(self, spark):
        vecs = np.vstack([np.zeros((2, 4)), np.eye(4)[:2]])
        res = SD.semantic_dedup(
            _vec_df(spark, vecs), n_cells=1, threshold=0.5
        ).toPandas()
        # zero vectors normalize to zero rows (guarded divide): they
        # pair with each other at cos 0, below threshold — kept
        assert len(res) == 4 and res.is_dup.sum() == 0


class TestPca:
    def test_matches_numpy_reference(self, spark, rng):
        X = rng.normal(size=(200, 6)) @ np.diag([5, 3, 2, 1, 0.5, 0.1])
        model = P.fit_pca(_vec_df(spark, X), k=6)
        # reference: eigh of the population covariance
        cov = np.cov(X.T, bias=True)
        w_ref = np.sort(np.linalg.eigvalsh(cov))[::-1]
        assert np.allclose(model.explained_variance, w_ref, atol=1e-8)
        assert np.allclose(model.mean, X.mean(axis=0), atol=1e-10)
        # components orthonormal, rows = axes
        G = model.components @ model.components.T
        assert np.abs(G - np.eye(6)).max() < 1e-10
        # projection reproduces centered data up to rotation: with
        # k=d, reconstruction is exact
        proj = (
            P.project(_vec_df(spark, X), model)
            .orderBy("vec_id")
            .select("pca")
            .toPandas()
        )
        Pm = np.stack(proj["pca"].to_numpy())
        recon = Pm @ model.components + model.mean
        assert np.abs(recon - X).max() < 1e-8

    def test_variance_concentrates(self, spark, rng):
        # data on a dominant axis: first ratio ≫ rest
        t = rng.normal(size=(300, 1))
        X = t @ np.array([[3.0, 1.0, 0.0, 0.0]]) + rng.normal(
            scale=0.01, size=(300, 4)
        )
        model = P.fit_pca(_vec_df(spark, X), k=4)
        r = model.explained_ratio
        assert r[0] > 0.99 and np.all(np.diff(model.explained_variance) <= 1e-12)

    def test_sign_convention_deterministic(self, spark, rng):
        X = rng.normal(size=(50, 4))
        m1 = P.fit_pca(_vec_df(spark, X), k=4)
        m2 = P.fit_pca(_vec_df(spark, X), k=4)
        assert np.allclose(m1.components, m2.components, atol=1e-12)
        for row in m1.components:
            assert row[int(np.argmax(np.abs(row)))] > 0

    def test_empty_input_raises(self, spark):
        df = _vec_df(spark, np.zeros((1, 3))).filter(F.col("vec_id") < 0)
        with pytest.raises(ValueError, match="empty"):
            P.fit_pca(df)


class TestOpq:
    def _clustered(self, spark, n_clusters=10, per=12, dim=32):
        import random

        rng = random.Random(13)
        rows = []
        for c in range(n_clusters):
            base = [rng.gauss(0, 1) for _ in range(dim)]
            for i in range(per):
                rows.append(
                    (c * 100 + i, [b + rng.gauss(0, 0.05) for b in base])
                )
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_allocation_balances_subspace_variance(self, spark, rng):
        from tidb_cdc_spark.functions import pq as PQ

        # strongly anisotropic data: eigenvalues span 4 decades
        scales = np.array([100, 50, 20, 10, 5, 2, 1, 0.5])
        X = rng.normal(size=(400, 8)) * scales
        model = P.fit_pca(_vec_df(spark, X), k=8)
        R = PQ.opq_eigenvalue_allocation(model, m=4)
        # R is a permutation of the PCA basis: orthonormal, same rows
        assert np.abs(R @ R.T - np.eye(8)).max() < 1e-10
        # per-subspace log-variance sums must be tighter than the
        # naive contiguous PCA split (which pairs the two largest)
        ev = model.explained_variance
        logs = np.log(ev)

        def spread(perm):
            s = [logs[perm[2 * j : 2 * j + 2]].sum() for j in range(4)]
            return max(s) - min(s)

        # recover the permutation R applies to the PCA axes
        perm = np.array(
            [int(np.argmax(np.abs(model.components @ r))) for r in R]
        )
        assert sorted(perm.tolist()) == list(range(8))
        assert spread(perm) < spread(np.arange(8)) - 1e-6

    def test_rotation_preserves_distances(self, spark, rng):
        from tidb_cdc_spark.functions import pq as PQ
        from tidb_cdc_spark.functions.pca import PcaModel, project

        X = rng.normal(size=(60, 8))
        model = P.fit_pca(_vec_df(spark, X), k=8)
        R = PQ.opq_eigenvalue_allocation(model, m=4)
        rot = PcaModel(model.mean, R, model.explained_variance,
                       model.total_variance)
        Y = np.stack(
            project(_vec_df(spark, X), rot)
            .orderBy("vec_id")
            .select("pca")
            .toPandas()["pca"]
            .to_numpy()
        )
        def pdist2(M):
            sq = (M * M).sum(1)
            return sq[:, None] - 2.0 * (M @ M.T) + sq[None, :]

        assert np.allclose(pdist2(X), pdist2(Y), atol=1e-8)

    def test_opq_cluster_recall(self, spark):
        from pyspark.sql import functions as F

        from tidb_cdc_spark.functions import pq as PQ
        from tidb_cdc_spark.functions import similarity as S2

        embs = self._clustered(spark)
        q = embs.filter(F.col("vec_id") % 100 == 0)
        bf = S2.knn_bruteforce(q, embs, k=5)
        opq = PQ.opq_knn_adc(q, embs, k=5, m=4, n_codes=16)
        bf_rows = bf.collect()
        assert all(r.query_id // 100 == r.neighbor_id // 100 for r in bf_rows)
        opq_rows = opq.collect()
        in_cluster = sum(
            r.query_id // 100 == r.neighbor_id // 100 for r in opq_rows
        )
        assert len(opq_rows) == len(bf_rows)
        recall = in_cluster / len(opq_rows)
        assert recall >= 0.95, f"OPQ cluster recall {recall} too low"

    def test_dim_not_divisible_raises(self, spark, rng):
        from tidb_cdc_spark.functions import pq as PQ

        X = rng.normal(size=(30, 6))
        model = P.fit_pca(_vec_df(spark, X), k=6)
        with pytest.raises(ValueError, match="divisible"):
            PQ.opq_eigenvalue_allocation(model, m=4)

    def test_low_rank_model_rejected(self, spark, rng):
        from tidb_cdc_spark.functions import pq as PQ

        X = rng.normal(size=(30, 8))
        model = P.fit_pca(_vec_df(spark, X), k=4)
        with pytest.raises(ValueError, match="full-rank"):
            PQ.opq_eigenvalue_allocation(model, m=2)


def test_train_fraction_sampled_centroids_still_exhaustive(spark):
    # k-means trained on a 30% sample: every vector still gets a
    # cell and every planted exact copy is still pruned (the audit
    # contract holds for ANY centroid set — copies share the cell by
    # identical-argmin, whatever the centroids are)
    rng2 = np.random.default_rng(7)
    base = rng2.normal(size=(80, 8))
    vecs = np.vstack([base, base[:10]])
    res = SD.semantic_dedup(
        _vec_df(spark, vecs), n_cells=4, threshold=0.99, train_fraction=0.3
    ).toPandas()
    assert len(res) == 90  # assignment covers everything
    assert set(res[res.is_dup].vec_id) >= set(range(80, 90))


def test_persisted_input_does_not_change_output(spark, monkeypatch):
    # semantic_dedup persists its vector frame before the k-means fit
    # and assignment; with materialize as identity every consumer
    # recomputes it instead — the output rows must be identical
    import tidb_cdc_spark.session as session

    rng2 = np.random.default_rng(3)
    base = rng2.normal(size=(60, 8))
    vecs = np.vstack([base, base[:12] + rng2.normal(scale=1e-3, size=(12, 8))])
    df = _vec_df(spark, vecs)

    def run():
        return (
            SD.semantic_dedup(df, n_cells=4, threshold=0.99, seed=5)
            .toPandas()
            .sort_values("vec_id", ignore_index=True)
        )

    persisted = run()
    monkeypatch.setattr(session, "materialize", lambda frame: frame)
    recomputed = run()
    pd.testing.assert_frame_equal(persisted, recomputed)
    assert set(persisted[persisted.is_dup].vec_id) >= set(range(60, 72))


def test_allocation_balances_with_subunit_eigenvalues(spark, rng):
    # unit-scale embeddings: ALL eigenvalues < 1 (logs negative) —
    # the greedy must stay scale-invariant and still beat the
    # contiguous split (regression: un-shifted greedy degenerates
    # to identity exactly in this regime)
    from tidb_cdc_spark.functions import pq as PQ

    scales = np.array([100, 50, 20, 10, 5, 2, 1, 0.5]) / 150.0
    X = rng.normal(size=(400, 8)) * scales
    model = P.fit_pca(_vec_df(spark, X), k=8)
    assert (model.explained_variance < 1).all()
    R = PQ.opq_eigenvalue_allocation(model, m=4)
    logs = np.log(model.explained_variance)
    perm = np.array(
        [int(np.argmax(np.abs(model.components @ r))) for r in R]
    )

    def spread(p):
        s = [logs[p[2 * j: 2 * j + 2]].sum() for j in range(4)]
        return max(s) - min(s)

    assert sorted(perm.tolist()) == list(range(8))
    assert spread(perm) < spread(np.arange(8)) - 1e-6


class TestFeatureHash:
    def _docs(self, spark):
        rows = [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the mat"),  # exact copy of 0
            (2, "a completely different sentence here"),
            (3, "The CAT sat ON the mat"),  # case-folds to 0's tokens
            (4, ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_sparse_properties(self, spark):
        from tidb_cdc_spark.functions.feature_hash import hashed_tf

        tf = hashed_tf(self._docs(spark), dim=16).toPandas()
        assert ((tf.bucket >= 0) & (tf.bucket < 16)).all()
        # doc 0 has 6 tokens; tf mass preserved
        assert tf[tf.doc_id == 0].tf.sum() == 6
        # exact copy and case-variant hash identically
        a = tf[tf.doc_id == 0].set_index("bucket").tf
        for twin in (1, 3):
            b = tf[tf.doc_id == twin].set_index("bucket").tf
            assert a.sort_index().equals(b.sort_index())
        # empty doc contributes no rows
        assert (tf.doc_id != 4).all()

    def test_dense_matches_sparse(self, spark):
        import numpy as np

        from tidb_cdc_spark.functions.feature_hash import (
            hashed_tf,
            hashed_tf_dense,
        )

        docs = self._docs(spark)
        sparse = hashed_tf(docs, dim=16).toPandas()
        dense = hashed_tf_dense(docs, dim=16).toPandas().set_index("doc_id")
        for doc_id, grp in sparse.groupby("doc_id"):
            v = np.zeros(16)
            v[grp.bucket.to_numpy()] = grp.tf.to_numpy()
            assert np.array_equal(np.array(dense.loc[doc_id, "embedding"]), v)


class TestWinnowing:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_guarantee_shared_run_detected(self, spark):
        # the winnowing guarantee: a shared run of >= w+k-1 tokens
        # (k=8, w=4 -> 11) MUST yield a shared fingerprint, wherever
        # it sits in each document
        from tidb_cdc_spark.functions.winnow import winnow_overlap

        run = " ".join(f"s{i}" for i in range(11))
        a = "a1 a2 a3 " + run + " a4 a5"
        b = " ".join(f"b{i}" for i in range(20)) + " " + run
        c = " ".join(f"c{i}" for i in range(25))  # no overlap
        pairs = winnow_overlap(
            self._docs(spark, [(0, a), (1, b), (2, c)]), min_shared=1
        ).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (0, 1) in got
        assert not any(2 in p for p in got)

    def test_identical_docs_share_all_fingerprints(self, spark):
        from tidb_cdc_spark.functions.winnow import winnow_fingerprints

        text = " ".join(f"w{i}" for i in range(40))
        fps = winnow_fingerprints(
            self._docs(spark, [(0, text), (1, text)])
        ).toPandas()
        s0 = set(fps[fps.doc_id == 0].fp)
        s1 = set(fps[fps.doc_id == 1].fp)
        assert s0 == s1 and len(s0) > 0
        # density: winnowing stores ~2/(w+1) of the 33 shingles
        assert len(s0) < 33

    def test_short_doc_single_fingerprint(self, spark):
        from tidb_cdc_spark.functions.winnow import winnow_fingerprints

        fps = winnow_fingerprints(
            self._docs(spark, [(0, "just three tokens")])
        ).toPandas()
        assert len(fps) == 1

    def test_viral_fingerprint_capped(self, spark):
        # a fingerprint present in > max_doc_freq docs is dropped
        # from the pair join (boilerplate guard)
        from tidb_cdc_spark.functions.winnow import winnow_overlap

        boiler = " ".join(f"x{i}" for i in range(12))
        docs = [(i, boiler) for i in range(8)]
        pairs = winnow_overlap(
            self._docs(spark, docs), min_shared=1, max_doc_freq=4
        ).collect()
        assert pairs == []  # every fp is in 8 > 4 docs -> all capped


class TestSourceClassifier:
    def test_separable_sources_near_perfect(self, spark):
        from tidb_cdc_spark.functions.classifier import (
            source_classifier_eval,
        )

        # two sources with disjoint vocabularies -> linearly
        # separable in hashed-TF space
        rows = []
        for i in range(60):
            rows.append((i, "alpha beta gamma delta", "wiki"))
            rows.append((1000 + i, "zeta eta theta iota", "crawl"))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = (
            source_classifier_eval(docs, dim=32)
            .toPandas()
            .set_index("label")
        )
        assert out.loc["__all__", "accuracy_ppm"] >= 990_000
        assert out.loc["__all__", "n_eval"] > 0

    def test_no_signal_stays_near_baseline(self, spark):
        # labels independent of text: the classifier must NOT
        # hallucinate signal — accuracy stays in the chance band
        # (sanity check against leakage through the split or the
        # label indexer). The synthetic corpus's `source` column is
        # exactly such a label (text is source-independent).
        from tidb_cdc_spark.functions.classifier import (
            source_classifier_eval,
        )

        from tests.conftest import SF_CORRECT

        docs = spark.read.parquet(
            f"{SF_CORRECT}/documents.parquet"
        ).select("doc_id", "text", "source")
        out = source_classifier_eval(docs).toPandas().set_index("label")
        # 20 uniform sources -> chance ~5%; anything over 30% would
        # mean information is leaking from somewhere
        assert out.loc["__all__", "accuracy_ppm"] < 300_000


def test_semantic_dedup_empty_input(spark):
    import numpy as np

    df = _vec_df(spark, np.zeros((1, 4))).filter(F.col("vec_id") < 0)
    out = SD.semantic_dedup(df, n_cells=4).toPandas()
    assert len(out) == 0
    assert list(out.columns) == [
        "vec_id", "cell", "is_dup", "dup_of", "max_sim", "truncated"
    ]


class TestPcaMomentSink:
    def test_stream_equals_one_shot(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import PcaMomentSink

        rng2 = np.random.default_rng(3)
        a, b = rng2.normal(size=(60, 5)), rng2.normal(size=(40, 5))
        sink = PcaMomentSink(str(tmp_path / "store"))
        sink.process(_vec_df(spark, a), 0)
        sink.process(
            _vec_df(spark, b).withColumn(
                "vec_id", F.col("vec_id") + 60
            ),
            1,
        )
        streamed = sink.fit(spark, k=5)
        whole = P.fit_pca(_vec_df(spark, np.vstack([a, b])), k=5)
        assert np.allclose(
            streamed.explained_variance, whole.explained_variance, atol=1e-9
        )
        assert np.allclose(streamed.mean, whole.mean, atol=1e-10)
        assert np.allclose(
            streamed.components, whole.components, atol=1e-8
        )

    def test_replay_is_noop_and_empty_fit_none(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import PcaMomentSink

        sink = PcaMomentSink(str(tmp_path / "store"))
        assert sink.fit(spark) is None
        X = np.eye(3)
        sink.process(_vec_df(spark, X), 0)
        m1 = sink.fit(spark, k=3)
        sink.process(_vec_df(spark, X), 0)  # re-delivery
        m2 = sink.fit(spark, k=3)
        assert np.allclose(m1.mean, m2.mean)  # not doubled
        assert np.allclose(
            m1.explained_variance, m2.explained_variance
        )


class TestWhiten:
    def test_whitened_covariance_is_identity(self, spark):
        import numpy as np

        from tidb_cdc_spark.functions.pca import fit_pca, whiten

        rng = np.random.default_rng(11)
        # anisotropic: axis scales 10 / 3 / 1 / 0.3
        X = rng.normal(size=(400, 4)) * np.array([10.0, 3.0, 1.0, 0.3])
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(400)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        model = fit_pca(e, k=4)
        W = np.stack(
            whiten(e, model).orderBy("vec_id").toPandas()["white"].to_numpy()
        )
        cov = np.cov(W.T, bias=True)
        assert np.abs(cov - np.eye(4)).max() < 1e-6

    def test_zero_variance_axis_does_not_blow_up(self, spark):
        import numpy as np

        from tidb_cdc_spark.functions.pca import fit_pca, whiten

        rng = np.random.default_rng(12)
        X = np.zeros((100, 3))
        X[:, 0] = rng.normal(size=100)  # one live axis, two dead
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(100)]
        e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        model = fit_pca(e, k=3)
        W = np.stack(
            whiten(e, model).orderBy("vec_id").toPandas()["white"].to_numpy()
        )
        assert np.isfinite(W).all()
        # dead axes stay ~zero instead of amplifying float noise
        assert np.abs(W[:, 1:]).max() < 1.0
