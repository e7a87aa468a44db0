"""LLM-pipeline operator tests: planted duplicates are found, LSH
agrees with brute force, multimodal plumbing round-trips."""

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import dedup as D
from tidb_cdc_spark.functions import media_probe as M
from tidb_cdc_spark.functions import similarity as S
from tidb_cdc_spark.functions import text as T


def _as_long(u: int) -> int:
    """Unsigned 64-bit int → Python int in Spark LongType range."""
    return u - (1 << 64) if u >= (1 << 63) else u


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "while the cat watches from the tall tree near the old red barn"
    )
    near = base.replace("red barn", "blue barn")  # 1-token change
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "  " + base.upper() + "  "),  # normalized dup of 0
        (3, near),  # near-dup of 0
        (4, "completely different content about spark query engines and "
            "distributed columnar execution with vectorized readers here"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_planted_dups_collapse(self, spark, docs):
        out = {r.doc_id: r.n_dups for r in D.exact_dedup(docs).collect()}
        assert out[0] == 3  # 0, 1, and case/whitespace-normalized 2
        assert out[3] == 1 and out[4] == 1 and out[5] == 1


class TestMinhash:
    def test_near_dup_pair_found(self, spark, docs):
        pairs = D.minhash_lsh_pairs(docs, bands=16, num_hashes=64)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (0, 1) in got and (0, 2) in got  # exact dups always collide
        assert (0, 3) in got or (1, 3) in got  # near-dup likely banded together
        assert all(4 not in p or p in {(4, 4)} for p in got) or not any(
            4 in p for p in got
        )  # unrelated doc stays out

    def test_est_jaccard_sane(self, spark, docs):
        pairs = {(r.id_a, r.id_b): r.est_jaccard
                 for r in D.minhash_lsh_pairs(docs).collect()}
        assert pairs[(0, 1)] == 1.0
        if (0, 3) in pairs:
            assert 0.5 < pairs[(0, 3)] < 1.0

    def test_bucket_guard_changes_nothing_on_normal_docs(self, spark, docs):
        guarded = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs).collect()}
        bare = {(r.id_a, r.id_b)
                for r in D.minhash_lsh_pairs(docs, max_bucket_size=None).collect()}
        assert guarded == bare

    def test_viral_template_family_capped(self, spark):
        """40 near-identical template docs share ~every band bucket —
        each bucket alone is 40·39/2 join rows; with a cap below the
        family size the buckets are dropped and the candidate list no
        longer grows quadratically in family size."""
        rows = [
            (i, "common boiler plate template text repeated across the "
                f"whole mirror family with tiny suffix unique{i}")
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        bare = D.minhash_lsh_pairs(df, max_bucket_size=None).count()
        assert bare == 40 * 39 // 2  # every pair collides unguarded
        capped = D.minhash_lsh_pairs(df, max_bucket_size=10).count()
        assert capped < bare / 4


class TestSimhash:
    def test_exact_dups_zero_hamming(self, spark, docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_pairs(docs).collect()}
        assert pairs[(0, 1)] == 0
        assert pairs[(0, 2)] == 0  # normalization via lower() in shingles

    def test_bucket_guard_changes_nothing_on_normal_docs(self, spark, docs):
        guarded = {(r.id_a, r.id_b, r.hamming)
                   for r in D.simhash_pairs(docs).collect()}
        bare = {(r.id_a, r.id_b, r.hamming)
                for r in D.simhash_pairs(docs, max_bucket_size=None).collect()}
        assert guarded == bare

    def test_permuted_tables_complete_wrt_hamming(self, spark):
        """Exhaustive completeness check of the Manku table design: for
        a base signature and EVERY ≤3-bit perturbation pattern shape
        (all C(6,3) ways of spreading 3 flipped bits across blocks —
        incl. 3 distinct blocks, where the old 4×16 pigeonhole's
        chunk-PAIR variant would provably miss), the pair is found."""
        import random

        rng = random.Random(7)
        base = rng.getrandbits(64)
        # block layout for blocks=6: sizes 11,11,11,11,10,10
        sizes = [11, 11, 11, 11, 10, 10]
        offs = [sum(sizes[:i]) for i in range(6)]
        rows = [(0, _as_long(base))]
        want = set()
        nid = 1
        from itertools import combinations_with_replacement
        for blks in combinations_with_replacement(range(6), 3):
            # flip 3 bits spread over the chosen blocks (distinct bits)
            bits = []
            for b in set(blks):
                k = blks.count(b)
                bits += rng.sample(range(offs[b], offs[b] + sizes[b]), k)
            rows.append((nid, _as_long(base ^ sum(1 << p for p in bits))))
            want.add((0, nid))
            nid += 1
        sig = spark.createDataFrame(rows, "_id long, _sh long")
        got = {(r.id_a, r.id_b) for r in D.simhash_pairs_from_sigs(sig).collect()
               if r.id_a == 0}
        assert want <= got

    def test_viral_family_stays_subquadratic(self, spark):
        """10⁴ synthetic signatures agreeing on blocks 0-2 (33 shared
        low bits — worse than any single shared 16-bit chunk) land in
        ONE (0,1,2)-table bucket = 5·10⁷ join rows unguarded; the
        bucket cap drops it and planted true pairs are still found
        through their other clean-block tables."""
        import random

        rng = random.Random(42)
        fam_low = rng.getrandbits(33)
        rows = [
            (i, _as_long((rng.getrandbits(31) << 33) | fam_low))
            for i in range(10_000)
        ]
        # planted near-dups OUTSIDE the family: diffs confined to
        # blocks 0-2, so table (3,4,5) catches them even with other
        # buckets dropped
        want = set()
        for j in range(5):
            b = rng.getrandbits(64)
            diff = sum(1 << p for p in rng.sample(range(33), 3))
            a_id, b_id = 20_000 + 2 * j, 20_001 + 2 * j
            rows += [(a_id, _as_long(b)), (b_id, _as_long(b ^ diff))]
            want.add((a_id, b_id))
        sig = spark.createDataFrame(rows, "_id long, _sh long")
        got = {(r.id_a, r.id_b)
               for r in D.simhash_pairs_from_sigs(sig).collect()}
        assert want <= got
        # guard bound: no quadratic family blowup in the output
        assert len(got) < 5_000


class TestNgramJaccard:
    def test_exact_jaccard_values(self, spark, docs):
        pairs = {(r.id_a, r.id_b): r.jaccard
                 for r in D.ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()}
        assert pairs[(0, 1)] == 1.0
        # near-dup: "red"→"blue" at token 24 of 26; 22 5-shingles,
        # 2 shingle starts (20, 21) cover the change →
        # J = 20 / (22 + 22 - 20) = 20/24
        assert pairs[(0, 3)] == pytest.approx(20 / 24, abs=0.01)

    def test_default_pruning_changes_nothing_on_normal_docs(self, spark, docs):
        """The default max_doc_freq cap only bites on viral shingles;
        on ordinary data results must be identical to unpruned."""
        pruned = {(r.id_a, r.id_b, r.jaccard)
                  for r in D.ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()}
        bare = {(r.id_a, r.id_b, r.jaccard)
                for r in D.ngram_jaccard_pairs(
                    docs, min_jaccard=0.5, max_doc_freq=None).collect()}
        assert pruned == bare

    def test_hot_shingle_pruned_below_cap(self, spark):
        """30 docs share ONE boilerplate shingle (df=30) with unique
        tails: with a cap below 30 the hot shingle is dropped and no
        pair survives — the quadratic-join guard at 100 TB."""
        rows = [
            (i, f"common boiler plate shingle text unique{i} a{i} b{i} c{i} d{i}")
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        bare = D.ngram_jaccard_pairs(df, min_jaccard=0.01, max_doc_freq=None)
        assert bare.count() == 30 * 29 // 2  # every pair shares the hot shingle
        pruned = D.ngram_jaccard_pairs(df, min_jaccard=0.01, max_doc_freq=10)
        assert pruned.count() == 0


class TestShingleEdgeCases:
    def test_empty_docs_emit_sentinel_and_pair(self, spark):
        rows = [(0, ""), (1, "   "), (2, "real content here five tokens")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ids = {r._id for r in T.shingle_hash_rows(df).collect()}
        assert ids == {0, 1, 2}  # empty docs present via sentinel row
        pairs = {(r.id_a, r.id_b)
                 for r in D.ngram_jaccard_pairs(df, min_jaccard=0.99).collect()}
        assert (0, 1) in pairs  # two empty docs are duplicates

    def test_simhash_guard_rejects_lane_overflow(self, spark):
        big = " ".join(f"tok{i}" for i in range(33000))
        df = spark.createDataFrame([(0, big)], "doc_id long, text string")
        with pytest.raises(Exception, match="simhash lane overflow"):
            D.simhash_signatures_df(df).collect()


class TestSimilarity:
    def test_lsh_knn_high_recall_on_clustered_data(self, spark):
        # LSH's contract is recall on ACTUALLY-near neighbors; build
        # clusters (base + small noise) where top-k cosine is ~0.99
        import random

        rng = random.Random(13)
        rows = []
        for c in range(10):
            base = [rng.gauss(0, 1) for _ in range(32)]
            for i in range(12):
                rows.append(
                    (c * 100 + i, [b + rng.gauss(0, 0.05) for b in base])
                )
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = embs.filter(F.col("vec_id") % 100 == 0)
        bf = S.knn_bruteforce(q, embs, k=5)
        lsh = S.knn_lsh(q, embs, k=5, dim=32)
        bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
        lsh_set = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
        recall = len(bf_set & lsh_set) / len(bf_set)
        assert recall >= 0.9, f"LSH recall {recall} too low on clustered data"

    def test_lsh_knn_runs_on_random_data(self, spark):
        # uniform-random vectors have no true neighbors; assert the
        # operator still returns ranked candidates (recall on random
        # data is meaningless — documented behavior, not a bug)
        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = embs.filter(F.col("vec_id") < 5)
        out = S.knn_lsh(q, embs, k=5, dim=64).collect()
        assert len(out) > 0
        assert all(1 <= r.rank <= 5 for r in out)

    def test_cosine_expr_matches_numpy(self, spark):
        import numpy as np

        a = [1.0, 2.0, 3.0]
        b = [4.0, 5.0, 6.0]
        df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
        got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
        want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert got == pytest.approx(want, rel=1e-12)

    def test_embedding_near_dup_finds_planted(self, spark):
        rows = [
            (0, [1.0] * 8),
            (1, [1.0] * 7 + [1.001]),  # near-identical
            (2, [-1.0] * 8),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = D.embedding_near_dup_pairs(df, dim=8, min_cosine=0.99)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert got == {(0, 1)}


class TestTextFunctions:
    def test_lang_id_on_clear_text(self, spark):
        rows = [
            (0, "the cat and the dog ran to the house with a ball"),
            (1, "el perro y el gato en la casa de los abuelos con un amigo"),
            (2, "der hund und die katze mit den kindern ist nicht zu haus"),
            (3, "xyzzy qwerty plugh"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.l for r in
               df.select("doc_id", T.lang_id(F.col("text")).alias("l")).collect()}
        assert got == {0: "en", 1: "es", 2: "de", 3: "und"}

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(0, "  a  b   c "), (1, "")],
                                   "doc_id long, text string")
        got = {r.doc_id: r.n for r in
               df.select("doc_id", T.token_count(F.col("text")).alias("n")).collect()}
        assert got == {0: 3, 1: 0}

    def test_bpe_token_count(self, spark):
        df = spark.createDataFrame([(0, "hello, world42!")], "doc_id long, text string")
        n = df.select(T.bpe_token_count(F.col("text")).alias("n")).collect()[0].n
        # hello | , | world | 42 | !
        assert n == 5

    def test_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",)], "text string")
        got = df.select(T.shingles(F.col("text"), k=2).alias("s")).collect()[0].s
        assert got == ["a b", "b c", "c d"]

    def test_shingles_shorter_than_k(self, spark):
        df = spark.createDataFrame([("a b",)], "text string")
        got = df.select(T.shingles(F.col("text"), k=5).alias("s")).collect()[0].s
        assert got == ["a b"]


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        media = M.synthesize_media(spark, n=12)
        feats = M.extract_features(media).collect()
        assert len(feats) == 12
        by_id = {r.media_id: r for r in feats}
        assert by_id[0].n_bytes == 256  # 32-byte sha256 digest × 8
        assert len(by_id[0].sha256) == 64
        assert 64 <= by_id[0].feat_width < 128  # stub decode bounds
        # deterministic: same payload → same features
        feats2 = M.extract_features(M.synthesize_media(spark, n=12)).collect()
        assert {r.media_id: r.sha256 for r in feats2} == {
            r.media_id: r.sha256 for r in feats}

    def test_decode_uses_codec_when_importable(self, monkeypatch):
        """The one-function stub boundary: with a codec library
        present, decode_image_dims uses it; on parse failure (or
        with no codec) it falls back to the deterministic fake."""

        class FakeImage:
            size = (320, 240)

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        class FakePIL:
            @staticmethod
            def open(buf):
                if buf.read(4) != b"GOOD":
                    raise ValueError("not an image")
                return FakeImage()

        monkeypatch.setattr(M, "_PIL_Image", FakePIL)
        assert M.decode_image_dims(b"GOOD rest of image bytes") == (320, 240)
        bad = b"definitely not an image"
        assert M.decode_image_dims(bad) == M._decode_image_stub(bad)
        monkeypatch.setattr(M, "_PIL_Image", None)
        assert M.decode_image_dims(bad) == M._decode_image_stub(bad)

    def test_frame_sampling_plan(self, spark):
        media = M.synthesize_media(spark, n=9)
        frames = M.frame_sample_plan(media, every_ms=1000)
        got = frames.groupBy("media_id").count().collect()
        by_id = {r.media_id: r["count"] for r in got}
        # video ids are 2, 5, 8 with durations 3000/6000/9000ms
        assert by_id[2] == 3 and by_id[5] == 6 and by_id[8] == 9


@pytest.mark.slow  # slow tier: clustered-recall battery
class TestIvf:
    def test_ivf_knn_high_recall_on_clustered_data(self, spark):
        import random

        from tidb_cdc_spark.functions import similarity as S2

        rng = random.Random(29)
        rows = []
        for c in range(10):
            base = [rng.gauss(0, 1) for _ in range(32)]
            for i in range(12):
                rows.append((c * 100 + i, [b + rng.gauss(0, 0.05) for b in base]))
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = embs.filter(F.col("vec_id") % 100 == 0)
        bf = S2.knn_bruteforce(q, embs, k=5)
        ivf = S2.knn_ivf(q, embs, k=5, n_cells=10, n_probe=3)
        bf_set = {(r.query_id, r.neighbor_id) for r in bf.collect()}
        ivf_set = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        recall = len(bf_set & ivf_set) / len(bf_set)
        assert recall >= 0.9, f"IVF recall {recall} too low on clustered data"

    def test_persisted_index_prunes_partitions(self, spark, tmp_path):
        """The partition-by-cell layout claim made real: the probe
        scan carries a `cell IN (...)` PARTITION filter (directory-
        level pruning — unprobed cells are never read), and retrieval
        through the persisted index still finds planted exact copies
        (same cell assignment, cosine 1)."""
        from tidb_cdc_spark.functions import similarity as S2

        e = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", "embedding")
        copies = e.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        path = str(tmp_path / "ivf")
        S2.ivf_write_index(e.unionByName(copies), path, n_cells=8)

        q = e.filter(F.col("vec_id") < 3)
        out = S2.ivf_probe_index(spark, path, q, k=5, n_probe=2)
        got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        for i in range(3):
            assert (i, i + 1_000_000) in got  # exact copy retrieved

        # plan-level pruning proof: the filtered index scan shows a
        # non-empty PartitionFilters with the cell predicate
        scan = spark.read.parquet(f"{path}/index").filter(
            F.col("cell").isin([0, 1])
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan and " IN (0,1)" in plan
        # and the layout is one directory per cell, one file per dir
        import glob

        dirs = glob.glob(f"{path}/index/cell=*")
        assert len(dirs) == 8
        for d in dirs:
            assert len(glob.glob(f"{d}/*.parquet")) == 1


@pytest.mark.slow  # slow tier: PQ/ADC recall battery
class TestProductQuantization:
    def _clustered(self, spark, dim=32, n_clusters=10, per=12, sigma=0.05):
        import random

        rng = random.Random(29)
        rows = []
        for c in range(n_clusters):
            base = [rng.gauss(0, 1) for _ in range(dim)]
            for i in range(per):
                rows.append(
                    (c * 100 + i, [b + rng.gauss(0, sigma) for b in base])
                )
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_codes_shape_and_compression(self, spark):
        from tidb_cdc_spark.functions import pq as PQ

        embs = self._clustered(spark)
        books = PQ.pq_train(embs, m=4, k=16)
        assert books.shape == (4, 16, 8)
        codes = PQ.pq_encode(embs, books)
        rows = codes.collect()
        assert all(len(r.codes) == 4 for r in rows)
        assert all(0 <= c < 16 for r in rows for c in r.codes)
        # clustered vectors quantize to FAR fewer code words than
        # vectors (boundary-straddling noise splits some clusters
        # across nearby codes, so it is not exactly one per cluster)
        distinct = len({tuple(r.codes) for r in rows})
        assert distinct <= len(rows) // 2, distinct

    def test_persisted_ivfpq_matches_in_memory_and_prunes(self, spark, tmp_path):
        """ivfpq_write_index + ivfpq_probe_index must return exactly
        what the in-memory ivfpq_knn returns (same seed ⇒ same cells,
        codebooks, codes; the probe reads only the probed cells, which
        is precisely the candidate set the in-memory search scores) —
        and the codes scan must show directory-level PartitionFilters."""
        from tidb_cdc_spark.functions import pq as PQ

        embs = self._clustered(spark)
        q = embs.filter(F.col("vec_id") % 100 == 0)
        path = str(tmp_path / "ivfpq")
        PQ.ivfpq_write_index(embs, path, n_cells=10, m=4, k_codes=16)
        via_index = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in PQ.ivfpq_probe_index(spark, path, q, k=5, n_probe=3).collect()
        }
        in_memory = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in PQ.ivfpq_knn(
                embs.filter(F.col("vec_id") % 100 == 0),
                embs, k=5, n_cells=10, n_probe=3, m=4, k_codes=16,
            ).collect()
        }
        assert via_index == in_memory and len(via_index) > 0

        scan = spark.read.parquet(f"{path}/codes").filter(
            F.col("cell").isin([0, 1])
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan

    def test_adc_knn_high_recall_on_clustered_data(self, spark):
        from pyspark.sql import functions as F

        from tidb_cdc_spark.functions import pq as PQ
        from tidb_cdc_spark.functions import similarity as S2

        embs = self._clustered(spark)
        books = PQ.pq_train(embs, m=4, k=16)
        codes = PQ.pq_encode(embs, books)
        q = embs.filter(F.col("vec_id") % 100 == 0)
        bf = S2.knn_bruteforce(q, embs, k=5)
        pq = PQ.pq_knn_adc(q, codes, books, k=5)
        # Within a tight cluster all members quantize to (near-)equal
        # codes, so ADC cannot ORDER them — exact-id recall vs brute
        # force is dominated by tie-breaks, not quantization quality.
        # The property PQ guarantees is cluster-level retrieval: every
        # returned neighbor must come from the query's own cluster
        # (brute-force top-5 is all in-cluster by construction).
        bf_rows = bf.collect()
        assert all(r.query_id // 100 == r.neighbor_id // 100 for r in bf_rows)
        pq_rows = pq.collect()
        in_cluster = sum(
            r.query_id // 100 == r.neighbor_id // 100 for r in pq_rows
        )
        assert len(pq_rows) == len(bf_rows)
        recall = in_cluster / len(pq_rows)
        assert recall >= 0.95, f"PQ-ADC cluster recall {recall} too low"

    def test_dim_not_divisible_raises(self, spark):
        import pytest as _pytest

        from tidb_cdc_spark.functions import pq as PQ

        embs = self._clustered(spark, dim=30)
        with _pytest.raises(ValueError, match="divisible"):
            PQ.pq_train(embs, m=4, k=8)

    def test_ivfpq_cluster_recall(self, spark):
        from pyspark.sql import functions as F

        from tidb_cdc_spark.functions import pq as PQ

        embs = self._clustered(spark)
        q = embs.filter(F.col("vec_id") % 100 == 0)
        out = PQ.ivfpq_knn(q, embs, k=5, n_cells=10, n_probe=3)
        rows = out.collect()
        assert {r.query_id for r in rows} == {c * 100 for c in range(10)}
        in_cluster = sum(r.query_id // 100 == r.neighbor_id // 100 for r in rows)
        recall = in_cluster / len(rows)
        assert recall >= 0.95, f"IVF-PQ cluster recall {recall} too low"
        # every query returns exactly k ranked neighbors
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r.rank)
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


@pytest.mark.slow  # slow tier: band-store e2e battery
class TestNearDupIngest:
    def test_band_store_screens_incoming_batch(self, spark):
        from tidb_cdc_spark.functions.dedup import (
            minhash_band_rows,
            near_dup_ingest,
        )

        words = [f"w{i}" for i in range(30)]
        corpus = spark.createDataFrame(
            [(1, " ".join(words)), (2, " ".join(reversed(words)))],
            "doc_id long, text string",
        )
        store = minhash_band_rows(corpus)
        # doc 10: token-identical to doc 1 (whitespace differs only) →
        # identical shingle set → identical signature → deterministic
        # collision. doc 11: disjoint vocabulary → no collision.
        batch = spark.createDataFrame(
            [
                (10, "  ".join(words)),
                (11, " ".join(f"x{i}" for i in range(30))),
            ],
            "doc_id long, text string",
        )
        clean, candidates, new_bands = near_dup_ingest(batch, store)
        cand = {(r.new_id, r.corpus_id) for r in candidates.collect()}
        assert (10, 1) in cand
        assert all(n != 11 for n, _ in cand)
        assert {r.doc_id for r in clean.collect()} == {11}
        # new_bands carries ONLY admitted docs — appending rejected
        # doc 10's bands would index a document that was never stored
        assert {r.doc_id for r in new_bands.collect()} == {11}
        # appending new_bands keeps the index current: a replay of the
        # SAME batch now collides on the admitted doc too
        store2 = store.unionByName(new_bands)
        _, cand2, _ = near_dup_ingest(batch, store2)
        assert (11, 11) in {(r.new_id, r.corpus_id) for r in cand2.collect()}

    def test_intra_batch_collisions_admit_one(self, spark):
        from tidb_cdc_spark.functions.dedup import (
            minhash_band_rows,
            near_dup_ingest,
        )

        words = [f"w{i}" for i in range(30)]
        corpus = spark.createDataFrame(
            [(1, " ".join(f"z{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        store = minhash_band_rows(corpus)
        # 20 and 21 are token-identical (identical shingle set) and
        # arrive in the SAME batch; 22 is unrelated. Arrival-order
        # admission keeps the smaller id only.
        batch = spark.createDataFrame(
            [
                (20, " ".join(words)),
                (21, "  ".join(words)),
                (22, " ".join(f"y{i}" for i in range(30))),
            ],
            "doc_id long, text string",
        )
        clean, candidates, new_bands = near_dup_ingest(batch, store)
        assert {r.doc_id for r in clean.collect()} == {20, 22}
        intra = {
            (r.new_id, r.corpus_id)
            for r in candidates.filter("src = 'batch'").collect()
        }
        assert (21, 20) in intra
        assert {r.doc_id for r in new_bands.collect()} == {20, 22}


class TestImageHeaderParsing:
    """parse_image_header is REAL decode (no codec libs): dimensions
    from actual container headers constructed byte-for-byte."""

    def _png(self, w, h):
        import struct
        import zlib

        ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        )

    def _gif(self, w, h):
        return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")

    def _jpeg(self, w, h):
        import struct

        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x01\x01\x11\x00"
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    def _bmp(self, w, h):
        import struct

        return (
            b"BM"
            + b"\x00" * 12
            + struct.pack("<I", 40)      # BITMAPINFOHEADER size field
            + struct.pack("<ii", w, -h)  # top-down bmp: negative height
            + b"\x00" * 4
        )

    def test_real_headers_parse_exactly(self):
        from tidb_cdc_spark.functions.media_probe import parse_image_header

        assert parse_image_header(self._png(640, 480)) == (
            "image/png", 640, 480,
        )
        assert parse_image_header(self._gif(320, 200)) == (
            "image/gif", 320, 200,
        )
        assert parse_image_header(self._jpeg(1920, 1080)) == (
            "image/jpeg", 1920, 1080,
        )
        assert parse_image_header(self._bmp(256, 128)) == (
            "image/bmp", 256, 128,
        )
        assert parse_image_header(b"not an image at all") is None
        assert parse_image_header(b"") is None
        # truncated JPEG marker stream must not crash or misreport
        assert parse_image_header(b"\xff\xd8\xff\xe0\x00") is None

    def test_decode_image_dims_prefers_real_header(self, spark):
        """The pipeline path: real container bytes flow through
        extract_features and come out with TRUE dimensions, not the
        hash-derived fake."""
        from tidb_cdc_spark.functions.media_probe import extract_features

        rows = [
            (1, "image", "image/png", None, None, None,
             bytearray(self._png(640, 480))),
            (2, "image", "image/jpeg", None, None, None,
             bytearray(self._jpeg(1920, 1080))),
            (3, "image", "application/octet-stream", None, None, None,
             bytearray(b"opaque-unknown-bytes")),
        ]
        from tidb_cdc_spark.functions.media_probe import MEDIA_SCHEMA

        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = {
            r.media_id: (r.feat_width, r.feat_height)
            for r in extract_features(media).collect()
        }
        assert out[1] == (640, 480)
        assert out[2] == (1920, 1080)
        # unknown bytes still total (deterministic fake, in-range)
        assert 64 <= out[3][0] < 128 and 64 <= out[3][1] < 128


class TestMediaHeaderParsing:
    def _wav(self, seconds, rate=16000, channels=1, bits=16):
        import struct

        byte_rate = rate * channels * bits // 8
        data = b"\x00" * (byte_rate * seconds)
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, byte_rate, channels * bits // 8, bits
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def _mp4(self, duration_s, timescale=600):
        import struct

        mvhd = (
            b"\x00\x00\x00\x00"          # version 0 + flags
            + b"\x00" * 8                 # creation/modification
            + struct.pack(">I", timescale)
            + struct.pack(">I", duration_s * timescale)
            + b"\x00" * 80
        )
        mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
        moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        return ftyp + moov

    def test_wav_and_mp4_durations_parse_exactly(self):
        from tidb_cdc_spark.functions.media_probe import parse_media_header

        assert parse_media_header(self._wav(3)) == ("audio/wav", 3000)
        assert parse_media_header(self._mp4(42)) == ("video/mp4", 42000)
        assert parse_media_header(b"junk bytes") is None
        assert parse_media_header(b"") is None
        # truncated RIFF / short boxes must not crash or loop
        assert parse_media_header(b"RIFF\x00\x00\x00\x00WAVE") is None
        assert (
            parse_media_header(b"\x00\x00\x00\x04ftypisom\x00\x00\x00\x00")
            is None
        )


class TestProbeMedia:
    def test_fills_null_metadata_from_real_headers(self, spark):
        from tidb_cdc_spark.functions.media_probe import (
            MEDIA_SCHEMA,
            probe_media,
        )

        png = TestImageHeaderParsing()._png(640, 480)
        wav = TestMediaHeaderParsing()._wav(3)
        rows = [
            (1, "image", None, None, None, None, bytearray(png)),
            (2, "audio", None, None, None, None, bytearray(wav)),
            # pre-set metadata must win over the probe
            (3, "image", "image/custom", 10, 20, None, bytearray(png)),
            (4, "image", None, None, None, None, bytearray(b"junk")),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = {r.media_id: r for r in probe_media(media).collect()}
        assert (out[1].mime, out[1].width, out[1].height) == (
            "image/png", 640, 480,
        )
        assert (out[2].mime, out[2].duration_ms) == ("audio/wav", 3000)
        assert (out[3].mime, out[3].width, out[3].height) == (
            "image/custom", 10, 20,
        )
        assert out[4].mime is None and out[4].width is None


class TestHeaderParserEdgeCases:
    """Crafted payloads from a review: truncated MP4s, JPEG
    fill bytes, OS/2 core-header BMPs, NULL payloads."""

    def test_truncated_mp4_returns_none_not_garbage(self):
        import struct

        from tidb_cdc_spark.functions.media_probe import parse_media_header

        # v1 mvhd truncated right after the timescale
        mvhd_v1 = b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(">I", 600)
        box = struct.pack(">I", 8 + len(mvhd_v1) + 100) + b"mvhd" + mvhd_v1
        moov = struct.pack(">I", 8 + len(box)) + b"moov" + box
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        assert parse_media_header(ftyp + moov) is None
        # v0 mvhd truncated 3 bytes into the duration
        mvhd_v0 = b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(">I", 600)
        mvhd_v0 += b"\x00"  # 1 of 4 duration bytes
        box = struct.pack(">I", 8 + len(mvhd_v0) + 3) + b"mvhd" + mvhd_v0
        moov = struct.pack(">I", 8 + len(box)) + b"moov" + box
        assert parse_media_header(ftyp + moov) is None

    def test_jpeg_fill_bytes_before_marker(self):
        import struct

        from tidb_cdc_spark.functions.media_probe import parse_image_header

        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", 480, 640)
            + b"\x01\x01\x11\x00"
        )
        # legal 0xFF padding before the SOF marker
        jpeg = b"\xff\xd8" + b"\xff" * 3 + sof0 + b"\xff\xd9"
        assert parse_image_header(jpeg) == ("image/jpeg", 640, 480)

    def test_os2_core_header_bmp(self):
        import struct

        from tidb_cdc_spark.functions.media_probe import parse_image_header

        core = (
            b"BM" + b"\x00" * 12
            + struct.pack("<I", 12)           # BITMAPCOREHEADER size
            + struct.pack("<HHHH", 100, 200, 1, 24)
            + b"\x00" * 8
        )
        assert parse_image_header(core) == ("image/bmp", 100, 200)
        # unknown DIB header size: refuse, don't guess a layout
        weird = b"BM" + b"\x00" * 12 + struct.pack("<I", 20) + b"\x00" * 12
        assert parse_image_header(weird) is None

    def test_probe_media_null_payload_passes_through(self, spark):
        from tidb_cdc_spark.functions.media_probe import (
            MEDIA_SCHEMA,
            probe_media,
        )

        rows = [
            (1, "image", None, None, None, None, None),  # NULL payload
            (2, "image", None, None, None, None,
             bytearray(TestImageHeaderParsing()._png(32, 16))),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = {r.media_id: r for r in probe_media(media).collect()}
        assert out[1].mime is None and out[1].width is None
        assert (out[2].mime, out[2].width, out[2].height) == (
            "image/png", 32, 16,
        )


class TestTokenizerFertility:
    def test_hand_checked_ratios(self, spark):
        """'don't stop' = 2 words, 4 subwords (don / ' / t / stop) →
        fertility 2.0; per-lang grouping and integer µ ratios."""
        from pyspark.sql import functions as F

        from tidb_cdc_spark.functions.text import (
            bpe_token_count,
            token_count,
        )

        df = spark.createDataFrame(
            [
                ("en", "don't stop"),
                ("en", "abc 123"),
                ("de", "straße!"),
            ],
            "lang string, text string",
        )
        d = df.select(
            "lang",
            token_count(F.col("text")).alias("w"),
            bpe_token_count(F.col("text")).alias("s"),
            F.length("text").alias("c"),
        )
        rows = {(r.lang, r.w, r.s, r.c) for r in d.collect()}
        assert ("en", 2, 4, 10) in rows   # don / ' / t / stop
        assert ("en", 2, 2, 7) in rows    # abc / 123
        # straße!: word=1; subwords: stra / ß / e / ! (ß is non-ASCII
        # → single-symbol token); chars=7
        assert ("de", 1, 4, 7) in rows

        from tidb_cdc_spark.queries.corpus import corpus_tokenizer_fertility

        # end-to-end ratios on the real table: integral and ordered
        out = corpus_tokenizer_fertility(spark, "/root/testdata/sf0.001")
        got = out.collect()
        assert [r.lang for r in got] == sorted(r.lang for r in got)
        for r in got:
            assert r.fertility_ppm == (r.n_subwords * 1_000_000) // max(r.n_words, 1)


class TestMinhashStarPairs:
    def _family(self, spark):
        text = " ".join(f"tok{i}" for i in range(40))
        other = " ".join(f"z{i}" for i in range(40))
        rows = [(i, text) for i in range(5)] + [(10, other), (11, other)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_linear_output_and_hub_choice(self, spark):
        """A 5-member identical family emits exactly hub→member star
        pairs (4 rows, hub = min id), not the 10-row clique."""
        from tidb_cdc_spark.functions.dedup import minhash_lsh_star_pairs

        p = minhash_lsh_star_pairs(self._family(spark)).collect()
        fam = [(r.id_a, r.id_b) for r in p if r.id_a < 10]
        assert sorted(fam) == [(0, 1), (0, 2), (0, 3), (0, 4)]
        assert all(r.est_jaccard == 1.0 for r in p)
        assert (10, 11) in [(r.id_a, r.id_b) for r in p]

    def test_components_equal_clique_components(self, spark):
        """The guarantee cluster consumers rely on: CC over star
        pairs == CC over clique pairs."""
        from tidb_cdc_spark.functions.clusters import connected_components
        from tidb_cdc_spark.functions.dedup import (
            minhash_lsh_pairs,
            minhash_lsh_star_pairs,
        )

        d = self._family(spark)

        def comps(pairs):
            cc = connected_components(pairs.select("id_a", "id_b"))
            groups = {}
            for r in cc.collect():
                groups.setdefault(r[1], set()).add(r[0])
            return sorted(frozenset(g) for g in groups.values())

        assert comps(minhash_lsh_star_pairs(d)) == comps(
            minhash_lsh_pairs(d)
        )


class TestRetrievalMetrics:
    def test_hand_checked_scorecard(self, spark):
        from tidb_cdc_spark.functions.similarity import retrieval_metrics

        results = spark.createDataFrame(
            [
                (1, 10, 1), (1, 11, 2), (1, 12, 3),   # q1: hit at rank 2
                (2, 20, 1), (2, 21, 2),               # q2: hit at rank 1
                (3, 30, 1),                           # q3: no hits
            ],
            "query_id long, neighbor_id long, rank long",
        )
        gold = spark.createDataFrame(
            [
                (1, 11), (1, 99),        # 2 relevant, 1 found
                (2, 20),                 # 1 relevant, found at 1
                (3, 77),                 # 1 relevant, missed
                (4, 50),                 # q4 retrieved NOTHING
            ],
            "query_id long, neighbor_id long",
        )
        out = {
            r.query_id: r
            for r in retrieval_metrics(results, gold, k=3).collect()
        }
        assert out[1].hits_at_k == 1 and out[1].first_hit_rank == 2
        assert out[1].rr_mu == 500_000
        assert out[1].recall_mu == 500_000  # 1 of min(3, 2)
        assert out[2].rr_mu == 1_000_000 and out[2].recall_mu == 1_000_000
        assert out[3].hits_at_k == 0 and out[3].rr_mu == 0
        # a query that retrieved nothing still appears with zeros
        assert out[4].hits_at_k == 0 and out[4].recall_mu == 0
        assert set(out) == {1, 2, 3, 4}

    def test_recall_bounded_by_k(self, spark):
        """More relevant docs than k must not deflate recall: 3 hits
        of min(k=3, n_gold=10) -> recall 1.0."""
        from tidb_cdc_spark.functions.similarity import retrieval_metrics

        results = spark.createDataFrame(
            [(1, i, i) for i in range(1, 4)],
            "query_id long, neighbor_id long, rank long",
        )
        gold = spark.createDataFrame(
            [(1, i) for i in range(1, 11)],
            "query_id long, neighbor_id long",
        )
        r = retrieval_metrics(results, gold, k=3).collect()[0]
        assert r.recall_mu == 1_000_000 and r.hits_at_k == 3
