"""Tests for the curation-stage operators: deterministic sampling,
TF-IDF, connected-components cluster resolution, PII scrubbing."""

import random

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import clusters as C
from tidb_cdc_spark.functions import sampling as SA
from tidb_cdc_spark.functions import text as T
from tidb_cdc_spark.functions import tfidf as TI


class TestHashSampling:
    def test_deterministic_and_rate_accurate(self, spark):
        df = spark.range(0, 10000).withColumnRenamed("id", "k")
        s1 = {r.k for r in SA.hash_sample(df, "k", 0.3).collect()}
        s2 = {r.k for r in SA.hash_sample(df, "k", 0.3).collect()}
        assert s1 == s2  # reruns select the same rows
        assert 0.27 < len(s1) / 10000 < 0.33  # md5 is uniform

    def test_nested_rates(self, spark):
        # a lower-rate sample is a SUBSET of a higher-rate one
        # (same hash, smaller threshold) — stable train/eval splits
        df = spark.range(0, 5000).withColumnRenamed("id", "k")
        s_small = {r.k for r in SA.hash_sample(df, "k", 0.1).collect()}
        s_big = {r.k for r in SA.hash_sample(df, "k", 0.5).collect()}
        assert s_small <= s_big

    def test_salt_draws_independent_sample(self, spark):
        df = spark.range(0, 5000).withColumnRenamed("id", "k")
        a = {r.k for r in SA.hash_sample(df, "k", 0.3, salt="a").collect()}
        b = {r.k for r in SA.hash_sample(df, "k", 0.3, salt="b").collect()}
        overlap = len(a & b) / max(len(a), 1)
        assert 0.15 < overlap < 0.45  # ≈ rate, not ≈ 1

    def test_stratified_rates(self, spark):
        rows = [(i, "en" if i % 2 == 0 else "de") for i in range(8000)]
        df = spark.createDataFrame(rows, "k long, lang string")
        got = SA.stratified_sample(df, "k", "lang", {"en": 0.5, "de": 0.1})
        by_lang = {
            r.lang: r["count"] for r in got.groupBy("lang").count().collect()
        }
        assert 0.44 < by_lang["en"] / 4000 < 0.56
        assert 0.07 < by_lang["de"] / 4000 < 0.13

    def test_invalid_rate_raises(self, spark):
        df = spark.range(1).withColumnRenamed("id", "k")
        with pytest.raises(ValueError, match="rate"):
            SA.hash_sample(df, "k", 1.5)
        with pytest.raises(ValueError, match="stratum"):
            SA.stratified_sample(df, "k", "k", {"x": -0.1})

    def test_weighted_overflow_guard_is_rate_independent(self, spark):
        # the runtime predicate multiplies max_weight by the FULL
        # 2^32 bucket, so a low rate must not loosen the bound:
        # 2^32 · 3e9 > 2^62 would wrap negative and keep wrong rows
        df = spark.createDataFrame([(1, 5)], "k long, w long")
        with pytest.raises(ValueError, match="max_weight"):
            SA.weighted_sample(df, "k", "w", rate=0.25, max_weight=3_000_000_000)
        # a safe bound still passes regardless of rate
        assert SA.weighted_sample(df, "k", "w", rate=0.25, max_weight=10).count() <= 1

    def test_weighted_matches_bruteforce(self, spark):
        # cross-engine contract: keep iff bucket·max_weight < rate·2³²·w
        import hashlib

        rows = [(i, 1 + i % 7) for i in range(2000)]
        df = spark.createDataFrame(rows, "k long, w long")
        got = {r.k for r in SA.weighted_sample(df, "k", "w", 0.4, 7).collect()}
        thresh = int(0.4 * SA._BUCKET_SPACE)
        expect = {
            k
            for k, w in rows
            if int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) * 7
            < thresh * w
        }
        assert got == expect


class TestTfidf:
    def test_hand_checked_scores(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "apple apple banana"),
                (1, "banana cherry"),
                (2, "cherry cherry cherry durian"),
            ],
            "doc_id long, text string",
        )
        rows = TI.tfidf_scores(docs).collect()
        got = {(r.doc_id, r.term): (r.tf, r.df_t, r.tfidf) for r in rows}
        # N = 3; idf(t) = (3+1)/(df+1)
        assert got[(0, "apple")] == (2, 1, 2 * 4 / 2)
        assert got[(0, "banana")] == (1, 2, 1 * 4 / 3)
        assert got[(2, "cherry")] == (3, 2, 3 * 4 / 3)
        assert got[(2, "durian")] == (1, 1, 1 * 4 / 2)

    def test_top_terms_rank_and_ties(self, spark):
        docs = spark.createDataFrame(
            [(0, "z z a a b"), (1, "a b")], "doc_id long, text string"
        )
        top = TI.top_terms(docs, k=2).collect()
        by_doc = {}
        for r in top:
            by_doc.setdefault(r.doc_id, []).append(r.term)
        # doc 0: tf(z)=2 df(z)=1 → 2·(3/2)=3.0 ; tf(a)=2 df(a)=2 → 2.0
        assert by_doc[0] == ["z", "a"]
        # doc 1: a and b tie (1·1.0 each with df=2... a: df=2 → 1.0,
        # b: df=2 → 1.0) → tie broken by term asc
        assert by_doc[1] == ["a", "b"]


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestConnectedComponents:
    def test_matches_union_find_on_random_graph(self, spark):
        rng = random.Random(17)
        # 40 components of random internal structure
        pairs = []
        for c in range(40):
            nodes = [c * 100 + i for i in range(rng.randint(2, 12))]
            for n in nodes[1:]:
                pairs.append((rng.choice(nodes[: nodes.index(n)]), n))
        rng.shuffle(pairs)
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r.id: r.cluster_id
            for r in C.connected_components(edges).collect()
        }
        want = _union_find(pairs)
        # canonicalize union-find roots to min-of-component
        comp = {}
        for n, r in want.items():
            comp.setdefault(r, []).append(n)
        want_min = {n: min(ns) for r, ns in comp.items() for n in ns}
        assert got == want_min

    def test_chain_converges(self, spark):
        # worst-case diameter: a path graph
        pairs = [(i, i + 1) for i in range(15)]
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in C.connected_components(edges).collect()}
        assert set(got.values()) == {0}

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 200-node path has diameter 199: plain hash-min propagation
        # needs ~199 rounds (would blow max_iters=25); path-halving
        # pointer jumps make the min travel exponentially — O(log d)
        pairs = [(i, i + 1) for i in range(199)]
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r.id: r.cluster_id for r in C.connected_components(edges).collect()}
        assert set(got.values()) == {0} and len(got) == 200
        assert C.LAST_ROUNDS <= 12, f"took {C.LAST_ROUNDS} rounds"

    def test_nonconvergence_raises(self, spark):
        pairs = [(i, i + 1) for i in range(8)]
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="converge"):
            C.connected_components(edges, max_iters=2)

    def test_representatives_include_singletons(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(6)], "doc_id long"
        )
        pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
        rows = C.cluster_representatives(docs, pairs).collect()
        by_id = {r.doc_id: (r.cluster_id, r.is_representative) for r in rows}
        assert by_id[0] == (0, True)
        assert by_id[3] == (0, False)
        assert by_id[5] == (0, False)
        assert by_id[1] == (1, True)  # singleton: own cluster, kept
        assert by_id[4] == (4, True)

    def test_quality_aware_representative(self, spark):
        # cluster {0,3,5}: quality 1.0/9.0/9.0 → max quality wins,
        # tie between 3 and 5 broken by LOWEST id → 3 is kept even
        # though 0 (the min id = cluster_id) has the worst quality.
        docs = spark.createDataFrame(
            [(0, 1.0), (1, 5.0), (3, 9.0), (4, 2.0), (5, 9.0)],
            "doc_id long, q double",
        )
        pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
        rows = C.cluster_representatives(
            docs, pairs, quality_col="q"
        ).collect()
        by_id = {r.doc_id: (r.cluster_id, r.is_representative) for r in rows}
        assert by_id[0] == (0, False)
        assert by_id[3] == (0, True)
        assert by_id[5] == (0, False)
        # singletons keep themselves regardless of quality
        assert by_id[1] == (1, True)
        assert by_id[4] == (4, True)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find ground truth: node -> component min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class TestCcFusedInit:
    @pytest.mark.parametrize(
        "name,edges",
        [
            # chain: diameter n-1 — the topology the pointer jump and
            # the fused first round must not miscount on
            ("chain", [(i, i + 1) for i in range(40)]),
            ("star", [(0, i) for i in range(1, 30)]),
            (
                "two_components_plus_selfloop",
                [(1, 2), (2, 3), (10, 11), (11, 12), (5, 5)],
            ),
            (
                "dup_edges_reversed",
                [(7, 3), (3, 7), (7, 3), (9, 3), (20, 21)],
            ),
        ],
    )
    def test_labels_equal_union_find(self, spark, name, edges):
        from tidb_cdc_spark.functions.clusters import connected_components

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }
        assert got == _uf_components(edges), name

    def test_single_edge_converges_in_one_round(self, spark):
        """The fused init IS the fixpoint for a single pair — the
        loop's first round must detect 0 changes and return."""
        from tidb_cdc_spark.functions import clusters as C

        df = spark.createDataFrame([(5, 9)], "id_a long, id_b long")
        out = C.connected_components(df)
        assert {(r["id"], r["cluster_id"]) for r in out.collect()} == {
            (5, 5),
            (9, 5),
        }
        assert C.LAST_ROUNDS == 1


class TestPiiScrub:
    def test_counts_and_redaction(self, spark):
        txt = (
            "mail bob.smith+x@corp.example.org or see "
            "https://a.example.com/path?x=1 call +1 (415) 555-0199 done"
        )
        df = spark.createDataFrame([(0, txt), (1, "clean text")],
                                   "id long, text string")
        cnt = T.pii_counts(F.col("text"))
        out = df.select(
            "id",
            cnt["email"].alias("e"),
            cnt["url"].alias("u"),
            cnt["phone"].alias("p"),
            T.redact_pii(F.col("text")).alias("red"),
        ).collect()
        r0 = next(r for r in out if r.id == 0)
        assert (r0.e, r0.u, r0.p) == (1, 1, 1)
        assert r0.red == "mail [PII] or see [PII] call [PII] done"
        r1 = next(r for r in out if r.id == 1)
        assert (r1.e, r1.u, r1.p) == (0, 0, 0)
        assert r1.red == "clean text"

    def test_url_consumes_embedded_email_shape(self, spark):
        # userinfo@host inside a URL must be ONE redaction (url first)
        txt = "go https://user@example.com/x now"
        df = spark.createDataFrame([(0, txt)], "id long, text string")
        red = df.select(T.redact_pii(F.col("text")).alias("r")).collect()[0].r
        assert red == "go [PII] now"


class TestSplitAssign:
    def test_fractions_validated(self, spark):
        df = spark.createDataFrame([(1,)], "doc_id long")
        with pytest.raises(ValueError, match="sum to 1"):
            SA.split_assign(df, "doc_id", {"a": 0.5, "b": 0.4})
        with pytest.raises(ValueError, match="non-negative"):
            SA.split_assign(df, "doc_id", {"a": 1.5, "b": -0.5})

    def test_deterministic_and_partitioned(self, spark):
        df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
        s1 = SA.split_assign(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
        got = {r.k: r.split for r in s1.collect()}
        # rerun = identical assignment
        s2 = SA.split_assign(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
        assert {r.k: r.split for r in s2.collect()} == got
        # every key assigned, fractions roughly honored
        from collections import Counter

        c = Counter(got.values())
        assert sum(c.values()) == 2000
        assert 0.75 < c["train"] / 2000 < 0.85
        assert 0.06 < c["val"] / 2000 < 0.14

    def test_cluster_keyed_split_keeps_dups_together(self, spark):
        # near-dup family split by CLUSTER id never straddles splits:
        # the leakage guarantee is structural (one key → one split)
        docs = spark.createDataFrame(
            [(i, i // 4) for i in range(100)], "doc_id long, cluster_id long"
        )
        out = SA.split_assign(docs, "cluster_id", {"train": 0.7, "test": 0.3})
        per_cluster = (
            out.groupBy("cluster_id")
            .agg(F.countDistinct("split").alias("n"))
            .collect()
        )
        assert all(r.n == 1 for r in per_cluster)


class TestExactStratifiedSplit:
    def test_exact_quota_floors_and_disjoint(self, spark):
        from tidb_cdc_spark.functions.sampling import exact_stratified_split

        rows = [(i, "a") for i in range(17)] + [(100 + i, "b") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = exact_stratified_split(df).collect()
        by = {}
        for r in out:
            by.setdefault((r.source, r.split), []).append(r.doc_id)
        # stratum a (n=17): train floor(13.6)=13, val floor(15.3)-13=2,
        # test remainder=2
        assert len(by[("a", "train")]) == 13
        assert len(by[("a", "val")]) == 2
        assert len(by[("a", "test")]) == 2
        # stratum b (n=3): train floor(2.4)=2, val floor(2.7)-2=0, test 1
        assert len(by[("b", "train")]) == 2
        assert ("b", "val") not in by
        assert len(by[("b", "test")]) == 1
        # ranks are a permutation of 1..n per stratum
        ranks_a = sorted(r.rank for r in out if r.source == "a")
        assert ranks_a == list(range(1, 18))

    def test_deterministic_and_layout_independent(self, spark):
        from tidb_cdc_spark.functions.sampling import exact_stratified_split

        rows = [(i, f"s{i % 3}") for i in range(60)]
        df1 = spark.createDataFrame(rows, "doc_id long, source string")
        df2 = spark.createDataFrame(
            list(reversed(rows)), "doc_id long, source string"
        ).repartition(7)
        a = {(r.doc_id, r.split) for r in exact_stratified_split(df1).collect()}
        b = {(r.doc_id, r.split) for r in exact_stratified_split(df2).collect()}
        assert a == b

    def test_quota_validation(self, spark):
        import pytest

        from tidb_cdc_spark.functions.sampling import exact_stratified_split

        df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
        with pytest.raises(ValueError):
            exact_stratified_split(df, quotas_ppm=(("t", 500_000),))
        with pytest.raises(ValueError):
            exact_stratified_split(
                df, quotas_ppm=(("t", 500_000), ("t", 500_000))
            )


def test_audio_video_curation_stages_strictly_shrink(spark):
    """Both composed media pipelines do real work at every stage
    at sf0.001: exact dedup collapses byte-identical plants, the
    fuzzy stage collapses the planted transform survivors (guards
    against a degenerate plant where a stage is a no-op)."""
    from tidb_cdc_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = QUERIES["audio_curation_pipeline"](spark, sf).collect()[0]
    assert a.n_media > a.after_exact > a.after_trim_robust
    v = QUERIES["video_curation_pipeline"](spark, sf).collect()[0]
    assert v.n_media > v.after_exact > v.after_shot_robust
    # fuzzy stages land exactly on the cluster count (101 pids)
    assert a.after_trim_robust == v.after_shot_robust == 101
