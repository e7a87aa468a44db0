"""Property-based tests (hypothesis) — SURVEY §5 strategy item (4):
algebraic properties that example tests cannot sweep.

Spark-backed properties cap ``max_examples`` (a Spark job per example)
and disable deadlines; pure-Python properties run the full default
sweep.
"""

import pytest
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tidb_cdc_spark.cdc.spec import is_widening, snake_case

#: the closed type vocabulary the spec compiler accepts (plus a few
#: parametrized decimals — the lattice must hold across all of them)
TYPES = [
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "boolean", "date", "timestamp", "string", "binary",
    "decimal(10,2)", "decimal(12,2)", "decimal(18,4)", "decimal(21,2)",
    "decimal(38,10)",
]


class TestWideningLattice:
    @given(st.sampled_from(TYPES))
    def test_reflexive(self, t):
        assert is_widening(t, t)

    @given(st.sampled_from(TYPES), st.sampled_from(TYPES), st.sampled_from(TYPES))
    def test_transitive(self, a, b, c):
        # a→b and b→c must imply a→c: evolve() applied twice can never
        # reach a state a single evolve() would have rejected
        if is_widening(a, b) and is_widening(b, c):
            assert is_widening(a, c), (a, b, c)

    @given(st.sampled_from(TYPES), st.sampled_from(TYPES))
    def test_antisymmetric(self, a, b):
        # mutual widening only for the same type (no two distinct
        # types may widen into each other — that would make "widening"
        # a reinterpretation, not a one-way adoption)
        if a != b and is_widening(a, b):
            assert not is_widening(b, a), (a, b)

    @given(st.sampled_from(TYPES))
    def test_string_is_top_except_binary(self, t):
        # string is the lattice top for every TEXTUAL type; binary is
        # an island by design (bytes → string is a charset
        # REINTERPRETATION, not a widening)
        if t == "binary":
            assert not is_widening(t, "string")
        else:
            assert is_widening(t, "string")
        if t != "string":
            assert not is_widening("string", t)


class TestSnakeCase:
    @given(st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,20}", fullmatch=True))
    def test_idempotent_and_lower(self, name):
        s = snake_case(name)
        assert s == s.lower()
        assert snake_case(s) == s  # applying twice changes nothing


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["insert", "update", "delete"]),
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=1, max_value=99),
        ),
        min_size=1,
        max_size=20,
    )
)
@pytest.mark.slow  # slow tier
def test_snapshot_equals_dict_replay(spark, ops):
    """Arbitrary op logs: the engine snapshot equals the sequential
    dict interpretation (last-write-wins per PK, delete removes)."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.cdc import parse_cdc
    from tidb_cdc_spark.cdc.apply import snapshot_from_ops
    from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec

    spec = TableSpec(
        "d", "t",
        (ColumnSpec("K", "string", column="k", pk=True), ColumnSpec("V", "int")),
    )
    msgs, expected = [], {}
    for ts, (op, k, v) in enumerate(ops, start=1):
        m = {"database": "d", "table": "t", "type": op, "ts": ts,
             "data": {"k": k, "v": v}}
        if op == "update":
            m["old"] = {"v": v - 1}
        msgs.append(json.dumps(m))
        if op == "delete":
            expected.pop(k, None)
        else:
            expected[k] = v
    df = spark.createDataFrame([(m,) for m in msgs], "value string").withColumn(
        "_s", F.monotonically_increasing_id()
    )
    snap = snapshot_from_ops(parse_cdc(df, spec, seq_col=F.col("_s")), spec)
    assert {r.k: r.v for r in snap.collect()} == expected


#: tiny word alphabet → dense pair collisions and plenty of ties, the
#: adversarial regime for BPE tie-breaking
_WORDS = st.text(alphabet="abc", min_size=1, max_size=5)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.lists(_WORDS, min_size=1, max_size=8), min_size=1, max_size=5))
@pytest.mark.slow  # slow tier
def test_bpe_merge_sequence_equals_reference(spark, docs_words):
    """Distributed BPE == the pure-Python reference on random corpora
    over a 3-letter alphabet — ties everywhere, so this sweeps the
    (count desc, pair asc) tie order example tests cannot."""
    from tests.test_bpe_lm import ref_bpe
    from tidb_cdc_spark.functions import bpe as B

    texts = [" ".join(ws) for ws in docs_words]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = [
        (r.left, r.right, r.merged, r.pair_count)
        for r in B.bpe_train(df, n_merges=6).orderBy("rank").collect()
    ]
    assert got == ref_bpe(texts, 6)


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestSemanticDedupProperties:
    """SemDeDup invariants vs a brute-force twin, hypothesis-swept
    over random corpora (Spark job per example — tight caps)."""

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.data())
    def test_single_cell_matches_bruteforce(self, spark, data):
        import numpy as np

        from tidb_cdc_spark.functions.semdedup import semantic_dedup

        n = data.draw(st.integers(5, 25), label="n")
        dim = data.draw(st.integers(2, 6), label="dim")
        n_dups = data.draw(st.integers(0, 4), label="n_dups")
        seed = data.draw(st.integers(0, 2**16), label="seed")
        thr = data.draw(st.sampled_from([0.9, 0.99, 0.999]), label="thr")
        rng = np.random.default_rng(seed)
        base = rng.normal(size=(n, dim))
        dups = base[:n_dups] + rng.normal(scale=1e-4, size=(n_dups, dim))
        vecs = np.vstack([base, dups])
        import pandas as pd

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(len(vecs), dtype=np.int64),
                    "embedding": [r.tolist() for r in vecs],
                }
            )
        )
        res = semantic_dedup(df, n_cells=1, threshold=thr).toPandas()
        # brute force
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        norms[norms == 0] = 1
        M = vecs / norms
        for r in res.itertuples():
            i = int(r.vec_id)
            sims = M[:i] @ M[i] if i else np.array([])
            has_dup = bool(len(sims) and sims.max() >= thr)
            assert bool(r.is_dup) == has_dup, (i, thr)
            if has_dup:
                j = int(sims.argmax())
                assert int(r.dup_of) == j
                assert r.dup_of < r.vec_id  # keeper is older


def _ref_winnow(texts: dict[int, str], k: int, w: int) -> dict[int, set]:
    """Pure-Python reference winnower (Schleimer et al. '03):
    md5-bucket shingle hashes, min of every complete w-window
    (rightmost tie), short docs -> single all-token shingle."""
    import hashlib

    def bucket(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    out = {}
    for doc, text in texts.items():
        toks = [t for t in text.lower().split() if t]
        if not toks:
            continue
        if len(toks) < k:
            shingles = [" ".join(toks)]
        else:
            shingles = [
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            ]
        hs = [bucket(g) for g in shingles]
        fps = set()
        n = len(hs)
        for start in range(max(n - w, 0) + 1):
            win = hs[start : start + w]
            fps.add(min(win))  # fingerprint is the hash VALUE
        out[doc] = fps
    return out


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestWinnowProperties:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.data())
    def test_matches_python_reference(self, spark, data):
        from tidb_cdc_spark.functions.winnow import winnow_fingerprints

        n_docs = data.draw(st.integers(1, 6), label="n_docs")
        seed = data.draw(st.integers(0, 2**16), label="seed")
        k = data.draw(st.integers(2, 5), label="k")
        w = data.draw(st.integers(2, 4), label="w")
        import random

        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(15)]  # small vocab -> hash ties
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 30))
            )
            for d in range(n_docs)
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {}
        for r in winnow_fingerprints(df, k=k, w=w).collect():
            got.setdefault(r.doc_id, set()).add(r.fp)
        assert got == _ref_winnow(texts, k, w)


class TestFeatureHashProperties:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.data())
    def test_matches_python_reference(self, spark, data):
        # the md5-bucket contract verified in a THIRD implementation
        # (Spark expr == DuckDB SQL == hashlib) — the portability the
        # module docstring promises
        import hashlib
        from collections import Counter

        from tidb_cdc_spark.functions.feature_hash import hashed_tf

        seed = data.draw(st.integers(0, 2**16), label="seed")
        dim = data.draw(st.sampled_from([8, 16, 64]), label="dim")
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)] + ["ümlaut", "汉字", "a.b"]
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(0, 25))
            )
            for d in range(data.draw(st.integers(1, 5), label="n"))
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            (r.doc_id, r.bucket): r.tf
            for r in hashed_tf(df, dim=dim).collect()
        }
        ref = {}
        for d, text in texts.items():
            c = Counter(
                int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
                for t in text.lower().split()
                if t
            )
            for b, tf in c.items():
                ref[(d, b)] = tf
        assert got == ref


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestLmDriftProperties:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.data())
    def test_bigram_surprisal_matches_python(self, spark, data):
        import math
        from collections import Counter

        from tidb_cdc_spark.functions.lm import bigram_surprisal

        import random

        rng = random.Random(data.draw(st.integers(0, 2**16), label="seed"))
        vocab = [f"w{i}" for i in range(8)]
        texts = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 20))
            )
            for d in range(data.draw(st.integers(1, 5), label="n"))
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_bigrams, r.sum_bits, r.mean_mbits)
            for r in bigram_surprisal(df).collect()
        }
        toks = {d: t.lower().split() for d, t in texts.items()}
        uni = Counter(w for ts in toks.values() for w in ts)
        big = Counter(
            (ts[i], ts[i + 1])
            for ts in toks.values()
            for i in range(len(ts) - 1)
        )
        ref = {}
        for d, ts in toks.items():
            pairs = [(ts[i], ts[i + 1]) for i in range(len(ts) - 1)]
            if not pairs:
                continue
            sb = sum(
                int(math.log2(uni[a])) - int(math.log2(big[(a, b)]))
                for a, b in pairs
            )
            ref[d] = (len(pairs), sb, sb * 1_000_000 // len(pairs))
        assert got == ref

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.data())
    def test_term_drift_matches_python(self, spark, data):
        from collections import Counter

        from tidb_cdc_spark.functions.vocab import term_drift

        import random

        rng = random.Random(data.draw(st.integers(0, 2**16), label="seed"))
        vocab = [f"w{i}" for i in range(10)]

        def corpus(n):
            return {
                d: " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 15))
                )
                for d in range(n)
            }

        old, new = corpus(4), corpus(4)
        mk = lambda t: spark.createDataFrame(
            list(t.items()), "doc_id long, text string"
        )
        got = {
            r.token: (r.ppm_old, r.ppm_new, r.delta_ppm)
            for r in term_drift(mk(old), mk(new), k=100).collect()
        }

        def ppms(texts):
            c = Counter(w for t in texts.values() for w in t.lower().split())
            tot = sum(c.values())
            return {w: n * 1_000_000 // tot for w, n in c.items()}

        po, pn = ppms(old), ppms(new)
        ref = {
            w: (po.get(w, 0), pn.get(w, 0), pn.get(w, 0) - po.get(w, 0))
            for w in set(po) | set(pn)
        }
        assert got == ref


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestRankBucketsDirect:
    """The extracted shared helper, tested against the obvious
    spec on score frames its LM consumers can never produce:
    negative scores, adversarial clustering (all scores in one
    shard-band), ties resolved by doc_id."""

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.integers(min_value=-(10**12), max_value=10**12),
            min_size=1,
            max_size=30,
        ),
        st.integers(min_value=1, max_value=4),
    )
    def test_rank_equals_plain_sort_spec(self, spark, scores, k):
        from tidb_cdc_spark.functions.lm import rank_buckets

        rows = [(i, s) for i, s in enumerate(scores)]
        df = spark.createDataFrame(rows, "doc_id long, mean_mbits long")
        got = {
            r.doc_id: (r.rank, r.bucket)
            for r in rank_buckets(df, n_buckets=k, n_shards=7).collect()
        }
        n = len(rows)
        expected_rank = {
            doc: i + 1
            for i, (_s, doc) in enumerate(sorted((s, d) for d, s in rows))
        }
        assert {d: r for d, (r, _b) in got.items()} == expected_rank
        for d, (r, b) in got.items():
            assert b == (r - 1) * k // n

    def test_empty_input_yields_empty_typed_frame(self, spark):
        from tidb_cdc_spark.functions.lm import rank_buckets

        df = spark.createDataFrame([], "doc_id long, mean_mbits long")
        out = rank_buckets(df, n_buckets=3)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "doc_id", "mean_mbits", "rank", "bucket",
        ]


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestSurprisalBucketProperties:
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from([f"w{i}" for i in range(12)]),
                min_size=2,
                max_size=12,
            ),
            min_size=1,
            max_size=25,
        ),
        st.integers(min_value=2, max_value=5),
    )
    def test_rank_is_total_and_buckets_partition(self, spark, docs, k):
        """For ANY corpus: ranks are exactly 1..N, bucket sizes
        differ by at most 1 (the floor((r−1)k/N) formula's balance
        property), and bucket is monotone in rank."""
        from tidb_cdc_spark.functions.lm import surprisal_buckets

        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = surprisal_buckets(df, n_buckets=k).collect()
        n = len(out)
        assert sorted(r.rank for r in out) == list(range(1, n + 1))
        by_rank = sorted(out, key=lambda r: r.rank)
        assert all(
            a.bucket <= b.bucket for a, b in zip(by_rank, by_rank[1:])
        )
        if n:
            sizes = [sum(1 for r in out if r.bucket == b) for b in range(k)]
            assert max(sizes) - min(sizes) <= 1
            assert sum(sizes) == n

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from([f"t{i}" for i in range(8)]),
                min_size=1,
                max_size=20,
            ),
            min_size=1,
            max_size=15,
        ),
        st.integers(min_value=1, max_value=4),
    )
    def test_winnow_cap_report_consistency(self, spark, docs, cap):
        """capped_fps == 0 iff max_df <= cap; affected_docs == 0 iff
        capped_fps == 0; total_fps bounds both."""
        from tidb_cdc_spark.functions.winnow import winnow_cap_report

        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = winnow_cap_report(df, k=4, w=2, max_doc_freq=cap).collect()[0]
        assert (r.capped_fps == 0) == (r.max_df <= cap)
        assert (r.affected_docs == 0) == (r.capped_fps == 0)
        assert r.capped_fps <= r.total_fps
        assert r.affected_docs <= len(docs)


def _span_rewrite_pure(docs, k):
    """Pure-Python reference of span_dedup_rewrite's position-coverage
    semantics: lowercased k-shingles (all-token shingle for short
    docs), min-doc keeper per distinct shingle string, covered
    positions dropped, original-case tokens rejoined."""
    toks = {d: t.split() for d, t in docs}
    low = {d: [w.lower() for w in ts] for d, ts in toks.items()}
    occ = {}
    for d in sorted(toks):
        ts = low[d]
        if not ts:
            continue
        spans = (
            [(i, " ".join(ts[i : i + k])) for i in range(len(ts) - k + 1)]
            if len(ts) >= k
            else [(0, " ".join(ts))]
        )
        for i, g in spans:
            occ.setdefault(g, []).append((d, i))
    cov = {d: set() for d in toks}
    for g, hits in occ.items():
        docs_with = {d for d, _ in hits}
        if len(docs_with) < 2:
            continue
        keeper = min(docs_with)
        for d, i in hits:
            if d != keeper:
                cov[d].update(range(i, i + k))
    out = {}
    for d, ts in toks.items():
        kept = [w for p, w in enumerate(ts) if p not in cov[d]]
        out[d] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestSpanRewriteProperty:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from("a b c d AA Bb".split()),
                min_size=0,
                max_size=12,
            ),
            min_size=1,
            max_size=6,
        ),
        st.integers(min_value=2, max_value=4),
    )
    def test_matches_pure_reference(self, spark, token_lists, k):
        from tidb_cdc_spark.functions.quality import span_dedup_rewrite

        docs = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
            for r in span_dedup_rewrite(df, span_tokens=k).collect()
        }
        assert got == _span_rewrite_pure(docs, k)


@pytest.mark.slow  # slow tier: reference-equality property battery
class TestPagerankProperty:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),
                st.integers(min_value=0, max_value=5),
            ),
            min_size=1,
            max_size=12,
        ),
        st.integers(min_value=0, max_value=3),
    )
    def test_matches_pure_recurrence(self, spark, int_edges, iters):
        from tidb_cdc_spark.functions.pagerank import PPM, pagerank

        edges = [(f"n{a}", f"n{b}") for a, b in int_edges]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["node"]: r["rank_mu"]
            for r in pagerank(df, iters=iters).collect()
        }
        # pure twin (matches tests/test_pagerank.py::_pagerank_pure)
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        nodes = {n for e in edges for n in e}
        r = dict.fromkeys(nodes, PPM)
        base = PPM - PPM * 17 // 20
        for _ in range(iters):
            s = dict.fromkeys(nodes, 0)
            for u, v in edges:
                s[v] += r[u] // outdeg[u]
            r = {n: base + (s[n] * 17) // 20 for n in nodes}
        assert got == r
