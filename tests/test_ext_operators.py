"""[EXT] operator tests: fuzzy dedup finds planted near-dups,
similarity search returns the planted nearest neighbor, text ops score
sensibly, multimodal plumbing round-trips through Arrow."""

import pytest
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from harness_aws_etl_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_stub,
    extract_features,
    media_summary,
)
from harness_aws_etl_pipeline_spark.operators.similarity import (
    add_lsh_buckets,
    brute_force_topk,
    lsh_bucketed_topk,
)
from harness_aws_etl_pipeline_spark.operators.textops import (
    add_text_stats,
    predict_language,
    quality_score,
    rolling_fingerprint,
)

BASE = "the quick brown fox jumps over the lazy dog again and again every single day"
NEAR = "the quick brown fox jumps over the lazy dog again and again every single night"
FAR = "completely different words describing an unrelated subject matter entirely here"


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)], "doc_id long, text string"
    )


def _cached_plans(spark) -> list[str]:
    """First line of every plan still held by the shared CacheManager —
    the diagnostic for cache-hygiene failures (a bare assertion on
    isEmpty() says a leak exists; this says WHOSE plan leaked)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    it = cm.cachedData().iterator()
    plans = []
    while it.hasNext():
        plans.append(it.next().plan().toString().splitlines()[0][:200])
    return plans


class TestNgramJaccard:
    def test_memo_bounds_cache_and_reuses_plans(self, spark, docs):
        # the multi-consumer intermediates (posting lists, signatures,
        # sketches, LSH flats) are persisted through a bounded
        # plan-keyed memo (operators/memo.py): repeated calls on the
        # same input REUSE one entry (no accretion — the old bare
        # persist() leaked one CacheManager entry per call site per
        # input forever), distinct inputs beyond capacity EVICT with
        # unpersist, and clear_all_memos drains everything
        from harness_aws_etl_pipeline_spark.operators import dedup_fuzzy as dfz
        from harness_aws_etl_pipeline_spark.operators.memo import (
            PlanMemo,
            clear_all_memos,
        )

        cache = spark._jsparkSession.sharedState().cacheManager()
        clear_all_memos()
        for _ in range(3):  # repeated identical calls share one entry
            ngram_jaccard_pairs(docs, n=3, threshold=0.2).count()
        assert len(dfz._POSTING_MEMO) == 1
        minhash_dedup_pairs(docs, n=3, num_hashes=8, bands=4).count()
        simhash_near_pairs(simhash(docs)).count()
        dfz.simhash_near_pairs_str(dfz.simhash_md5(docs)).count()
        clear_all_memos()
        assert cache.isEmpty(), f"leaked cache entries: {_cached_plans(spark)}"

        # eviction unpersists: capacity-1 memo holding A then B keeps
        # storage for exactly one frame
        memo = PlanMemo(capacity=1)
        a = memo.get_or_persist(docs.select("doc_id"))
        a.count()
        b = memo.get_or_persist(docs.select("text"))
        b.count()
        assert len(memo) == 1
        assert a.storageLevel.useMemory is False  # evicted + unpersisted
        assert b.storageLevel.useMemory is True
        memo.clear()
        assert b.storageLevel.useMemory is False
        assert cache.isEmpty(), f"leaked cache entries: {_cached_plans(spark)}"

    def test_memo_hash_collision_detected_by_same_result(self, spark, docs):
        # the 32-bit semanticHash is only the index: a colliding key
        # must be confirmed with sameResult, never served blindly —
        # serving another corpus's intermediate would be a silent
        # wrong-results bug. Simulated by looking up a DIFFERENT plan
        # under an existing entry's key.
        import harness_aws_etl_pipeline_spark.operators.memo as memo_mod

        memo = memo_mod.PlanMemo(capacity=4)
        a = memo.get_or_persist(docs.select("doc_id"))
        key_a = memo_mod._analyzed(a).semanticHash()
        other = docs.select("text")
        got = memo._lookup(
            key_a, memo_mod._analyzed(other), lambda: other, pin=other
        )
        assert got is not a
        assert got.columns == ["text"]
        memo.clear()

    def test_memo_value_entries(self, spark, docs):
        # get_or_value holds a driver-side value per input plan: the
        # derivation runs once per plan, nothing enters the cache
        # manager, and eviction/clear just drop the value
        from harness_aws_etl_pipeline_spark.operators.memo import (
            PlanMemo,
            clear_all_memos,
        )

        cache = spark._jsparkSession.sharedState().cacheManager()
        clear_all_memos()
        memo = PlanMemo(capacity=1)
        calls = []

        def derive(df):
            calls.append(df)
            return [tuple(r) for r in df.collect()]

        ids = docs.select("doc_id")
        first = memo.get_or_value(ids, "ids", lambda: derive(ids))
        again = memo.get_or_value(docs.select("doc_id"), "ids", lambda: derive(ids))
        assert again is first and len(calls) == 1
        texts = docs.select("text")
        memo.get_or_value(texts, "ids", lambda: derive(texts))  # evicts
        assert len(memo) == 1 and len(calls) == 2
        memo.clear()
        assert len(memo) == 0 and cache.isEmpty()

    def test_finds_planted_near_dup(self, docs):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
        }
        assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
        assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0  # near dup
        assert (1, 3) not in pairs and (2, 3) not in pairs  # unrelated

    def test_short_docs_dont_crash_expression_path(self, spark):
        from harness_aws_etl_pipeline_spark.functions.text import shingles
        from pyspark.sql import functions as F2

        df = spark.createDataFrame(
            [(1, "a b"), (2, ""), (3, "one two three four five six")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r["s"]
            for r in df.select("doc_id", shingles("text", 5).alias("s")).collect()
        }
        assert rows[1] == [] and rows[2] == []  # shorter than n → empty
        assert len(rows[3]) == 2
        # and the full jaccard pipeline tolerates them (expression path)
        pairs = ngram_jaccard_pairs(df, n=5, threshold=0.1, arrow=False)
        assert pairs.count() == 0

    def test_arrow_and_expression_paths_agree(self, docs):
        """Jaccard is hash-agnostic (set overlap is preserved under any
        injective hash), so the Arrow/blake2b path and the JVM/xxhash64
        expression path must emit identical pairs + values."""
        a = sorted(
            map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=0.2, arrow=True).collect())
        )
        b = sorted(
            map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=0.2, arrow=False).collect())
        )
        assert a == b and len(a) >= 2

    def test_frequent_shingle_cutoff(self, spark):
        # every doc shares the same shingle; bucket cap 1 kills blocking
        df = spark.createDataFrame(
            [(i, "a b c unique" + str(i)) for i in range(5)], "doc_id long, text string"
        )
        assert ngram_jaccard_pairs(df, n=3, threshold=0.1, max_bucket_size=1).count() == 0


class TestNearDupClusters:
    def test_components_and_canonical_dedup(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            deduplicate_near,
            near_dup_clusters,
        )

        # chain component {1,2,3} (1-2, 2-3 but no 1-3 edge) + pair {7,9}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
        )
        for thr in (0, 1_000_000):  # distributed and driver fast path agree
            labels = {
                r["doc_id"]: r["cluster_id"]
                for r in near_dup_clusters(pairs, driver_threshold=thr).collect()
            }
            assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

        docs = spark.createDataFrame(
            [(i, f"doc{i}") for i in (1, 2, 3, 5, 7, 9)], "doc_id long, text string"
        )
        survivors = {r["doc_id"] for r in deduplicate_near(docs, pairs).collect()}
        assert survivors == {1, 5, 7}  # one per cluster + unpaired 5

    def test_long_chain_converges_via_pointer_doubling(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            near_dup_clusters,
        )

        # path graph 0-1-2-...-59: diameter 59 >> default max_iter=20.
        # Plain min-label propagation moves labels one hop per round
        # and would silently truncate; pointer doubling needs ~log2(60).
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
        )
        # driver_threshold=0 pins the DISTRIBUTED propagation path
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(pairs, driver_threshold=0).collect()
        }
        assert labels == {i: 0 for i in range(60)}

    def test_string_ids_distributed_path(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            near_dup_clusters,
        )

        # string/UUID-style ids: the decimal-sum convergence shortcut
        # yields NULL sums (None==None would declare convergence after
        # one round and leave the chain half-propagated) — the
        # changed-row check must kick in instead. Chain needs >1 round.
        pairs = spark.createDataFrame(
            [(f"doc{i:02d}", f"doc{i + 1:02d}") for i in range(9)],
            "doc_a string, doc_b string",
        )
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(pairs, driver_threshold=0).collect()
        }
        assert labels == {f"doc{i:02d}": "doc00" for i in range(10)}

    def test_cluster_stats_match_operator_aggregation(self, spark):
        from pyspark.sql import functions as F

        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            near_dup_cluster_stats,
            near_dup_clusters,
        )

        # two components + a pair + self-contained singleton edges;
        # r13: the panel's summary comes from near_dup_cluster_stats
        # (driver union-find counts) — pin it against the operator's
        # label-frame aggregation on both sides of the driver gate
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9), (11, 12), (3, 1)],
            "doc_a long, doc_b long",
        )
        row = (
            near_dup_clusters(pairs)
            .agg(
                F.count(F.lit(1)).alias("clustered_docs"),
                F.sum((F.col("doc_id") == F.col("cluster_id")).cast("long")).alias(
                    "cluster_cnt"
                ),
            )
            .first()
        )
        expected = (row["clustered_docs"], row["cluster_cnt"])
        assert near_dup_cluster_stats(pairs) == expected == (7, 3)
        # over the gate: callers must fall back to the operator path
        assert near_dup_cluster_stats(pairs, driver_threshold=0) is None
        # empty pair graph: zero clusters, zero clustered docs
        empty = pairs.filter(F.lit(False))
        assert near_dup_cluster_stats(empty) == (0, 0)

    def test_panel_stats_match_distributed_aggregations(self, spark):
        from pyspark.sql import functions as F

        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            near_dup_cluster_stats,
            near_dup_panel_stats,
        )

        # r13 round-2: the fused panel's pair_cnt/jaccard_sum come off
        # the SAME gating collect as the union-find summary — pin all
        # four values against the distributed aggregations they
        # replace, including the exact round(sum(jaccard), 4) double
        pairs = spark.createDataFrame(
            [
                (1, 2, 0.333333),
                (2, 3, 0.217391),
                (7, 9, 0.874126),
                (11, 12, 0.200005),
                (3, 1, 0.299999),
            ],
            "doc_a long, doc_b long, jaccard double",
        )
        row = pairs.agg(
            F.count(F.lit(1)).alias("pair_cnt"),
            F.coalesce(F.round(F.sum("jaccard"), 4), F.lit(0.0)).alias(
                "jaccard_sum"
            ),
        ).first()
        st = near_dup_panel_stats(pairs)
        assert st[:2] == near_dup_cluster_stats(pairs) == (7, 3)
        assert st[2] == row["pair_cnt"] == 5
        assert st[3] == row["jaccard_sum"]  # exact double equality
        # over the gate: callers must fall back to the distributed aggs
        assert near_dup_panel_stats(pairs, driver_threshold=0) is None
        # empty pair graph: the coalesce(0.0) twin
        empty = pairs.filter(F.lit(False))
        assert near_dup_panel_stats(empty) == (0, 0, 0, 0.0)

    def test_bucket_pairs_null_ids_count_but_never_pair(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            _bucket_pairs,
        )

        # r13 round-2: _bucket_pairs replaced the bucket self-joins —
        # pin the NULL-id corner the join shape defined implicitly:
        # a NULL id occupies its bucket (cap/gate arithmetic) but
        # every pair touching it evaporated at ``id_a < id_b``
        banded = spark.createDataFrame(
            [
                # bucket (0, 1): null + one real member → no pairs
                (None, 0, 1),
                (10, 0, 1),
                # bucket (0, 2): null + two real members → one pair
                (None, 0, 2),
                (20, 0, 2),
                (21, 0, 2),
                # bucket (0, 3): three members incl. null — under a
                # cap of 2 the occupancy (3, nulls count) drops the
                # whole bucket, exactly as the old cap did
                (None, 0, 3),
                (30, 0, 3),
                (31, 0, 3),
                # bucket (0, 4): two real members → survives cap 2
                (40, 0, 4),
                (41, 0, 4),
            ],
            "doc_id long, band int, key long",
        )
        pairs = {
            (r["a"], r["b"])
            for r in _bucket_pairs(banded, "doc_id")
            .select(
                F.col("p.a.doc_id").alias("a"), F.col("p.b.doc_id").alias("b")
            )
            .collect()
        }
        assert pairs == {(20, 21), (30, 31), (40, 41)}
        capped = {
            (r["a"], r["b"])
            for r in _bucket_pairs(banded, "doc_id", max_bucket_size=2)
            .select(
                F.col("p.a.doc_id").alias("a"), F.col("p.b.doc_id").alias("b")
            )
            .collect()
        }
        # buckets (0,2)/(0,3) hold 3 members (nulls occupy) → capped
        # out; (0,1)'s only pair touches the null id → never emitted
        assert capped == {(40, 41)}

    def test_bucket_pairs_duplicate_ids_never_self_pair(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            _bucket_pairs,
        )

        # r14 (ADVICE): a duplicate source id occupying one bucket
        # twice must not emit an (x, x) self-pair — the replaced
        # self-join's ``id_a < id_b`` filter excluded it. Cross pairs
        # keep the join's multiplicity: each of the two 7-rows joins
        # the 9-row once.
        banded = spark.createDataFrame(
            [(7, 0, 1), (7, 0, 1), (9, 0, 1)],
            "doc_id long, band int, key long",
        )
        rows = (
            _bucket_pairs(banded, "doc_id")
            .select(
                F.col("p.a.doc_id").alias("a"), F.col("p.b.doc_id").alias("b")
            )
            .collect()
        )
        assert {(r["a"], r["b"]) for r in rows} == {(7, 9)}
        assert len(rows) == 2  # join multiplicity, no (7,7)

    def test_occupancy_gate_keeps_caller_n_column(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            _bucket_pairs,
            cap_buckets,
        )

        # the gate's internal count column must not overwrite, filter
        # on, or drop a caller column that happens to be called __n
        b = spark.createDataFrame(
            [(1, 0, 5, 100), (2, 0, 5, 200), (3, 0, 5, 300), (4, 0, 6, 400)],
            "doc_id long, band int, bucket long, __n long",
        )
        got = cap_buckets(b, 2)
        assert got.columns == b.columns
        assert [tuple(r) for r in got.collect()] == [(4, 0, 6, 400)]

        banded = b.withColumnRenamed("bucket", "key")
        pairs = _bucket_pairs(banded, "doc_id", "__n", max_bucket_size=3)
        got = {
            (r["a"], r["na"], r["b"], r["nb"])
            for r in pairs.select(
                F.col("p.a.doc_id").alias("a"),
                F.col("p.a.__n").alias("na"),
                F.col("p.b.doc_id").alias("b"),
                F.col("p.b.__n").alias("nb"),
            ).collect()
        }
        assert got == {(1, 100, 2, 200), (1, 100, 3, 300), (2, 200, 3, 300)}

    def test_bucket_pairs_cap_gates_before_collect_list(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            _bucket_pairs,
        )

        # r14 (VERDICT #1): the occupancy cap runs UPSTREAM of the
        # collect_list — a degenerate bucket (≫ cap members: one key
        # owning 500 rows under cap 10) is dropped by the spillable
        # window-count gate before any aggregation buffers it, instead
        # of being materialized whole and filtered afterwards.
        rows = [(i, 0, 99) for i in range(500)] + [
            (1000, 0, 1),
            (1001, 0, 1),
        ]
        banded = spark.createDataFrame(
            rows, "doc_id long, band int, key long"
        )
        out = _bucket_pairs(banded, "doc_id", max_bucket_size=10)
        got = {
            (r["a"], r["b"])
            for r in out.select(
                F.col("p.a.doc_id").alias("a"), F.col("p.b.doc_id").alias("b")
            ).collect()
        }
        assert got == {(1000, 1001)}
        # the gate is in-plan below the aggregate: a window count over
        # the bucket key feeding a <= cap filter, not a post-agg
        # size(members) filter
        def nodes(plan):
            kids = plan.children()
            yield plan
            for i in range(kids.size()):
                yield from nodes(kids.apply(i))

        plan = out._jdf.queryExecution().optimizedPlan()
        aggs = [
            n for n in nodes(plan)
            if n.nodeName() == "Aggregate"
            and "collect_list" in n.aggregateExpressions().toString()
        ]
        assert len(aggs) == 1
        # the window gate sits BELOW the aggregate (it is a producer
        # of the aggregate's input), and no window sits anywhere else
        below = [n for n in nodes(aggs[0]) if n.nodeName() == "Window"]
        everywhere = [n for n in nodes(plan) if n.nodeName() == "Window"]
        assert below and len(below) == len(everywhere)

    def test_warns_when_not_converged(self, spark):
        import warnings

        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            near_dup_clusters,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(19)], "doc_a long, doc_b long"
        )
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            near_dup_clusters(pairs, max_iter=1, driver_threshold=0).collect()
        assert any(
            issubclass(w.category, RuntimeWarning) and "did not converge" in str(w.message)
            for w in caught
        )


class TestOraclePathEquivalence:
    """The verification panels (plans/catalog_ext.py) run the fuzzy-
    dedup/ANN/split pipelines with md5/expression-fold internals so a
    DuckDB oracle can recompute them. These tests pin that the oracle
    variants behave like the fast engine defaults — same planted-dup
    detection, same rankings, same split membership — so a green panel
    row certifies the shared pipeline logic, not a lookalike."""

    def test_minhash_md5_matches_blake2b_pairs(self, docs):
        fast = {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in minhash_dedup_pairs(docs, n=3, threshold=0.3).collect()
        }
        ora = {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in minhash_dedup_pairs(
                docs, n=3, threshold=0.3, hash_fn="md5"
            ).collect()
        }
        # identical docs → est 1.0 on both paths; near pairs found by
        # both; unrelated docs by neither; estimates agree within
        # MinHash sampling noise (independent hash families)
        assert fast[(1, 4)] == 1.0 and ora[(1, 4)] == 1.0
        assert {(1, 4), (1, 2), (2, 4)} <= set(fast)
        assert {(1, 4), (1, 2), (2, 4)} <= set(ora)
        assert all((1, 3) not in s and (3, 4) not in s for s in (fast, ora))
        assert abs(fast[(1, 2)] - ora[(1, 2)]) <= 0.25

    def test_minhash_md5_signature_is_reproducible(self, spark):
        # the md5 signature must equal a direct hashlib recomputation —
        # the exact property the DuckDB oracle relies on
        from hashlib import md5

        df = spark.createDataFrame(
            [(1, "a b c d e f g")], "doc_id long, text string"
        )
        sig = minhash_signatures(df, n=5, num_hashes=8, hash_fn="md5").first()[
            "signature"
        ]
        toks = "a b c d e f g".split()
        shingle_set = {" ".join(toks[i : i + 5]) for i in range(3)}
        want = [
            min(md5(f"{i}|{s}".encode()).hexdigest()[:16] for s in shingle_set)
            for i in range(8)
        ]
        assert sig == want

    def test_simhash_md5_structural_parity(self, docs):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            simhash_md5,
            simhash_near_pairs_str,
        )

        sk = simhash_md5(docs)
        rows = {r["doc_id"]: r["sketch"] for r in sk.collect()}
        assert rows[1] == rows[4] and len(rows[1]) == 64
        assert set(rows[1]) <= {"0", "1"}
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs_str(sk, max_hamming=10).collect()
        }
        assert pairs[(1, 4)] == 0
        assert (1, 3) not in pairs

    def test_simhash_md5_sketch_matches_hashlib_reference(self, spark):
        # the sketch must equal a direct hashlib recomputation of the
        # documented definition (bit i of a token's vote = bit 63-i of
        # int(md5(token).hexdigest()[:16], 16), majority vote, ties to
        # '0') — pins the r13 unpackbits/digest-cache rewrite to the
        # original per-bit formulation, including tie positions (any
        # two distinct tokens disagree somewhere, voting 0 there)
        from hashlib import md5

        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            simhash_md5,
        )

        # doc 4 has exactly two distinct tokens: every bit where their
        # digests disagree votes 0, so the tie→'0' rule is exercised
        texts = {1: "alpha beta gamma", 2: "alpha alpha", 3: "x y z w v", 4: "p q"}
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["sketch"] for r in simhash_md5(df).collect()}
        saw_tie = False
        for doc_id, text in texts.items():
            votes = [0] * 64
            for t in set(text.split()):
                v = int(md5(t.encode()).hexdigest()[:16], 16)
                for i in range(64):
                    votes[i] += 1 if (v >> (63 - i)) & 1 else -1
            want = "".join("1" if s > 0 else "0" for s in votes)
            assert rows[doc_id] == want
            saw_tie = saw_tie or 0 in votes
        assert saw_tie

    def test_simhash_md5_empty_doc_sketch(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import simhash_md5

        df = spark.createDataFrame(
            [(1, ""), (2, None)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["sketch"] for r in simhash_md5(df).collect()}
        assert rows[1] == rows[2] == "0" * 64

    def test_md5_split_matches_hashlib_and_is_stable(self, spark):
        from hashlib import md5

        from harness_aws_etl_pipeline_spark.operators.sampling import (
            split_train_test,
        )

        df = spark.createDataFrame([(i,) for i in range(500)], "id long")
        train, test = split_train_test(df, "id", train_frac=0.8, hash_fn="md5")
        train_ids = {r["id"] for r in train.collect()}
        test_ids = {r["id"] for r in test.collect()}
        assert train_ids | test_ids == set(range(500))
        assert not (train_ids & test_ids)
        want_train = {
            i
            for i in range(500)
            if md5(f"{i}|0".encode()).hexdigest()[:8] < "cccccccc"
        }
        assert train_ids == want_train
        # stability under append: the original ids keep their side
        df2 = spark.createDataFrame([(i,) for i in range(800)], "id long")
        train2, _ = split_train_test(df2, "id", train_frac=0.8, hash_fn="md5")
        assert {r["id"] for r in train2.collect() if r["id"] < 500} == train_ids

    def test_md5_stratified_sample_matches_hashlib(self, spark):
        from hashlib import md5

        from harness_aws_etl_pipeline_spark.operators.sampling import (
            stratified_sample,
        )

        rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, cls string")
        got = {
            r["id"]
            for r in stratified_sample(
                df, "id", "cls", {"a": 1.0, "b": 0.5}, salt=2, hash_fn="md5"
            ).collect()
        }
        want = set()
        for i, cls in rows:
            if cls == "a":  # keep-all edge (frac >= 1 → threshold 'g')
                want.add(i)
            elif cls == "b" and md5(f"{i}|2".encode()).hexdigest()[:8] < "80000000":
                want.add(i)
            # 'c' unlisted → dropped
        assert got == want
        assert {i for i, c in rows if c == "a"} <= got

    def test_lsh_topk_expression_matches_arrow(self, spark):
        import random

        random.seed(17)
        vecs = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 3)
        a = sorted(
            map(tuple, lsh_bucketed_topk(df, q, dim=16, k=5, arrow=True).collect())
        )
        b = sorted(
            map(tuple, lsh_bucketed_topk(df, q, dim=16, k=5, arrow=False).collect())
        )
        assert a == b and len(a) > 0

    def test_ivf_exhaustive_probe_equals_brute_force(self, spark):
        import random

        from harness_aws_etl_pipeline_spark.operators.similarity import ivf_topk

        random.seed(23)
        vecs = [(i, [random.uniform(-1, 1) for _ in range(12)]) for i in range(90)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 3)
        exact = sorted(map(tuple, brute_force_topk(df, q, k=5).collect()))
        ivf = sorted(
            map(
                tuple,
                ivf_topk(df, q, k=5, n_centroids=6, nprobe=6).collect(),
            )
        )
        assert ivf == exact  # probing every list makes IVF provably exact


class TestMinHash:
    def test_signature_shape_and_determinism(self, docs):
        sigs = minhash_signatures(docs, n=3, num_hashes=16)
        rows = {r["doc_id"]: r["signature"] for r in sigs.collect()}
        assert all(len(s) == 16 for s in rows.values())
        assert rows[1] == rows[4]  # identical docs → identical signature
        rows2 = {r["doc_id"]: r["signature"] for r in sigs.collect()}
        assert rows == rows2  # deterministic across runs

    def test_lsh_finds_planted_pairs(self, docs):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["est_jaccard"]
            for r in minhash_dedup_pairs(docs, n=3, num_hashes=64, bands=16, threshold=0.3).collect()
        }
        assert pairs[(1, 4)] == 1.0
        assert (1, 2) in pairs  # near dup caught by banding
        assert (1, 3) not in pairs


class TestMinHashJoin:
    def test_cross_corpus_contamination_check(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            minhash_join,
        )

        train = spark.createDataFrame(
            [(1, BASE), (2, FAR), (3, "totally unrelated training text about weather patterns and climate")],
            "doc_id long, text string",
        )
        evals = spark.createDataFrame(
            [(100, NEAR), (101, "benchmark question with entirely novel content nobody saw before today")],
            "doc_id long, text string",
        )
        hits = {
            (r["left_id"], r["right_id"]): r["est_jaccard"]
            for r in minhash_join(train, evals, threshold=0.3).collect()
        }
        # the near-duplicate of BASE leaks into evals; nothing else
        assert set(hits) == {(1, 100)}
        assert hits[(1, 100)] >= 0.3

    def test_no_within_side_pairs(self, spark):
        # two identical docs on the SAME side must not pair — the
        # join's contract is strictly cross-corpus
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            minhash_join,
        )

        left = spark.createDataFrame(
            [(1, BASE), (2, BASE)], "doc_id long, text string"
        )
        right = spark.createDataFrame(
            [(9, FAR)], "doc_id long, text string"
        )
        assert minhash_join(left, right, threshold=0.3).count() == 0

    def test_exact_cross_duplicate_scores_one(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
            minhash_join,
        )

        left = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
        right = spark.createDataFrame([(7, BASE)], "doc_id long, text string")
        rows = minhash_join(left, right, threshold=0.9).collect()
        assert len(rows) == 1 and rows[0]["est_jaccard"] == 1.0


class TestSimHash:
    def test_near_dup_small_hamming(self, docs):
        sk = simhash(docs)
        rows = {r["doc_id"]: r["simhash"] for r in sk.collect()}
        assert rows[1] == rows[4]
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(sk, max_hamming=10).collect()
        }
        assert pairs[(1, 4)] == 0
        assert (1, 2) in pairs and pairs[(1, 2)] <= 10
        assert (1, 3) not in pairs

    def test_expression_path_bit_order(self, spark):
        # a single-token doc has one +1/−1 vote per bit, so the sketch
        # must equal the token's hash verbatim — pins "vote for bit i
        # lands at bit i" (the packing the Arrow path uses); a reversed
        # fold would emit the bit-mirrored value
        df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
        got = simhash(df, arrow=False).first()["simhash"]
        want = df.select(F.xxhash64(F.lit("solo")).alias("h")).first()["h"]
        assert got == want

    def test_jvm_fallback_same_semantics(self, docs):
        # arrow=False (pure-expression path) must satisfy the same
        # structural properties even though hash values differ
        sk = simhash(docs, arrow=False)
        rows = {r["doc_id"]: r["simhash"] for r in sk.collect()}
        assert rows[1] == rows[4]
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(sk, max_hamming=10).collect()
        }
        assert pairs[(1, 4)] == 0
        assert (1, 3) not in pairs


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),  # nearest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [-1.0, 0.0, 0.0, 0.0]),  # most anti-similar to 0
]


class TestSimilarity:
    @pytest.fixture
    def emb(self, spark):
        return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")

    def test_brute_force_ranking(self, emb):
        q = emb.filter(F.col("vec_id") == 0)
        got = [
            (r["rank"], r["neighbor_id"])
            for r in brute_force_topk(emb, q, k=4).orderBy("rank").collect()
        ]
        assert got[0] == (1, 1)  # planted nearest
        assert got[-1] == (4, 4)  # anti-similar ranks last

    def test_lsh_recall_on_identical(self, spark):
        # identical vectors always share every bucket → LSH must find them
        df = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(3)]
            + [(9, [-4.0, 3.0, -2.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        q = df.filter(F.col("vec_id") == 0)
        got = lsh_bucketed_topk(df, q, dim=4, k=2, num_tables=2, bits=4)
        ids = {r["neighbor_id"] for r in got.collect()}
        assert {1, 2} <= ids

    def test_arrow_matmul_matches_expression_topk(self, spark):
        import random

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            brute_force_topk_arrow,
        )

        random.seed(11)
        vecs = [(i, [random.uniform(-1, 1) for _ in range(12)]) for i in range(120)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, brute_force_topk(df, q, k=7).collect()))
        b = sorted(map(tuple, brute_force_topk_arrow(df, q, k=7).collect()))
        assert a == b

    def test_bucket_determinism(self, emb):
        b1 = {r["vec_id"]: r["buckets"] for r in add_lsh_buckets(emb, dim=4).collect()}
        b2 = {r["vec_id"]: r["buckets"] for r in add_lsh_buckets(emb, dim=4).collect()}
        assert b1 == b2

    def test_null_and_ragged_vectors_tolerated(self, spark):
        # real corpora have missing/mis-sized embeddings; the Arrow
        # paths must null them out, not raise and fail the whole job
        from harness_aws_etl_pipeline_spark.operators.similarity import (
            _assign_nearest,
            brute_force_topk_arrow,
            ivf_centroids,
        )

        df = spark.createDataFrame(
            [(i, v) for i, v in VECS]
            + [(90, None), (91, [1.0, 2.0])],  # NULL + ragged
            "vec_id long, embedding array<float>",
        )
        # LSH buckets: bad rows get NULL bucket arrays, valid rows the
        # same buckets as a clean frame
        got = {r["vec_id"]: r["buckets"] for r in add_lsh_buckets(df, dim=4).collect()}
        clean = spark.createDataFrame(VECS, "vec_id long, embedding array<float>")
        want = {r["vec_id"]: r["buckets"] for r in add_lsh_buckets(clean, dim=4).collect()}
        assert got[90] is None and got[91] is None
        assert {k: v for k, v in got.items() if k < 90} == want

        # brute-force arrow: bad candidates never appear as neighbors,
        # valid results identical to the clean frame
        q = clean.filter(F.col("vec_id") == 0)
        a = sorted(map(tuple, brute_force_topk_arrow(clean, q, k=4).collect()))
        b = sorted(map(tuple, brute_force_topk_arrow(df, q, k=4).collect()))
        assert a == b

        # IVF assignment: bad rows get NULL centroid_id; centroid set
        # is unaffected by their presence
        cents = ivf_centroids(df, k=2)
        assigned = {
            r["vec_id"]: r["centroid_id"]
            for r in _assign_nearest(df, cents, "vec_id", "embedding").collect()
        }
        assert assigned[90] is None and assigned[91] is None
        assert all(v is not None for k, v in assigned.items() if k < 90)


class TestEmbeddingNearDup:
    def test_finds_planted_duplicate(self, spark):
        import random

        random.seed(3)
        vecs = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
        vecs.append((999, list(vecs[0][1])))  # exact dup of vec 0
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        pairs = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(df, threshold=0.99, dim=16).collect()
        }
        assert (0, 999) in pairs and pairs[(0, 999)] == 1.0
        # random 16-dim vectors essentially never reach cosine 0.99
        assert all(p == (0, 999) for p in pairs)

    def test_embedding_join_cross_corpus(self, spark):
        # the vector-space contamination check: a benchmark vector
        # identical to a training vector is found; within-side
        # duplicates are NOT paired (strictly cross-corpus contract)
        import random

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            embedding_join,
        )

        random.seed(11)
        train = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
        train.append((41, list(train[0][1])))  # within-side dup of 0
        evals = [
            (900, list(train[5][1])),  # leaked copy of train vec 5
            (901, [random.uniform(-1, 1) for _ in range(16)]),
        ]
        lf = spark.createDataFrame(train, "vec_id long, embedding array<float>")
        rf = spark.createDataFrame(evals, "vec_id long, embedding array<float>")
        pairs = {
            (r["left_id"], r["right_id"]): r["cosine"]
            for r in embedding_join(lf, rf, threshold=0.99, dim=16).collect()
        }
        assert pairs == {(5, 900): 1.0}

    def test_threshold_filters_rounded_cosine(self, spark):
        # the threshold applies to the 6dp-ROUNDED cosine — the same
        # semantics the DuckDB oracle uses (ROUND(...,6) then >= t), so
        # a raw cosine in [t - 5e-7, t) is IN and one below t - 5e-7
        # is OUT on both sides; the boundary can never flake
        import math

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        c_in = 0.89999965  # rounds to 0.900000 → kept
        c_out = 0.899999  # rounds to 0.899999 → dropped
        rows = [
            (0, [1.0, 0.0]),
            (1, [c_in, math.sqrt(1 - c_in**2)]),
            (2, [c_out, -math.sqrt(1 - c_out**2)]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        # 1 hyperplane bit x many tables: candidate generation can't
        # miss a same-side pair across every table, so the assertion
        # tests the cosine filter, not bucket recall
        pairs = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(
                df, threshold=0.9, dim=2, num_tables=12, bits=1
            ).collect()
        }
        assert pairs.get((0, 1)) == 0.9
        assert (0, 2) not in pairs


class TestMultimodalShapes:
    def test_resize_contract(self, spark, docs=None):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "x")], "doc_id long, text string"
        )
        media = attach_binary_payload(df, source_col="text", id_col="doc_id")
        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            resize_media,
            sample_frames,
        )

        resized = resize_media(media, width=4, height=3)
        rows = {r["media_id"]: r for r in resized.collect()}
        assert all(r["byte_size"] == 12 for r in rows.values())
        assert rows[1]["target_w"] == 4

        frames = sample_frames(media, every_n_bytes=4, max_frames=3)
        by_media = {}
        for r in frames.collect():
            by_media.setdefault(r["media_id"], []).append(r)
        assert len(by_media[1]) == 2  # 11 bytes // 4 = 2 frames
        assert by_media[1][0]["frame"] == b"hell"

    def test_resize_strict_raises(self):
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.multimodal import resize_stub

        with _pytest.raises(NotImplementedError):
            resize_stub(b"xx", 2, 2, strict=True)

    def test_png_roundtrip_all_filters(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        rng = np.random.default_rng(42)
        arr = rng.integers(0, 256, size=(17, 13, 3), dtype=np.uint8)
        for ft in (0, 1, 2, 3, 4, "mixed"):
            assert np.array_equal(decode_image(encode_png(arr, ft)), arr)

    def test_png_adam7_interlace_roundtrip(self):
        """Adam7 (round 9): interlaced encode → decode is bit-identical
        to the source for every filter, including sizes where passes
        are empty or single-pixel (1x1, sub-8x8, odd shapes)."""
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        rng = np.random.default_rng(7)
        for h, w in [(1, 1), (2, 3), (7, 5), (8, 8), (9, 13), (33, 31)]:
            arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for ft in (0, 1, 2, 3, 4, "mixed"):
                got = decode_image(encode_png(arr, ft, interlace=True))
                assert np.array_equal(got, arr), (h, w, ft)
        # interlaced and sequential encodes of the same pixels decode
        # to the same image (the stream layouts differ)
        arr = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        seq = encode_png(arr)
        il = encode_png(arr, interlace=True)
        assert seq != il
        assert np.array_equal(decode_image(seq), decode_image(il))

    def test_png_gray_and_rgba_decode(self):
        import struct
        import zlib

        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _PNG_SIG,
            decode_image,
        )

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return (
                struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)
            )

        rng = np.random.default_rng(5)
        gray = rng.integers(0, 256, size=(3, 4), dtype=np.uint8)
        raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(3))
        png = (
            _PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        out = decode_image(png)
        assert out.shape == (3, 4, 3)
        assert all(np.array_equal(out[:, :, c], gray) for c in range(3))

        rgba = rng.integers(0, 256, size=(2, 2, 4), dtype=np.uint8)
        raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(2))
        png = (
            _PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_image(png), rgba[:, :, :3])

    def test_png_rejects_unsupported(self):
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.multimodal import decode_image

        with _pytest.raises(ValueError):
            decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)  # no IHDR

    def test_resize_decodes_png_and_jpeg_payloads(self, spark):
        # resize_media(decode=True) must work on any decodable format
        # (decode_image dispatch) and re-emit decodable PPM
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            resize_media,
            synthesize_jpeg_media,
            synthesize_png_media,
        )

        df = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        for maker, chans in (
            (synthesize_png_media, (3, 5, 11)),
            (synthesize_jpeg_media, (29, 29, 29)),
        ):
            out = resize_media(maker(df), width=6, height=4, decode=True)
            rows = {r["media_id"]: bytes(r["payload"]) for r in out.collect()}
            for mid, payload in rows.items():
                arr = decode_image(payload)
                assert arr.shape == (4, 6, 3)
                # solid-color sources stay solid after resample
                want = np.array([mid * c % 256 for c in chans])
                assert np.abs(arr.reshape(-1, 3) - want).max() <= 1

    def test_progressive_jpeg_matches_baseline_decode(self):
        """The progressive scan script transmits the exact quantized
        coefficients, so a full progressive decode must be
        BIT-IDENTICAL to decoding the baseline encoding at the same
        quality — this one equality exercises every SOF2 decoder
        path: DC first/refine, AC first with EOB runs, AC refinement
        with ZRL and buffered correction bits."""
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(11)
        for h, w in [(16, 16), (24, 40), (13, 21), (8, 8)]:
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.stack(
                [
                    yy * 255 // max(h - 1, 1),
                    xx * 255 // max(w - 1, 1),
                    ((yy // 4 + xx // 4) % 2) * 200,
                ],
                axis=2,
            ).astype(np.int32)
            img = np.clip(
                img + rng.integers(-30, 30, img.shape), 0, 255
            ).astype(np.uint8)
            for q in (90, 50):
                assert np.array_equal(
                    decode_jpeg(encode_jpeg_progressive(img, quality=q)),
                    decode_jpeg(encode_jpeg(img, quality=q)),
                )

    def test_restart_markers_roundtrip_both_frames(self):
        """DRI/RSTn: encoders emit real restart layouts (byte-aligned
        markers, DC prediction + EOB-run reset per interval) and the
        decoder's restart paths must reproduce the no-restart decode
        bit-for-bit — baseline AND progressive."""
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(5)
        img = np.clip(
            rng.integers(0, 255, (24, 40, 3)), 0, 255
        ).astype(np.uint8)
        for q in (90, 50):
            plain = decode_jpeg(encode_jpeg(img, quality=q))
            for ri in (1, 2, 5):
                assert np.array_equal(
                    plain,
                    decode_jpeg(
                        encode_jpeg(img, quality=q, restart_interval=ri)
                    ),
                ), ("baseline", q, ri)
                assert np.array_equal(
                    plain,
                    decode_jpeg(
                        encode_jpeg_progressive(
                            img, quality=q, restart_interval=ri
                        )
                    ),
                ), ("progressive", q, ri)
        # the markers are really in the stream
        d = encode_jpeg(img, restart_interval=2)
        assert b"\xff\xdd" in d and b"\xff\xd0" in d

    def test_progressive_stream_shape_and_dispatch(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.jpeg import (
            encode_jpeg_progressive,
        )
        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
        )

        img = np.full((10, 12, 3), 77, np.uint8)
        d = encode_jpeg_progressive(img, quality=100)
        assert b"\xff\xc2" in d  # SOF2, not SOF0
        assert d.count(b"\xff\xda") >= 10  # the 10-scan script
        # decode_image routes JPEG magic through the SOF2 path too;
        # solid gray at q100 survives exactly (DC-only blocks)
        assert np.array_equal(decode_image(d), img)

    def test_jpeg_roundtrip(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        # constant gray at q100 round-trips EXACTLY (chroma at 128,
        # DC quantizer 1) — the property the catalog oracle leg uses
        for v in (0, 7, 128, 255):
            arr = np.full((16, 24, 3), v, dtype=np.uint8)
            assert np.array_equal(decode_jpeg(encode_jpeg(arr, 100)), arr)
        # smooth gradient at q95 stays within a couple of levels
        x = np.linspace(0, 255, 32)
        grad = np.tile(x, (24, 1))
        arr = np.stack([grad] * 3, axis=2).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(arr, quality=95))
        assert np.abs(out.astype(int) - arr.astype(int)).max() <= 6
        # odd (non-multiple-of-8) dimensions crop correctly
        arr = np.full((9, 13, 3), 77, dtype=np.uint8)
        assert decode_jpeg(encode_jpeg(arr, 100)).shape == (9, 13, 3)

    def test_jpeg_420_and_grayscale_streams(self):
        # hand-composed streams (NOT produced by encode_jpeg) exercise
        # the decoder's MCU interleave, chroma upsample, and
        # single-component paths against spec-derived expectations
        import struct

        import numpy as np

        from harness_aws_etl_pipeline_spark.operators import jpeg as J

        r, g, b = 180, 60, 120
        y = round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
        cr = round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        qt = np.ones(64, dtype=np.int32)
        dc_codes = J._canonical_codes(J.DC_BITS, J.DC_VALS)
        ac_codes = J._canonical_codes(J.AC_BITS, J.AC_VALS)

        def seg(marker, body):
            return struct.pack(">HH", marker, len(body) + 2) + body

        def dht(tc, th, bits, vals):
            return bytes([(tc << 4) | th] + bits + vals)

        bw = J._BitWriter()

        def put_block(dc_diff):
            size, bits = J._magnitude(dc_diff)
            c, ln = dc_codes[size]
            bw.write(c, ln)
            if size:
                bw.write(bits, size)
            c, ln = ac_codes[0x00]
            bw.write(c, ln)

        # 16×16 4:2:0 MCU: 4 Y blocks (first carries the DC), Cb, Cr
        put_block(8 * (y - 128))
        for _ in range(3):
            put_block(0)
        put_block(8 * (cb - 128))
        put_block(8 * (cr - 128))
        dqt = seg(0xFFDB, b"\x00" + bytes(qt.reshape(-1)[J.ZIGZAG].tolist()))
        sof = seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 16, 16, 3)
            + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
        )
        dhts = seg(
            0xFFC4,
            dht(0, 0, J.DC_BITS, J.DC_VALS) + dht(1, 0, J.AC_BITS, J.AC_VALS),
        )
        sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        stream = b"\xff\xd8" + dqt + sof + dhts + sos + bw.flush() + b"\xff\xd9"
        out = J.decode_jpeg(stream)
        assert out.shape == (16, 16, 3)
        assert np.abs(out.astype(int) - np.array([r, g, b])).max() <= 2

        # grayscale single-component stream → replicated channels
        bw = J._BitWriter()
        put_block(8 * (99 - 128))
        sof1 = seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        sos1 = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        stream = b"\xff\xd8" + dqt + sof1 + dhts + sos1 + bw.flush() + b"\xff\xd9"
        out = J.decode_jpeg(stream)
        assert out.shape == (8, 8, 3)
        assert abs(int(out[0, 0, 0]) - 99) <= 1
        assert np.array_equal(out[..., 0], out[..., 1])

        # grayscale declaring 2x2 sampling (libjpeg does this): spec
        # A.2.2 says a single-component scan is NON-interleaved over
        # ceil(w/8)xceil(h/8) blocks — 20x8 → 3 blocks, not 2x2-MCU
        # layout (which would desync the entropy stream)
        bw = J._BitWriter()
        put_block(8 * (99 - 128))
        put_block(0)
        put_block(0)
        sof2 = seg(0xFFC0, struct.pack(">BHHB", 8, 8, 20, 1) + bytes([1, 0x22, 0]))
        stream = b"\xff\xd8" + dqt + sof2 + dhts + sos1 + bw.flush() + b"\xff\xd9"
        out = J.decode_jpeg(stream)
        assert out.shape == (8, 20, 3)
        assert np.all(np.abs(out[..., 0].astype(int) - 99) <= 1)

        # truncated entropy segment → ValueError (the documented
        # bad-payload contract), never IndexError
        import pytest as _pytest

        truncated = b"\xff\xd8" + dqt + sof2 + dhts + sos1 + bw.flush()[:1]
        with _pytest.raises(ValueError):
            J.decode_jpeg(truncated)

        # progressive (SOF2) rejected, not mis-decoded
        import pytest as _pytest

        with _pytest.raises(ValueError):
            J.decode_jpeg(
                b"\xff\xd8"
                + seg(0xFFC2, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00")
            )

    def test_jpeg_media_pipeline(self, spark):
        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            extract_features,
            synthesize_jpeg_media,
        )

        df = spark.createDataFrame([(i,) for i in range(25)], "doc_id long")
        feats = {
            r["media_id"]: r["feature"]
            for r in extract_features(
                synthesize_jpeg_media(df), decode=True
            ).collect()
        }
        for mid, f in feats.items():
            assert f[0] == 1 + mid % 10 and f[1] == 1 + mid % 5
            assert f[3] == mid * 29 % 256  # exact gray round-trip

    def test_wav_roundtrip_and_chunk_walk(self):
        import struct

        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            audio_features,
            decode_wav,
            encode_wav,
        )

        rng = np.random.default_rng(9)
        stereo = rng.integers(-32768, 32767, size=(300, 2), dtype=np.int16)
        frames, rate = decode_wav(encode_wav(stereo, 8000))
        assert rate == 8000 and np.array_equal(frames, stereo)

        # real recorders emit extra chunks (LIST/fact) — the walker
        # must skip them, not assume data follows fmt directly
        mono = rng.integers(-32768, 32767, size=100, dtype=np.int16)
        wav = encode_wav(mono, 16000)
        i = wav.index(b"data")
        wav = wav[:i] + b"LIST" + struct.pack("<I", 4) + b"INFO" + wav[i:]
        frames, _ = decode_wav(wav)
        assert np.array_equal(frames[:, 0], mono)

        f = audio_features(encode_wav(np.full(75, -123, dtype=np.int16), 8000))
        assert f == [8000.0, 1.0, 75.0, 75 / 8000, -123.0, 123.0]

    def test_wav_media_pipeline(self, spark):
        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            extract_audio_features,
            synthesize_wav_media,
        )

        df = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
        feats = {
            r["media_id"]: r["feature"]
            for r in extract_audio_features(synthesize_wav_media(df)).collect()
        }
        for mid, f in feats.items():
            amp = (mid * 17) % 2000 - 1000
            assert f[2] == 50 + mid % 100  # frames
            assert f[4] == amp and f[5] == abs(amp)  # mean / rms

    def test_png_media_pipeline(self, spark):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            extract_features,
            synthesize_png_media,
        )

        df = spark.createDataFrame(
            [(i,) for i in range(40)], "doc_id long"
        )
        feats = {
            r["media_id"]: r["feature"]
            for r in extract_features(
                synthesize_png_media(df), decode=True
            ).collect()
        }
        for mid, f in feats.items():
            assert f[0] == 1 + mid % 12 and f[1] == 1 + mid % 6
            assert f[3] == mid * 3 % 256 and f[5] == mid * 11 % 256
        assert len(feats) == 40 and np is not None

    def test_gif_roundtrip_and_interlace(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.gif import (
            decode_gif,
            encode_gif,
            split_gif_frames,
        )

        rng = np.random.default_rng(7)
        f1 = (rng.integers(0, 4, (23, 31, 3)) * 80).astype(np.uint8)
        f2 = (rng.integers(0, 4, (23, 31, 3)) * 80).astype(np.uint8)
        frames = split_gif_frames(encode_gif([f1, f2]))
        assert len(frames) == 2
        assert np.array_equal(frames[0], f1)
        assert np.array_equal(frames[1], f2)
        # interlaced frame de-interlaces back to the same pixels
        assert np.array_equal(decode_gif(encode_gif([f1], interlace=True)), f1)
        # a frame big enough to force multiple 255-byte sub-blocks and
        # several mid-stream CLEAR codes
        big = (rng.integers(0, 6, (64, 77, 3)) * 40).astype(np.uint8)
        assert np.array_equal(decode_gif(encode_gif([big])), big)

    def test_gif_transparency_composits_over_previous_frame(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.gif import (
            encode_gif,
            split_gif_frames,
        )

        # frame 1: red everywhere except one black pixel (so black
        # occupies palette index 0 of BOTH frames — lexicographic
        # np.unique order); frame 2: green top half, black bottom.
        # With transparent=0, frame 2's black is a window onto frame 1.
        base = np.zeros((8, 8, 3), np.uint8)
        base[:, :, 0] = 200
        base[0, 0] = 0
        over = np.zeros((8, 8, 3), np.uint8)
        over[:4, :, 1] = 150
        fr = split_gif_frames(encode_gif([base, over], transparent=0))
        assert (fr[1][:4, :, 1] == 150).all()  # opaque overlay
        assert (fr[1][4:, :, 0] == 200).all()  # base shows through

    def test_gif_gce_scopes_to_one_frame(self):
        # GIF89a §23: a Graphic Control Extension governs only the
        # FIRST rendering block after it. A GCE-less second frame must
        # not inherit the first frame's transparency — its index-0
        # pixels are opaque color, not windows onto frame 1.
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.gif import (
            encode_gif,
            split_gif_frames,
        )

        base = np.zeros((6, 6, 3), np.uint8)
        base[:, :, 0] = 200
        base[0, 0] = 0  # keep black at palette index 0 on both frames
        over = np.zeros((6, 6, 3), np.uint8)  # all black = all index 0
        raw = encode_gif([base, over], transparent=0)
        # strip the SECOND GCE block (8 bytes: 21 F9 04 .. .. .. .. 00)
        first = raw.index(b"\x21\xf9\x04")
        second = raw.index(b"\x21\xf9\x04", first + 1)
        stripped = raw[:second] + raw[second + 8 :]
        fr = split_gif_frames(stripped)
        # frame 2 carried no GCE → fully opaque black, NOT base red
        assert (fr[1] == 0).all()
        # control: with the GCE left in, the same frame is a window
        fr_with = split_gif_frames(raw)
        assert (fr_with[1][1:, :, 0] == 200).all()

    def test_gif_rejects_malformed(self):
        import numpy as np
        import pytest

        from harness_aws_etl_pipeline_spark.operators.gif import (
            encode_gif,
            split_gif_frames,
        )

        with pytest.raises(ValueError, match="not a GIF"):
            split_gif_frames(b"NOTAGIF")
        ok = encode_gif([np.zeros((4, 4, 3), np.uint8)])
        with pytest.raises(ValueError):
            split_gif_frames(ok[:20])  # truncated mid-stream
        rng = np.random.default_rng(3)
        too_colorful = rng.integers(0, 256, (20, 20, 3)).astype(np.uint8)
        assert len(np.unique(too_colorful.reshape(-1, 3), axis=0)) > 256
        with pytest.raises(ValueError, match=">256"):
            encode_gif([too_colorful])

    def test_gif_media_pipeline(self, spark):
        # the Spark-side contract: a GIF payload flows through
        # decode_image (first frame) and sample_frames (every frame,
        # re-encoded as decodable PPMs) — the real multi-frame
        # container the video seam was stubbed for
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.gif import encode_gif
        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            resize_media,
            sample_frames,
        )

        def gif_for(i: int) -> bytes:
            a = np.full((6, 5, 3), (i * 13) % 200, np.uint8)
            b = np.full((6, 5, 3), (i * 29) % 200, np.uint8)
            return encode_gif([a, b])

        rows = [(i, "video/gif", bytearray(gif_for(i))) for i in range(6)]
        media = spark.createDataFrame(
            rows, "media_id long, modality string, payload binary"
        )
        frames = sample_frames(media, decode=True)
        got = {}
        for r in frames.collect():
            got.setdefault(r["media_id"], []).append(r)
        assert set(got) == set(range(6))
        for mid, frs in got.items():
            assert len(frs) == 2
            first = decode_image(bytes(frs[0]["frame"]))  # intact PPM
            assert first.shape == (6, 5, 3)
            assert int(first[0, 0, 0]) == (mid * 13) % 200
            second = decode_image(bytes(frs[1]["frame"]))
            assert int(second[0, 0, 0]) == (mid * 29) % 200
        # resize consumes the GIF through decode_image's dispatch
        resized = resize_media(media, width=3, height=2, decode=True)
        assert all(r["byte_size"] > 0 for r in resized.collect())


class TestTextOps:
    def test_repetition_fractions(self, spark):
        from harness_aws_etl_pipeline_spark.functions.text import (
            dup_line_fraction,
            dup_word_fraction,
        )

        df = spark.createDataFrame(
            [
                (1, "spam line\nspam line\nspam line\nunique"),  # 2/4 dup lines
                (2, "all words distinct here"),
                (3, "buy buy buy now"),  # 2/4 dup words
                (4, ""),  # empty → 0, no division error
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: (r["dl"], r["dw"])
            for r in df.select(
                "doc_id",
                dup_line_fraction("text").alias("dl"),
                dup_word_fraction("text").alias("dw"),
            ).collect()
        }
        assert rows[1][0] == 0.5  # 4 lines, 2 distinct
        assert rows[2] == (0.0, 0.0)
        assert rows[3][1] == 0.5  # 4 words, 2 distinct
        assert rows[4] == (0.0, 0.0)

    def test_null_text_flows_through(self, spark):
        # a NULL text cell must not crash any text operator (ANSI mode
        # makes silent null-propagation regressions easy to introduce)
        from harness_aws_etl_pipeline_spark.functions.text import (
            dup_line_fraction,
            dup_word_fraction,
        )
        from harness_aws_etl_pipeline_spark.operators.textops import (
            chunk_documents,
            redact_text,
            tf_idf,
            top_ngrams,
            unigram_logprob,
        )

        df = spark.createDataFrame(
            [(1, None), (2, "the quick brown fox")], "doc_id long, text string"
        )
        assert add_text_stats(df).count() == 2
        row = df.filter("doc_id = 1").select(
            dup_line_fraction("text").alias("dl"),
            dup_word_fraction("text").alias("dw"),
            rolling_fingerprint("text").alias("fp"),
            redact_text("text").alias("rx"),
        ).first()
        assert row["dl"] == 0.0 and row["dw"] == 0.0
        assert row["fp"] is None and row["rx"] is None
        # explode-based ops simply skip the null row
        assert unigram_logprob(df).count() == 1
        assert tf_idf(df).count() == 4
        assert top_ngrams(df).count() == 3
        assert chunk_documents(df).count() == 1

    def test_unigram_logprob(self, spark):
        import math

        from harness_aws_etl_pipeline_spark.operators.textops import unigram_logprob

        # corpus: "a" appears 3x, "b" 1x → N=4; doc1 = [a,a] scores
        # ln(3/4); doc2 = [a,b] scores (ln(3/4)+ln(1/4))/2
        df = spark.createDataFrame(
            [(1, "a a"), (2, "a b")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
        lp = lambda x: round(round(math.log(x) * 1e6) / 1e6, 6)
        assert rows[1]["n_tokens"] == 2
        assert abs(rows[1]["avg_logprob"] - lp(0.75)) < 1e-6
        want2 = round((round(math.log(0.75) * 1e6) + round(math.log(0.25) * 1e6)) / 1e6 / 2, 6)
        assert abs(rows[2]["avg_logprob"] - want2) < 1e-6
        # common-token doc scores higher than rare-token doc
        assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]

    def test_bigram_logprob(self, spark):
        import math

        from harness_aws_etl_pipeline_spark.operators.textops import bigram_logprob

        # unigrams: a:3 b:3 c:1 → V=3; bigram counts (a,b):2 (b,a):2;
        # P(b|a) = (2+1)/(3+3) = 0.5 = P(a|b) — every scored bigram is
        # ln(0.5); doc 3 has no bigrams and is absent
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "B a"), (3, "c")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
        assert set(rows) == {1, 2}
        want = round(round(math.log(0.5) * 1e6) / 1e6, 6)
        assert rows[1]["n_bigrams"] == 3
        assert abs(rows[1]["avg_logprob2"] - want) < 1e-6
        assert rows[2]["n_bigrams"] == 1
        assert abs(rows[2]["avg_logprob2"] - want) < 1e-6

    def test_bigram_logprob_scores_word_order(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import bigram_logprob

        # same vocabulary, shuffled order: the attested-order doc must
        # outscore the shuffled one (the signal unigram LM cannot see)
        base = "the cat sat on the mat " * 5
        shuf = "mat the on cat the sat " * 5
        df = spark.createDataFrame(
            [(1, base), (1, base), (1, base), (2, shuf)],
            "doc_id long, text string",
        ).dropDuplicates(["doc_id"]).unionByName(
            spark.createDataFrame(
                [(3, base)], "doc_id long, text string"
            )
        )
        rows = {r["doc_id"]: r["avg_logprob2"] for r in bigram_logprob(df).collect()}
        assert rows[3] > rows[2]

    def test_top_ngrams(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import top_ngrams

        df = spark.createDataFrame(
            [
                (1, "the cat sat on the cat"),
                (2, "the cat ran"),
                (3, "solo"),  # < n tokens → contributes nothing
            ],
            "doc_id long, text string",
        )
        rows = [(r["ngram"], r["cnt"]) for r in top_ngrams(df, n=2, k=3).collect()]
        assert rows[0] == ("the cat", 3)
        assert len(rows) == 3
        # ties broken by ngram string (deterministic cut)
        cnts = [c for _, c in rows]
        assert cnts == sorted(cnts, reverse=True)
        tri = [(r["ngram"], r["cnt"]) for r in top_ngrams(df, n=3, k=2).collect()]
        assert ("the cat sat", 1) in tri or ("cat sat on", 1) in tri

    def test_stats_columns(self, docs):
        out = add_text_stats(docs)
        row = out.filter(F.col("doc_id") == 1).first()
        assert row["word_cnt"] == 15 and row["char_cnt"] == len(BASE)
        assert row["punct_ratio"] == 0.0

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat is on the mat and it is happy"),
                (2, "der hund ist nicht das problem und die katze"),
                (3, "zzz qqq xxx"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", predict_language(F.col("text")).alias("lang")).collect()}
        assert out == {1: "en", 2: "de", 3: "unknown"}

    def test_language_tie_breaks_to_earliest_code(self, spark):
        # 'la' is a marker for BOTH es and fr → tie must resolve to the
        # alphabetically earlier code (es), matching the SQL oracle
        df = spark.createDataFrame([(1, "la xyzzy qqq")], "doc_id long, text string")
        got = df.select(predict_language(F.col("text")).alias("lang")).first()["lang"]
        assert got == "es"

    def test_quality_monotone_in_length(self, spark):
        df = spark.createDataFrame(
            [(1, "the of and " * 50), (2, "x")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["q"] for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
        assert rows[1] > rows[2]

    def test_rolling_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "aa bbb c"), (2, "c bbb aa")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r["fp"] for r in df.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()}
        assert rows[1] != rows[2]  # same tokens, different order


class TestDedupFacade:
    def test_all_text_methods_remove_planted_dup(self, docs):
        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate

        # docs: 1=BASE, 2=NEAR, 3=FAR, 4=BASE (exact text dup of 1)
        for method, kw in [
            ("exact", {"subset": ["text"]}),
            ("hash", {"subset": ["text"]}),
            ("ngram", {"threshold": 0.9, "n": 3}),
            ("minhash", {"threshold": 0.9, "n": 3}),
            ("simhash", {"max_hamming": 0}),
        ]:
            out = deduplicate(docs, method=method, **kw)
            ids = {r["doc_id"] for r in out.collect()}
            # exactly one of the two BASE copies survives; 2 and 3 stay
            assert len(ids & {1, 4}) == 1 and {2, 3} <= ids, method
            assert len(ids) == 3, method

    def test_embedding_method(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate

        vecs = [(i, [float(i), 1.0, 0.0]) for i in range(1, 5)]
        vecs.append((9, [1.0, 1.0, 0.0]))  # identical direction to vec 1
        df = spark.createDataFrame(vecs, "doc_id long, embedding array<float>")
        out = deduplicate(df, method="embedding", threshold=0.9999, dim=3)
        ids = {r["doc_id"] for r in out.collect()}
        assert 9 not in ids and 1 in ids

    def test_unknown_method_raises(self, docs):
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate

        with _pytest.raises(ValueError, match="unknown dedup method"):
            deduplicate(docs, method="bogus")

    def test_semantic_method(self, spark):
        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate

        vecs = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 5)]
        vecs.append((9, [2.0, 2.0, 0.0, 0.0]))  # same direction as vec 1
        df = spark.createDataFrame(vecs, "doc_id long, embedding array<float>")
        out = deduplicate(
            df, method="semantic", threshold=0.9999, id_col="doc_id",
            k=2, dim=4, order="min_id",
        )
        ids = {r["doc_id"] for r in out.collect()}
        assert 9 not in ids and 1 in ids and len(ids) == 4

    def test_semantic_method_string_ids(self, spark):
        """String id types flow through the SemDeDup Arrow path (the
        applyInPandas schema derives the id type; regression for the
        hardcoded-long schema)."""
        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate

        vecs = [(f"d{i}", [float(i), 1.0, 0.0, 0.0]) for i in range(1, 5)]
        vecs.append(("z9", [2.0, 2.0, 0.0, 0.0]))  # same direction as d1
        df = spark.createDataFrame(vecs, "doc_id string, embedding array<float>")
        out = deduplicate(
            df, method="semantic", threshold=0.9999, id_col="doc_id",
            k=2, dim=4, order="min_id",
        )
        ids = {r["doc_id"] for r in out.collect()}
        assert "z9" not in ids and "d1" in ids and len(ids) == 4

    def test_image_method(self, spark):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate
        from harness_aws_etl_pipeline_spark.operators.multimodal import encode_ppm

        yy, xx = np.mgrid[0:32, 0:32].astype(np.float64)
        base = np.stack([100 + 30 * np.sin(xx / 4) * np.sin(yy / 5)] * 3, axis=2)
        base = base.astype(np.uint8)
        near = (base.astype(np.int16) + 10).astype(np.uint8)
        far = ((xx // 4 + yy // 4) % 2 * 255).astype(np.uint8)
        far = np.stack([far] * 3, axis=2)
        df = spark.createDataFrame(
            [
                (1, bytearray(encode_ppm(base))),
                (2, bytearray(encode_ppm(near))),
                (3, bytearray(encode_ppm(far))),
            ],
            "doc_id long, payload binary",
        )
        out = deduplicate(df, method="image", max_hamming=3)
        ids = {r["doc_id"] for r in out.collect()}
        assert ids == {1, 3}

    def test_similarity_facade_methods_agree_on_top1(self, spark):
        import random

        from harness_aws_etl_pipeline_spark.operators.dedup_api import (
            similarity_search,
        )

        random.seed(5)
        vecs = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(100)]
        vecs.append((999, list(vecs[0][1])))  # exact twin of vec 0
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") == 0)
        for method in ("brute", "brute_arrow", "lsh", "ivf"):
            got = similarity_search(df, q, method=method, k=3)
            top = got.filter(F.col("rank") == 1).first()
            assert top["neighbor_id"] == 999, method


class TestChunking:
    def test_overlap_and_tail(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import chunk_documents

        text = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        chunks = {
            r["chunk_idx"]: r
            for r in chunk_documents(df, chunk_tokens=4, overlap=2).collect()
        }
        # stride 2: windows [0:4],[2:6],[4:8],[6:10] → 4 chunks
        assert len(chunks) == 4
        assert chunks[0]["chunk_text"] == "w0 w1 w2 w3"
        assert chunks[1]["chunk_text"] == "w2 w3 w4 w5"  # overlap of 2
        assert chunks[3]["chunk_text"] == "w6 w7 w8 w9"
        assert all(c["n_tokens"] == 4 for c in chunks.values())

    def test_short_doc_single_chunk(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import chunk_documents

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        rows = chunk_documents(df, chunk_tokens=8, overlap=2).collect()
        assert len(rows) == 1 and rows[0]["n_tokens"] == 2

    def test_bad_overlap_raises(self, spark):
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.textops import chunk_documents

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, overlap=4)


class TestRedaction:
    def test_patterns(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import redact_text

        df = spark.createDataFrame(
            [(1, "mail me at bob@corp.io or call 5551234567 from 10.0.0.1 x5")],
            "id long, text string",
        )
        out = df.select(redact_text("text").alias("t")).first()["t"]
        assert "[EMAIL]" in out and "bob@" not in out
        assert "[NUMBER]" in out and "5551234567" not in out
        assert "[IPV4]" in out and "10.0.0.1" not in out
        assert "x5" in out  # short numbers untouched


class TestTfIdf:
    def test_scores_favor_rare_terms(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import tf_idf

        df = spark.createDataFrame(
            [
                (1, "common rare1 common"),
                (2, "common other words"),
                (3, "common more words"),
            ],
            "doc_id long, text string",
        )
        rows = {(r["doc_id"], r["term"]): r for r in tf_idf(df).collect()}
        # 'common' appears in all 3 docs → idf = ln(1) = 0
        assert rows[(1, "common")]["tfidf"] == 0.0
        assert rows[(1, "common")]["tf"] == 2 and rows[(1, "common")]["df"] == 3
        # 'rare1' in one doc → positive score
        assert rows[(1, "rare1")]["tfidf"] > 1.0

    def test_min_df_prunes(self, spark):
        from harness_aws_etl_pipeline_spark.operators.textops import tf_idf

        df = spark.createDataFrame(
            [(1, "aa bb"), (2, "aa cc")], "doc_id long, text string"
        )
        terms = {r["term"] for r in tf_idf(df, min_df=2).collect()}
        assert terms == {"aa"}


class TestSampling:
    def test_split_disjoint_stable_append_safe(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import split_train_test

        df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
        train, test = split_train_test(df, "id", train_frac=0.8)
        tr = {r["id"] for r in train.collect()}
        te = {r["id"] for r in test.collect()}
        assert tr.isdisjoint(te) and len(tr) + len(te) == 1000
        assert 700 < len(tr) < 900  # ~80%
        # append-stability: the same ids land in the same split on a
        # superset of the data
        bigger = spark.createDataFrame([(i,) for i in range(2000)], "id long")
        tr2, _ = split_train_test(bigger, "id", train_frac=0.8)
        tr2_ids = {r["id"] for r in tr2.collect()}
        assert tr == {i for i in tr2_ids if i < 1000}

    def test_salt_changes_assignment(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import split_train_test

        df = spark.createDataFrame([(i,) for i in range(500)], "id long")
        a, _ = split_train_test(df, "id", salt=0)
        b, _ = split_train_test(df, "id", salt=1)
        assert {r["id"] for r in a.collect()} != {r["id"] for r in b.collect()}

    def test_sample_fraction(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import sample_fraction

        df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
        s = sample_fraction(df, "id", 0.1)
        assert 120 < s.count() < 280  # ~10%


class TestMultimodal:
    def test_payload_and_features(self, docs):
        media = attach_binary_payload(docs, source_col="text", id_col="doc_id")
        rows = {r["media_id"]: r for r in media.collect()}
        assert rows[1]["byte_size"] == len(BASE)
        assert rows[1]["content_hash"] == rows[4]["content_hash"]  # same content
        feats = extract_features(media)
        frow = {r["media_id"]: r["feature"] for r in feats.collect()}
        assert len(frow[1]) == 8
        assert abs(sum(frow[1]) - 1.0) < 1e-9  # normalized histogram

    def test_decode_stub_strict_raises(self):
        with pytest.raises(NotImplementedError):
            decode_stub(b"xx", "image", strict=True)

    def test_media_summary(self, docs):
        media = attach_binary_payload(docs, source_col="text", id_col="doc_id")
        s = media_summary(media).first()
        assert s["media_cnt"] == 4 and s["distinct_payloads"] == 3


class TestRealImageDecode:
    def _checker(self):
        import numpy as np

        arr = np.zeros((5, 3, 3), dtype=np.uint8)
        arr[::2, :, 0] = 255  # red stripes
        arr[1, 2, 2] = 7
        return arr

    def test_ppm_roundtrip(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_ppm,
        )

        arr = self._checker()
        assert np.array_equal(decode_image(encode_ppm(arr)), arr)

    def test_ppm_header_comments(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import decode_image

        arr = self._checker()
        raw = b"P6\n# a comment\n3 # inline\n# another\n5\n255\n" + arr.tobytes()
        assert np.array_equal(decode_image(raw), arr)

    def test_bmp_roundtrip_with_row_padding(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_bmp,
        )

        # width 3 → 9-byte rows padded to 12; bottom-up + BGR exercised
        arr = self._checker()
        assert np.array_equal(decode_image(encode_bmp(arr)), arr)

    def test_unknown_format_raises(self):
        from harness_aws_etl_pipeline_spark.operators.multimodal import decode_image

        with pytest.raises(ValueError, match="unrecognized"):
            decode_image(b"\x89PNG\r\n")

    def test_extract_features_decode_true(self, spark):
        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            extract_features,
            synthesize_ppm_media,
        )

        df = spark.createDataFrame([(17,), (3,)], "doc_id long")
        media = synthesize_ppm_media(df)
        feats = {
            r["media_id"]: r["feature"]
            for r in extract_features(media, decode=True).collect()
        }
        # id=17 → w=1+17%16=2, h=1+17%8=2, color (17, 119, 221)
        assert feats[17] == [2.0, 2.0, 3.0, 17.0, 119.0, 221.0]
        # id=3 → w=4, h=4, color (3, 21, 39)
        assert feats[3] == [4.0, 4.0, 3.0, 3.0, 21.0, 39.0]

    def test_sample_frames_decode_true(self, spark):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_ppm_sequence,
            sample_frames,
        )

        # 6-frame "video": frame f is a 2x2 solid-color image of value f
        frames = [np.full((2, 2, 3), f, dtype=np.uint8) for f in range(6)]
        seq = encode_ppm_sequence(frames)
        df = spark.createDataFrame(
            [(1, "video/ppm-seq", bytearray(seq), len(seq), None)],
            "media_id long, modality string, payload binary, byte_size long, content_hash string",
        )
        out = sample_frames(df, decode=True, frame_stride=2, max_frames=2).collect()
        assert [r["frame_idx"] for r in out] == [0, 1]
        # every sampled frame is an intact decodable PPM: frames 0 and 2
        vals = [int(decode_image(bytes(r["frame"]))[0, 0, 0]) for r in out]
        assert vals == [0, 2]

    def test_resize_media_decode_true(self, spark):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_ppm,
            resize_media,
        )

        # 2x2 quadrant image → upsample 4x4: nearest-neighbor blocks
        arr = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [9, 9, 9]]], dtype=np.uint8
        )
        df = spark.createDataFrame(
            [(1, "image/ppm", bytearray(encode_ppm(arr)), None, None)],
            "media_id long, modality string, payload binary, byte_size long, content_hash string",
        )
        out = resize_media(df, width=4, height=4, decode=True).first()
        resized = decode_image(bytes(out["payload"]))
        assert resized.shape == (4, 4, 3)
        assert np.array_equal(resized[0, 0], [255, 0, 0])
        assert np.array_equal(resized[0, 3], [0, 255, 0])
        assert np.array_equal(resized[3, 0], [0, 0, 255])
        assert np.array_equal(resized[3, 3], [9, 9, 9])
        assert out["byte_size"] == len(bytes(out["payload"]))

    def test_resize_bilinear_known_values(self, spark):
        """Round 11: pure-numpy bilinear (half-pixel-center,
        edge-clamped). 2x2 checkerboard → 4x4: corners exact, interior
        the hand-computable 3/8-1/8 blends (96 = round(255·0.375),
        159 = round(255·0.625), 64/191 on the edges)."""
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_ppm,
            resize_image,
            resize_media,
        )

        arr = np.zeros((2, 2, 3), dtype=np.uint8)
        arr[0, 1] = 255
        arr[1, 0] = 255
        out = decode_image(
            resize_image(encode_ppm(arr), 4, 4, method="bilinear")
        )
        assert out.shape == (4, 4, 3)
        expect = np.array(
            [
                [0, 64, 191, 255],
                [64, 96, 159, 191],
                [191, 159, 96, 64],
                [255, 191, 64, 0],
            ]
        )
        assert np.array_equal(out[:, :, 0], expect)
        # downsample 4x4 → 2x2 averages each quadrant exactly
        back = decode_image(
            resize_image(encode_ppm(out), 2, 2, method="bilinear")
        )
        assert np.array_equal(
            back[:, :, 0],
            np.array([[round((0 + 64 + 64 + 96) / 4),
                       round((191 + 255 + 159 + 191) / 4)],
                      [round((191 + 159 + 255 + 191) / 4),
                       round((96 + 64 + 64 + 0) / 4)]]),
        )
        # the mapInPandas path threads the method through
        df = spark.createDataFrame(
            [(1, "image/ppm", bytearray(encode_ppm(arr)), None, None)],
            "media_id long, modality string, payload binary, "
            "byte_size long, content_hash string",
        )
        row = resize_media(
            df, width=4, height=4, decode=True, method="bilinear"
        ).first()
        assert np.array_equal(
            decode_image(bytes(row["payload"]))[:, :, 0], expect
        )


class TestSampleExactN:
    def test_exact_count_and_determinism(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import sample_exact_n

        df = spark.range(500).withColumnRenamed("id", "doc_id")
        a = {r.doc_id for r in sample_exact_n(df, 50).collect()}
        b = {r.doc_id for r in sample_exact_n(df.repartition(13), 50).collect()}
        assert len(a) == 50 and a == b

    def test_append_displaces_at_most_one(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import sample_exact_n

        df = spark.range(500).withColumnRenamed("id", "doc_id")
        base = {r.doc_id for r in sample_exact_n(df, 50).collect()}
        grown = df.unionByName(
            spark.createDataFrame([(10_000,)], "doc_id long")
        )
        after = {r.doc_id for r in sample_exact_n(grown, 50).collect()}
        assert len(base - after) <= 1

    def test_n_larger_than_corpus(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import sample_exact_n

        df = spark.range(5).withColumnRenamed("id", "doc_id")
        assert sample_exact_n(df, 50).count() == 5

    def test_take_ordered_plan(self, spark):
        from harness_aws_etl_pipeline_spark.operators.sampling import sample_exact_n

        df = spark.range(100).withColumnRenamed("id", "doc_id")
        plan = sample_exact_n(df, 5)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestKnnJoin:
    def _corpora(self, spark, seed=2, nl=30, nr=90, dim=16):
        import numpy as np

        rng = np.random.default_rng(seed)
        L = [(i, [float(x) for x in rng.normal(0, 1, dim)]) for i in range(nl)]
        R = [
            (1000 + j, [float(x) for x in rng.normal(0, 1, dim)])
            for j in range(nr)
        ]
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        return L, R, mk(L), mk(R)

    def test_full_probe_equals_bruteforce(self, spark):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            knn_join,
        )

        L, R, ldf, rdf = self._corpora(spark)
        got = {
            (r["left_id"], r["rank"]): (r["right_id"], r["cosine"])
            for r in knn_join(
                ldf, rdf, k=5, n_centroids=6, nprobe=6
            ).collect()
        }
        lv = np.array([v for _, v in L])
        rv = np.array([v for _, v in R])
        lu = lv / np.linalg.norm(lv, axis=1)[:, None]
        ru = rv / np.linalg.norm(rv, axis=1)[:, None]
        sims = lu @ ru.T
        for i in range(len(L)):
            order = sorted(
                range(len(R)), key=lambda j: (-round(sims[i, j], 6), j)
            )[:5]
            for rk, j in enumerate(order, 1):
                rid, cos = got[(i, rk)]
                assert rid == 1000 + j
                assert abs(cos - round(sims[i, j], 6)) < 1e-9
        assert len(got) == len(L) * 5

    def test_partial_probe_on_clustered_data_high_recall(self, spark):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            knn_join,
        )

        rng = np.random.default_rng(7)
        centers = rng.normal(0, 10, (4, 16))
        mk_rows = lambda n, base: [
            (base + i, [float(x) for x in centers[i % 4] + rng.normal(0, 0.3, 16)])
            for i in range(n)
        ]
        ldf = spark.createDataFrame(
            mk_rows(20, 0), "vec_id long, embedding array<double>"
        )
        rdf = spark.createDataFrame(
            mk_rows(80, 1000), "vec_id long, embedding array<double>"
        )
        from harness_aws_etl_pipeline_spark.operators.similarity import (
            knn_join as kj,
        )

        exact = {
            (r["left_id"], r["rank"]): r["right_id"]
            for r in kj(ldf, rdf, k=3, n_centroids=4, nprobe=4).collect()
        }
        approx = {
            (r["left_id"], r["rank"]): r["right_id"]
            for r in kj(ldf, rdf, k=3, n_centroids=4, nprobe=1).collect()
        }
        hits = sum(1 for key, rid in exact.items() if approx.get(key) == rid)
        assert hits / len(exact) >= 0.9  # cluster structure → 1 probe enough

    def test_nulls_small_k_and_guard(self, spark):
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            knn_join,
        )

        ldf = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
        )
        rdf = spark.createDataFrame(
            [(10, [1.0, 0.1]), (11, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        got = knn_join(ldf, rdf, k=5, n_centroids=2, nprobe=2).collect()
        by_left = {}
        for r in got:
            by_left.setdefault(r["left_id"], []).append(r["right_id"])
        assert 2 not in by_left          # NULL vector probes nothing
        assert len(by_left[1]) == 2      # k capped by matches
        with _pytest.raises(ValueError):
            knn_join(ldf, rdf, k=0)
        with _pytest.raises(ValueError):
            knn_join(ldf, rdf, k=1, max_cell_size=0)

    def test_hot_cell_salting_bounded_and_exact(self, spark):
        """Round-10 hot-cell guard: a clustered right corpus packs one
        IVF cell; with max_cell_size the cell splits into hash
        sub-cells (bounded per-task occupancy) and the result stays
        BIT-IDENTICAL to the unsalted join — the guard is lossless,
        unlike the LSH drop-caps."""
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.similarity import (
            _assign_nearest,
            _cell_splits,
            ivf_centroids,
            knn_cell_stats,
            knn_join,
        )
        from pyspark.sql import functions as F

        rng = np.random.default_rng(11)
        hot = rng.normal(0, 0.05, (120, 8)) + np.array([5.0] * 8)
        cold = rng.normal(0, 0.05, (6, 8)) - np.array([5.0] * 8)
        R = [(1000 + i, [float(x) for x in v])
             for i, v in enumerate(np.vstack([hot, cold]))]
        L = [(i, [float(x) for x in rng.normal(0, 3, 8)]) for i in range(8)]
        ldf = spark.createDataFrame(L, "vec_id long, embedding array<double>")
        rdf = spark.createDataFrame(R, "vec_id long, embedding array<double>")

        cents = ivf_centroids(rdf, 4)
        base = {
            (r["left_id"], r["rank"]): (r["right_id"], r["cosine"])
            for r in knn_join(
                ldf, rdf, k=4, nprobe=4, centroids=cents
            ).collect()
        }
        salted = {
            (r["left_id"], r["rank"]): (r["right_id"], r["cosine"])
            for r in knn_join(
                ldf, rdf, k=4, nprobe=4, centroids=cents, max_cell_size=30
            ).collect()
        }
        assert salted == base  # lossless — identical to the unsalted join

        # the hot cell really split, and the sub-cells are bounded:
        # replicate the internal assignment with the same hash formula
        r = _assign_nearest(rdf, cents, "vec_id", "embedding").select(
            F.col("centroid_id").alias("cell"),
            F.col("vec_id").alias("right_id"),
        ).where(F.col("cell").isNotNull())
        splits = _cell_splits(r, 30)
        assert splits and max(splits.values()) >= 2  # hot cell over cap
        split_map = F.create_map(
            *[F.lit(x) for kv in sorted(splits.items()) for x in kv]
        )
        occ = (
            r.withColumn(
                "sub",
                F.pmod(
                    F.xxhash64(F.col("right_id").cast("string")),
                    F.coalesce(split_map[F.col("cell")], F.lit(1)),
                ),
            )
            .groupBy("cell", "sub")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert occ <= 2 * 30  # hash spread keeps every task near the cap

        stats = knn_cell_stats(rdf, 30, centroids=cents).collect()[0]
        assert stats.cap == 30 and stats.cells_split >= 1
        assert stats.max_cell > 30 and stats.split_tasks > stats.cells_total


class TestPngDepthsAndPalette:
    """Round-9 PNG depth/palette coverage: palette (PLTE) at 1/2/4/8
    bits, gray at 1/2/4/16 bits, RGB/RGBA at 16 bits — sequential and
    Adam7, real filters where the filter step is exercised (bpp=1 for
    palette, bpp=2/6/8 for 16-bit). Fixtures are hand-built streams;
    expectations are the spec's own reductions (high byte for 16-bit,
    255*v/(2^d-1) gray scaling, palette lookup)."""

    @staticmethod
    def _chunk(ctype, data):
        import struct
        import zlib

        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", crc
        )

    def _png(self, w, h, depth, ctype, lines, palette=None):
        import struct
        import zlib

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _PNG_SIG,
        )

        out = _PNG_SIG + self._chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        )
        if palette is not None:
            out += self._chunk(b"PLTE", palette.astype("uint8").tobytes())
        out += self._chunk(b"IDAT", zlib.compress(b"".join(lines)))
        return out + self._chunk(b"IEND", b"")

    def test_palette_png_all_depths(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _filter_rows,
            decode_image,
        )

        rng = np.random.default_rng(3)
        palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        w, h = 11, 6
        for depth in (1, 2, 4, 8):
            hi = min(1 << depth, len(palette))
            idx = rng.integers(0, hi, size=(h, w), dtype=np.uint8)
            if depth == 8:
                rows = idx
                # real filters through the shared helper (bpp=1)
                lines = _filter_rows(rows, 1, "mixed")
            else:
                packed = []
                for y in range(h):
                    bits = (
                        (idx[y][:, None] >> np.arange(depth - 1, -1, -1))
                        & 1
                    ).astype(np.uint8).reshape(-1)
                    packed.append(np.packbits(bits))
                stride = len(packed[0])
                rows = np.vstack(packed).reshape(h, stride)
                lines = _filter_rows(rows, 1, 2)  # filter 2 (up), bpp=1
            got = decode_image(
                self._png(w, h, depth, 3, lines, palette=palette)
            )
            assert np.array_equal(got, palette[idx]), depth

    def test_gray_subbyte_and_16bit(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _filter_rows,
            decode_image,
        )

        rng = np.random.default_rng(4)
        w, h = 9, 5
        for depth in (1, 2, 4):
            v = rng.integers(0, 1 << depth, size=(h, w), dtype=np.uint8)
            packed = []
            for y in range(h):
                bits = (
                    (v[y][:, None] >> np.arange(depth - 1, -1, -1)) & 1
                ).astype(np.uint8).reshape(-1)
                packed.append(np.packbits(bits))
            rows = np.vstack(packed)
            got = decode_image(
                self._png(w, h, depth, 0, _filter_rows(rows, 1, 0))
            )
            want = (v.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
                np.uint8
            )
            assert np.array_equal(got, np.repeat(want[..., None], 3, 2)), depth
        # gray 16-bit: big-endian pairs, decode keeps the high byte;
        # filter 4 (paeth) exercises the bpp=2 step
        g16 = rng.integers(0, 1 << 16, size=(h, w), dtype=np.uint16)
        rows = (
            g16.byteswap().view(np.uint8)
            if g16.dtype.byteorder != ">"
            else g16.view(np.uint8)
        ).reshape(h, w * 2)
        got = decode_image(self._png(w, h, 16, 0, _filter_rows(rows, 2, 4)))
        want = (g16 >> 8).astype(np.uint8)
        assert np.array_equal(got, np.repeat(want[..., None], 3, 2))

    def test_rgb_and_rgba_16bit(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _filter_rows,
            decode_image,
        )

        rng = np.random.default_rng(5)
        w, h = 7, 4
        for ctype, ch in ((2, 3), (6, 4)):
            px = rng.integers(0, 1 << 16, size=(h, w, ch), dtype=np.uint16)
            rows = px.byteswap().view(np.uint8).reshape(h, w * ch * 2)
            got = decode_image(
                self._png(w, h, 16, ctype, _filter_rows(rows, ch * 2, 1))
            )
            want = (px[:, :, :3] >> 8).astype(np.uint8)
            assert np.array_equal(got, want), ctype

    def test_palette_interlaced(self):
        import struct
        import zlib

        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _ADAM7,
            _PNG_SIG,
            _filter_rows,
            decode_image,
        )

        rng = np.random.default_rng(6)
        palette = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
        w, h = 10, 9
        idx = rng.integers(0, 4, size=(h, w), dtype=np.uint8)
        depth = 2
        lines = []
        for x0, y0, xs, ys in _ADAM7:
            sub = idx[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            packed = []
            for y in range(sub.shape[0]):
                bits = (
                    (sub[y][:, None] >> np.arange(depth - 1, -1, -1)) & 1
                ).astype(np.uint8).reshape(-1)
                packed.append(np.packbits(bits))
            lines.extend(_filter_rows(np.vstack(packed), 1, 0))
        png = (
            _PNG_SIG
            + self._chunk(
                b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 1)
            )
            + self._chunk(b"PLTE", palette.tobytes())
            + self._chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + self._chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_image(png), palette[idx])

    def test_guards(self):
        import numpy as np
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _filter_rows,
            decode_image,
        )

        # palette without PLTE
        rows = np.zeros((2, 3), dtype=np.uint8)
        png = self._png(3, 2, 8, 3, _filter_rows(rows, 1, 0))
        with _pytest.raises(ValueError, match="PLTE"):
            decode_image(png)
        # out-of-range palette index
        pal = np.zeros((2, 3), dtype=np.uint8)
        bad = np.full((2, 3), 7, dtype=np.uint8)
        png = self._png(3, 2, 8, 3, _filter_rows(bad, 1, 0), palette=pal)
        with _pytest.raises(ValueError, match="palette index"):
            decode_image(png)
        # invalid depth/ctype combination
        png = self._png(3, 2, 4, 2, _filter_rows(rows, 1, 0))
        with _pytest.raises(ValueError, match="depth"):
            decode_image(png)


class TestWavFormats:
    """Round-9 WAV breadth: 8/24/32-bit PCM, IEEE float, G.711
    A-law/µ-law (closed-form spec expansions, verified byte-for-byte
    against the CCITT reference via stdlib audioop where available),
    and WAVE_FORMAT_EXTENSIBLE resolution."""

    @staticmethod
    def _wav(fmt_code, channels, rate, bits, data, extensible=False):
        import struct

        if extensible:
            sub = struct.pack("<H", fmt_code) + b"\x00" * 14
            body = struct.pack(
                "<HHIIHH", 0xFFFE, channels, rate,
                rate * channels * bits // 8, channels * bits // 8, bits,
            ) + struct.pack("<HHI", 22, bits, 0x3) + sub
        else:
            body = struct.pack(
                "<HHIIHH", fmt_code, channels, rate,
                rate * channels * bits // 8, channels * bits // 8, bits,
            )
        fmt = b"fmt " + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            fmt += b"\x00"
        dat = b"data" + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            dat += b"\x00"
        riff = b"WAVE" + fmt + dat
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    def test_pcm_widths(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_wav,
        )

        # 8-bit unsigned: midpoint 128 → 0, extremes to ±full scale
        f, r = decode_wav(self._wav(1, 1, 8000, 8, bytes([0, 128, 255])))
        assert r == 8000
        assert f[:, 0].tolist() == [-32768, 0, 32512]
        # 24-bit little-endian: keep the top 16 bits
        s24 = b"\x00\x00\x01" + b"\xff\xff\x7f" + b"\x00\x00\x80"
        f, _ = decode_wav(self._wav(1, 1, 8000, 24, s24))
        assert f[:, 0].tolist() == [256, 32767, -32768]
        # 32-bit signed: arithmetic shift
        s32 = np.array([1 << 16, -(1 << 31), (1 << 31) - 1], "<i4")
        f, _ = decode_wav(self._wav(1, 1, 8000, 32, s32.tobytes()))
        assert f[:, 0].tolist() == [1, -32768, 32767]

    def test_ieee_float(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_wav,
        )

        x = np.array([0.0, 0.5, -1.0, 1.0], "<f4")
        f, _ = decode_wav(self._wav(3, 1, 16000, 32, x.tobytes()))
        assert f[:, 0].tolist() == [0, 16384, -32768, 32767]
        x64 = np.array([0.25, -0.5], "<f8")
        f, _ = decode_wav(self._wav(3, 1, 16000, 64, x64.tobytes()))
        assert f[:, 0].tolist() == [8192, -16384]

    def test_g711_expansions(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _alaw_expand,
            _mulaw_expand,
            decode_wav,
        )

        codes = np.arange(256, dtype=np.uint8)
        # spec anchor values (stable even if stdlib audioop goes away)
        assert int(_mulaw_expand(np.array([0x00], np.uint8))[0]) == -32124
        assert int(_mulaw_expand(np.array([0xFF], np.uint8))[0]) == 0
        assert int(_alaw_expand(np.array([0x55], np.uint8))[0]) == -8
        assert int(_alaw_expand(np.array([0xD5], np.uint8))[0]) == 8
        assert int(_alaw_expand(np.array([0x2A], np.uint8))[0]) == -32256
        try:
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                import audioop
        except ImportError:
            audioop = None
        if audioop is not None:
            ref_u = np.frombuffer(
                audioop.ulaw2lin(codes.tobytes(), 2), dtype="<i2"
            )
            ref_a = np.frombuffer(
                audioop.alaw2lin(codes.tobytes(), 2), dtype="<i2"
            )
            assert np.array_equal(_mulaw_expand(codes), ref_u)
            assert np.array_equal(_alaw_expand(codes), ref_a)
        # through the WAV container, stereo interleave preserved
        f, _ = decode_wav(self._wav(7, 2, 8000, 8, bytes([0x00, 0xFF] * 3)))
        assert f.shape == (3, 2)
        assert f[0].tolist() == [-32124, 0]
        f, _ = decode_wav(self._wav(6, 1, 8000, 8, bytes([0x55, 0xD5])))
        assert f[:, 0].tolist() == [-8, 8]

    def test_extensible_and_guards(self):
        import numpy as np
        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_wav,
        )

        s = np.array([5, -5], "<i2")
        f, r = decode_wav(
            self._wav(1, 1, 44100, 16, s.tobytes(), extensible=True)
        )
        assert r == 44100 and f[:, 0].tolist() == [5, -5]
        with _pytest.raises(ValueError, match="format code"):
            decode_wav(self._wav(99, 1, 8000, 16, b"\x00\x00"))
        with _pytest.raises(ValueError, match="bit depth"):
            decode_wav(self._wav(1, 1, 8000, 12, b"\x00\x00"))
        with _pytest.raises(ValueError, match="8-bit"):
            decode_wav(self._wav(7, 1, 8000, 16, b"\x00\x00"))


class TestImaAdpcm:
    """Round-11: IMA/DVI ADPCM (WAV format 0x0011) — hand-computable
    step arithmetic, block layout, encoder/decoder round trip, SNR."""

    def test_single_nibble_closed_forms(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            _ima_decode_channel,
        )

        # step table starts at 7: nibble 1 → diff 7>>3 + 7>>2 = 1;
        # nibble 15 → -(0 + 1 + 3 + 7) = -11
        assert _ima_decode_channel(
            np.array([1], dtype=np.uint8), 0, 0
        ).tolist() == [1]
        assert _ima_decode_channel(
            np.array([15], dtype=np.uint8), 0, 0
        ).tolist() == [-11]
        # nibble 0 at step 7: diff = 7>>3 = 0, index 0 + (-1) clamps
        # at 0 — the predictor holds
        assert _ima_decode_channel(
            np.array([0, 0], dtype=np.uint8), -32768, 0
        ).tolist() == [-32768, -32768]

    def test_roundtrip_snr_and_block_layout(self):
        import struct

        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_wav,
            encode_wav_ima_adpcm,
        )

        t = np.arange(4000)
        sig = (8000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
        wav = encode_wav_ima_adpcm(sig, 16000)
        arr, rate = decode_wav(wav)
        assert rate == 16000 and arr.shape[1] == 1
        d = arr[: len(sig), 0].astype(np.float64) - sig
        snr = 10 * np.log10(
            (sig.astype(np.float64) ** 2).mean() / (d ** 2).mean()
        )
        assert snr > 20.0  # 4-bit ADPCM lands ~25-30 dB on a sine
        # block header sample is EXACT (the spec's predictor-in-header)
        spb = 505
        for b in range(len(sig) // spb):
            assert int(arr[b * spb, 0]) == int(sig[b * spb])
        # fmt chunk says format 0x11, 4 bits, samples_per_block extra
        a_fmt = wav[wav.index(b"fmt ") + 8 :]
        code, ch, _r, _br, _ba, bits, cb, got_spb = struct.unpack_from(
            "<HHIIHHHH", a_fmt, 0
        )
        assert (code, ch, bits, cb, got_spb) == (0x11, 1, 4, 2, spb)

    def test_stereo_interleave(self):
        import numpy as np

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_wav,
            encode_wav_ima_adpcm,
        )

        t = np.arange(1200)
        left = (6000 * np.sin(2 * np.pi * 300 * t / 8000)).astype(np.int16)
        right = (-left).astype(np.int16)
        st = np.stack([left, right], axis=1)
        arr, _ = decode_wav(encode_wav_ima_adpcm(st, 8000))
        d = arr[: len(t)].astype(np.float64) - st
        snr = 10 * np.log10(
            (st.astype(np.float64) ** 2).mean() / (d ** 2).mean()
        )
        assert snr > 20.0
        # channels stay separated: decoded L ≈ -decoded R
        assert np.abs(arr[:, 0] + arr[:, 1]).max() < 2500

    def test_bad_step_index_rejected(self):
        import struct

        import numpy as np

        import pytest as _pytest

        from harness_aws_etl_pipeline_spark.operators.multimodal import (
            decode_wav,
            encode_wav_ima_adpcm,
        )

        wav = bytearray(
            encode_wav_ima_adpcm(np.zeros(10, dtype=np.int16), 8000)
        )
        data_off = bytes(wav).index(b"data") + 8
        wav[data_off + 2] = 99  # step index byte out of range
        with _pytest.raises(ValueError, match="out of range"):
            decode_wav(bytes(wav))
