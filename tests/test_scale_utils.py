"""Scale utilities: salted aggregation/join equivalence, IVF top-k,
small-file compaction."""

import os

from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    ivf_centroids,
    ivf_topk,
)
from harness_aws_etl_pipeline_spark.operators.skew import salted_aggregate, salted_join
from harness_aws_etl_pipeline_spark.sinks.compact import compact_table


class TestSaltedAggregate:
    def test_matches_plain_groupby(self, spark):
        # heavily skewed: 90% of rows share one key
        rows = [("hot" if i % 10 else f"k{i}", float(i)) for i in range(1000)]
        df = spark.createDataFrame(rows, "k string, v double")
        got = {
            r["k"]: r["sum_v"]
            for r in salted_aggregate(df, ["k"], {"v": "sum"}, buckets=8).collect()
        }
        want = {
            r["k"]: r["s"]
            for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
        }
        assert got == want

    def test_avg_and_minmax(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 10.0)], "k string, v double"
        )
        out = {
            r["k"]: r
            for r in salted_aggregate(
                df, ["k"], {"v": "avg"}, buckets=4
            ).collect()
        }
        assert out["a"]["avg_v"] == 2.0 and out["b"]["avg_v"] == 10.0


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        fact = spark.createDataFrame(
            [(i % 3, f"row{i}") for i in range(300)], "k long, payload string"
        )
        dim = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k long, attr string")
        plain = fact.join(dim, "k").groupBy("attr").count()
        salted = salted_join(fact, dim, "k", replication=4).groupBy("attr").count()
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    def test_left_join_preserves_unmatched(self, spark):
        fact = spark.createDataFrame([(1, "a"), (99, "b")], "k long, p string")
        dim = spark.createDataFrame([(1, "x")], "k long, attr string")
        out = salted_join(fact, dim, "k", replication=4, how="left")
        rows = {r["p"]: r["attr"] for r in out.collect()}
        assert rows == {"a": "x", "b": None}


class TestIvf:
    def test_centroids_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        c1 = sorted(map(tuple, ivf_centroids(df, k=4).collect()))
        c2 = sorted(map(tuple, ivf_centroids(df, k=4).collect()))
        assert c1 == c2

    def test_ivf_finds_identical_vector(self, spark):
        # clustered data: identical twin must be found (same cell);
        # non-colinear cluster members so only the twin has cosine 1.0
        vecs = [(i, [1.0, 0.01 * i, 0.0]) for i in range(1, 10)]
        vecs += [(100 + i, [0.0, 1.0, 0.01 * i]) for i in range(10)]
        vecs.append((0, [1.0, 0.0, 0.0]))
        vecs.append((999, [1.0, 0.0, 0.0]))  # identical to vec 0
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") == 0)
        got = ivf_topk(df, q, k=3, n_centroids=2, nprobe=1)
        top = got.filter(F.col("rank") == 1).first()
        assert top["neighbor_id"] == 999

    def test_ivf_recall_vs_brute_force(self, spark):
        import random

        random.seed(7)
        vecs = [
            (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(200)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id") < 3)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(df, q, k=5).collect()
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(df, q, k=5, n_centroids=4, nprobe=3).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5  # probing 3/4 cells on random data

    @staticmethod
    def _corpus(spark, n=120, dim=6, seed=13):
        import random

        rnd = random.Random(seed)
        vecs = [(i, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
        return spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    @staticmethod
    def _axis_centroids(spark, axes, dim=6):
        rows = [
            (j, [1.0 if d == a else 0.0 for d in range(dim)])
            for j, a in enumerate(axes)
        ]
        return spark.createDataFrame(rows, "centroid_id long, centroid array<double>")

    def test_repeated_search_reuses_one_lists_entry(self, spark):
        from harness_aws_etl_pipeline_spark.operators.memo import clear_all_memos
        from harness_aws_etl_pipeline_spark.operators.similarity import _LISTS_MEMO

        clear_all_memos()
        df = self._corpus(spark)
        cents = ivf_centroids(df, k=4)
        first = ivf_topk(df, df.filter(F.col("vec_id") < 3), k=5, nprobe=2, centroids=cents)
        first = sorted(map(tuple, first.collect()))
        lists = next(iter(_LISTS_MEMO._entries.values())).df
        for lo in (3, 6):  # new query batches, same (corpus, quantizer)
            q = df.filter(F.col("vec_id").between(lo, lo + 2))
            assert ivf_topk(df, q, k=5, nprobe=2, centroids=cents).count() == 15
        assert len(_LISTS_MEMO) == 1
        assert next(iter(_LISTS_MEMO._entries.values())).df is lists
        again = ivf_topk(df, df.filter(F.col("vec_id") < 3), k=5, nprobe=2, centroids=cents)
        assert sorted(map(tuple, again.collect())) == first

    def test_other_quantizer_misses_and_gets_its_own_lists(self, spark):
        from harness_aws_etl_pipeline_spark.operators.memo import clear_all_memos
        from harness_aws_etl_pipeline_spark.operators.similarity import _LISTS_MEMO

        df = self._corpus(spark)
        q = df.filter(F.col("vec_id") < 4)
        a = self._axis_centroids(spark, (0, 1, 2))
        b = self._axis_centroids(spark, (3, 4, 5))

        def search(cents):
            got = ivf_topk(df, q, k=5, nprobe=1, centroids=cents)
            return sorted(map(tuple, got.collect()))

        clear_all_memos()
        fresh_b = search(b)
        clear_all_memos()
        got_a = search(a)
        got_b = search(b)
        assert len(_LISTS_MEMO) == 2  # b missed: it holds its own lists
        assert got_b == fresh_b
        assert got_a != got_b
        # each answer matches its quantizer's expression-route lists
        for cents, got in ((a, got_a), (b, got_b)):
            ref = ivf_topk(df, q, k=5, nprobe=1, centroids=cents, assign_arrow=False)
            assert {(r[0], r[2]) for r in got} == {
                (r["query_id"], r["neighbor_id"]) for r in ref.collect()
            }

    def test_clear_all_memos_empties_lists(self, spark):
        from harness_aws_etl_pipeline_spark.operators.memo import clear_all_memos
        from harness_aws_etl_pipeline_spark.operators.similarity import (
            _LISTS_MEMO,
            _MODEL_MEMO,
        )

        df = self._corpus(spark)
        ivf_topk(df, df.limit(2), k=3, n_centroids=3, nprobe=1).collect()
        assert len(_LISTS_MEMO) >= 1 and len(_MODEL_MEMO) >= 1
        clear_all_memos()
        assert len(_LISTS_MEMO) == 0 and len(_MODEL_MEMO) == 0

    def test_corpus_with_centroid_id_column(self, spark):
        # an earlier IVF assignment (or ivfpq_index output) already
        # carries centroid_id; searching it must neither fail with an
        # ambiguous reference nor read that column
        from harness_aws_etl_pipeline_spark.operators.similarity import _assign_nearest

        df = self._corpus(spark)
        cents = ivf_centroids(df, k=4)
        assigned = _assign_nearest(df, cents, "vec_id", "embedding")
        stale = df.withColumn("centroid_id", F.lit(99).cast("long"))
        q = df.filter(F.col("vec_id") < 3)
        for arrow in (True, False):
            want = sorted(
                map(tuple, ivf_topk(df, q, k=4, nprobe=2, centroids=cents,
                                    assign_arrow=arrow).collect())
            )
            for corpus in (assigned, stale):
                got = ivf_topk(corpus, q, k=4, nprobe=2, centroids=cents,
                               assign_arrow=arrow)
                assert sorted(map(tuple, got.collect())) == want


class TestCompaction:
    def test_compacts_many_files(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, i % 2) for i in range(100)], "id long, part int"
        )
        path = str(tmp_path / "tbl")
        # fragment: 10 writes → many small files
        for chunk in range(10):
            df.filter((F.col("id") % 10) == chunk).repartition(4).write.mode(
                "append"
            ).partitionBy("part").parquet(path)
        before = sum(
            1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )
        result = compact_table(spark, path, partition_cols=["part"])
        assert result["parquet_files"] < before
        assert result["parquet_files"] <= 2 * spark.sparkContext.defaultParallelism
        back = spark.read.parquet(path)
        assert back.count() == 100
        assert back.agg(F.sum("id")).first()[0] == sum(range(100))
