"""Data-selection operators: weighted / stratified sampling + DSIR.

Differential strategy: every operator is recomputed in plain Python
(math.log + sorted) on the collected inputs and compared exactly —
the same independent-reimplementation style the classifier and
heavy-hitter suites use.  Statistical behavior (weight monotonicity,
target-slice separation) is asserted on synthesized corpora where the
expected effect is unambiguous.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from web_content_extractor_spark.operators.corpus import M31
from web_content_extractor_spark.operators.selection import (
    dsir_weights,
    stratified_sample,
    weighted_sample,
)

SF_DIR = "/root/testdata/sf0.001"


def _hash(x: int, seed: int) -> int:
    return ((x + seed) * 2654435761 % M31) * 48271 % M31


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7 + 1).cast("int").alias("weight"),
        F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias(
            "source"
        ),
    )


class TestWeightedSample:
    def test_matches_python_reference(self, spark):
        got = weighted_sample(_docs(spark), k=25, seed=11).collect()
        ref = []
        for i in range(200):
            u = (_hash(i, 11) + 1) / M31
            ref.append((round(-math.log(u) / (i % 7 + 1), 6), i))
        ref = sorted(ref)[:25]
        assert [(r.es_key, r.doc_id) for r in got] == ref

    def test_deterministic_and_k_rows(self, spark):
        a = weighted_sample(_docs(spark), k=40, seed=3).collect()
        b = weighted_sample(_docs(spark), k=40, seed=3).collect()
        assert a == b and len(a) == 40

    def test_heavier_docs_oversampled(self, spark):
        # weight 7 docs should be drawn far more often than weight 1
        # docs across independent seeds (expected ratio 7:1).
        heavy = light = 0
        for seed in range(20):
            for r in weighted_sample(_docs(spark), k=30, seed=seed).collect():
                if r.weight == 7:
                    heavy += 1
                elif r.weight == 1:
                    light += 1
        assert heavy > 2 * light

    def test_zero_weight_never_sampled_while_positive_remain(self, spark):
        d = spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 40, 1).otherwise(0).alias("weight"),
        )
        got = weighted_sample(d, k=40, seed=5).collect()
        assert all(r.weight == 1 for r in got)

    def test_plan_is_take_ordered_no_shuffle(self, spark):
        d = _docs(spark)
        plan = weighted_sample(d, k=10)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "hashpartitioning" not in plan


class TestStratifiedSample:
    def test_exact_count_per_stratum(self, spark):
        got = stratified_sample(_docs(spark), k=10).collect()
        per = {}
        for r in got:
            per[r.source] = per.get(r.source, 0) + 1
        assert per == {f"src{i}": 10 for i in range(5)}

    def test_small_stratum_returned_whole(self, spark):
        got = stratified_sample(_docs(spark, n=12), k=10).collect()
        per = {}
        for r in got:
            per[r.source] = per.get(r.source, 0) + 1
        # 12 docs over 5 sources: sizes 3,3,2,2,2 — all below k, all kept
        assert sum(per.values()) == 12

    def test_matches_python_reference(self, spark):
        got = {
            (r.doc_id, r.draw)
            for r in stratified_sample(_docs(spark), k=4).collect()
        }
        ref = set()
        for s in range(5):
            ids = sorted(
                (i for i in range(200) if i % 5 == s),
                key=lambda i: (_hash(i, 13), i),
            )
            ref |= {(i, pos + 1) for pos, i in enumerate(ids[:4])}
        assert got == ref

    def test_draw_prefix_property(self, spark):
        # draw <= j of a k-sample equals the j-sample: prefixes nest.
        big = {
            (r.doc_id, r.draw)
            for r in stratified_sample(_docs(spark), k=8).collect()
            if r.draw <= 3
        }
        small = {
            (r.doc_id, r.draw)
            for r in stratified_sample(_docs(spark), k=3).collect()
        }
        assert big == small


class TestDsirWeights:
    def _corpus(self, spark):
        # target docs speak "alpha beta", raw background speaks
        # "gamma delta"; a held-out mixed doc sits in between.
        rows = []
        for i in range(30):
            rows.append((i, "tgt", "alpha beta alpha beta alpha"))
        for i in range(30, 90):
            rows.append((i, "raw", "gamma delta gamma delta gamma"))
        rows.append((90, "raw", "alpha beta gamma delta"))
        rows.append((91, "raw", "solo"))  # < 2 tokens -> NULL score
        return spark.createDataFrame(rows, "doc_id long, grp string, text string")

    def test_target_slice_scores_higher(self, spark):
        d = self._corpus(spark)
        got = {
            r.doc_id: r.dsir_logw
            for r in dsir_weights(d, F.col("grp") == "tgt").collect()
        }
        assert got[0] > got[90] > got[30]
        assert got[91] is None

    def test_matches_python_reference(self, spark):
        d = self._corpus(spark)
        got = {
            r.doc_id: (r.n_feats, r.dsir_logw)
            for r in dsir_weights(
                d, F.col("grp") == "tgt", n_buckets=16
            ).collect()
        }

        rows = d.collect()
        toks = {r.doc_id: r.text.lower().split() for r in rows}
        vocab = {
            t: i + 1
            for i, t in enumerate(
                sorted({t for ts in toks.values() for t in ts})
            )
        }
        feats, is_tgt = {}, {}
        for r in rows:
            ts = toks[r.doc_id]
            is_tgt[r.doc_id] = r.grp == "tgt"
            feats[r.doc_id] = [
                ((vocab[a] * 2654435761 + vocab[b] * 48271 + 17) % M31) % 16
                for a, b in zip(ts, ts[1:])
            ]
        c_tgt, c_raw = {}, {}
        for did, fs in feats.items():
            for b in fs:
                c_raw[b] = c_raw.get(b, 0) + 1
                if is_tgt[did]:
                    c_tgt[b] = c_tgt.get(b, 0) + 1
        tt, tr = sum(c_tgt.values()), sum(c_raw.values())
        for did in toks:
            fs = feats[did]
            if not fs:
                assert got[did] == (0, None)
                continue
            lw = sum(
                math.log((c_tgt.get(b, 0) + 1) / (tt + 16))
                - math.log((c_raw[b] + 1) / (tr + 16))
                for b in fs
            )
            assert got[did] == (len(fs), round(lw, 6))

    def test_composes_with_weighted_sample(self, spark):
        # DSIR resampling = weighted_sample over exp(logw): the top of
        # the resample should be dominated by target-like docs.
        d = self._corpus(spark)
        scored = dsir_weights(d, F.col("grp") == "tgt").where(
            F.col("dsir_logw").isNotNull()
        )
        w = scored.select(
            "doc_id", F.exp("dsir_logw").alias("weight")
        )
        top = weighted_sample(w, k=20, seed=1).collect()
        n_target = sum(1 for r in top if r.doc_id < 30)
        assert n_target >= 15


class TestTemperatureMixture:
    def _docs(self, spark):
        # sources with counts 100 / 50 / 10
        rows = (
            [(i, "big") for i in range(100)]
            + [(100 + i, "mid") for i in range(50)]
            + [(150 + i, "rare") for i in range(10)]
        )
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_matches_python_reference(self, spark):
        from web_content_extractor_spark.operators.corpus import (
            temperature_mixture_rates,
        )

        got = {
            r.source: r.rate
            for r in temperature_mixture_rates(
                self._docs(spark), alpha=0.3, total=80
            ).collect()
        }
        n = {"big": 100, "mid": 50, "rare": 10}
        tot = sum(n.values())
        w = {s: (c / tot) ** 0.3 for s, c in n.items()}
        z = sum(w.values())
        ref = {s: min(1.0, w[s] / z * 80 / n[s]) for s in n}
        assert got.keys() == ref.keys()
        for s in ref:
            assert abs(got[s] - ref[s]) < 1e-12

    def test_alpha_one_is_natural_proportions(self, spark):
        from web_content_extractor_spark.operators.corpus import (
            temperature_mixture_rates,
        )

        got = {
            r.source: r.rate
            for r in temperature_mixture_rates(
                self._docs(spark), alpha=1.0, total=80
            ).collect()
        }
        # q_s = p_s -> every source keeps the same fraction total/N
        assert all(abs(v - 80 / 160) < 1e-12 for v in got.values())

    def test_alpha_zero_is_uniform_over_sources(self, spark):
        from web_content_extractor_spark.operators.corpus import (
            temperature_mixture_rates,
        )

        got = {
            r.source: r.rate
            for r in temperature_mixture_rates(
                self._docs(spark), alpha=0.0, total=30
            ).collect()
        }
        # 10 docs per source expected: rate_s = 10 / n_s, capped at 1
        assert abs(got["big"] - 0.1) < 1e-12
        assert abs(got["mid"] - 0.2) < 1e-12
        assert abs(got["rare"] - 1.0) < 1e-12

    def test_flattening_is_monotone_in_alpha(self, spark):
        from web_content_extractor_spark.operators.corpus import (
            temperature_mixture_rates,
        )

        def ratio(alpha):
            got = {
                r.source: r.rate
                for r in temperature_mixture_rates(
                    self._docs(spark), alpha=alpha, total=40
                ).collect()
            }
            return got["rare"] / got["big"]

        # lower temperature boosts rare sources relative to big ones
        assert ratio(0.2) > ratio(0.5) > ratio(0.9)


class TestQualityClassifier:
    def _corpus(self, spark):
        rows = (
            [(i, True, "alpha beta alpha beta alpha") for i in range(30)]
            + [(30 + i, False, "gamma delta gamma delta gamma")
               for i in range(60)]
        )
        return spark.createDataFrame(
            rows, "doc_id long, tgt boolean, text string"
        )

    def test_separates_planted_classes(self, spark):
        from web_content_extractor_spark.operators.selection import (
            train_quality_classifier,
        )

        model = train_quality_classifier(
            self._corpus(spark), F.col("tgt"), n_buckets=16, iters=12,
            learning_rate=4.0,
        )
        got = {r.doc_id: r.p_target for r in model["scores"].collect()}
        assert all(got[i] > 0.8 for i in range(30))
        assert all(got[i] < 0.2 for i in range(30, 90))

    def test_loss_strictly_decreases(self, spark):
        from web_content_extractor_spark.operators.selection import (
            train_quality_classifier,
        )

        model = train_quality_classifier(
            self._corpus(spark), F.col("tgt"), n_buckets=16, iters=8,
            learning_rate=2.0,
        )
        ls = model["losses"]
        assert len(ls) == 8
        assert all(a > b for a, b in zip(ls, ls[1:]))

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from web_content_extractor_spark.operators.selection import (
            hashed_bigram_features,
            train_quality_classifier,
        )

        d = self._corpus(spark)
        K, iters, lr = 16, 5, 2.0
        model = train_quality_classifier(
            d, F.col("tgt"), n_buckets=K, iters=iters, learning_rate=lr,
        )

        feats = hashed_bigram_features(d, F.col("tgt"), n_buckets=K)
        rows = feats.collect()
        ids = sorted({r.doc_id for r in rows})
        idx = {v: i for i, v in enumerate(ids)}
        X = np.zeros((len(ids), K))
        yv = np.zeros(len(ids))
        for r in rows:
            X[idx[r.doc_id], r.bucket] += 1.0
            yv[idx[r.doc_id]] = 1.0 if r["__tgt"] else 0.0
        w = np.zeros(K)
        b = 0.0
        for _ in range(iters):
            p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
            w -= lr / len(ids) * (X.T @ (p - yv))
            b -= lr / len(ids) * float(np.sum(p - yv))
        np.testing.assert_allclose(model["weights"], w, atol=1e-9)
        assert abs(model["bias"] - b) < 1e-9


class TestStringIdSampling:
    def test_string_ids_sample_is_seeded_not_first_k(self, spark):
        d = spark.range(100).select(
            F.concat(F.lit("https://h/p"), F.col("id").cast("string"))
            .alias("doc_id"),
            F.lit(1).alias("weight"),
        )
        a = {r.doc_id for r in weighted_sample(d, k=20, seed=1).collect()}
        b = {r.doc_id for r in weighted_sample(d, k=20, seed=2).collect()}
        first_k = {f"https://h/p{i}" for i in range(20)}
        assert a != first_k and b != first_k
        assert a != b  # seed actually drives the draw
        # and keys are real numbers, not NULL-degenerate
        assert all(
            r.es_key is not None
            for r in weighted_sample(d, k=20, seed=1).collect()
        )
