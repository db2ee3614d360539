"""Deterministic dataset split / hash sampling (operators/splits.py)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pagerank_spark.operators.splits import (
    BUCKETS,
    dataset_split,
    hash_sample,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _py_bucket(key, salt=""):
    h = int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:15], 16)
    return h % BUCKETS


def test_split_matches_python_oracle(spark, docs):
    rows = dataset_split(docs, "doc_id").select("doc_id", "split").collect()
    assert rows
    for r in rows:
        b = _py_bucket(r.doc_id)
        want = "train" if b < 8000 else ("val" if b < 9000 else "test")
        assert r.split == want, (r.doc_id, b, r.split)


def test_split_disjoint_exhaustive_and_proportional(spark):
    df = spark.range(20_000).withColumnRenamed("id", "k")
    counts = {r.split: r.n for r in dataset_split(df, "k")
              .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 20_000  # exhaustive (disjoint by CASE)
    assert set(counts) == {"train", "val", "test"}
    # binomial concentration: 3-sigma bands around the expected sizes
    for label, w in (("train", 0.8), ("val", 0.1), ("test", 0.1)):
        exp = 20_000 * w
        sigma = (20_000 * w * (1 - w)) ** 0.5
        assert abs(counts[label] - exp) < 4 * sigma, (label, counts[label])


def test_split_partition_invariant(spark, docs):
    a = dataset_split(docs, "doc_id").select("doc_id", "split")
    b = dataset_split(docs.repartition(13, "text"), "doc_id").select("doc_id", "split")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_split_custom_weights_normalized(spark):
    df = spark.range(5_000).withColumnRenamed("id", "k")
    # weights that do NOT sum to 1 are normalized (2:1:1)
    counts = {r.split: r.n for r in
              dataset_split(df, "k", weights={"a": 2.0, "b": 1.0, "c": 1.0})
              .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 5_000
    assert counts["a"] > counts["b"] * 1.5
    assert counts["a"] > counts["c"] * 1.5


def test_split_salt_changes_assignment_not_sizes(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    a = dataset_split(df, "k").select("k", "split")
    b = dataset_split(df, "k", salt="fold2").select("k", "split")
    moved = a.join(b.withColumnRenamed("split", "split2"), "k") \
             .filter(F.col("split") != F.col("split2")).count()
    assert moved > 0  # a different salt is a genuinely different layout


def test_split_rejects_bad_weights(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        dataset_split(df, "k", weights={})
    with pytest.raises(ValueError):
        dataset_split(df, "k", weights={"a": -0.5, "b": 1.5})


def test_hash_sample_nested_and_deterministic(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    s20 = set(r.k for r in hash_sample(df, "k", 0.2).collect())
    s50 = set(r.k for r in hash_sample(df, "k", 0.5).collect())
    assert s20 <= s50                      # nested rates: no churn when growing
    assert s20 == set(r.k for r in hash_sample(df, "k", 0.2).collect())
    assert abs(len(s50) - 5_000) < 4 * (10_000 * 0.25) ** 0.5


def test_hash_sample_rejects_bad_rate(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        hash_sample(df, "k", 1.5)


def test_null_keys_deterministic_fallthrough(spark):
    # md5(NULL) -> NULL bucket: splits take the LAST label, samples drop —
    # the documented, engine-consistent pin of the failure mode
    df = spark.createDataFrame([(1,), (None,)], "k long")
    got = {r.k: r.split for r in dataset_split(df, "k").collect()}
    assert got[None] == "test"
    assert hash_sample(df, "k", 1.0).filter(F.col("k").isNull()).count() == 0


def test_split_plan_is_narrow(spark, docs):
    """The 100-TB contract: assignment adds NO exchange to the scan."""
    plan = dataset_split(docs, "doc_id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def _pack(spark, docs, **kw):
    from pagerank_spark.operators.splits import pack_sequences
    return pack_sequences(docs, **kw)


def test_pack_sequences_offsets_are_stream_cumsums(spark, docs):
    rows = _pack(spark, docs, budget_tokens=256, buckets=4).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(rows) == docs.count()
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r.pos)
        off = 0
        for i, r in enumerate(rs):
            assert r.pos == i
            assert r.start_offset == off
            assert r.seq_first == off // 256
            assert r.seq_last == (off + max(r.n_tokens - 1, 0)) // 256
            off += r.n_tokens


def test_pack_sequences_partition_invariant(spark, docs):
    a = {r.id: (r.bucket, r.pos, r.start_offset)
         for r in _pack(spark, docs, buckets=4).collect()}
    b = {r.id: (r.bucket, r.pos, r.start_offset)
         for r in _pack(spark, docs.repartition(13), buckets=4).collect()}
    assert a == b


def test_pack_sequences_straddle(spark):
    # one stream; budget smaller than some docs forces straddling chunks
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(7))) for i in range(10)],
        "doc_id long, text string")
    rows = _pack(spark, docs, budget_tokens=10, buckets=1).collect()
    rows.sort(key=lambda r: r.pos)
    assert [r.n_tokens for r in rows] == [7] * 10
    # doc starting at offset 7 spans tokens 7..13 -> chunks 0 and 1
    straddler = rows[1]
    assert straddler.start_offset == 7
    assert (straddler.seq_first, straddler.seq_last) == (0, 1)


def test_pack_sequences_auto_buckets_proportional_to_corpus(spark):
    # buckets=None derives ceil(corpus_tokens / target_stream_tokens):
    # doubling the corpus doubles the bucket count (round-4 verdict item 7)
    def corpus(n):
        return spark.createDataFrame(
            [(i, " ".join(f"t{j}" for j in range(10))) for i in range(n)],
            "doc_id long, text string")
    small = _pack(spark, corpus(40), buckets=None, target_stream_tokens=100)
    big = _pack(spark, corpus(80), buckets=None, target_stream_tokens=100)
    n_small = small.agg(F.countDistinct("bucket")).first()[0]
    n_big = big.agg(F.countDistinct("bucket")).first()[0]
    # 40 docs x 10 tokens / 100 = 4 streams; 80 docs -> 8 streams (every
    # derived bucket is non-empty at this density)
    assert n_small == 4 and n_big == 8
    # an explicit bucket count still pins the layout exactly
    pinned = _pack(spark, corpus(40), buckets=2)
    assert pinned.agg(F.countDistinct("bucket")).first()[0] == 2


def test_stratified_sample_rates_and_nesting(spark, docs):
    from pagerank_spark.operators.splits import stratified_sample
    lo = stratified_sample(docs, "doc_id", "lang", {"en": 0.3},
                           default_rate=0.1)
    hi = stratified_sample(docs, "doc_id", "lang", {"en": 0.7},
                           default_rate=0.1)
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids                      # nested per stratum
    # zero default drops every unlisted stratum; rate 1.0 keeps all of one
    full = stratified_sample(docs, "doc_id", "lang", {"zh": 1.0},
                             default_rate=0.0)
    got = full.groupBy("lang").count().collect()
    want_zh = docs.filter("lang = 'zh'").count()
    assert {(r.lang, r["count"]) for r in got} == {("zh", want_zh)}


def test_stratified_sample_matches_python_oracle(spark, docs):
    from pagerank_spark.operators.splits import stratified_sample
    rates, default = {"en": 0.5, "de": 0.8}, 0.25
    got = {r.doc_id for r in
           stratified_sample(docs, "doc_id", "lang", rates,
                             default_rate=default).collect()}
    want = set()
    for r in docs.select("doc_id", "lang").collect():
        thr = int(round(rates.get(r.lang, default) * BUCKETS))
        if _py_bucket(r.doc_id) < thr:
            want.add(r.doc_id)
    assert got == want


def test_stratified_sample_rejects_bad_rates(spark, docs):
    from pagerank_spark.operators.splits import stratified_sample
    with pytest.raises(ValueError):
        stratified_sample(docs, "doc_id", "lang", {"en": 1.5})
    with pytest.raises(ValueError):
        stratified_sample(docs, "doc_id", "lang", {}, default_rate=-0.1)


# -- temperature mixing -------------------------------------------------------


def test_temperature_mix_tau1_is_identity(spark, docs):
    from pagerank_spark.operators.splits import temperature_mix
    out = temperature_mix(docs, "doc_id", "lang", tau=1.0)
    assert out.count() == docs.count()
    assert out.select(F.min("mix_threshold")).first()[0] == BUCKETS


def test_temperature_mix_matches_python_oracle(spark, docs):
    from pagerank_spark.operators.splits import temperature_mix
    tau = 0.5
    rows = docs.select("doc_id", "lang").collect()
    n_s = {}
    for r in rows:
        n_s[r.lang] = n_s.get(r.lang, 0) + 1
    n_min = min(n_s.values())
    thr = {s: int(round((c / n_min) ** (tau - 1.0) * BUCKETS))
           for s, c in n_s.items()}
    want = {r.doc_id for r in rows if _py_bucket(r.doc_id) < thr[r.lang]}
    got = {r.doc_id for r in
           temperature_mix(docs, "doc_id", "lang", tau=tau).collect()}
    assert got == want
    # rarest stratum fully kept
    rare = min(n_s, key=lambda s: n_s[s])
    assert thr[rare] == BUCKETS


def test_temperature_mix_nested_in_tau(spark, docs):
    from pagerank_spark.operators.splits import temperature_mix
    lo = {r.doc_id for r in
          temperature_mix(docs, "doc_id", "lang", tau=0.3).collect()}
    hi = {r.doc_id for r in
          temperature_mix(docs, "doc_id", "lang", tau=0.8).collect()}
    assert lo <= hi


def test_temperature_mix_flattens_toward_uniform(spark, docs):
    from pagerank_spark.operators.splits import temperature_mix
    before = {r.lang: r.n for r in docs.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    after = {r.lang: r.n for r in
             temperature_mix(docs, "doc_id", "lang", tau=0.0)
             .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # tau=0 targets equal-sized strata (up to hash-binomial noise)
    n_min = min(before.values())
    for lang, n in after.items():
        assert abs(n - n_min) <= 4 * (n_min ** 0.5) + 1, (lang, n, n_min)


def test_temperature_mix_rejects_upsampling_tau(spark, docs):
    from pagerank_spark.operators.splits import temperature_mix
    with pytest.raises(ValueError):
        temperature_mix(docs, "doc_id", "lang", tau=1.2)
    with pytest.raises(ValueError):
        temperature_mix(docs, "doc_id", "lang", tau=-0.1)


def _ref_unimax(sizes, budget, epochs):
    """Sequential water-filling reference (UniMax, Chung et al. 2023)."""
    items = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    rem, out = budget, {}
    for i, (s, n) in enumerate(items):
        quota = rem / (len(items) - i)
        out[s] = min(epochs * n, quota)
        rem -= out[s]
    return out


def _mkcorpus(spark, sizes):
    rows = [(f"{s}-{i}", s) for s, n in sizes.items() for i in range(n)]
    return spark.createDataFrame(rows, "doc_id string, lang string")


def test_unimax_matches_sequential_reference(spark):
    from pagerank_spark.operators.splits import unimax_budgets
    sizes = {"en": 218, "de": 70, "zh": 75, "fr": 64, "yi": 3}
    df = _mkcorpus(spark, sizes)
    got = {r.lang: (r.n_s, r.budget_s, r.epochs_s)
           for r in unimax_budgets(df, "lang", budget=600.0,
                                   max_epochs=2.0).collect()}
    want = _ref_unimax(sizes, 600.0, 2.0)
    assert set(got) == set(want)
    total = 0.0
    for s, n in sizes.items():
        assert got[s][0] == n
        assert got[s][1] == pytest.approx(want[s], abs=1e-6), s
        assert got[s][2] <= 2.0 + 1e-9          # epoch cap respected
        assert got[s][2] == pytest.approx(got[s][1] / n, abs=1e-5)
        total += got[s][1]
    assert total == pytest.approx(600.0, abs=1e-5)  # budget exhausted
    # the rare stratum caps at capacity, the dominant one gets < capacity
    assert got["yi"][2] == pytest.approx(2.0)
    assert got["en"][2] < 2.0


def test_unimax_budget_above_capacity_caps_everything(spark):
    from pagerank_spark.operators.splits import unimax_budgets
    sizes = {"a": 10, "b": 20}
    got = {r.lang: r.budget_s
           for r in unimax_budgets(_mkcorpus(spark, sizes), "lang",
                                   budget=1e6, max_epochs=3.0).collect()}
    assert got == {"a": pytest.approx(30.0), "b": pytest.approx(60.0)}


def test_unimax_uniform_when_no_cap_binds(spark):
    from pagerank_spark.operators.splits import unimax_budgets
    sizes = {"a": 100, "b": 200, "c": 400}
    got = {r.lang: r.budget_s
           for r in unimax_budgets(_mkcorpus(spark, sizes), "lang",
                                   budget=90.0, max_epochs=1.0).collect()}
    assert all(v == pytest.approx(30.0) for v in got.values())


def test_unimax_weight_col_and_validation(spark):
    from pagerank_spark.operators.splits import unimax_budgets
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 100.0)], "lang string, toks double")
    got = {r.lang: (r.n_s, r.budget_s)
           for r in unimax_budgets(df, "lang", budget=60.0, max_epochs=2.0,
                                   weight_col="toks").collect()}
    want = _ref_unimax({"a": 10.0, "b": 100.0}, 60.0, 2.0)
    for s in want:
        assert got[s][1] == pytest.approx(want[s], abs=1e-6), s
    with pytest.raises(ValueError):
        unimax_budgets(df, "lang", budget=0.0)
    with pytest.raises(ValueError):
        unimax_budgets(df, "lang", budget=1.0, max_epochs=0.0)
    # a stratum with no weight (zero or negative sum) has no capacity
    for toks in (0.0, -3.0):
        bad = spark.createDataFrame([("a", 5.0), ("c", toks)],
                                    "lang string, toks double")
        with pytest.raises(ValueError, match="'c'"):
            unimax_budgets(bad, "lang", budget=10.0, weight_col="toks")
