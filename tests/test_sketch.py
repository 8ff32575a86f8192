"""KMV distinct sketch: exactness below k, estimator accuracy above k,
and the merge property (sketch of union == merge of sketches)."""

import pytest
from pyspark.sql import functions as F

from net_spider_spark.pipeline.sketch import (
    kmv_distinct,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)


@pytest.fixture(scope="module")
def users(spark):
    # 3 groups with known cardinalities: 10, 300, 5000
    return spark.range(5000).select(
        F.when(F.col("id") < 10, "small")
        .when(F.col("id") < 310, "mid")
        .otherwise("big")
        .alias("grp"),
        F.col("id").alias("uid"),
    ).union(
        # duplicates must not change any estimate
        spark.range(5000).select(
            F.when(F.col("id") < 10, "small")
            .when(F.col("id") < 310, "mid")
            .otherwise("big")
            .alias("grp"),
            F.col("id").alias("uid"),
        )
    )


def test_exact_below_k(spark, users):
    out = {
        r["grp"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(users, ["grp"], "uid", k=64).collect()
    }
    assert out["small"] == (10, 10)
    # mid (300) and big (4690) exceed k=64 -> estimator path
    assert out["mid"][0] == 64 and out["big"][0] == 64


def test_estimator_accuracy(spark, users):
    k = 256
    out = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(users, ["grp"], "uid", k=k).collect()
    }
    # big group: 4690 true distinct; SE ~ 1/sqrt(k-2) ~ 6.3%; allow 4 SE
    assert abs(out["big"] - 4690) / 4690 < 0.25
    assert abs(out["mid"] - 300) / 300 < 0.25


def test_merge_property(spark, users):
    k = 32
    evens = users.where(F.col("uid") % 2 == 0)
    odds = users.where(F.col("uid") % 2 == 1)
    merged = kmv_merge(
        kmv_sketch(evens, ["grp"], "uid", k=k),
        kmv_sketch(odds, ["grp"], "uid", k=k),
        ["grp"],
        k=k,
    )
    whole = kmv_sketch(users, ["grp"], "uid", k=k)
    m = {r["grp"]: r["kmv"] for r in merged.collect()}
    w = {r["grp"]: r["kmv"] for r in whole.collect()}
    assert m == w
    # and the estimate off the merged sketch matches too
    em = {
        r["grp"]: r["est_distinct"]
        for r in kmv_estimate(merged, k=k).collect()
    }
    ew = {
        r["grp"]: r["est_distinct"]
        for r in kmv_estimate(whole, k=k).collect()
    }
    assert em == ew


def test_determinism_and_seed(spark, users):
    a = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(users, ["grp"], "uid", k=64).collect()
    }
    b = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(users, ["grp"], "uid", k=64).collect()
    }
    assert a == b  # same seed -> bit-identical
    c = {
        r["grp"]: r["est_distinct"]
        for r in kmv_distinct(users, ["grp"], "uid", k=64, seed="other").collect()
    }
    assert c["small"] == a["small"] == 10  # below-k exact path seed-free


def test_quantile_sketch_merge_equals_direct(spark):
    from net_spider_spark.pipeline import sketch as SK

    rows = [(int(i), f"g{i % 2}", float((i * 7919) % 10000))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "rid long, grp string, value double")
    a = SK.quantile_sketch(df.where("rid < 2000"), ["grp"], "value", "rid",
                           k=64)
    b = SK.quantile_sketch(df.where("rid >= 2000"), ["grp"], "value", "rid",
                           k=64)
    merged = {r["grp"]: r["qsk"] for r in
              SK.quantile_sketch_merge(a, b, ["grp"], k=64).collect()}
    direct = {r["grp"]: r["qsk"] for r in
              SK.quantile_sketch(df, ["grp"], "value", "rid", k=64).collect()}
    assert merged == direct  # exact array equality, not just estimates


def test_quantile_sketch_error_bound_vs_exact(spark):
    from pyspark.sql import functions as F

    from net_spider_spark.pipeline import sketch as SK

    rows = [(int(i), f"g{i % 2}", float((i * 7919) % 10000))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "rid long, grp string, value double")
    est = {
        r["grp"]: r
        for r in SK.quantile_sketch_estimate(
            SK.quantile_sketch(df, ["grp"], "value", "rid", k=256),
            (0.5, 0.9),
        ).collect()
    }
    exact = {
        r["grp"]: r
        for r in df.groupBy("grp")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
        )
        .collect()
    }
    # sampling stderr ~ range * sqrt(q(1-q)/k) ~ 310 at p50 with k=256;
    # assert 3-sigma-ish bounds on this fixed (deterministic) input
    for g, e in est.items():
        assert e["n_kept"] == 256
        assert abs(e["p50"] - exact[g]["p50"]) < 1000, g
        assert abs(e["p90"] - exact[g]["p90"]) < 1000, g
    # determinism: same input -> byte-identical estimates
    again = {
        r["grp"]: r
        for r in SK.quantile_sketch_estimate(
            SK.quantile_sketch(df, ["grp"], "value", "rid", k=256),
            (0.5, 0.9),
        ).collect()
    }
    assert {g: (r["p50"], r["p90"]) for g, r in est.items()} == {
        g: (r["p50"], r["p90"]) for g, r in again.items()
    }


def test_quantile_sketch_small_group_is_exact(spark):
    from pyspark.sql import functions as F

    from net_spider_spark.pipeline import sketch as SK

    rows = [(int(i), "only", float(v)) for i, v in
            enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5])]
    df = spark.createDataFrame(rows, "rid long, grp string, value double")
    est = SK.quantile_sketch_estimate(
        SK.quantile_sketch(df, ["grp"], "value", "rid", k=256),
        (0.5, 0.9, 0.99),
    ).collect()[0]
    exact = df.agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    ).collect()[0]
    # below k the sample IS the group: interpolation matches percentile
    assert (est["p50"], est["p90"], est["p99"]) == (
        exact["p50"], exact["p90"], exact["p99"]
    )


def test_bottom_k_matches_naive_window(spark):
    # The bucket-distributed rank must select the EXACT same rows as
    # row_number() OVER (PARTITION BY group ORDER BY _h60, _v) <= k.
    from pyspark.sql import Window

    from net_spider_spark.pipeline import sketch as SK

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 7 % 101).cast("double").alias("v"),
        F.col("id").alias("key"),
    )
    hashed = df.select(
        "grp", F.col("v").alias("_v"),
        F.expr(SK.md5_sql("key")).alias("_md5"),
    ).select(
        "grp", "_v", "_md5",
        F.expr(SK.hex15_to_long_sql("_md5")).alias("_h60"),
    )
    got = sorted(
        (r["grp"], r["_h60"], r["_v"])
        for r in SK._bottom_k_rows(hashed, ["grp"], 50, ("_v",)).collect()
    )
    w = Window.partitionBy("grp").orderBy("_h60", "_v")
    want = sorted(
        (r["grp"], r["_h60"], r["_v"])
        for r in hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 50)
        .collect()
    )
    assert got == want and len(got) == 150


def test_bottom_k_plan_has_no_whole_group_window(spark):
    # Every Window in the plan must partition by (group, _bkt), never
    # by the group alone — the pin that no task sorts a whole group.
    from net_spider_spark.pipeline import sketch as SK

    df = spark.range(100).select(
        (F.col("id") % 2).cast("string").alias("grp"),
        F.col("id").cast("double").alias("v"),
        F.col("id").alias("key"),
    )
    plan = (
        SK.quantile_sketch(df, ["grp"], "v", "key", k=8)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan  # the rank windows must still exist
    for spec in specs:
        if "grp" in spec:
            # either the data-sized rank window — partitioned by
            # (grp, _bkt) — or the offset window over the tiny
            # (grp, _bkt) count table; never a whole-group data sort.
            assert "_bkt" in spec, spec


def test_set_estimates_exact_below_k(spark):
    # Both corpora below k: the sketches ARE the distinct sets, so
    # every estimate must be exact (A = 0..39, B = 20..69).
    from net_spider_spark.pipeline import sketch as SK

    a = spark.range(40).select(F.lit("x").alias("g"), F.col("id").alias("u"))
    b = spark.range(20, 70).select(
        F.lit("x").alias("g"), F.col("id").alias("u")
    )
    pair = (
        SK.kmv_sketch(a, ["g"], "u", k=256)
        .withColumnRenamed("kmv", "kmv_a")
        .join(
            SK.kmv_sketch(b, ["g"], "u", k=256)
            .withColumnRenamed("kmv", "kmv_b"),
            "g",
        )
    )
    r = SK.kmv_set_estimates(pair, k=256).collect()[0]
    assert r["n_merged"] == 70 and r["est_union"] == 70
    assert r["est_intersection"] == 20
    assert r["est_only_a"] == 20 and r["est_only_b"] == 30
    assert abs(r["jaccard_est"] - round(20 / 70, 6)) < 1e-12


def test_set_estimates_estimator_accuracy(spark):
    # Above k: A = 0..3999, B = 2000..7999 -> union 8000, inter 2000,
    # true jaccard 0.25. k=256 SE ~6%; allow 4-sigma-ish slack.
    from net_spider_spark.pipeline import sketch as SK

    a = spark.range(4000).select(F.lit("x").alias("g"), F.col("id").alias("u"))
    b = spark.range(2000, 8000).select(
        F.lit("x").alias("g"), F.col("id").alias("u")
    )
    pair = (
        SK.kmv_sketch(a, ["g"], "u", k=256)
        .withColumnRenamed("kmv", "kmv_a")
        .join(
            SK.kmv_sketch(b, ["g"], "u", k=256)
            .withColumnRenamed("kmv", "kmv_b"),
            "g",
        )
    )
    r = SK.kmv_set_estimates(pair, k=256).collect()[0]
    assert r["n_merged"] == 256
    assert abs(r["est_union"] - 8000) / 8000 < 0.25
    assert abs(r["est_intersection"] - 2000) / 2000 < 0.4
    assert abs(r["jaccard_est"] - 0.25) < 0.1
    # identity consistency: the three parts partition the union exactly
    # in sample space, so their scaled sum stays within rounding of it
    assert (
        abs(
            r["est_intersection"] + r["est_only_a"] + r["est_only_b"]
            - r["est_union"]
        )
        <= 2
    )


def test_set_estimates_empty_sketches_no_nan(spark):
    # Both sketches empty (a group with zero values): every estimate
    # must be an exact 0, never NaN from the /n_merged divisions.
    from net_spider_spark.pipeline import sketch as SK

    pair = spark.createDataFrame(
        [("x", [], [])],
        "g string, kmv_a array<bigint>, kmv_b array<bigint>",
    )
    r = SK.kmv_set_estimates(pair, k=256).collect()[0]
    assert r["n_merged"] == 0 and r["est_union"] == 0
    assert r["est_intersection"] == 0
    assert r["est_only_a"] == 0 and r["est_only_b"] == 0
    assert r["jaccard_est"] == 0.0


@pytest.fixture(scope="module")
def freq_rows(spark):
    # value v{i} occurs (i % 17) + 1 times, i in [0, 200): known exact
    # frequencies, enough mass to force collisions at small widths.
    return spark.range(200).select(
        F.concat(F.lit("v"), F.col("id")).alias("val"),
        F.explode(
            F.sequence(F.lit(1), (F.col("id") % 17 + 1).cast("int"))
        ).alias("_rep"),
    ).select("val")


def test_cms_never_underestimates_and_tightens_with_width(spark, freq_rows):
    from net_spider_spark.pipeline import sketch as SK

    exact = {
        r["val"]: r["n"]
        for r in freq_rows.groupBy("val").agg(F.count("*").alias("n")).collect()
    }
    probes = freq_rows.select("val").distinct()
    for width, slack_ok in ((64, False), (1 << 14, True)):
        cells = SK.cms_build(freq_rows, "val", depth=4, width=width)
        est = {
            r["val"]: r["est_count"]
            for r in SK.cms_estimate(
                cells, probes, "val", depth=4, width=width
            ).collect()
        }
        assert est.keys() == exact.keys()
        # the one-sided CMS guarantee: never under
        assert all(est[v] >= exact[v] for v in exact)
        if slack_ok:
            # width >> distinct values: collisions vanish, est == exact
            assert est == exact


def test_cms_absent_probe_and_merge(spark, freq_rows):
    from net_spider_spark.pipeline import sketch as SK

    depth, width = 4, 1 << 14
    probes = spark.createDataFrame([("never-seen",), ("v3",)], "val string")
    cells = SK.cms_build(freq_rows, "val", depth=depth, width=width)
    est = {
        r["val"]: r["est_count"]
        for r in SK.cms_estimate(
            cells, probes, "val", depth=depth, width=width
        ).collect()
    }
    assert est["never-seen"] == 0 and est["v3"] == 4  # 3 % 17 + 1
    # merge of disjoint-shard sketches == sketch of the union
    with_id = freq_rows.withColumn("_i", F.monotonically_increasing_id())
    a = SK.cms_build(with_id.where("_i % 2 = 0"), "val", depth=depth, width=width)
    b = SK.cms_build(with_id.where("_i % 2 = 1"), "val", depth=depth, width=width)
    merged = sorted(map(tuple, SK.cms_merge(a, b).collect()))
    direct = sorted(map(tuple, cells.collect()))
    assert merged == direct


def test_bloom_no_false_negatives_and_merge(spark):
    from net_spider_spark.pipeline import sketch as SK

    members = spark.range(500).select(F.concat(F.lit("m"), F.col("id")).alias("v"))
    others = spark.range(500).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    bits = SK.bloom_build(members, "v", n_hashes=5, m_bits=1 << 16)
    out = {
        r["v"]: r["maybe_present"]
        for r in SK.bloom_contains(
            bits, members.union(others), "v", n_hashes=5, m_bits=1 << 16
        ).collect()
    }
    # every true member flagged — the Bloom contract
    assert all(out[f"m{i}"] for i in range(500))
    # m=65536, n=500, k=5 -> fpp ~ (1-e^(-kn/m))^k ~ 5e-8: expect zero
    fps = [i for i in range(500) if out[f"x{i}"]]
    assert not fps, fps
    # merge property: union of halves == filter over the whole set
    a = SK.bloom_build(members.where("v like 'm1%'"), "v", n_hashes=5,
                       m_bits=1 << 16)
    b = SK.bloom_build(members.where("v not like 'm1%'"), "v", n_hashes=5,
                       m_bits=1 << 16)
    merged = sorted(r["pos"] for r in SK.bloom_merge(a, b).collect())
    direct = sorted(r["pos"] for r in bits.collect())
    assert merged == direct


def test_bloom_duplicate_probes(spark):
    # A value probed N times must flag exactly like a value probed
    # once (regression: pre-dedup counting made duplicates fail the
    # all-positions-set test at 2*n_hashes rows).
    from net_spider_spark.pipeline import sketch as SK

    members = spark.createDataFrame([("a",), ("b",)], "v string")
    bits = SK.bloom_build(members, "v", n_hashes=5, m_bits=1 << 12)
    probes = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("c",), ("c",)], "v string"
    )
    out = {
        r["v"]: r["maybe_present"]
        for r in SK.bloom_contains(
            bits, probes, "v", n_hashes=5, m_bits=1 << 12
        ).collect()
    }
    assert out == {"a": True, "c": False}


def test_bloom_collisions_are_one_sided(spark):
    # Tiny filter (m=64): false positives must appear, false negatives
    # must not — the degradation mode is the documented one.
    from net_spider_spark.pipeline import sketch as SK

    members = spark.range(50).select(F.concat(F.lit("m"), F.col("id")).alias("v"))
    others = spark.range(200).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    bits = SK.bloom_build(members, "v", n_hashes=3, m_bits=64)
    out = {
        r["v"]: r["maybe_present"]
        for r in SK.bloom_contains(
            bits, members.union(others), "v", n_hashes=3, m_bits=64
        ).collect()
    }
    assert all(out[f"m{i}"] for i in range(50))
    assert any(out[f"x{i}"] for i in range(200))  # saturated -> FPs exist


def test_cms_and_bloom_grouped_paths(spark):
    # group_cols plumbing: per-group sketches must not leak across
    # groups (value counted in g0 only estimates/matches in g0).
    from net_spider_spark.pipeline import sketch as SK

    rows = spark.createDataFrame(
        [("g0", "a")] * 3 + [("g0", "b")] + [("g1", "a")],
        "grp string, v string",
    )
    cells = SK.cms_build(rows, "v", group_cols=["grp"], depth=4, width=1 << 12)
    probes = rows.dropDuplicates(["grp", "v"])
    est = {
        (r["grp"], r["v"]): r["est_count"]
        for r in SK.cms_estimate(
            cells, probes, "v", group_cols=["grp"], depth=4, width=1 << 12
        ).collect()
    }
    assert est == {("g0", "a"): 3, ("g0", "b"): 1, ("g1", "a"): 1}
    bits = SK.bloom_build(
        rows.where("grp = 'g0'"), "v", group_cols=["grp"],
        n_hashes=4, m_bits=1 << 12,
    )
    got = {
        (r["grp"], r["v"]): r["maybe_present"]
        for r in SK.bloom_contains(
            bits,
            spark.createDataFrame(
                [("g0", "a"), ("g0", "zz"), ("g1", "a")], "grp string, v string"
            ),
            "v", group_cols=["grp"], n_hashes=4, m_bits=1 << 12,
        ).collect()
    }
    # g1's filter has no bits at all -> nothing maybe-present there
    assert got == {("g0", "a"): True, ("g0", "zz"): False, ("g1", "a"): False}


# ---------------------------------------------------------------------------
# HyperLogLog: portable registers, exact-dyadic estimator, merge law.
# ---------------------------------------------------------------------------

def test_hll_estimate_accuracy(spark):
    from net_spider_spark.pipeline import sketch as SK

    # 3 groups with known distinct counts 50 / 500 / 5000
    rows = spark.range(5000).select(
        F.explode(
            F.filter(
                F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                lambda g: (
                    (g == "a") & (F.col("id") < 50)
                    | (g == "b") & (F.col("id") < 500)
                    | (g == "c")
                ),
            )
        ).alias("g"),
        F.col("id").alias("u"),
    )
    est = {
        r["g"]: r["est_distinct"]
        for r in SK.hll_distinct(rows, ["g"], "u", p=10).collect()
    }
    # p=10 -> SE ~3.3%; allow 4 sigma
    for g, true in (("a", 50), ("b", 500), ("c", 5000)):
        assert abs(est[g] - true) / true < 0.15, (g, est[g])


def test_hll_merge_equals_recompute(spark):
    from net_spider_spark.pipeline import sketch as SK

    df = spark.range(2000).select(
        F.lit("x").alias("g"), (F.col("id") % 777).alias("u")
    )
    half1 = df.where(F.col("id") % 2 == 0)
    half2 = df.where(F.col("id") % 2 == 1)
    s1 = SK.hll_sketch(half1, ["g"], "u", p=8).withColumnRenamed("hll", "h1")
    s2 = SK.hll_sketch(half2, ["g"], "u", p=8).withColumnRenamed("hll", "h2")
    merged = s1.join(s2, "g").select(
        "g", SK.hll_merge_arrays(F.col("h1"), F.col("h2")).alias("hll")
    )
    whole = SK.hll_sketch(df, ["g"], "u", p=8)
    assert merged.collect()[0]["hll"] == whole.collect()[0]["hll"]
    est_m = SK.hll_estimate(merged, p=8).collect()[0]["est_distinct"]
    est_w = SK.hll_estimate(whole, p=8).collect()[0]["est_distinct"]
    assert est_m == est_w  # bit-identical, not just close


def test_hll_duplicates_cannot_move_the_estimate(spark):
    from net_spider_spark.pipeline import sketch as SK

    base = spark.range(300).select(F.lit("g").alias("g"), F.col("id").alias("u"))
    dup10x = base.unionAll(base).unionAll(base)
    e1 = SK.hll_distinct(base, ["g"], "u", p=8).collect()[0]["est_distinct"]
    e2 = SK.hll_distinct(dup10x, ["g"], "u", p=8).collect()[0]["est_distinct"]
    assert e1 == e2


def test_hll_rejects_bad_p(spark):
    from net_spider_spark.pipeline import sketch as SK

    with pytest.raises(ValueError, match="p must be"):
        SK.hll_sketch(spark.range(1), ["id"], "id", p=2)
    with pytest.raises(ValueError, match="p must be"):
        SK.hll_sketch_sparse(spark.range(1), ["id"], "id", p=20)


def test_hll_sparse_densifies_to_dense_sketch(spark):
    # Sparse and dense sketches are the SAME registers at every p:
    # densify(sparse) must equal the dense array element-for-element,
    # including the many-small-groups case sparse exists for.
    from net_spider_spark.pipeline import sketch as SK

    rows = spark.range(3000).select(
        (F.col("id") % 40).alias("g"), (F.col("id") % 613).alias("u")
    )
    for p in (6, 10, 14):
        dense = {
            r["g"]: r["hll"]
            for r in SK.hll_sketch(rows, ["g"], "u", p=p).collect()
        }
        sparse = SK.hll_sketch_sparse(rows, ["g"], "u", p=p)
        densified = {
            r["g"]: r["d"]
            for r in sparse.select(
                "g", SK.hll_densify(F.col("hll_sparse"), p).alias("d")
            ).collect()
        }
        assert densified == dense
        # sparse state is register-count-sized, not 2^p-sized
        sizes = [
            r["s"]
            for r in sparse.select(F.size("hll_sparse").alias("s")).collect()
        ]
        assert all(0 < s <= min(75, 1 << p) for s in sizes)


def test_hll_sparse_merge_and_estimate_parity(spark):
    from net_spider_spark.pipeline import sketch as SK

    df = spark.range(2000).select(
        F.lit("x").alias("g"), (F.col("id") % 777).alias("u")
    )
    half1 = df.where(F.col("id") % 2 == 0)
    half2 = df.where(F.col("id") % 2 == 1)
    p = 8
    s1 = SK.hll_sketch_sparse(half1, ["g"], "u", p=p).withColumnRenamed(
        "hll_sparse", "h1"
    )
    s2 = SK.hll_sketch_sparse(half2, ["g"], "u", p=p).withColumnRenamed(
        "hll_sparse", "h2"
    )
    merged = s1.join(s2, "g").select(
        "g", SK.hll_merge_sparse(F.col("h1"), F.col("h2")).alias("hll_sparse")
    )
    whole_dense = SK.hll_sketch(df, ["g"], "u", p=p)
    md = merged.select(
        "g", SK.hll_densify(F.col("hll_sparse"), p).alias("hll")
    )
    assert (
        md.collect()[0]["hll"] == whole_dense.collect()[0]["hll"]
    )  # sparse merge == recompute, register-exact
    est_sparse = SK.hll_estimate_sparse(merged, p=p).collect()[0]
    est_dense = SK.hll_estimate(whole_dense, p=p).collect()[0]
    assert est_sparse["est_distinct"] == est_dense["est_distinct"]
    assert est_sparse["n_zero_regs"] == est_dense["n_zero_regs"]


def test_hll_sparse_small_group_state_is_tiny(spark):
    # The motivating case: many small groups at p=14 — dense would be
    # 16384 ints per group; sparse holds <= distinct-count entries.
    from net_spider_spark.pipeline import sketch as SK

    rows = spark.range(1000).select(
        (F.col("id") % 100).alias("g"), F.col("id").alias("u")
    )
    sk = SK.hll_sketch_sparse(rows, ["g"], "u", p=14)
    sizes = [r["s"] for r in sk.select(F.size("hll_sparse").alias("s")).collect()]
    assert len(sizes) == 100 and all(s <= 10 for s in sizes)
    ests = SK.hll_estimate_sparse(sk, p=14)
    # p=14 SE ~0.8%; 10 distinct per group, linear-counting regime
    for r in ests.collect():
        assert abs(r["est_distinct"] - 10) < 1.0
