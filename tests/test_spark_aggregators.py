"""Spark E2E for the generic mergeable-aggregator builds (HLL, Bloom,
DDSketch, KLL, t-digest over DataFrame columns)."""

import functools

import numpy as np
from pyspark.sql import functions as F

from sketchlib.bloom import BloomFilter
from sketchlib.ddsketch import DDSketch
from sketchlib.hll import HllSketch
from sketchlib.kll import KllSketch
from sketchlib.spark_build import build_aggregator, build_grouped_aggregator
from sketchlib.tdigest import TDigest
from sketchlib.serde import loads


def test_hll_distinct_tokens(spark, token_table_path):
    df = spark.read.parquet(token_table_path)
    res = build_aggregator(df, "tokens", functools.partial(HllSketch, p=14))
    exact = (df.select(F.explode("tokens").alias("t"))
             .agg(F.countDistinct("t")).collect()[0][0])
    est = res.sketch.estimate()
    assert abs(est - exact) / exact < 3 * 1.04 / np.sqrt(res.sketch.m)
    # partition invariance
    res2 = build_aggregator(df.repartition(5), "tokens",
                            functools.partial(HllSketch, p=14))
    assert res2.sketch.to_bytes() == res.sketch.to_bytes()


def test_ddsketch_ntok_quantiles(spark, token_table_path):
    df = spark.read.parquet(token_table_path)
    res = build_aggregator(df, "n_tok", functools.partial(DDSketch, alpha=0.01))
    exact = np.sort(np.array([r["n_tok"] for r in df.select("n_tok").collect()]))
    for q in (0.1, 0.5, 0.9):
        x = float(exact[int(q * (len(exact) - 1))])
        assert abs(res.sketch.quantile(q) - x) <= 2 * 0.01 * x
    assert res.sketch.count() == len(exact)


def test_kll_and_tdigest_ntok(spark, token_table_path):
    df = spark.read.parquet(token_table_path)
    exact = np.sort(np.array([r["n_tok"] for r in df.select("n_tok").collect()]))
    for factory in (functools.partial(KllSketch, k=200),
                    functools.partial(TDigest, delta=200)):
        res = build_aggregator(df, "n_tok", factory)
        for q in (0.25, 0.5, 0.75):
            est = res.sketch.quantile(q)
            true_rank = np.searchsorted(exact, est) / len(exact)
            assert abs(true_rank - q) < 0.05, (factory, q, true_rank)


def test_bloom_membership(spark, token_table_path):
    df = spark.read.parquet(token_table_path)
    res = build_aggregator(df, "tokens",
                           functools.partial(BloomFilter, capacity=600_000, fpr=0.01))
    present = np.array([r["t"] for r in
                        df.select(F.explode("tokens").alias("t")).limit(5000).collect()],
                       dtype=np.int64)
    assert res.sketch.contains_batch(present).all()
    absent = np.arange(2**31 + 1, 2**31 + 20_001, dtype=np.int64)  # out of token domain
    assert res.sketch.contains_batch(absent).mean() < 0.03


def test_grouped_hll_per_source(spark, token_table_path):
    df = spark.read.parquet(token_table_path)
    grouped = build_grouped_aggregator(df, "source", "tokens",
                                       functools.partial(HllSketch, p=14))
    rows = {r["key"]: loads(bytes(r["sketch"])) for r in grouped.collect()}
    exact = {r["source"]: r["d"] for r in
             df.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    assert set(rows) == set(exact)
    for src, sk in rows.items():
        assert abs(sk.estimate() - exact[src]) / exact[src] < 0.05, src


def test_grouped_ddsketch_scalar_col(spark, token_table_path):
    df = spark.read.parquet(token_table_path)
    grouped = build_grouped_aggregator(df, "source", "n_tok",
                                       functools.partial(DDSketch, alpha=0.02))
    rows = {r["key"]: loads(bytes(r["sketch"])) for r in grouped.collect()}
    counts = {r["source"]: r["c"] for r in
              df.groupBy("source").agg(F.count("*").alias("c")).collect()}
    for src, sk in rows.items():
        assert sk.count() == counts[src], src


def test_sketch_probe_col_bloom_and_cm(spark, token_table_path):
    """sketch_probe_col probes a broadcast sketch columnwise with no
    driver-side collect; verdicts match the local batch probes."""
    import math
    from sketchlib.countmin import CMConfig
    from sketchlib.spark_build import build_sketch, sketch_probe_col

    df = spark.read.parquet(token_table_path)
    bres = build_aggregator(df, "tokens",
                            functools.partial(BloomFilter, capacity=600_000,
                                              fpr=0.01))
    probes = (df.select(F.explode("tokens").alias("t")).limit(2000)
              .union(spark.range(2**31 + 1, 2**31 + 2001)
                     .select(F.col("id").alias("t"))))
    out = (probes.withColumn(
        "claimed", sketch_probe_col(spark, bres.sketch, F.col("t"),
                                    method="contains_batch",
                                    rtype="boolean")).collect())
    t = np.array([r["t"] for r in out], dtype=np.int64)
    claimed = np.array([r["claimed"] for r in out])
    assert (claimed == bres.sketch.contains_batch(t)).all()
    # present tokens are never missed
    assert claimed[t < 2**31].all()

    cres = build_sketch(df, "tokens", CMConfig(eps=1e-4, delta=math.exp(-3),
                                               seed=1337))
    est = (probes.withColumn(
        "est", sketch_probe_col(spark, cres.sketch, F.col("t"))).collect())
    e = np.array([r["est"] for r in est], dtype=np.int64)
    assert (e == cres.sketch.point_query_batch(
        np.array([r["t"] for r in est], dtype=np.int64))).all()


def test_grouped_theta_per_source(spark, token_table_path):
    """Per-source theta sketches through the generic grouped topology:
    estimates within the KMV bound of exact per-source distinct counts,
    and the union of two groups' sketches estimates the cross-source
    union (the HLL-impossible part is intersection — asserted too)."""
    from sketchlib.theta import ThetaSketch
    df = spark.read.parquet(token_table_path)
    grouped = build_grouped_aggregator(df, "source", "tokens",
                                       functools.partial(ThetaSketch, 4096))
    rows = {r["key"]: loads(bytes(r["sketch"])) for r in grouped.collect()}
    exact = {r["source"]: r["d"] for r in
             df.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    assert set(rows) == set(exact)
    for src, sk in rows.items():
        tol = 4 * sk.rse()
        assert abs(sk.estimate() - exact[src]) / exact[src] < tol, src

    srcs = sorted(rows)
    if len(srcs) >= 2:
        a, b = rows[srcs[0]], rows[srcs[1]]
        ta = df.filter(F.col("source") == srcs[0]) \
            .select(F.explode("tokens").alias("t"))
        tb = df.filter(F.col("source") == srcs[1]) \
            .select(F.explode("tokens").alias("t"))
        exact_u = ta.union(tb).distinct().count()
        exact_i = ta.distinct().intersect(tb.distinct()).count()
        tol = 5 * a.rse() * exact_u
        assert abs(a.estimate_union(b) - exact_u) <= tol
        assert abs(a.estimate_intersection(b) - exact_i) <= tol


def test_grouped_countsketch_per_source(spark, token_table_path):
    """Per-source Count-Sketch through the generic grouped topology:
    unbiased per-source estimates within the eps*||f||_2 bound, and the
    group sketches MERGE to byte-identity with the global build (signed
    tables add elementwise, so group/global must commute)."""
    from sketchlib.countsketch import CSConfig, CountSketch
    cfg = CSConfig(width=4096, depth=5, seed=41)
    fac = functools.partial(CountSketch, cfg)
    df = spark.read.parquet(token_table_path)
    grouped = build_grouped_aggregator(df, "source", "tokens", fac)
    rows = {r["key"]: loads(bytes(r["sketch"])) for r in grouped.collect()}
    flat = df.select("source", F.explode("tokens").alias("t"))
    for src, sk in rows.items():
        per = (flat.filter(F.col("source") == src).groupBy("t")
               .agg(F.count("*").alias("c")).collect())
        keys = np.array([r["t"] for r in per], dtype=np.int64)
        exact = np.array([r["c"] for r in per], dtype=np.float64)
        l2 = float(np.sqrt((exact ** 2).sum()))
        top = np.argsort(exact)[-20:]
        err = np.abs(sk.point_query_batch(keys[top]) - exact[top])
        eps = np.sqrt(3 / cfg.width)
        assert (err <= eps * l2).mean() >= 0.9, src
    merged = None
    for sk in rows.values():
        merged = sk if merged is None else merged.merge(sk)
    global_ = build_aggregator(df, "tokens", fac).sketch
    assert merged.to_bytes() == global_.to_bytes()


def test_grouped_dyadic_per_source(spark, token_table_path):
    """Per-source dyadic Count-Min through the grouped topology: range
    counts one-sided within the interval bound per group, and group
    merges byte-match the global build."""
    from sketchlib.dyadic import DyadicCM
    fac = functools.partial(DyadicCM, 31, 5e-4, 0.02, 43)
    df = spark.read.parquet(token_table_path)
    grouped = build_grouped_aggregator(df, "source", "tokens", fac)
    rows = {r["key"]: loads(bytes(r["sketch"])) for r in grouped.collect()}
    flat = df.select("source", F.explode("tokens").alias("t"))
    lo, hi = 2**20, 2**29
    for src, sk in rows.items():
        exact = flat.filter((F.col("source") == src) & (F.col("t") >= lo)
                            & (F.col("t") <= hi)).count()
        est, bound = sk.range_count_with_bound(lo, hi)
        assert exact <= est <= exact + bound, src
    merged = None
    for sk in rows.values():
        merged = sk if merged is None else merged.merge(sk)
    global_ = build_aggregator(df, "tokens", fac).sketch
    assert merged.to_bytes() == global_.to_bytes()


def test_parquet_direct_aggregator_byte_identical(spark, token_table_path):
    """build_aggregator_parquet (workers read row groups with pyarrow, no
    JVM scan) must be byte-identical to the DataFrame path for every
    sketch type — over a LIST column (tokens) and a SCALAR column
    (n_tok) — and at any slice count."""
    from sketchlib.countsketch import CSConfig, CountSketch
    from sketchlib.dyadic import DyadicCM
    from sketchlib.spark_build import build_aggregator_parquet
    df = spark.read.parquet(token_table_path)
    cases = [
        ("tokens", functools.partial(CountSketch,
                                     CSConfig(width=1024, depth=3, seed=9))),
        ("tokens", functools.partial(DyadicCM, 31, 1e-3, 0.05, 9)),
        ("tokens", functools.partial(HllSketch, p=12)),
        ("n_tok", functools.partial(KllSketch, 128)),
    ]
    for col, fac in cases:
        direct = build_aggregator_parquet(spark, token_table_path, col, fac)
        via_df = build_aggregator(df, col, fac)
        assert direct.sketch.to_bytes() == via_df.sketch.to_bytes(), (col, fac)
        assert direct.n_rows == via_df.n_rows
        # slice count must not change the result
        direct4 = build_aggregator_parquet(spark, token_table_path, col,
                                           fac, n_slices=4)
        assert direct4.sketch.to_bytes() == direct.sketch.to_bytes()
    # lineage carries one row per slice with real counts
    assert (direct4.lineage["n_rows"] > 0).all()
    assert len(direct4.lineage) <= 4


def test_parquet_direct_aggregator_null_rows(spark, tmp_path):
    """Null rows must be dropped exactly like the DataFrame path's
    isNotNull filter — same sketch bytes, same n_rows — for both scalar
    and list columns (a null scalar would otherwise decay the chunk to
    float64 NaNs and hash garbage); build_sketch_parquet likewise against
    build_sketch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sketchlib.countmin import CMConfig
    from sketchlib.kll import KllSketch
    from sketchlib.spark_build import (build_aggregator_parquet,
                                       build_sketch, build_sketch_parquet)
    path = str(tmp_path / "nulls.parquet")
    pq.write_table(pa.table({
        "v": pa.array([3, None, 5, 7, None, 9], pa.int32()),
        "arr": pa.array([[1, 2], None, [3], [4, 5, 6], None, [7]],
                        pa.list_(pa.int32())),
    }), path)
    df = spark.read.parquet(path)
    for col, fac in (("v", functools.partial(KllSketch, 64)),
                     ("arr", functools.partial(HllSketch, p=10))):
        direct = build_aggregator_parquet(spark, path, col, fac)
        via_df = build_aggregator(df, col, fac)
        assert direct.sketch.to_bytes() == via_df.sketch.to_bytes(), col
        assert direct.n_rows == via_df.n_rows == 4
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=7)
    for col in ("v", "arr"):
        direct = build_sketch_parquet(spark, path, col, cfg)
        via_df = build_sketch(df, col, cfg)
        assert direct.sketch.to_bytes() == via_df.sketch.to_bytes(), col
        assert direct.n_rows == via_df.n_rows == 4, col
