"""Spark E2E: distributed sketch build vs exact counts (SURVEY.md §5 item 4).

Covers: mapInArrow partial build, merge byte-identity across
partitionings and across the merge planner's paths (in-process, driver
fold, 2- and 3-level shuffle trees), Spark job counts, grouped
(per-source) build, checkpoint/resume, and the broadcast point-query UDF.
"""

import functools
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.countmin import CMConfig, CountMinSketch
from sketchlib.spark_build import (
    build_grouped,
    build_sketch,
    build_sketch_parquet,
    collect_grouped,
    point_query_col,
    _agg_partial_builder,
    _column_feed,
    _PARTIAL_SCHEMA,
)

CFG = CMConfig(eps=1e-4, delta=math.exp(-3), seed=1337)


@pytest.fixture(scope="module")
def tokens_df(spark, token_table_path):
    return spark.read.parquet(token_table_path)


@pytest.fixture(scope="module")
def exact_counts(tokens_df):
    rows = (tokens_df.select(F.explode("tokens").alias("token"))
            .groupBy("token").count().collect())
    return {r["token"]: r["count"] for r in rows}


def test_build_matches_exact_within_bound(tokens_df, exact_counts):
    res = build_sketch(tokens_df, "tokens", CFG)
    l1 = sum(exact_counts.values())
    assert res.sketch.total_count == l1
    assert res.n_rows == tokens_df.count()

    keys = np.fromiter(exact_counts.keys(), dtype=np.int64)
    true = np.fromiter((exact_counts[int(k)] for k in keys), dtype=np.int64)
    est = res.sketch.point_query_batch(keys)
    assert np.all(est >= true)
    frac_ok = float(np.mean((est - true) <= CFG.eps * l1))
    assert frac_ok >= 1 - CFG.delta

    # lineage accounts for every partition and every token
    assert res.lineage["n_items"].sum() == l1
    assert (res.lineage["build_ms"] > 0).all()


def test_partitioning_invariance_byte_identical(tokens_df):
    a = build_sketch(tokens_df.repartition(3), "tokens", CFG)
    b = build_sketch(tokens_df.repartition(7), "tokens", CFG, fanout=2)
    assert a.sketch.to_bytes() == b.sketch.to_bytes()


def test_grouped_build_per_source(spark, tokens_df):
    grouped = collect_grouped(build_grouped(tokens_df, "source", "tokens", CFG))
    sources = [r["source"] for r in tokens_df.select("source").distinct().collect()]
    assert set(grouped) == set(sources)

    # per-source sketch == sketch built on the filtered frame, byte-identical
    for src in sources:
        direct = build_sketch(tokens_df.filter(F.col("source") == src),
                              "tokens", CFG)
        assert grouped[src].to_bytes() == direct.sketch.to_bytes(), src

    # and the union of groups == the global sketch
    acc = CountMinSketch(CFG)
    for cm in grouped.values():
        acc.merge(cm)
    global_ = build_sketch(tokens_df, "tokens", CFG)
    assert acc.to_bytes() == global_.sketch.to_bytes()


def test_checkpoint_resume(spark, tokens_df, tmp_path):
    df4 = tokens_df.repartition(4)
    full = build_sketch(df4, "tokens", CFG)

    ckpt = str(tmp_path / "ckpt")
    # simulate a crashed run: only partitions 2 and 3 got checkpointed
    pre = df4.select("tokens").mapInArrow(
        _agg_partial_builder(functools.partial(CountMinSketch, CFG),
                             _column_feed("tokens"),
                             skip_pids=frozenset({0, 1})),
        schema=_PARTIAL_SCHEMA)
    pre.write.mode("append").parquet(ckpt + "/partials")
    done_pids = {r["pid"] for r in spark.read.parquet(ckpt + "/partials").collect()}
    assert done_pids == {2, 3}

    # resume: builds only 0 and 1, merges all four
    res = build_sketch(df4, "tokens", CFG, checkpoint_dir=ckpt)
    assert res.sketch.to_bytes() == full.sketch.to_bytes()
    assert sorted(res.lineage["pid"]) == [0, 1, 2, 3]

    # idempotent re-run: nothing recomputed, same bytes
    res2 = build_sketch(df4, "tokens", CFG, checkpoint_dir=ckpt)
    assert res2.sketch.to_bytes() == full.sketch.to_bytes()


def _listing(d):
    return sorted((name, os.path.getsize(os.path.join(root, name)))
                  for root, _, names in os.walk(d) for name in names)


def test_checkpoint_read_failure_raises(spark, token_table_path, tmp_path):
    """A checkpoint whose partials cannot be read must fail the build, not
    read as "nothing done": that rebuilt every slice and appended it
    beside the partials already there."""
    ckpt = str(tmp_path / "ckpt")
    build_sketch_parquet(spark, token_table_path, "tokens", CFG, n_slices=2,
                         checkpoint_dir=ckpt)
    partials = os.path.join(ckpt, "partials")
    victim = sorted(f for f in os.listdir(partials)
                    if f.endswith(".parquet"))[0]
    with open(os.path.join(partials, victim), "wb") as f:
        f.write(b"not a parquet file")
    before = _listing(partials)
    with pytest.raises(Exception):
        build_sketch_parquet(spark, token_table_path, "tokens", CFG,
                             checkpoint_dir=ckpt)
    assert _listing(partials) == before


def test_checkpoint_uncommitted_only_resumes(spark, tokens_df,
                                             token_table_path, tmp_path):
    """A partials directory holding only an uncommitted ``_temporary/`` (a
    run killed before its first commit) resumes to the full build."""
    df4 = tokens_df.repartition(4)
    for name, build, full in (
            ("parquet",
             lambda ckpt: build_sketch_parquet(
                 spark, token_table_path, "tokens", CFG, checkpoint_dir=ckpt),
             build_sketch_parquet(spark, token_table_path, "tokens", CFG)),
            ("frame",
             lambda ckpt: build_sketch(df4, "tokens", CFG,
                                       checkpoint_dir=ckpt),
             build_sketch(df4, "tokens", CFG))):
        ckpt = str(tmp_path / name)
        os.makedirs(os.path.join(ckpt, "partials", "_temporary", "0"))
        res = build(ckpt)
        assert res.sketch.to_bytes() == full.sketch.to_bytes(), name
        assert res.n_rows == full.n_rows, name


def test_grouped_merge_folds_in_pid_order():
    """Grouped merges fold one key's partials in pid order whatever order
    the shuffle delivers them in: Misra-Gries merges are order-sensitive."""
    import pandas as pd
    from sketchlib.mg import MisraGries
    from sketchlib.spark_build import _fold, _merge_grouped_pdf
    rng = np.random.default_rng(3)
    blobs = []
    for _ in range(3):
        mg = MisraGries(k=4)
        mg.update_batch(rng.integers(0, 12, 200))
        blobs.append(mg.to_bytes())
    order = [2, 0, 1]
    pdf = pd.DataFrame({"key": ["k"] * 3, "pid": order,
                        "sketch": [blobs[p] for p in order],
                        "n_rows": [1, 1, 1], "n_items": [200] * 3,
                        "total_count": [0] * 3})
    out = _merge_grouped_pdf(pdf)
    assert out["sketch"].iloc[0] == _fold([0, 1, 2], blobs).to_bytes()


def test_point_query_udf(spark, tokens_df, exact_counts):
    res = build_sketch(tokens_df, "tokens", CFG)
    some = list(exact_counts)[:500]
    keys_df = spark.createDataFrame([(k,) for k in some], "token int")
    out = keys_df.withColumn(
        "est", point_query_col(spark, res.sketch, F.col("token"))).collect()
    for r in out:
        assert r["est"] >= exact_counts[r["token"]]


def test_conservative_update_build(spark, tokens_df, exact_counts, tmp_path):
    tight = CMConfig(eps=2e-3, delta=0.05, seed=1337)
    small = tokens_df.limit(200).repartition(2)
    exact = {r["token"]: r["count"]
             for r in small.select(F.explode("tokens").alias("token"))
             .groupBy("token").count().collect()}
    path = str(tmp_path / "small.parquet")
    small.write.parquet(path)
    for build in (
            lambda **kw: build_sketch(small, "tokens", tight, **kw),
            lambda **kw: build_sketch_parquet(spark, path, "tokens", tight,
                                              **kw)):
        std = build()
        cu = build(cu=True)
        keys = np.fromiter(exact.keys(), dtype=np.int64)
        true = np.fromiter((exact[int(k)] for k in keys), dtype=np.int64)
        est_std = std.sketch.point_query_batch(keys)
        est_cu = cu.sketch.point_query_batch(keys)
        assert np.all(est_cu >= true)
        assert est_cu.sum() <= est_std.sum()


def test_grouped_parquet_direct_equivalence(spark, token_table_path):
    from sketchlib.spark_build import build_grouped_parquet
    df = spark.read.parquet(token_table_path)
    a = collect_grouped(build_grouped(df, "source", "tokens", CFG))
    b = collect_grouped(build_grouped_parquet(spark, token_table_path,
                                              "source", "tokens", CFG))
    assert set(a) == set(b)
    for k in a:
        assert a[k].to_bytes() == b[k].to_bytes(), k


def test_heavy_hitters_exact(spark, tokens_df):
    from sketchlib.spark_build import heavy_hitters
    phi = 0.002
    got = {r["token"]: r["cnt"]
           for r in heavy_hitters(tokens_df, "tokens", phi).collect()}
    exploded = tokens_df.select(F.explode("tokens").alias("token"))
    total = exploded.count()
    exact = {r["token"]: r["cnt"] for r in
             exploded.groupBy("token").agg(F.count("*").alias("cnt"))
             .filter(F.col("cnt") >= phi * total).collect()}
    assert got == exact and len(exact) > 0


def test_with_salt_splits_hot_key(spark, tokens_df):
    from sketchlib.spark_build import with_salt
    from pyspark.sql import functions as F2
    salted = with_salt(tokens_df, 8)
    # the 70%-hot "web" group splits into 8 balanced subgroups
    sub = (salted.filter(F2.col("source") == "web")
           .groupBy("_salt").count().collect())
    counts = [r["count"] for r in sub]
    assert len(counts) == 8
    assert max(counts) < 1.5 * min(counts)
    # two-phase aggregation over (key, salt) reproduces the direct result
    stage1 = salted.groupBy("source", "_salt").agg(F2.count("*").alias("c"))
    two_phase = {r["source"]: r["n"] for r in
                 stage1.groupBy("source").agg(F2.sum("c").alias("n")).collect()}
    direct = {r["source"]: r["n"] for r in
              tokens_df.groupBy("source").agg(F2.count("*").alias("n")).collect()}
    assert two_phase == direct


def test_point_query_cache_two_sketches_one_session(spark):
    """Regression (round-1 verdict #2): two different sketches queried in one
    session must each return their own estimates — the worker-side cache is
    keyed by content digest, never by a reusable id()."""
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    a = CountMinSketch(cfg)
    a.update_batch(np.full(5, 7, dtype=np.int64))
    b = CountMinSketch(cfg)
    b.update_batch(np.full(11, 7, dtype=np.int64))
    keys_df = spark.createDataFrame([(7,)], "token int")
    ea = keys_df.withColumn(
        "est", point_query_col(spark, a, F.col("token"))).collect()[0]["est"]
    eb = keys_df.withColumn(
        "est", point_query_col(spark, b, F.col("token"))).collect()[0]["est"]
    assert (ea, eb) == (5, 11)


def test_inner_product_rawlog_matches_two_sketch_and_bounds(spark, tokens_df):
    """Sketch × raw-log inner product (cm.h:723-785 semantics): one pass over
    the raw DataFrame must equal the two-sketch estimate bit-for-bit and
    upper-bound the exact join size."""
    from sketchlib.spark_build import inner_product_rawlog
    a_df = tokens_df.filter(F.col("source") == "web")
    b_df = tokens_df.filter(F.col("source") != "web")
    a = build_sketch(a_df, "tokens", CFG)
    b = build_sketch(b_df, "tokens", CFG)
    est_raw = inner_product_rawlog(spark, a.sketch, b_df, "tokens")
    assert est_raw == a.sketch.inner_product(b.sketch)

    fa = (a_df.select(F.explode("tokens").alias("t"))
          .groupBy("t").agg(F.count("*").alias("fa")))
    fb = (b_df.select(F.explode("tokens").alias("t"))
          .groupBy("t").agg(F.count("*").alias("fb")))
    exact = (fa.join(fb, "t")
             .agg(F.sum(F.col("fa") * F.col("fb")).alias("x"))
             .collect()[0]["x"]) or 0
    assert est_raw >= exact > 0


def test_inner_product_rawlog_parquet_matches(spark, token_table_path):
    from sketchlib.spark_build import (inner_product_rawlog,
                                       inner_product_rawlog_parquet)
    df = spark.read.parquet(token_table_path)
    res = build_sketch(df, "tokens", CFG)
    e1 = inner_product_rawlog(spark, res.sketch, df, "tokens")
    e2 = inner_product_rawlog_parquet(spark, res.sketch, token_table_path,
                                      "tokens")
    assert e1 == e2 > 0


@pytest.fixture(scope="module")
def multi_rg_path(tmp_path_factory):
    """A token table with several row groups (12.5k rows per group)."""
    from sketchlib.datagen import generate_token_table
    path = str(tmp_path_factory.mktemp("multirg") / "tok.parquet")
    generate_token_table(path, rows=30_000, seed=77, dist="zipf")
    return path


def test_checkpoint_slices_pinned_across_parallelism(spark, multi_rg_path,
                                                     tmp_path):
    """ADVICE (high): checkpointed parquet builds pin their slice assignment
    in SLICES.json — resume under a different (parallelism-derived) default
    n_slices reuses the pinned assignment instead of reinterpreting pids,
    a conflicting explicit n_slices is refused, and a changed row-group
    layout is refused."""
    from sketchlib.spark_build import build_sketch_parquet
    ckpt = str(tmp_path / "ck")
    full = build_sketch_parquet(spark, multi_rg_path, "tokens", CFG,
                                n_slices=3, checkpoint_dir=ckpt)

    with pytest.raises(ValueError, match="pinned n_slices"):
        build_sketch_parquet(spark, multi_rg_path, "tokens", CFG,
                             n_slices=2, checkpoint_dir=ckpt)

    # default n_slices (would be 4*defaultParallelism) resolves to pinned 3
    res = build_sketch_parquet(spark, multi_rg_path, "tokens", CFG,
                               checkpoint_dir=ckpt)
    assert res.sketch.to_bytes() == full.sketch.to_bytes()
    assert sorted(res.lineage["pid"]) == sorted(full.lineage["pid"])

    # changed row-group layout under the same checkpoint refuses to resume
    other = str(tmp_path / "other.parquet")
    from sketchlib.datagen import generate_token_table
    generate_token_table(other, rows=2_000, seed=78, dist="zipf")
    with pytest.raises(ValueError, match="row-group layout"):
        build_sketch_parquet(spark, other, "tokens", CFG,
                             checkpoint_dir=ckpt)


def test_pq_file_cache_invalidates_on_rewrite(tmp_path):
    """ADVICE (medium): the worker-side ParquetFile cache validates
    (mtime_ns, size) — a file rewritten at the same path is reopened."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sketchlib.spark_build import _pq_file
    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), p)
    pf1 = _pq_file(p)
    assert pf1.metadata.num_rows == 3
    assert _pq_file(p) is pf1  # cache hit while unchanged
    import os
    import time as _t
    _t.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    pq.write_table(pa.table({"x": [1, 2, 3, 4, 5]}), p)
    pf2 = _pq_file(p)
    assert pf2 is not pf1
    assert pf2.metadata.num_rows == 5


def test_sketch_table_equals_dense(spark, tokens_df):
    """The sketch-as-table build (counters as a distributed DataFrame, for
    ε too small for dense partials) must produce EXACTLY the dense build's
    counter matrix, and its join-based point queries must equal the dense
    sketch's estimates."""
    from sketchlib.spark_build import build_sketch_table, point_query_table
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1337)
    dense = build_sketch(tokens_df, "tokens", cfg)
    tbl = build_sketch_table(tokens_df, "tokens", cfg)
    mat = np.zeros((cfg.depth, cfg.width), dtype=np.int64)
    for r in tbl.collect():
        mat[r["row"], r["col"]] = r["cnt"]
    assert np.array_equal(mat, dense.sketch.table)

    some = (tokens_df.select(F.explode("tokens").alias("t"))
            .distinct().limit(200))
    est = {r["t"]: r["est"]
           for r in point_query_table(tbl, some, "t", cfg).collect()}
    keys = np.fromiter(est.keys(), dtype=np.int64)
    dense_est = dense.sketch.point_query_batch(keys)
    assert all(est[int(k)] == e for k, e in zip(keys, dense_est))


def test_sketch_table_flushes_byte_identical(spark, tokens_df):
    """The table build's HARD per-task memory bound (flush_triples) must
    not change the result: a tiny flush budget forces many flush epochs
    per task, and the reassembled dense sketch must be BYTE-identical
    (header included) to the ordinary dense build."""
    from sketchlib.spark_build import build_sketch_table, sketch_from_table
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1337)
    dense = build_sketch(tokens_df, "tokens", cfg)
    tbl = build_sketch_table(tokens_df, "tokens", cfg, flush_triples=257)
    cm = sketch_from_table(tbl, cfg)
    assert cm.to_bytes() == dense.sketch.to_bytes()


def test_small_eps_build_via_table_path(spark, tokens_df, exact_counts):
    """ε=1e-7/δ=e⁻³ (w≈2.7e7 → ~650 MB dense — past the comfort zone for
    per-task dense partials at real parallelism): the table path builds it
    with per-task memory bounded by flush_triples (here 1<<15 entries ≈
    1 MB), never materializing the width anywhere on an executor. Point
    queries through the probe join must exactly equal a dense reference
    build at the same config, and hold the one-sided CM guarantee."""
    from sketchlib.spark_build import build_sketch_table, point_query_table
    cfg = CMConfig(eps=1e-7, delta=math.exp(-3), seed=1337)
    tbl = build_sketch_table(tokens_df, "tokens", cfg,
                             flush_triples=1 << 15).cache()
    try:
        some = (tokens_df.select(F.explode("tokens").alias("t"))
                .distinct().limit(100))
        est = {r["t"]: r["est"]
               for r in point_query_table(tbl, some, "t", cfg).collect()}
        # dense reference build of the same stream, driver-local (the
        # feasible-scale byte-level comparator; at cluster scale this
        # sketch is exactly what the table path exists to avoid)
        toks = np.concatenate([np.asarray(r["tokens"], dtype=np.int32)
                               for r in tokens_df.select("tokens").collect()])
        ref = CountMinSketch(cfg)
        ref.update_batch(toks)
        keys = np.fromiter(est.keys(), dtype=np.int64)
        ref_est = ref.point_query_batch(keys)
        assert all(est[int(k)] == int(e) for k, e in zip(keys, ref_est))
        for k in keys:
            assert est[int(k)] >= exact_counts[int(k)]
    finally:
        tbl.unpersist()


def test_sources_resolution(spark, token_table_path, tmp_path):
    """Source adapter: parquet passes through; an Iceberg-shaped directory
    without the Iceberg runtime is refused loudly (reading its data files
    directly would resurrect snapshot-deleted rows); Iceberg identifiers
    demand the runtime."""
    from sketchlib import sources
    df = sources.read_table(spark, token_table_path)
    assert df.count() == spark.read.parquet(token_table_path).count()
    assert sources.parquet_scan_path(token_table_path) == token_table_path

    fake_iceberg = tmp_path / "tbl"
    (fake_iceberg / "metadata").mkdir(parents=True)
    (fake_iceberg / "metadata" / "v1.metadata.json").write_text("{}")
    (fake_iceberg / "data").mkdir()
    if not sources._iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg"):
            sources.read_table(spark, str(fake_iceberg))
        with pytest.raises(RuntimeError, match="runtime"):
            sources.read_table(spark, "iceberg:db.tokens")
    assert sources.parquet_scan_path(str(fake_iceberg)) is None
    assert sources.parquet_scan_path("iceberg:db.tokens") is None


def test_sql_registered_point_query(spark, tokens_df, exact_counts):
    """register_sql_udfs exposes the broadcast probe to spark.sql; the SQL
    surface returns the same one-sided estimates as point_query_col."""
    from sketchlib.spark_build import register_sql_udfs
    res = build_sketch(tokens_df, "tokens", CFG)
    register_sql_udfs(spark, {"cm_est_sql": res.sketch})
    (tokens_df.select(F.explode("tokens").alias("t")).limit(100)
     .createOrReplaceTempView("probe_tokens"))
    rows = spark.sql(
        "SELECT t, cm_est_sql(t) AS est FROM probe_tokens").collect()
    assert rows
    for r in rows:
        assert r["est"] >= exact_counts[r["t"]]


def test_weighted_build_from_counts_equals_exploded(spark, tokens_df,
                                                    exact_counts):
    """build_sketch_from_counts over the aggregated (token, cnt) table must
    produce the same counter matrix and total as the unit-update build
    (reference update(i, c) semantics, cm.h:482-488); n_items differs by
    design (one update per aggregate row)."""
    from sketchlib.spark_build import build_sketch_from_counts
    counts = (tokens_df.select(F.explode("tokens").alias("t"))
              .groupBy("t").agg(F.count("*").alias("cnt")))
    wb = build_sketch_from_counts(counts, "t", "cnt", CFG)
    direct = build_sketch(tokens_df, "tokens", CFG)
    assert np.array_equal(wb.sketch.table, direct.sketch.table)
    assert wb.sketch.total_count == direct.sketch.total_count
    keys = np.fromiter(exact_counts.keys(), dtype=np.int64)
    assert np.array_equal(wb.sketch.point_query_batch(keys),
                          direct.sketch.point_query_batch(keys))


def test_checkpoint_resume_ignores_changed_default_parallelism(tmp_path):
    """Resume with n_slices=None must reuse the PINNED assignment even when
    the parallelism-derived default changed (different core count) — only
    an EXPLICIT conflicting n_slices is an error."""
    import pytest as _pytest

    from sketchlib.spark_build import _pin_checkpoint_slices

    rgs = [("f.parquet", i, 1000) for i in range(64)]
    ckpt = str(tmp_path / "ckpt")
    # first run on a "32-core" host: default 128 slices
    assert _pin_checkpoint_slices(ckpt, rgs, None, 64) == 64
    # resume on an "8-core" host: default would be 32 — pinned 64 wins
    assert _pin_checkpoint_slices(ckpt, rgs, None, 32) == 64
    # explicit conflicting value still refuses
    with _pytest.raises(ValueError, match="pinned n_slices"):
        _pin_checkpoint_slices(ckpt, rgs, 32, 32)
    # explicit matching value is fine
    assert _pin_checkpoint_slices(ckpt, rgs, 64, 32) == 64


def test_assign_df_exactly_one_row_per_partition(spark):
    """Assignment placement (BENCH/BASELINE.md Session M): every
    assignment row must land in its OWN task. The old
    createDataFrame().repartition(k) round-robin started at a random
    offset per source partition, collapsing k one-task assignments onto
    ~(1-1/e)*k workers — wall clock then ran 2-3 chunk durations."""
    from sketchlib.spark_build import _assign_df

    for n in (1, 2, 7, 32, 65):
        rows = [(i, i * 10, 10) for i in range(n)]
        df = _assign_df(spark, rows, "chunk int, start bigint, n int")
        assert df.rdd.getNumPartitions() == n
        per_part = df.rdd.glom().map(len).collect()
        assert per_part == [1] * n
        # content preserved, pids exact
        assert sorted(r["chunk"] for r in df.collect()) == list(range(n))


def test_build_per_file_parquet_matches_single_file_builds(spark, tmp_path):
    """The data-skipping index builder: each file's sketch is
    byte-identical to a standalone build over that file alone, keys are
    the manifest-relative file names, and restricting ``files=`` to a
    subset (the incremental delta) yields exactly that subset's rows."""
    import os

    from sketchlib import serde
    from sketchlib.datagen import generate_token_table
    from sketchlib.spark_build import (build_per_file_parquet,
                                       build_sketch_parquet)

    data = str(tmp_path / "data")
    os.makedirs(data)
    for lbl, rows, seed in (("a", 500, 41), ("b", 400, 42)):
        generate_token_table(os.path.join(data, f"{lbl}.parquet"),
                             rows=rows, seed=seed, dist="zipf")
    cfg = CMConfig(1e-3, math.exp(-3), seed=7)

    out = {r["key"]: r for r in
           build_per_file_parquet(spark, data, "tokens", cfg).collect()}
    assert sorted(out) == ["a.parquet", "b.parquet"]
    for key, r in out.items():
        solo = build_sketch_parquet(
            spark, os.path.join(data, key), "tokens", cfg)
        assert serde.loads(bytes(r["sketch"])).to_bytes() == \
            solo.sketch.to_bytes()
        assert int(r["n_rows"]) == solo.n_rows

    only_b = build_per_file_parquet(
        spark, data, "tokens", cfg,
        files=[os.path.join(data, "b.parquet")]).collect()
    assert [r["key"] for r in only_b] == ["b.parquet"]
    assert bytes(only_b[0]["sketch"]) == bytes(out["b.parquet"]["sketch"])


def _run_jobs(spark, group, fn):
    """(fn(), number of Spark jobs it started)."""
    import uuid
    sc = spark.sparkContext
    group = f"{group}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_build_runs_one_spark_job(spark, multi_rg_path):
    """The merge planner's driver fold: one job collects every partial
    with its lineage, and the driver folds the blobs (no persist, no
    separate lineage collect, no merge shuffle)."""
    import pyarrow.parquet as pq
    from sketchlib.spark_build import build_sketch_parquet

    res, jobs = _run_jobs(spark, "one-job-build", lambda: build_sketch_parquet(
        spark, multi_rg_path, "tokens", CFG))
    assert jobs == 1
    ref = CountMinSketch(CFG)
    ref.update_batch(pq.read_table(multi_rg_path, columns=["tokens"])
                     .column(0).combine_chunks().flatten().to_numpy())
    assert res.sketch.to_bytes() == ref.to_bytes()
    assert len(res.lineage) > 1 and res.n_rows == 30_000


@pytest.fixture(scope="module")
def small_vocab_path(tmp_path_factory):
    """Eight row groups of Zipf-skewed list<int32> tokens over 600 keys.
    Fewer keys than the catalog MG's k=1024, so no MG update or merge
    ever shrinks and its merges are additions like the other kinds'."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(5)
    lens = rng.integers(1, 60, 800)
    vals = (rng.zipf(1.3, int(lens.sum())) % 600).astype(np.int32)
    offsets = pa.array(np.r_[0, np.cumsum(lens)].astype(np.int32))
    path = str(tmp_path_factory.mktemp("vocab") / "t.parquet")
    pq.write_table(pa.table({"tokens": pa.ListArray.from_arrays(
        offsets, pa.array(vals))}), path, row_group_size=100)
    return path


@pytest.mark.parametrize("kind", ["cm", "catalog_multi"])
def test_merge_planner_paths_byte_identical(spark, small_vocab_path,
                                            monkeypatch, tmp_path, kind):
    """One table built four ways — in-process, driver fold, a 2-level
    shuffle tree (one stage + the driver) and a 3-level one (two stages)
    — gives byte-identical sketches and lineage of one shape, which an
    empty build shares."""
    from sketchlib import spark_build as sb
    from sketchlib.catalog import _factory_from_spec, _normalize_kinds

    if kind == "cm":
        def build(path, fanout=None):
            return sb.build_sketch_parquet(spark, path, "tokens", CFG,
                                           n_slices=8, fanout=fanout)
    else:
        fac = _factory_from_spec({"kinds": _normalize_kinds(
            ["cm", "theta", "mg", "bloom"])})

        def build(path, fanout=None):
            return sb.build_aggregator_parquet(spark, path, "tokens", fac,
                                               n_slices=8, fanout=fanout)

    stages = []
    real_tree = sb._shuffle_tree

    def counting_tree(partials, fanout, n_partials):
        out = real_tree(partials, fanout, n_partials)
        stages.append(str(out._jdf.queryExecution().analyzed())
                      .count("FlatMapGroupsInPandas"))
        return out

    monkeypatch.setattr(sb, "_shuffle_tree", counting_tree)
    local, jobs = _run_jobs(spark, "in-process", lambda: build(
        small_vocab_path))
    assert jobs == 0
    monkeypatch.setattr(sb, "_IN_PROCESS_MAX_BYTES", -1)
    driver, jobs = _run_jobs(spark, "driver-fold", lambda: build(
        small_vocab_path))
    assert jobs == 1 and stages == []
    monkeypatch.setattr(sb, "_DRIVER_FOLD_MAX_BYTES", -1)
    two = build(small_vocab_path, fanout=3)      # 8 partials <= 3^2
    three = build(small_vocab_path, fanout=2)    # 8 partials > 2^2
    assert stages == [1, 2]

    want = local.sketch.to_bytes()
    for res in (driver, two, three):
        assert res.sketch.to_bytes() == want
        assert res.n_rows == 800
        pd_cols = ["pid", "n_rows", "n_items", "total_count"]
        assert res.lineage[pd_cols].equals(local.lineage[pd_cols])
    assert list(local.lineage["pid"]) == list(range(8))

    (tmp_path / "empty").mkdir()
    empty = build(str(tmp_path / "empty"))
    assert empty.n_rows == 0 and len(empty.lineage) == 0
    shape = list(local.lineage.dtypes.items())
    for res in (driver, two, three, empty):
        assert list(res.lineage.dtypes.items()) == shape


def test_order_sensitive_merges_fold_in_pid_order(spark, small_vocab_path,
                                                  monkeypatch):
    """Misra-Gries merges depend on order once they shrink (k=8 here). The
    in-process path and the driver fold fold the same slice partials in
    pid order, so they agree byte for byte, and a tree build repeats
    itself exactly."""
    import functools

    from sketchlib import spark_build as sb
    from sketchlib.mg import MisraGries

    fac = functools.partial(MisraGries, 8)

    def build(fanout=None):
        return sb.build_aggregator_parquet(
            spark, small_vocab_path, "tokens", fac, n_slices=8,
            fanout=fanout).sketch.to_bytes()

    local = build()
    monkeypatch.setattr(sb, "_IN_PROCESS_MAX_BYTES", -1)
    assert build() == local
    monkeypatch.setattr(sb, "_DRIVER_FOLD_MAX_BYTES", -1)
    assert build(fanout=2) == build(fanout=2)
