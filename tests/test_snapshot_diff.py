"""Snapshot diffs of linear sketches: new.subtract(old) over an
append-only stream is bit-for-bit the sketch of the appended delta
(merge identity inverted), so every estimate guarantee holds on the
delta. Non-prefix CM subtraction and non-linear types are refused."""

import functools
import math
import os
import shutil

import numpy as np
import pytest

from sketchlib.countmin import CMConfig, CountMinSketch
from sketchlib.countsketch import CSConfig, CountSketch
from sketchlib.datagen import generate_token_table
from sketchlib.hll import HllSketch
from sketchlib.incremental import incremental_build, snapshot_diff
from sketchlib.multi import MultiSketch

CFG = CMConfig(eps=1e-3, delta=math.exp(-3), seed=7)


def _rng_tokens(seed, n):
    return np.random.default_rng(seed).zipf(1.3, n).astype(np.int64)


def test_cm_subtract_is_exactly_the_delta_sketch():
    a, b = _rng_tokens(1, 40_000), _rng_tokens(2, 10_000)
    old = CountMinSketch(CFG)
    old.update_batch(a)
    new = CountMinSketch(CFG)
    new.update_batch(a)
    new.update_batch(b)
    delta = CountMinSketch(CFG)
    delta.update_batch(b)
    assert new.subtract(old).to_bytes() == delta.to_bytes()


def test_cm_subtract_refuses_non_prefix():
    old = CountMinSketch(CFG)
    old.update_batch(_rng_tokens(1, 10_000))
    new = CountMinSketch(CFG)
    new.update_batch(_rng_tokens(2, 10_000))   # unrelated stream
    before = new.to_bytes()
    with pytest.raises(ValueError, match="prefix snapshot"):
        new.subtract(old)
    assert new.to_bytes() == before            # refused => unmodified
    # swapped operands (old bigger) also refused, via n_items fast path
    big = CountMinSketch(CFG)
    big.update_batch(_rng_tokens(1, 20_000))
    small = CountMinSketch(CFG)
    small.update_batch(_rng_tokens(1, 10_000))
    with pytest.raises(ValueError, match="prefix snapshot"):
        small.subtract(big)


def test_cm_subtract_config_mismatch_refused():
    other = CountMinSketch(CMConfig(eps=1e-3, delta=math.exp(-3), seed=8))
    mine = CountMinSketch(CFG)
    with pytest.raises(ValueError, match="configs differ"):
        mine.subtract(other)


def test_countsketch_subtract_signed_difference():
    cs_cfg = CSConfig(width=4096, depth=5, seed=11)
    a, b = _rng_tokens(3, 30_000), _rng_tokens(4, 30_000)
    sa = CountSketch(cs_cfg)
    sa.update_batch(a)
    sb = CountSketch(cs_cfg)
    sb.update_batch(b)
    diff = CountSketch(cs_cfg)
    diff.update_batch(a)
    diff.subtract(sb)
    # prefix snapshots: bit-identity, same as CM
    sab = CountSketch(cs_cfg)
    sab.update_batch(a)
    sab.update_batch(b)
    only_b = CountSketch(cs_cfg)
    only_b.update_batch(b)
    sab.subtract(sa)
    assert sab.to_bytes() == only_b.to_bytes()
    # unrelated streams: estimates track the SIGNED difference
    exact_a = int((a == 1).sum())
    exact_b = int((b == 1).sum())
    est = diff.point_query(1)
    keys = np.unique(np.concatenate([a, b]))
    fa = np.zeros(len(keys))
    ka, ca = np.unique(a, return_counts=True)
    fa[np.searchsorted(keys, ka)] = ca
    fb = np.zeros(len(keys))
    kb, cb = np.unique(b, return_counts=True)
    fb[np.searchsorted(keys, kb)] = cb
    l2 = math.sqrt(float(((fa - fb) ** 2).sum()))
    assert abs(est - (exact_a - exact_b)) <= 3 * l2 / math.sqrt(4096) + 1e-9


def test_snapshot_diff_from_store(spark, tmp_path):
    data, st = str(tmp_path / "data"), str(tmp_path / "store")
    os.makedirs(data)
    fac = functools.partial(CountMinSketch, CFG)

    def _part(name, rows, seed):
        src = str(tmp_path / "_src.parquet")
        generate_token_table(src, rows=rows, seed=seed, dist="zipf")
        shutil.move(src, os.path.join(data, name))

    _part("p0.parquet", 800, 21)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")
    _part("p1.parquet", 300, 22)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")

    from sketchlib.spark_build import build_aggregator_parquet
    delta = snapshot_diff(spark, st, "cm", seq_old=0)     # latest - seq0
    direct = build_aggregator_parquet(
        spark, data, "tokens", fac,
        files=[os.path.join(data, "p1.parquet")])
    assert delta.to_bytes() == direct.sketch.to_bytes()


def test_snapshot_diff_table(spark, tmp_path):
    """Table-regime diff: epoch_new − epoch_old (full-outer counter
    subtraction) equals a direct table build over only the appended
    file; swapped operands are refused."""
    import pytest as _pytest
    from sketchlib.incremental import (incremental_build_table,
                                       snapshot_diff_table)
    from sketchlib.spark_build import build_sketch_table, sketch_from_table
    data, st = str(tmp_path / "data"), str(tmp_path / "store")
    os.makedirs(data)

    def _part(name, rows, seed):
        src = str(tmp_path / "_src.parquet")
        generate_token_table(src, rows=rows, seed=seed, dist="zipf")
        shutil.move(src, os.path.join(data, name))

    _part("p0.parquet", 800, 21)
    incremental_build_table(spark, data, "tokens", CFG,
                            store_path=st, name="tb")
    _part("p1.parquet", 300, 22)
    incremental_build_table(spark, data, "tokens", CFG,
                            store_path=st, name="tb")

    diff = snapshot_diff_table(spark, st, "tb", seq_old=0)
    direct = build_sketch_table(
        spark.read.parquet(os.path.join(data, "p1.parquet")),
        "tokens", CFG)
    assert (sketch_from_table(diff, CFG).to_bytes()
            == sketch_from_table(direct, CFG).to_bytes())
    with _pytest.raises(ValueError, match="outside the current lineage"):
        snapshot_diff_table(spark, st, "tb", seq_old=1, seq_new=0)


def test_snapshot_diff_refuses_cross_lineage(spark, tmp_path):
    """Seqs below a rebuild's lineage base (the ``base`` its ``ingested/``
    commit marker records) describe a dead table state; both diff paths
    refuse them even when no counter would go negative."""
    from sketchlib.incremental import (incremental_build,
                                       incremental_build_table,
                                       snapshot_diff, snapshot_diff_table)
    data, st = str(tmp_path / "data"), str(tmp_path / "store")
    os.makedirs(data)
    fac = functools.partial(CountMinSketch, CFG)

    def _part(name, rows, seed):
        src = str(tmp_path / "_src.parquet")
        generate_token_table(src, rows=rows, seed=seed, dist="zipf")
        shutil.move(src, os.path.join(data, name))

    _part("p0.parquet", 300, 1)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")
    # rewrite: a strictly larger file at the same path (no counter in the
    # rebuilt sketch is below the seq-0 one) then rebuild
    _part("p0.parquet", 900, 1)
    incremental_build(spark, data, "tokens", fac, store_path=st,
                      name="cm", rebuild=True)
    with pytest.raises(ValueError, match="predates the lineage"):
        snapshot_diff(spark, st, "cm", seq_old=0)

    incremental_build_table(spark, data, "tokens", CFG,
                            store_path=st, name="tb")
    _part("p1.parquet", 200, 2)
    incremental_build_table(spark, data, "tokens", CFG,
                            store_path=st, name="tb", rebuild=True)
    with pytest.raises(ValueError, match="outside the current lineage"):
        snapshot_diff_table(spark, st, "tb", seq_old=0)


def test_grouped_null_keys_refused(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sketchlib.incremental import incremental_build_grouped
    data = str(tmp_path / "data")
    os.makedirs(data)
    t = pa.table({
        "doc_id": ["a", "b"],
        "tokens": pa.array([[1, 2], [3]], type=pa.list_(pa.int32())),
        "n_tok": pa.array([2, 1], type=pa.int32()),
        "source": pa.array(["web", None], type=pa.string())})
    pq.write_table(t, os.path.join(data, "p.parquet"))
    fac = functools.partial(CountMinSketch, CFG)
    with pytest.raises(ValueError, match="NULL keys"):
        incremental_build_grouped(spark, data, "source", "tokens", fac,
                                  store_path=str(tmp_path / "st"), name="g")


def test_snapshot_diff_refuses_nonlinear(spark, tmp_path):
    data, st = str(tmp_path / "data"), str(tmp_path / "store")
    os.makedirs(data)
    fac = functools.partial(MultiSketch, (
        functools.partial(CountMinSketch, CFG),
        functools.partial(HllSketch, 10, 7)))
    src = str(tmp_path / "_src.parquet")
    generate_token_table(src, rows=500, seed=5)
    shutil.move(src, os.path.join(data, "p0.parquet"))
    incremental_build(spark, data, "tokens", fac, store_path=st, name="m")
    src2 = str(tmp_path / "_src2.parquet")
    generate_token_table(src2, rows=200, seed=6)
    shutil.move(src2, os.path.join(data, "p1.parquet"))
    incremental_build(spark, data, "tokens", fac, store_path=st, name="m")
    with pytest.raises(TypeError, match="not a linear sketch"):
        snapshot_diff(spark, st, "m", seq_old=0)
