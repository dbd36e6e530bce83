"""Count-Min core tests — reproduces the reference's correctness harnesses
(SURVEY.md §5 items 2-3).

- error-bound / one-sidedness: mirrors error_bench.cpp:22-73 (exact dict
  oracle, seed 1337, uniform uint32 keys + uint32 counts), scaled down.
- merge algebra: byte-identical serialization under any partition split and
  merge order, equal to the single-pass sketch (cm.h:849-857 semantics;
  BASELINE.json merge invariant).
"""

import math

import numpy as np
import pytest

from sketchlib.countmin import CMConfig, CountMinSketch


def _error_bench_stream(n=10_000, u=2_000, seed=1337):
    """Shape of error_bench.cpp:22-47: u distinct-ish uniform uint32 keys,
    uniform uint32-ish counts (scaled to avoid float-weight precision loss),
    exact dict oracle."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 2**32, size=u, dtype=np.uint64)
    counts = rng.integers(1, 1000, size=u, dtype=np.int64)
    return keys, counts


@pytest.fixture(scope="module")
def bench_sketch():
    n = 10_000
    keys, counts = _error_bench_stream(n=n)
    # error_bench.cpp:30: eps = e/(10n), delta = e^-3 (d = 3)
    cfg = CMConfig(eps=math.e / (10 * n), delta=math.exp(-3), seed=1337)
    cm = CountMinSketch(cfg)
    cm.update_batch(keys, counts)
    exact = {}
    for k, c in zip(keys.tolist(), counts.tolist()):
        exact[k] = exact.get(k, 0) + c
    return cm, exact


def test_shape_matches_reference_formulas():
    cfg = CMConfig(eps=math.e / (10 * 10_000), delta=math.exp(-3), seed=1337)
    assert cfg.width == 10 * 10_000  # w = ceil(e/eps) = 10n, cm.h:397
    assert cfg.depth == 3            # d = ceil(ln(1/delta)), cm.h:398
    assert len(cfg.row_seeds) == 3


def test_one_sided_error(bench_sketch):
    """Every estimate >= true count (non-negative updates) — CM guarantee."""
    cm, exact = bench_sketch
    keys = np.array(list(exact), dtype=np.uint64)
    est = cm.point_query_batch(keys)
    true = np.array([exact[k] for k in keys.tolist()])
    assert np.all(est >= true)


def test_epsilon_bound(bench_sketch):
    """fraction of queries with err <= eps*||f||1 is >= 1-delta."""
    cm, exact = bench_sketch
    keys = np.array(list(exact), dtype=np.uint64)
    est = cm.point_query_batch(keys)
    true = np.array([exact[k] for k in keys.tolist()])
    l1 = sum(exact.values())
    assert cm.total_count == l1
    bound = cm.cfg.eps * l1
    frac_ok = float(np.mean((est - true) <= bound))
    assert frac_ok >= 1 - cm.cfg.delta


def test_absent_key_estimates_bounded(bench_sketch):
    cm, exact = bench_sketch
    rng = np.random.default_rng(7)
    absent = rng.integers(2**33, 2**34, size=1000, dtype=np.uint64)
    est = cm.point_query_batch(absent)
    assert np.all(est >= 0)
    bound = cm.cfg.eps * cm.total_count
    assert float(np.mean(est <= bound)) >= 1 - cm.cfg.delta


def test_merge_any_order_byte_identical():
    keys, counts = _error_bench_stream(n=5_000, u=5_000)
    cfg = CMConfig(eps=1e-3, delta=0.01, seed=1337)
    single = CountMinSketch(cfg)
    single.update_batch(keys, counts)
    ref_bytes = single.to_bytes()

    rng = np.random.default_rng(99)
    for trial in range(4):
        n_parts = int(rng.integers(2, 9))
        assign = rng.integers(0, n_parts, size=keys.shape[0])
        partials = []
        for p in range(n_parts):
            cm = CountMinSketch(cfg)
            m = assign == p
            cm.update_batch(keys[m], counts[m])
            partials.append(cm)
        order = rng.permutation(n_parts)
        acc = CountMinSketch(cfg)
        for i in order:
            acc.merge(partials[i])
        assert acc.to_bytes() == ref_bytes


def test_merge_config_mismatch_rejected():
    a = CountMinSketch(CMConfig(eps=1e-3, delta=0.01, seed=1))
    b = CountMinSketch(CMConfig(eps=1e-3, delta=0.01, seed=2))
    with pytest.raises(ValueError):
        a.merge(b)


def test_serialization_roundtrip(bench_sketch):
    cm, _ = bench_sketch
    buf = cm.to_bytes()
    back = CountMinSketch.from_bytes(buf)
    assert back.cfg == cm.cfg
    assert back.n_items == cm.n_items
    assert back.total_count == cm.total_count
    assert np.array_equal(back.table, cm.table)
    assert back.to_bytes() == buf


def test_conservative_update_tighter_and_one_sided():
    keys, counts = _error_bench_stream(n=2_000, u=2_000)
    # deliberately tight sketch so collisions happen
    cfg = CMConfig(eps=5e-3, delta=0.05, seed=1337)
    std = CountMinSketch(cfg)
    std.update_batch(keys, counts)
    cu = CountMinSketch(cfg)
    cu.update_batch_cu(keys, counts)

    uniq = np.unique(keys)
    exact = {}
    for k, c in zip(keys.tolist(), counts.tolist()):
        exact[k] = exact.get(k, 0) + c
    true = np.array([exact[k] for k in uniq.tolist()])
    est_std = std.point_query_batch(uniq)
    est_cu = cu.point_query_batch(uniq)
    assert np.all(est_cu >= true)        # still an upper bound
    assert np.all(est_cu <= est_std)     # never worse than standard CM
    assert est_cu.sum() < est_std.sum()  # strictly tighter under collisions


def test_inner_product_upper_bound():
    rng = np.random.default_rng(1337)
    cfg = CMConfig(eps=1e-3, delta=math.exp(-3), seed=1337)
    ka = rng.integers(0, 500, size=4000, dtype=np.uint64)
    kb = rng.integers(0, 500, size=4000, dtype=np.uint64)
    a, b = CountMinSketch(cfg), CountMinSketch(cfg)
    a.update_batch(ka)
    b.update_batch(kb)
    fa = np.bincount(ka.astype(np.int64), minlength=500)
    fb = np.bincount(kb.astype(np.int64), minlength=500)
    true_ip = int(fa @ fb)
    est = a.inner_product(b)
    assert est >= true_ip
    assert est <= true_ip + cfg.eps * a.total_count * b.total_count


def test_update_without_counts_is_count_one():
    cfg = CMConfig(eps=1e-2, delta=0.01)
    cm = CountMinSketch(cfg)
    cm.update_batch(np.array([5, 5, 5, 9], dtype=np.int64))
    assert cm.point_query(5) >= 3
    assert cm.total_count == 4
    assert cm.n_items == 4


def test_clear():
    cfg = CMConfig(eps=1e-2, delta=0.01)
    cm = CountMinSketch(cfg)
    cm.update_batch(np.arange(100))
    cm.clear()
    assert cm.table.sum() == 0 and cm.n_items == 0 and cm.total_count == 0


def test_error_histogram_reproducible():
    """error_bench.cpp:48-72 reproduction: 20-bucket histogram of
    abs(est - true), deterministic run-to-run, mass concentrated at zero
    error for the reference's eps = e/(10n) sizing."""
    def run():
        keys, counts = _error_bench_stream(n=10_000, u=10_000)
        cfg = CMConfig(eps=math.e / (10 * 10_000), delta=math.exp(-3), seed=1337)
        cm = CountMinSketch(cfg)
        cm.update_batch(keys, counts)
        exact = {}
        for k, c in zip(keys.tolist(), counts.tolist()):
            exact[k] = exact.get(k, 0) + c
        ks = np.fromiter(exact.keys(), dtype=np.uint64)
        true = np.fromiter((exact[int(k)] for k in ks), dtype=np.int64)
        err = cm.point_query_batch(ks) - true
        hist, _ = np.histogram(err, bins=20, range=(0, max(int(err.max()), 1) + 1))
        return hist

    h1, h2 = run(), run()
    assert np.array_equal(h1, h2)          # deterministic, like seeded bench
    assert h1[0] >= 0.95 * h1.sum()        # nearly all queries exact at this eps


def test_sparse_serialization_roundtrip_and_auto():
    """Sparse partial encoding (CMSP): roundtrips to the identical dense
    sketch, is much smaller for slices touching few counters, auto-selects
    by size, and merges interchangeably with dense blobs."""
    from sketchlib import serde
    cfg = CMConfig(eps=1e-3, delta=0.01, seed=7)
    cm = CountMinSketch(cfg)
    cm.update_batch(np.arange(50, dtype=np.int64))
    blob = cm.to_bytes_sparse()
    assert blob[:4] == b"CMSP"
    assert len(blob) < len(cm.to_bytes()) / 10
    rt = CountMinSketch.from_bytes(blob)
    assert rt.to_bytes() == cm.to_bytes()
    assert cm.to_bytes_auto()[:4] == b"CMSP"

    # near-full table: auto stays dense (sparse would be larger)
    dense_cfg = CMConfig(eps=0.5, delta=0.5, seed=7)
    big = CountMinSketch(dense_cfg)
    big.update_batch(np.arange(10_000, dtype=np.int64) % 1000)
    assert big.to_bytes_auto()[:4] == b"CMSK"

    # serde dispatch + mixed-encoding merge == pure-dense merge
    m = serde.loads(cm.to_bytes_sparse()).merge(serde.loads(cm.to_bytes()))
    two = CountMinSketch(cfg)
    two.update_batch(np.arange(50, dtype=np.int64))
    two.update_batch(np.arange(50, dtype=np.int64))
    assert m.to_bytes() == two.to_bytes()
    # dumps_partial picks the compact form for sketches that support it
    assert serde.dumps_partial(cm)[:4] == b"CMSP"


def test_cu_chunked_equals_sequential():
    """The chunked-vectorized CU must be bit-identical to the pure
    sequential sorted-unique order at any width (collision-free chunks
    don't interact; dirty chunks keep the scalar order)."""
    import math

    import numpy as np

    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.hashing import tokens_to_u64

    rng = np.random.default_rng(5)
    for eps in (0.1, 1e-3):  # w=28 (heavy collisions) and w=2719
        cfg = CMConfig(eps=eps, delta=math.exp(-3), seed=1337)
        keys = rng.integers(0, 50_000, size=30_000, dtype=np.int64)
        cm = CountMinSketch(cfg)
        cm.update_batch_cu(keys)
        # reference: pure sequential loop over sorted uniques
        ref = CountMinSketch(cfg)
        u64 = tokens_to_u64(keys)
        uniq, inv = np.unique(u64, return_inverse=True)
        agg = np.bincount(inv).astype(np.int64)
        cols = ref._columns(uniq)
        rows = np.arange(cfg.depth)
        for i in range(uniq.shape[0]):
            ci = cols[:, i]
            cur = ref.table[rows, ci]
            new = cur.min() + agg[i]
            np.maximum(cur, new, out=cur)
            ref.table[rows, ci] = cur
        assert np.array_equal(cm.table, ref.table), eps


def test_unique_counts_matches_np_unique():
    """_unique_counts (persistent-workspace preaggregation) must return the
    same values and counts as np.unique(return_counts=True), across
    dtypes, duplicate structures, and repeated calls (workspace reuse)."""
    import numpy as np
    from sketchlib.countmin import _unique_counts

    rng = np.random.default_rng(3)
    cases = [
        np.array([5, 5], dtype=np.int32),
        np.array([3, 1], dtype=np.int32),
        np.full(1000, 7, dtype=np.int32),
        rng.integers(0, 50, size=10_000).astype(np.int32),
        rng.integers(0, 2**31 - 1, size=100_000, dtype=np.int64),
        rng.zipf(1.3, 200_000).astype(np.int64),
    ]
    for arr in cases:
        want_v, want_c = np.unique(arr, return_counts=True)
        got_v, got_c = _unique_counts(arr)
        np.testing.assert_array_equal(np.asarray(got_v), want_v)
        np.testing.assert_array_equal(np.asarray(got_c, dtype=np.int64), want_c)
        assert got_c.dtype == np.float64


def test_concurrent_sketch_builds_thread_safe():
    """Round-5 regression (same family as the hashing workspace race):
    _unique_counts returns VIEWS into a reused workspace that used to be
    process-global — two driver threads building sketches concurrently
    (the selfcheck fan-out) could interleave sorts and silently corrupt
    (vals, counts). Workspaces are thread-local now; concurrent builds
    must be byte-identical to single-threaded ones."""
    from concurrent.futures import ThreadPoolExecutor

    from sketchlib.countmin import CMConfig, CountMinSketch

    rng = np.random.default_rng(42)
    streams = [rng.zipf(1.2, 200_000).astype(np.int64) % 50_000
               for _ in range(6)]
    cfg = CMConfig(eps=1e-3, delta=0.01, seed=1337)

    def build(toks):
        cm = CountMinSketch(cfg)
        cm.update_batch(toks, preaggregate=True)
        return cm.to_bytes()

    expected = [build(s) for s in streams]
    with ThreadPoolExecutor(max_workers=6) as pool:
        for _ in range(4):
            got = list(pool.map(build, streams))
            assert got == expected


@pytest.mark.parametrize("dist", ["zipf", "uniform"])
def test_chunked_preaggregation_equals_one_pass(monkeypatch, dist):
    """update_batch pre-aggregates in _AGG_CHUNK-key chunks; over several
    chunks' worth of keys the sketch equals one whole-batch pass and one
    pass with no pre-aggregation, byte for byte, with equal n_items and
    total_count."""
    cfg = CMConfig(eps=1e-3, delta=0.01, seed=1337)
    n = 3 * CountMinSketch._AGG_CHUNK + 12_345
    rng = np.random.default_rng(7)
    keys = (rng.zipf(1.2, n) % 100_000 if dist == "zipf"
            else rng.integers(0, 2**31 - 1, n)).astype(np.int32)

    def build(**kw):
        cm = CountMinSketch(cfg)
        cm.update_batch(keys, **kw)
        return cm

    chunked = build()
    unaggregated = build(preaggregate=False)
    monkeypatch.setattr(CountMinSketch, "_AGG_CHUNK", n)
    whole = build()
    for other in (whole, unaggregated):
        assert chunked.to_bytes() == other.to_bytes()
        assert (chunked.n_items, chunked.total_count) == \
            (other.n_items, other.total_count) == (n, n)


def test_preaggregation_workspace_stays_one_chunk():
    """A 10 M-key update_batch leaves its thread's _unique_counts
    workspace no larger than one pre-aggregation chunk."""
    import threading

    from sketchlib import countmin

    cfg = CMConfig(eps=1e-3, delta=0.01, seed=1337)
    keys = np.random.default_rng(3).integers(0, 2**31 - 1, 10_000_000,
                                             dtype=np.int32)
    sizes = []

    def run():
        CountMinSketch(cfg).update_batch(keys)
        sizes.extend(a.shape[0] for ws in countmin._UC_TLS.ws.values()
                     for a in ws)

    t = threading.Thread(target=run)
    t.start()
    t.join()
    assert sizes and max(sizes) <= CountMinSketch._AGG_CHUNK
