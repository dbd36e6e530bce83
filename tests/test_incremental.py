"""Incremental sketch maintenance (sketchlib.incremental): byte-identity
to a from-scratch rebuild, delta-only scanning, no-op detection,
append-only violation refusal, rebuild recovery, and the extract hook."""

import functools
import math
import os
import shutil

import pytest

from sketchlib.countmin import CMConfig, CountMinSketch
from sketchlib.datagen import generate_token_table
from sketchlib.hll import HllSketch
from sketchlib.incremental import incremental_build
from sketchlib.multi import MultiSketch
from sketchlib.spark_build import build_aggregator_parquet

CFG = CMConfig(eps=1e-3, delta=math.exp(-3), seed=7)


def _factory():
    return MultiSketch((functools.partial(CountMinSketch, CFG),
                        functools.partial(HllSketch, 10, 7)))


def _write_part(table_dir, part, rows, seed):
    src = str(table_dir / f"_src{part}.parquet")
    generate_token_table(src, rows=rows, seed=seed, dist="zipf")
    os.makedirs(table_dir / "data", exist_ok=True)
    shutil.move(src, table_dir / "data" / f"part{part}.parquet")


@pytest.fixture()
def table(tmp_path):
    _write_part(tmp_path, 0, rows=500, seed=11)
    return tmp_path


def test_incremental_equals_full_rebuild(spark, table, tmp_path):
    store_path = str(tmp_path / "store")
    data = str(table / "data")

    r0 = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm")
    assert r0.prev_seq is None and r0.seq == 0 and not r0.no_op
    assert r0.new_rows == 500

    # table grows: append two more file sets
    _write_part(table, 1, rows=300, seed=22)
    r1 = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm")
    assert r1.prev_seq == 0 and r1.seq == 1
    assert r1.new_rows == 300          # scanned ONLY the appended files

    _write_part(table, 2, rows=200, seed=33)
    r2 = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm")
    assert r2.new_rows == 200

    full = build_aggregator_parquet(spark, data, "tokens", _factory)
    assert r2.sketch.to_bytes() == full.sketch.to_bytes()
    assert full.n_rows == 1000


def test_no_new_files_is_a_no_op(spark, table, tmp_path):
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    r0 = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm")
    r1 = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm")
    assert r1.no_op and r1.seq == r0.seq == 0
    assert r1.new_files == 0 and r1.new_rows == 0
    assert r1.sketch.to_bytes() == r0.sketch.to_bytes()


def test_mutated_file_refused_and_rebuild_recovers(spark, table, tmp_path):
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    incremental_build(spark, data, "tokens", _factory,
                      store_path=store_path, name="cm")

    # in-place rewrite: same paths, different content/size
    for name in os.listdir(data):
        with open(os.path.join(data, name), "ab") as f:
            f.write(b"\x00" * 13)
    with pytest.raises(ValueError, match="not append-only"):
        incremental_build(spark, data, "tokens", _factory,
                          store_path=store_path, name="cm")

    # recovery: full rescan under the same name, manifest reset
    shutil.rmtree(data)
    _write_part(table, 9, rows=400, seed=44)
    rb = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm", rebuild=True)
    assert rb.seq == 1 and rb.new_rows == 400

    # post-rebuild increments diff against the NEW table state only
    _write_part(table, 10, rows=100, seed=55)
    r2 = incremental_build(spark, data, "tokens", _factory,
                           store_path=store_path, name="cm")
    assert r2.new_rows == 100
    full = build_aggregator_parquet(spark, data, "tokens", _factory)
    assert r2.sketch.to_bytes() == full.sketch.to_bytes()


def test_removed_file_refused(spark, table, tmp_path):
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    incremental_build(spark, data, "tokens", _factory,
                      store_path=store_path, name="cm")
    victim = sorted(os.listdir(data))[0]
    os.remove(os.path.join(data, victim))
    with pytest.raises(ValueError, match="not append-only"):
        incremental_build(spark, data, "tokens", _factory,
                          store_path=store_path, name="cm")


def test_incremental_with_extract_hook(spark, table, tmp_path):
    from sketchlib.ngrams import array_bigrams
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    fac = functools.partial(CountMinSketch, CFG)
    incremental_build(spark, data, "tokens", fac, store_path=store_path,
                      name="bigrams", extract_array=array_bigrams)
    _write_part(table, 1, rows=250, seed=66)
    r1 = incremental_build(spark, data, "tokens", fac,
                           store_path=store_path, name="bigrams",
                           extract_array=array_bigrams)
    full = build_aggregator_parquet(spark, data, "tokens", fac,
                                    extract_array=array_bigrams)
    assert r1.sketch.to_bytes() == full.sketch.to_bytes()


def test_single_file_table_and_empty_dir(spark, tmp_path):
    fac = functools.partial(CountMinSketch, CFG)
    # single-FILE table path: builds, no-ops, and detects mutation
    f = str(tmp_path / "single.parquet")
    generate_token_table(f, rows=500, seed=11)
    st = str(tmp_path / "st1")
    r0 = incremental_build(spark, f, "tokens", fac, store_path=st, name="cm")
    assert r0.new_rows == 500
    full = build_aggregator_parquet(spark, f, "tokens", fac)
    assert r0.sketch.to_bytes() == full.sketch.to_bytes()
    r1 = incremental_build(spark, f, "tokens", fac, store_path=st, name="cm")
    assert r1.no_op
    with open(f, "ab") as fh:
        fh.write(b"\x00" * 7)
    with pytest.raises(ValueError, match="not append-only"):
        incremental_build(spark, f, "tokens", fac, store_path=st, name="cm")
    # empty-dir table: publishes an empty seq-0 sketch, later appends fold
    d = tmp_path / "empty"
    os.makedirs(d)
    st2 = str(tmp_path / "st2")
    r = incremental_build(spark, str(d), "tokens", fac,
                          store_path=st2, name="cm")
    assert r.seq == 0 and r.new_rows == 0
    _write_part2(d, 0, rows=200, seed=44)
    r = incremental_build(spark, str(d), "tokens", fac,
                          store_path=st2, name="cm")
    assert r.new_rows == 200


def _write_part2(table_dir, part, rows, seed):
    src = str(table_dir / f"_s{part}.parquet")
    generate_token_table(src, rows=rows, seed=seed, dist="zipf")
    shutil.move(src, table_dir / f"part{part}.parquet")


def _grouped_bytes(spark, data, fac):
    from sketchlib import serde
    from sketchlib.spark_build import build_grouped_parquet
    rows = build_grouped_parquet(spark, data, "source", "tokens",
                                 fac).collect()
    return {str(r["key"]): serde.loads(bytes(r["sketch"])).to_bytes()
            for r in rows}


def test_grouped_incremental_equals_full_rebuild(spark, table, tmp_path):
    from sketchlib.incremental import incremental_build_grouped
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    fac = functools.partial(CountMinSketch, CFG)

    from sketchlib import store as store_mod
    r0 = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                   store_path=store_path, name="per_src")
    assert r0.prev_seq is None and r0.seq == 0 and r0.new_rows == 500
    _write_part(table, 1, rows=300, seed=22)
    r1 = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                   store_path=store_path, name="per_src")
    assert r1.seq == 1 and r1.new_rows == 300      # delta-only scan
    full = _grouped_bytes(spark, data, fac)
    # updated groups returned in-memory; the persisted committed state
    # matches the from-scratch grouped build per group, byte for byte
    for g, s in r1.sketches.items():
        assert s.to_bytes() == full[g]
    loaded = store_mod.load_group_sketches(spark, store_path, "per_src",
                                           max_seq=r1.seq)
    assert {g: s.to_bytes() for g, s in loaded.items()} == full

    # no-op: nothing appended, nothing scanned, nothing republished
    r2 = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                   store_path=store_path, name="per_src")
    assert r2.no_op and r2.updated_groups == 0 and r2.sketches == {}


def test_grouped_untouched_groups_not_republished(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sketchlib.incremental import incremental_build_grouped
    from sketchlib import store as store_mod
    data = str(tmp_path / "data")
    os.makedirs(data)

    def _write(name, srcs):
        t = pa.table({
            "doc_id": [f"d{i}" for i in range(len(srcs))],
            "tokens": pa.array([[1, 2, 3]] * len(srcs),
                               type=pa.list_(pa.int32())),
            "n_tok": pa.array([3] * len(srcs), type=pa.int32()),
            "source": srcs})
        pq.write_table(t, os.path.join(data, name))

    _write("p0.parquet", ["a", "b", "c"])
    st = str(tmp_path / "store")
    fac = functools.partial(CountMinSketch, CFG)
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=st, name="g")
    _write("p1.parquet", ["b"])            # delta touches ONLY source b
    r = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                  store_path=st, name="g")
    assert r.updated_groups == 1
    assert set(r.sketches) == {"b"}        # only the touched group loaded
    # store rows: only b has an epoch-1 row
    rows = (spark.read.parquet(st + "/sketches")
            .select("name", "seq").collect())
    at1 = {r["name"] for r in rows if r["seq"] == 1}
    assert at1 == {"g/b"}
    # loader returns all three at the committed epoch
    loaded = store_mod.load_group_sketches(spark, st, "g", max_seq=1)
    assert set(loaded) == {"a", "b", "c"}


def test_grouped_crash_window_is_idempotent(spark, table, tmp_path,
                                            monkeypatch):
    """A grouped fold that dies before its commit leaves nothing of its
    epoch visible — no group row, no manifest row — so its retry folds
    at the same epoch even when it folds a BIGGER delta (files appended
    between crash and retry), and every committed group equals a
    from-scratch build."""
    from sketchlib import store as store_mod
    from sketchlib.incremental import (current_group_sketches,
                                       grouped_epoch,
                                       incremental_build_grouped)
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    fac = functools.partial(CountMinSketch, CFG)
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=store_path, name="g")
    _write_part(table, 1, rows=200, seed=33)

    def killed(*args):
        raise OSError("killed before the claim")

    monkeypatch.setattr(store_mod, "_claim", killed)
    with pytest.raises(OSError, match="killed"):
        incremental_build_grouped(spark, data, "source", "tokens", fac,
                                  store_path=store_path, name="g")
    monkeypatch.undo()
    assert grouped_epoch(spark, store_path, "g") == (0, 0)
    assert store_mod._winner_rows(store_path, prefix="g", min_seq=1) == {}
    # more data arrives BETWEEN crash and retry — the retry's delta is a
    # strict superset of the crashed attempt's
    _write_part(table, 2, rows=300, seed=22)
    r = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                  store_path=store_path, name="g")
    assert r.seq == 1 and r.new_rows == 500
    full = _grouped_bytes(spark, data, fac)
    for g, s in r.sketches.items():
        assert s.to_bytes() == full[g]
    # the committed read returns the retry's bytes for EVERY group
    loaded = current_group_sketches(spark, store_path, "g")
    assert {g: s.to_bytes() for g, s in loaded.items()} == full


def test_grouped_rebuild_drops_stale_groups(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sketchlib.incremental import incremental_build_grouped
    data = str(tmp_path / "data")
    os.makedirs(data)

    def _write(name, srcs):
        t = pa.table({
            "doc_id": [f"d{i}" for i in range(len(srcs))],
            "tokens": pa.array([[1, 2]] * len(srcs),
                               type=pa.list_(pa.int32())),
            "n_tok": pa.array([2] * len(srcs), type=pa.int32()),
            "source": srcs})
        pq.write_table(t, os.path.join(data, name))

    st = str(tmp_path / "store")
    fac = functools.partial(CountMinSketch, CFG)
    _write("p0.parquet", ["old_source", "kept"])
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=st, name="g")
    # table rewritten without old_source -> refuse, then rebuild
    os.remove(os.path.join(data, "p0.parquet"))
    _write("p1.parquet", ["kept", "brand_new"])
    with pytest.raises(ValueError, match="not append-only"):
        incremental_build_grouped(spark, data, "source", "tokens", fac,
                                  store_path=st, name="g")
    r = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                  store_path=st, name="g", rebuild=True)
    assert set(r.sketches) == {"kept", "brand_new"}   # old_source gone
    _write("p2.parquet", ["kept"])
    r2 = incremental_build_grouped(spark, data, "source", "tokens", fac,
                                   store_path=st, name="g")
    assert set(r2.sketches) == {"kept"}
    # the committed read (public pins) still excludes the pre-rebuild
    # group, with no hand-coded seq bounds
    from sketchlib.incremental import current_group_sketches
    assert set(current_group_sketches(spark, st, "g")) == {"kept",
                                                           "brand_new"}


def test_table_incremental_equals_full_rebuild(spark, table, tmp_path):
    """Sketch-AS-table maintenance: counter-coordinate groupBy merges of
    delta triples equal a from-scratch table build (byte-identity via the
    sketch_from_table bridge), across two folds and a no-op."""
    from pyspark.sql import functions as F
    from sketchlib.incremental import incremental_build_table
    from sketchlib.spark_build import (build_sketch_table,
                                       point_query_table,
                                       sketch_from_table)
    st = str(tmp_path / "store")
    data = str(table / "data")
    r0 = incremental_build_table(spark, data, "tokens", CFG,
                                 store_path=st, name="tb")
    assert r0.prev_seq is None and r0.seq == 0

    _write_part(table, 1, rows=300, seed=22)
    r1 = incremental_build_table(spark, data, "tokens", CFG,
                                 store_path=st, name="tb")
    assert r1.seq == 1 and r1.new_files == 1
    full_tab = build_sketch_table(spark.read.parquet(data), "tokens", CFG)
    assert (sketch_from_table(r1.table, CFG).to_bytes()
            == sketch_from_table(full_tab, CFG).to_bytes())

    r2 = incremental_build_table(spark, data, "tokens", CFG,
                                 store_path=st, name="tb")
    assert r2.no_op and r2.seq == 1

    # probes against the maintained table match the dense sketch
    dense = sketch_from_table(r2.table, CFG)
    keys = (spark.read.parquet(data)
            .select(F.explode("tokens").alias("t")).distinct().limit(5))
    for row in point_query_table(r2.table, keys, "t", CFG).collect():
        assert int(row["est"]) == int(dense.point_query(int(row["t"])))


def test_incremental_random_schedule(spark, tmp_path):
    """Property: under ANY schedule of appends, no-ops and rebuilds, the
    maintained sketch is byte-identical to a from-scratch build over the
    table's current state after EVERY operation (hypothesis-driven, few
    examples — each schedule spins real Spark jobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.integers(50, 400),
                  st.integers(1, 10_000)),
        st.just(("noop",)),
        st.just(("rebuild",)))

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(op, min_size=2, max_size=5))
    def run(schedule):
        import tempfile
        fac = functools.partial(CountMinSketch, CFG)
        root = tempfile.mkdtemp(dir=str(tmp_path))
        data, stp = os.path.join(root, "d"), os.path.join(root, "s")
        os.makedirs(data)
        part = 0
        for step in [("append", 200, 999)] + list(schedule):
            if step[0] == "append":
                _, rows, seed = step
                src = os.path.join(root, "_s.parquet")
                generate_token_table(src, rows=rows, seed=seed,
                                     dist="zipf")
                shutil.move(src, os.path.join(data, f"p{part}.parquet"))
                part += 1
                r = incremental_build(spark, data, "tokens", fac,
                                      store_path=stp, name="cm")
                assert r.new_rows == rows
            elif step[0] == "noop":
                r = incremental_build(spark, data, "tokens", fac,
                                      store_path=stp, name="cm")
                assert r.no_op
            else:
                r = incremental_build(spark, data, "tokens", fac,
                                      store_path=stp, name="cm",
                                      rebuild=True)
            full = build_aggregator_parquet(spark, data, "tokens", fac)
            assert r.sketch.to_bytes() == full.sketch.to_bytes()
        shutil.rmtree(root, ignore_errors=True)

    run()


def test_incremental_kll_bound_level(spark, table, tmp_path):
    """Non-byte-invariant sketches (KLL) fold correctly too: quantile
    estimates from the incrementally-maintained sketch stay within the
    rank-error bound of the exact token distribution over the WHOLE
    table (bit equality is not the contract for merge-tree-shaped
    bytes — the docstring says so)."""
    from pyspark.sql import functions as F
    from sketchlib.incremental import incremental_build
    from sketchlib.kll import KllSketch
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    fac = functools.partial(KllSketch, 200)
    incremental_build(spark, data, "tokens", fac,
                      store_path=store_path, name="kll")
    _write_part(table, 1, rows=400, seed=55)
    r = incremental_build(spark, data, "tokens", fac,
                          store_path=store_path, name="kll")
    assert r.new_rows == 400
    toks = (spark.read.parquet(data)
            .select(F.explode("tokens").alias("t")))
    n = toks.count()
    for q in (0.25, 0.5, 0.9):
        est = r.sketch.quantile(q)
        # zipf tokens are ATOMIC (single values carry >10% mass), so a
        # valid eps-approximate quantile satisfies the interval rule
        # P(t < est) - eps <= q <= P(t <= est) + eps, not a point check
        lo = toks.filter(F.col("t") < est).count() / n
        hi = toks.filter(F.col("t") <= est).count() / n
        assert lo - 0.05 <= q <= hi + 0.05, (q, est, lo, hi)


def test_prune_table_epochs(spark, table, tmp_path):
    """Old table-regime epochs (full nnz-sized tables) can be pruned to
    the newest `keep`; maintenance keeps working, and diffing a pruned
    epoch fails with a clear error, not a raw missing path."""
    from sketchlib.incremental import (incremental_build_table,
                                       prune_table_epochs,
                                       snapshot_diff_table)
    from sketchlib.spark_build import build_sketch_table, sketch_from_table
    st = str(tmp_path / "store")
    data = str(table / "data")
    incremental_build_table(spark, data, "tokens", CFG,
                            store_path=st, name="tb")
    for part, seed in ((1, 22), (2, 33)):
        _write_part(table, part, rows=150, seed=seed)
        incremental_build_table(spark, data, "tokens", CFG,
                                store_path=st, name="tb")

    # a stray non-numeric seq dir (e.g. leftover seq=tmp) is skipped
    os.makedirs(os.path.join(st, "tables", "tb", "seq=tmp"), exist_ok=True)
    assert prune_table_epochs(spark, st, "tb", keep=1) == [0, 1]
    with pytest.raises(KeyError, match="pruned"):
        snapshot_diff_table(spark, st, "tb", seq_old=0)

    # maintenance continues from the retained committed epoch
    _write_part(table, 3, rows=100, seed=44)
    r = incremental_build_table(spark, data, "tokens", CFG,
                                store_path=st, name="tb")
    assert r.seq == 3 and r.new_files == 1
    full = build_sketch_table(spark.read.parquet(data), "tokens", CFG)
    assert (sketch_from_table(r.table, CFG).to_bytes()
            == sketch_from_table(full, CFG).to_bytes())
    with pytest.raises(ValueError, match="keep must be >= 1"):
        prune_table_epochs(spark, st, "tb", keep=0)


def test_incremental_builder_hook_psample(spark, table, tmp_path):
    """The builder hook generalizes maintenance to ANY build path: a
    priority sample over (doc_id, n_tok) pairs is kept current across
    appends, byte-identical to a from-scratch pairs build (PrioritySample
    merges are idempotent and order-invariant)."""
    from sketchlib.incremental import incremental_build
    from sketchlib.psample import PrioritySample
    from sketchlib.spark_build import build_aggregator_pairs
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    fac = functools.partial(PrioritySample, 64, 1337)

    def builder(sp, files):
        return build_aggregator_pairs(sp.read.parquet(*files),
                                      "doc_id", "n_tok", fac)

    incremental_build(spark, data, "unused", fac, store_path=store_path,
                      name="ps", builder=builder)
    _write_part(table, 1, rows=300, seed=22)
    r = incremental_build(spark, data, "unused", fac,
                          store_path=store_path, name="ps",
                          builder=builder)
    assert r.new_rows == 300
    full = build_aggregator_pairs(spark.read.parquet(data),
                                  "doc_id", "n_tok", fac)
    assert r.sketch.to_bytes() == full.sketch.to_bytes()
    # no-op is a no-op with the hook too
    r2 = incremental_build(spark, data, "unused", fac,
                           store_path=store_path, name="ps",
                           builder=builder)
    assert r2.no_op and r2.sketch.to_bytes() == full.sketch.to_bytes()


def test_names_are_independent(spark, table, tmp_path):
    store_path = str(tmp_path / "store")
    data = str(table / "data")
    fac = functools.partial(CountMinSketch, CFG)
    incremental_build(spark, data, "tokens", fac,
                      store_path=store_path, name="a")
    _write_part(table, 1, rows=100, seed=77)
    rb = incremental_build(spark, data, "tokens", fac,
                           store_path=store_path, name="b")
    assert rb.seq == 0 and rb.new_rows == 600   # b sees the whole table
    ra = incremental_build(spark, data, "tokens", fac,
                           store_path=store_path, name="a")
    assert ra.new_rows == 100                   # a only the delta
    assert ra.sketch.to_bytes() == rb.sketch.to_bytes()


def test_concurrent_global_folds_one_winner_no_torn_epoch(spark, table,
                                                          tmp_path):
    """VERDICT r4 #7: two sessions folding the SAME stale entry
    simultaneously (the catalog auto-policy race). Writer B completes an
    entire fold INSIDE writer A's window between delta computation and
    publish (injected by wrapping store.save_sketch). A's commit is
    refused — B wrote the name after A read it — and A re-runs once from
    B's state, where there is nothing left to fold: ONE committed row at
    seq 1, the manifest consistent (the next fold is a clean no-op —
    nothing double-folded, nothing refused), and the final sketch equals
    a from-scratch rebuild bit for bit."""
    import sketchlib.store as store_mod

    store_path = str(tmp_path / "store")
    data = str(table / "data")
    incremental_build(spark, data, "tokens", _factory,
                      store_path=store_path, name="race")      # seq 0
    _write_part(table, 1, rows=300, seed=22)

    orig_save = store_mod.save_sketch
    fired = {"done": False}

    def interleaved_save(*args, **kw):
        if not fired["done"]:
            fired["done"] = True
            # writer B runs start-to-finish while A is mid-publish
            incremental_build(spark, data, "tokens", _factory,
                              store_path=store_path, name="race")
        return orig_save(*args, **kw)

    store_mod.save_sketch = interleaved_save
    try:
        a = incremental_build(spark, data, "tokens", _factory,
                              store_path=store_path, name="race")
    finally:
        store_mod.save_sketch = orig_save
    assert a.seq == 1 and a.no_op and a.new_files == 0

    # one committed row at seq 1: B's
    import pyarrow.parquet as pq
    raced = [r for p in store_mod._head(store_path)["parts"]["sketches"]
             for r in pq.read_table(f"{store_path}/sketches/{p}",
                                    columns=["name", "seq"]).to_pylist()
             if r == {"name": "race", "seq": 1}]
    assert len(raced) == 1
    loaded = store_mod.latest_sketch(spark, store_path, "race")
    assert loaded[0] == 1
    assert loaded[2].to_bytes() == a.sketch.to_bytes()

    # no torn epoch: the next fold neither refuses nor double-folds
    again = incremental_build(spark, data, "tokens", _factory,
                              store_path=store_path, name="race")
    assert again.no_op and again.new_files == 0

    # and further appends keep byte-identity with a from-scratch build
    _write_part(table, 2, rows=200, seed=33)
    r = incremental_build(spark, data, "tokens", _factory,
                          store_path=store_path, name="race")
    full = build_aggregator_parquet(spark, data, "tokens", _factory)
    assert r.sketch.to_bytes() == full.sketch.to_bytes()


def test_concurrent_catalog_auto_policy_race(spark, table, tmp_path):
    """Two catalog sessions answer the same STALE entry with
    policy='auto' concurrently: session B's refresh completes inside
    session A's (same save_sketch injection). Both must answer with the
    fresh value, agree with each other and with a from-scratch
    registration, and leave no torn state behind."""
    import sketchlib.store as store_mod
    from sketchlib.catalog import SketchCatalog

    data = str(table / "data")
    store_path = str(tmp_path / "store")
    cat_a = SketchCatalog(spark, store_path)        # policy auto
    cat_b = SketchCatalog(spark, store_path)
    cat_a.register(data, "tokens", ["theta", "cm"])
    _write_part(table, 1, rows=300, seed=22)        # both now stale

    orig_save = store_mod.save_sketch
    fired = {"done": False}
    b_answer = {}

    def interleaved_save(*args, **kw):
        if not fired["done"]:
            fired["done"] = True
            b_answer["v"] = cat_b.count_distinct(data, "tokens")
        return orig_save(*args, **kw)

    store_mod.save_sketch = interleaved_save
    try:
        a_answer = cat_a.count_distinct(data, "tokens")
    finally:
        store_mod.save_sketch = orig_save

    assert a_answer.refreshed and a_answer.stale_files == 0
    assert b_answer["v"].value == a_answer.value
    # agreement with a clean-room registration over the same table
    clean = SketchCatalog(spark, str(tmp_path / "store2"))
    clean.register(data, "tokens", ["theta", "cm"])
    assert clean.count_distinct(data, "tokens").value == a_answer.value
    # post-race state is healthy: fresh, and the next answer is a no-op
    assert cat_b.stale_files(data, "tokens") == 0
    again = cat_b.count_distinct(data, "tokens")
    assert not again.refreshed and again.value == a_answer.value


def test_current_files_keys_equal_relpath(tmp_path, monkeypatch):
    """The manifest's relative paths equal os.path.relpath's for a nested
    directory, a trailing slash, a relative table path and a single-file
    table."""
    from sketchlib.incremental import _current_files
    from sketchlib.spark_build import walk_parquet_files

    root = tmp_path / "t"
    for rel in ("a.parquet", "sub/b.parquet", "sub/deep/c.parquet"):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_bytes(b"x" * len(rel))
    monkeypatch.chdir(tmp_path)
    for table in (str(root), str(root) + "/", "t", "t/", "./t"):
        got = _current_files(table)
        assert sorted(got) == ["a.parquet", "sub/b.parquet",
                               "sub/deep/c.parquet"]
        assert got == {os.path.relpath(f, table): os.path.getsize(f)
                       for f in walk_parquet_files(table)}
        assert got == {k: len(k) for k in got}
    assert _current_files("t/a.parquet") == {"a.parquet": 9}


def test_grouped_rows_publish_cumulative_n_rows(spark, tmp_path):
    """A grouped fold publishes each touched group's CUMULATIVE row
    count, as the global fold does: 10 rows of group ``a``, then 2 more,
    read 12 on both the global row and the group's row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from sketchlib.incremental import incremental_build_grouped
    from sketchlib.store import list_sketches
    data, st = tmp_path / "data", str(tmp_path / "store")
    os.makedirs(data)
    fac = functools.partial(CountMinSketch, CFG)
    for i, n in enumerate((10, 2)):
        pq.write_table(pa.table({
            "g": ["a"] * n,
            "tokens": pa.array([[j] for j in range(n)],
                               type=pa.list_(pa.int32()))}),
            data / f"p{i}.parquet")
        incremental_build(spark, str(data), "tokens", fac, store_path=st,
                          name="c")
        incremental_build_grouped(spark, str(data), "g", "tokens", fac,
                                  store_path=st, name="g")
    assert {r["name"]: r["n_rows"]
            for r in list_sketches(spark, st).collect()} == {"c": 12,
                                                             "g/a": 12}


@pytest.mark.parametrize("shape", ["global", "grouped", "table"])
def test_one_lineage_across_fold_shapes(spark, table, tmp_path, shape):
    """Every fold shape records its lineage in its commit markers alone:
    after a fold, an append and fold, an in-place rewrite folded with
    ``rebuild=True``, and one more append and fold, the lineage stands at
    epoch 3 from base 2 and has ingested exactly the files committed
    since the rebuild."""
    from sketchlib.incremental import (_lineage, grouped_epoch,
                                       incremental_build_grouped,
                                       incremental_build_table,
                                       snapshot_diff)
    st, data = str(tmp_path / "store"), str(table / "data")
    fac = functools.partial(CountMinSketch, CFG)
    fold = {
        "global": lambda **kw: incremental_build(
            spark, data, "tokens", fac, store_path=st, name="s", **kw),
        "grouped": lambda **kw: incremental_build_grouped(
            spark, data, "source", "tokens", fac, store_path=st,
            name="s", **kw),
        "table": lambda **kw: incremental_build_table(
            spark, data, "tokens", CFG, store_path=st, name="s", **kw),
    }[shape]
    fold()
    _write_part(table, 1, rows=100, seed=22)
    fold()
    _write_part(table, 0, rows=300, seed=44)     # rewritten in place
    fold(rebuild=True)
    _write_part(table, 2, rows=100, seed=33)
    fold()
    assert grouped_epoch(spark, st, "s") == (3, 2)
    assert _lineage(st, "s")[2] == {
        f: os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)}
    if shape == "global":
        with pytest.raises(ValueError, match="predates the lineage"):
            snapshot_diff(spark, st, "s", seq_old=1)


def test_lineage_staged_in_the_earlier_global_format(spark, table,
                                                     tmp_path):
    """A global lineage committed before the marker carried its base —
    markers with file_size -1, the base in the published meta — reads as
    base 0: an append-only fold still equals a rebuild, an in-place
    rewrite is refused rather than folded, and ``rebuild=True`` then
    records the new base in its marker."""
    from sketchlib import store
    from sketchlib.incremental import _lineage, grouped_epoch
    st, data = str(tmp_path / "store"), str(table / "data")
    fac = functools.partial(CountMinSketch, CFG)

    def from_scratch():
        return build_aggregator_parquet(spark, data, "tokens",
                                        fac).sketch.to_bytes()

    first = build_aggregator_parquet(spark, data, "tokens", fac)
    size = os.path.getsize(os.path.join(data, "part0.parquet"))
    with store._transaction(st):
        store.save_sketch(spark, st, "cm", first.sketch, seq=0,
                          n_rows=first.n_rows, meta={
                              "incremental_from": None, "delta_files": 1,
                              "delta_rows": first.n_rows,
                              "table_rows": first.n_rows,
                              "rebuild": False, "manifest_base": 0})
        store._stage(st, "ingested", [("cm", 0, "", -1),
                                      ("cm", 0, "part0.parquet", size)])
    assert grouped_epoch(spark, st, "cm") == (0, 0)

    _write_part(table, 1, rows=100, seed=22)
    r = incremental_build(spark, data, "tokens", fac, store_path=st,
                          name="cm")
    assert r.new_files == 1 and r.sketch.to_bytes() == from_scratch()

    _write_part(table, 0, rows=300, seed=44)     # rewritten in place
    with pytest.raises(ValueError, match="not append-only.*rebuild=True"):
        incremental_build(spark, data, "tokens", fac, store_path=st,
                          name="cm")
    r = incremental_build(spark, data, "tokens", fac, store_path=st,
                          name="cm", rebuild=True)
    assert r.sketch.to_bytes() == from_scratch()
    assert grouped_epoch(spark, st, "cm") == (2, 2)
    assert _lineage(st, "cm")[2] == {
        f: os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)}
