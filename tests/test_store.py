"""Sketch store: parquet-backed publish/load of final sketches.

Byte-identity round trip for every sketch type, latest-wins versioning,
integrity rejection of corrupt blobs, and lineage preserved alongside.
"""

import math

import numpy as np
import pytest

from sketchlib.store import (list_sketches, load_lineage, load_sketch,
                             save_sketch)


def _all_sketches():
    from sketchlib.bloom import BloomFilter
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.ddsketch import DDSketch
    from sketchlib.hll import HllSketch
    from sketchlib.kll import KllSketch
    from sketchlib.mg import MisraGries
    from sketchlib.tdigest import TDigest

    rng = np.random.default_rng(5)
    toks = rng.integers(0, 1000, size=5000).astype(np.int64)
    vals = rng.normal(100.0, 15.0, size=5000)

    cm = CountMinSketch(CMConfig(eps=1e-3, delta=math.exp(-3), seed=7))
    cm.update_batch(toks)
    hll = HllSketch(p=12)
    hll.update_batch(toks)
    bf = BloomFilter(capacity=5000, fpr=0.01, seed=3)
    bf.update_batch(toks)
    dd = DDSketch(alpha=0.01)
    dd.update_batch(vals)
    kll = KllSketch(k=200)
    kll.update_batch(vals)
    td = TDigest(delta=100.0)
    td.update_batch(vals)
    mg = MisraGries(k=64)
    mg.update_batch(toks)
    from sketchlib.countsketch import CSConfig, CountSketch
    from sketchlib.dyadic import DyadicCM
    from sketchlib.theta import ThetaSketch
    cs = CountSketch(CSConfig(width=512, depth=3, seed=7))
    cs.update_batch(toks)
    dy = DyadicCM(universe_bits=10, eps=0.01, delta=0.05, seed=7)
    dy.update_batch(toks)
    th = ThetaSketch(256, seed=7)
    th.update_batch(toks)
    from sketchlib.fd import FrequentDirections
    fd = FrequentDirections(ell=8, dim=16)
    fd.update_batch(np.arange(25 * 16, dtype=np.float64).reshape(25, 16))
    from sketchlib.psample import PrioritySample
    ps = PrioritySample(k=32, seed=7)
    ps.update_pairs([f"k{t}" for t in toks[:400]],
                    (toks[:400] % 97 + 1).astype(np.float64),
                    [f"g{t % 3}" for t in toks[:400]])
    return {"cm": cm, "hll": hll, "bloom": bf, "dd": dd,
            "kll": kll, "td": td, "mg": mg, "cs": cs, "dy": dy,
            "theta": th, "fd": fd, "ps": ps}


def test_roundtrip_all_types_byte_identical(spark, tmp_path):
    store = str(tmp_path / "store")
    sks = _all_sketches()
    for name, sk in sks.items():
        seq = save_sketch(spark, store, name, sk, n_rows=5000,
                          meta={"eps": "test"})
        assert seq == 0
    for name, sk in sks.items():
        got = load_sketch(spark, store, name)
        assert type(got) is type(sk)
        assert got.to_bytes() == sk.to_bytes()
    listing = {r["name"]: r for r in list_sketches(spark, store).collect()}
    assert set(listing) == set(sks)
    assert all(r["n_rows"] == 5000 for r in listing.values())


def test_latest_wins_and_seq_pinning(spark, tmp_path):
    from sketchlib.countmin import CMConfig, CountMinSketch

    store = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.1, seed=1)
    a, b = CountMinSketch(cfg), CountMinSketch(cfg)
    a.update_batch(np.array([1, 2, 3], dtype=np.int64))
    b.update_batch(np.array([7, 8, 9, 9], dtype=np.int64))
    assert save_sketch(spark, store, "x", a) == 0
    assert save_sketch(spark, store, "x", b) == 1
    assert load_sketch(spark, store, "x").to_bytes() == b.to_bytes()
    assert load_sketch(spark, store, "x", seq=0).to_bytes() == a.to_bytes()
    assert list_sketches(spark, store).count() == 1  # latest only
    with pytest.raises(KeyError):
        load_sketch(spark, store, "nope")


def test_corrupt_blob_rejected(spark, tmp_path):
    import glob
    import os

    from sketchlib.countmin import CMConfig, CountMinSketch

    store = str(tmp_path / "store")
    cm = CountMinSketch(CMConfig(eps=1e-2, delta=0.1, seed=1))
    cm.update_batch(np.array([4, 4, 5], dtype=np.int64))
    save_sketch(spark, store, "x", cm)
    # flip bytes in the stored blob by rewriting the parquet with a
    # corrupted copy (simulates storage rot; sha no longer matches)
    import pyarrow.parquet as pq
    import pyarrow as pa
    f = glob.glob(store + "/sketches/*.parquet")[0]
    t = pq.read_table(f)
    blob = bytearray(t.column("blob")[0].as_py())
    blob[-1] ^= 0xFF
    cols = {c: t.column(c) for c in t.column_names}
    cols["blob"] = pa.array([bytes(blob)], type=pa.binary())
    pq.write_table(pa.table(cols), f)
    for crc in glob.glob(store + "/sketches/.*.crc"):
        os.remove(crc)  # drop Hadoop's CRC sidecars: OUR sha must catch it
    with pytest.raises(IOError):
        load_sketch(spark, store, "x")


def test_lineage_roundtrip_with_build(spark, tmp_path):
    from sketchlib.countmin import CMConfig
    from sketchlib.spark_build import build_sketch_generated

    store = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.1, seed=2)
    res = build_sketch_generated(spark, 120_000, cfg, seed=5)
    save_sketch(spark, store, "gen", res.sketch, lineage=res.lineage,
                n_rows=res.n_rows)
    lin = load_lineage(spark, store, "gen").orderBy("pid").collect()
    assert len(lin) == len(res.lineage) == 2
    assert sum(r["n_rows"] for r in lin) == 120_000
    assert (load_sketch(spark, store, "gen").to_bytes()
            == res.sketch.to_bytes())


def test_latest_entry_and_same_seq_tiebreak(spark, tmp_path):
    """ADVICE r2: two writers that raced to the same seq must resolve
    deterministically (sha256 tie-break), and latest_entry surfaces the
    winning version's meta."""
    import pyarrow.parquet as pq
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib import store
    import numpy as np

    path = str(tmp_path / "race_store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    a = CountMinSketch(cfg)
    a.update_batch(np.arange(10, dtype=np.int64))
    b = CountMinSketch(cfg)
    b.update_batch(np.arange(20, dtype=np.int64))
    store.save_sketch(spark, path, "raced", a, meta={"writer": "a"})
    # simulate the race: second writer appends the SAME seq 0
    row = [("raced", 0, "CM01", b.to_bytes(),
            __import__("hashlib").sha256(b.to_bytes()).hexdigest(),
            -1, '{"writer": "b"}')]
    (spark.createDataFrame(row, store._SKETCH_SCHEMA)
     .coalesce(1).write.mode("append").parquet(path + "/sketches"))

    expect = max([(a, "a"), (b, "b")],
                 key=lambda t: __import__("hashlib")
                 .sha256(t[0].to_bytes()).hexdigest())
    got = store.load_sketch(spark, path, "raced")
    assert got.to_bytes() == expect[0].to_bytes()
    ent = store.latest_entry(spark, path, "raced")
    assert ent is not None and ent[0] == 0
    assert ent[1]["writer"] == expect[1]
    assert store.latest_entry(spark, path, "nope") is None
    assert store.latest_entry(spark, str(tmp_path / "absent"), "x") is None


def test_compact_store_preserves_everything(spark, tmp_path):
    """Compaction merges each table into one file while every read —
    latest, seq-pinned, grouped, manifest state, snapshot diff — returns
    byte-identical results; a second compaction is a no-op-shaped pass,
    and crash-left duplicate rows are dropped."""
    import functools
    import math
    import os
    import shutil

    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.datagen import generate_token_table
    from sketchlib.incremental import (_grouped_manifest_state,
                                       incremental_build,
                                       incremental_build_grouped,
                                       snapshot_diff)

    cfg = CMConfig(eps=1e-3, delta=math.exp(-3), seed=7)
    fac = functools.partial(CountMinSketch, cfg)
    data = str(tmp_path / "data")
    os.makedirs(data)
    st = str(tmp_path / "store")

    def _part(name, rows, seed):
        src = str(tmp_path / "_s.parquet")
        generate_token_table(src, rows=rows, seed=seed, dist="zipf")
        shutil.move(src, os.path.join(data, name))

    _part("p0.parquet", 600, 1)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=st, name="g")
    _part("p1.parquet", 300, 2)
    incremental_build(spark, data, "tokens", fac, store_path=st, name="cm")
    incremental_build_grouped(spark, data, "source", "tokens", fac,
                              store_path=st, name="g")

    before = {
        "latest": store.load_sketch(spark, st, "cm").to_bytes(),
        "pinned": store.load_sketch(spark, st, "cm", seq=0).to_bytes(),
        "groups": {g: s.to_bytes() for g, s in
                   store.load_group_sketches(spark, st, "g").items()},
        "gstate": _grouped_manifest_state(st, "g"),
        "diff": snapshot_diff(spark, st, "cm", seq_old=0).to_bytes(),
    }
    n_files = len([f for f in os.listdir(st + "/sketches")
                   if f.endswith(".parquet")])
    assert n_files > 1

    stats = store.compact_store(spark, st)
    assert stats["sketches"]["files_after"] == 1
    assert stats["ingested"]["files_after"] == 1
    spark.catalog.clearCache()

    after = {
        "latest": store.load_sketch(spark, st, "cm").to_bytes(),
        "pinned": store.load_sketch(spark, st, "cm", seq=0).to_bytes(),
        "groups": {g: s.to_bytes() for g, s in
                   store.load_group_sketches(spark, st, "g").items()},
        "gstate": _grouped_manifest_state(st, "g"),
        "diff": snapshot_diff(spark, st, "cm", seq_old=0).to_bytes(),
    }
    assert before == after

    # incremental maintenance keeps working across the compaction
    _part("p2.parquet", 200, 3)
    r = incremental_build(spark, data, "tokens", fac,
                          store_path=st, name="cm")
    assert r.new_rows == 200

    # crash-left duplicates: copy the compacted file, compact again
    d = st + "/sketches"
    comp = [f for f in os.listdir(d) if f.endswith(".parquet")]
    shutil.copy(os.path.join(d, comp[0]),
                os.path.join(d, "compact-crashdupe.parquet"))
    stats2 = store.compact_store(spark, st)
    assert stats2["sketches"]["dupes_dropped"] > 0
    assert (store.load_sketch(spark, st, "cm").to_bytes()
            == r.sketch.to_bytes())


def test_corrupt_superseded_row_does_not_break_group_reads(spark, tmp_path):
    """Winner selection happens before integrity checks, so a bit-rotted
    HISTORICAL version can't fail a read whose winners are intact — and
    the corrupt row still raises when it IS the winner."""
    import numpy as np
    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    good = CountMinSketch(cfg)
    good.update_batch(np.arange(50, dtype=np.int64))
    # seq 0: a row whose recorded sha does NOT match its blob (bit rot)
    row = [("g/a", 0, "CM01", good.to_bytes(), "0" * 64, -1, "{}")]
    (store.one_part_df(spark, row, store._SKETCH_SCHEMA)
     .write.mode("append").parquet(path + "/sketches"))
    # seq 1: an intact winner for the same group
    store.save_sketch(spark, path, "g/a", good)
    loaded = store.load_group_sketches(spark, path, "g")
    assert loaded["a"].to_bytes() == good.to_bytes()
    # when the corrupt row IS the winner, the read must still refuse
    with pytest.raises(IOError, match="corrupt"):
        store.load_group_sketches(spark, path, "g", max_seq=0)


def test_list_sketches_one_row_per_name_after_race(spark, tmp_path):
    """A same-seq writer race (two different blobs at one seq) must not
    make listings emit duplicate names — the listing shows the same
    winner every loader returns."""
    import hashlib as _h
    import numpy as np
    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    a = CountMinSketch(cfg)
    a.update_batch(np.arange(10, dtype=np.int64))
    b = CountMinSketch(cfg)
    b.update_batch(np.arange(20, dtype=np.int64))
    store.save_sketch(spark, path, "raced", a)
    row = [("raced", 0, "CM01", b.to_bytes(),
            _h.sha256(b.to_bytes()).hexdigest(), -1, "{}")]
    (store.one_part_df(spark, row, store._SKETCH_SCHEMA)
     .write.mode("append").parquet(path + "/sketches"))
    listing = store.list_sketches(spark, path).collect()
    assert len(listing) == 1
    winner = store.load_sketch(spark, path, "raced")
    assert listing[0]["sha256"] == _h.sha256(winner.to_bytes()).hexdigest()


def test_winners_streaming_matches_window_winners(spark):
    """winners_streaming must pick exactly the rows _winners picks —
    without shuffling payloads — and must fall back to the collapsing
    window when exact-duplicate rows (same name, seq AND sha) exist."""
    from sketchlib.store import _winners, winners_streaming

    rows = [("a", 0, "s0", bytearray(b"old")), ("a", 2, "s2", bytearray(b"new")),
            ("b", 1, "s1", bytearray(b"bee")), ("b", 1, "s0", bytearray(b"tie"))]
    df = spark.createDataFrame(
        [(n, s, h, bytes(b)) for n, s, h, b in rows],
        "name string, seq long, sha256 string, blob binary")
    want = {(r["name"], r["seq"], r["sha256"], bytes(r["blob"]))
            for r in _winners(df).collect()}
    got = {(r["name"], r["seq"], r["sha256"], bytes(r["blob"]))
           for r in winners_streaming(df).collect()}
    assert got == want == {("a", 2, "s2", b"new"), ("b", 1, "s1", b"bee")}

    # exact duplicate: the semi-join would keep both copies; the
    # fallback must collapse to ONE row like the window does
    dup = df.union(spark.createDataFrame(
        [("a", 2, "s2", b"new")],
        "name string, seq long, sha256 string, blob binary"))
    out = winners_streaming(dup).collect()
    assert len(out) == 2
    assert sorted(r["name"] for r in out) == ["a", "b"]


@pytest.mark.parametrize("table", ["sketches", "lineage", "ingested"])
def test_failed_append_leaves_no_trace(spark, tmp_path, monkeypatch, table):
    """A write that dies mid-append (a torn temp file, then an error)
    leaves no part and no temp file behind, and the next read returns
    the previous state: the previous winner for sketches/lineage, the
    previous manifest for ingested — where the following fold then
    refuses the crash window instead of double-folding."""
    import functools
    import math
    import os
    import shutil

    from sketchlib import incremental, store
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib.datagen import generate_token_table

    fac = functools.partial(CountMinSketch,
                            CMConfig(eps=1e-2, delta=math.exp(-3), seed=3))
    data, st = str(tmp_path / "data"), str(tmp_path / "store")
    os.makedirs(data)

    def land(i, rows):
        src = str(tmp_path / "_s.parquet")
        generate_token_table(src, rows=rows, seed=i, dist="zipf")
        shutil.move(src, os.path.join(data, f"p{i}.parquet"))

    land(0, 300)
    first = incremental.incremental_build(spark, data, "tokens", fac,
                                          store_path=st, name="cm")
    files = {t: sorted(os.listdir(os.path.join(st, t)))
             for t in ("sketches", "lineage", "ingested")}
    manifest = incremental._manifest_state(st, "cm", 0)
    lineage = sorted(r["pid"] for r in
                     load_lineage(spark, st, "cm").collect())
    real_write = store.pq.write_table

    def torn_write(tbl, where, **kw):
        if f"/{table}/" not in where:
            return real_write(tbl, where, **kw)
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk went away mid-append")

    land(1, 200)
    monkeypatch.setattr(store.pq, "write_table", torn_write)
    with pytest.raises(OSError, match="mid-append"):
        incremental.incremental_build(spark, data, "tokens", fac,
                                      store_path=st, name="cm")
    monkeypatch.undo()

    assert sorted(os.listdir(os.path.join(st, table))) == files[table]
    assert incremental._manifest_state(st, "cm", 0) == manifest
    if table == "ingested":
        # the sketch published; the missing manifest is detected
        assert store.latest_entry(spark, st, "cm")[0] == first.seq + 1
        with pytest.raises(IOError, match="crashed between publish"):
            incremental.incremental_build(spark, data, "tokens", fac,
                                          store_path=st, name="cm")
        return
    for t in ("sketches", "lineage"):
        assert sorted(os.listdir(os.path.join(st, t))) == files[t]
    got = store.latest_sketch(spark, st, "cm")
    assert got[0] == first.seq
    assert got[2].to_bytes() == first.sketch.to_bytes()
    assert sorted(r["pid"] for r in
                  load_lineage(spark, st, "cm").collect()) == lineage
    # the retry folds the delta exactly once
    again = incremental.incremental_build(spark, data, "tokens", fac,
                                          store_path=st, name="cm")
    assert again.new_files == 1 and again.seq == first.seq + 1


def test_spark_written_parts_read_identically(spark, tmp_path):
    """Parts written by Spark (older stores, other writers) and by the
    pyarrow appender are one table to every reader: winners, pinned
    seqs, group reads, listings and the manifest agree across them."""
    import hashlib as _h
    import numpy as np
    from sketchlib import incremental, store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    sks = []
    for n in (5, 9, 13):
        s = CountMinSketch(cfg)
        s.update_batch(np.arange(n, dtype=np.int64))
        sks.append(s)

    def spark_row(name, seq, s, meta):
        blob = s.to_bytes()
        (store.one_part_df(spark, [(name, seq, "CMSK", blob,
                                    _h.sha256(blob).hexdigest(), -1,
                                    meta)], store._SKETCH_SCHEMA)
         .write.mode("append").parquet(path + "/sketches"))

    spark_row("x", 0, sks[0], '{"by": "spark"}')
    assert store.save_sketch(spark, path, "x", sks[1],
                             meta={"by": "arrow"}) == 1
    spark_row("x", 2, sks[2], '{"by": "spark"}')
    spark_row("g/a", 4, sks[0], "{}")
    store.save_sketches_bulk(spark, path, [("g/b", 4, sks[1], 1)])

    assert store.latest_entry(spark, path, "x") == (2, {"by": "spark"})
    for seq, s in enumerate(sks):
        assert (store.load_sketch(spark, path, "x", seq=seq).to_bytes()
                == s.to_bytes())
    assert store.max_seq_for_prefix(spark, path, "g") == 4
    groups = store.load_group_sketches(spark, path, "g")
    assert {g: s.to_bytes() for g, s in groups.items()} == {
        "a": sks[0].to_bytes(), "b": sks[1].to_bytes()}
    listing = {r["name"]: r["seq"]
               for r in store.list_sketches(spark, path).collect()}
    assert listing == {"x": 2, "g/a": 4, "g/b": 4}

    (store.one_part_df(spark, [("m", 0, "", -1), ("m", 0, "f0", 10)],
                       store._MANIFEST_SCHEMA)
     .write.mode("append").parquet(path + "/ingested"))
    incremental._append_manifest(path, "m", 1, {"f1": 20})
    assert incremental._manifest_state(path, "m", 0) == (
        1, {"f0": 10, "f1": 20})
