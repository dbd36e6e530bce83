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


@pytest.mark.parametrize("read", ["cold", "warm"])
def test_corrupt_blob_rejected(spark, tmp_path, read):
    """A blob that no longer hashes to its recorded sha is refused —
    also when an earlier read of the intact part warmed the key index
    (``warm``): a commit of another name moves the generation, so the
    next read of ``x`` misses the answer memo and re-reads its payload
    from disk. (With no commit in between, a warm read is answered from
    memory: it stats the head only.)"""
    import glob
    import os

    from sketchlib.countmin import CMConfig, CountMinSketch

    store = str(tmp_path / "store")
    cm = CountMinSketch(CMConfig(eps=1e-2, delta=0.1, seed=1))
    cm.update_batch(np.array([4, 4, 5], dtype=np.int64))
    save_sketch(spark, store, "x", cm)
    if read == "warm":
        assert load_sketch(spark, store, "x").to_bytes() == cm.to_bytes()
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
    if read == "warm":
        save_sketch(spark, store, "y", cm)
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
    """ADVICE r2: two writers that raced to the same seq resolve
    deterministically — the commit refuses the second, whether it read
    the store before the first committed (a racing writer) or pins the
    committed seq — and latest_entry surfaces the committed version's
    meta."""
    from sketchlib.countmin import CMConfig, CountMinSketch
    from sketchlib import store
    import numpy as np

    path = str(tmp_path / "race_store")
    cfg = CMConfig(eps=1e-2, delta=0.05, seed=1)
    a = CountMinSketch(cfg)
    a.update_batch(np.arange(10, dtype=np.int64))
    b = CountMinSketch(cfg)
    b.update_batch(np.arange(20, dtype=np.int64))
    with pytest.raises(store.CommitConflict):
        with store._transaction(path):      # writer b reads the store
            store.save_sketch(spark, path, "raced", b, meta={"writer": "b"})
            with store._transaction(path):  # writer a commits first
                store.save_sketch(spark, path, "raced", a,
                                  meta={"writer": "a"})
    with pytest.raises(store.CommitConflict):
        store.save_sketch(spark, path, "raced", b, seq=0,
                          meta={"writer": "b"})

    got = store.load_sketch(spark, path, "raced")
    assert got.to_bytes() == a.to_bytes()
    ent = store.latest_entry(spark, path, "raced")
    assert ent is not None and ent[0] == 0
    assert ent[1]["writer"] == "a"
    assert store.latest_entry(spark, path, "nope") is None
    assert store.latest_entry(spark, str(tmp_path / "absent"), "x") is None


def test_compact_store_preserves_everything(spark, tmp_path, monkeypatch):
    """Compaction merges each table into one file while every read —
    latest, seq-pinned, grouped, manifest state, snapshot diff — returns
    byte-identical results. A compaction killed between its claim and
    its head leaves readers on the old parts; the next writer installs
    it, and a retried compaction keeps every row exactly once."""
    import functools
    import math
    import os
    import shutil

    import pyarrow.parquet as pq

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

    def reads():
        return {
            "latest": store.load_sketch(spark, st, "cm").to_bytes(),
            "pinned": store.load_sketch(spark, st, "cm", seq=0).to_bytes(),
            "groups": {g: s.to_bytes() for g, s in
                       store.load_group_sketches(spark, st, "g").items()},
            "gstate": _grouped_manifest_state(st, "g"),
            "diff": snapshot_diff(spark, st, "cm", seq_old=0).to_bytes(),
            "winners": store._winner_rows(st),
            "manifests": {n: sorted(store._manifest_rows(st, n))
                          for n in ("cm", "g")},
        }

    before = reads()  # also warms the key index of every part
    n_files = len([f for f in os.listdir(st + "/sketches")
                   if f.endswith(".parquet")])
    assert n_files > 1

    stats = store.compact_store(spark, st)
    assert stats["sketches"]["files_after"] == 1
    assert stats["ingested"]["files_after"] == 1
    spark.catalog.clearCache()

    assert reads() == before
    # the key index holds the compacted parts only, no removed one
    head = store._head(st)
    for table in ("sketches", "ingested"):
        (live,) = head["parts"][table]
        assert os.listdir(f"{st}/{table}") == [live]
        indexed = {e for k, (_, index, _) in store._MEMO.items()
                   if k[:2] == (st, table) and k[2][0] == "keys"
                   for e in index}
        assert indexed == {f"{os.path.abspath(st)}/{table}/{live}"}

    # incremental maintenance keeps working across the compaction
    _part("p2.parquet", 200, 3)
    r = incremental_build(spark, data, "tokens", fac,
                          store_path=st, name="cm")
    assert r.new_rows == 200
    head_r = store._head(st)

    # a compaction killed after its claim: readers keep the old parts
    before = reads()
    rows = {t: sum(pq.ParquetFile(f"{st}/{t}/{p}").metadata.num_rows
                   for p in store._head(st)["parts"][t])
            for t in ("sketches", "ingested")}

    def killed(*args):
        raise OSError("killed")

    monkeypatch.setattr(store, "_write_head", killed)
    with pytest.raises(OSError, match="killed"):
        store.compact_store(spark, st)
    monkeypatch.undo()
    assert store._head(st) == head_r and reads() == before
    stats2 = store.compact_store(spark, st)   # installs it, then compacts
    assert {t: stats2[t]["rows"] for t in rows} == rows
    assert reads() == before
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
    with store._transaction(path):
        store._stage(path, "sketches",
                     [("g/a", 0, "CM01", good.to_bytes(), "0" * 64, -1, "{}")])
    # seq 1: an intact winner for the same group
    store.save_sketch(spark, path, "g/a", good)
    loaded = store.load_group_sketches(spark, path, "g")
    assert loaded["a"].to_bytes() == good.to_bytes()
    # when the corrupt row IS the winner, the read must still refuse
    with pytest.raises(IOError, match="corrupt"):
        store.load_group_sketches(spark, path, "g", max_seq=0)


def test_list_sketches_one_row_per_name_after_race(spark, tmp_path):
    """A row written into the store outside a commit (a second writer
    appending the same seq) is invisible: the listing keeps one row per
    name, the same winner every loader returns."""
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
    assert winner.to_bytes() == a.to_bytes()
    assert listing[0]["sha256"] == _h.sha256(winner.to_bytes()).hexdigest()


def test_winners_streaming_matches_window_winners(spark):
    """winners_streaming must pick exactly the rows _winners picks —
    without shuffling payloads. (Exact-duplicate rows, which the
    semi-join would keep twice, cannot be committed: see
    test_latest_entry_and_same_seq_tiebreak.)"""
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


@pytest.mark.parametrize("table", ["sketches", "lineage", "ingested"])
def test_failed_append_leaves_no_trace(spark, tmp_path, monkeypatch, table):
    """A fold whose write dies mid-append in any of the three tables (a
    torn temp file, then an error) leaves no part and no temp file
    behind in any table, and the next read returns the previous state —
    winner, lineage and manifest, since the three commit together; the
    retry folds the delta exactly once."""
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

    for t in ("sketches", "lineage", "ingested"):
        assert sorted(os.listdir(os.path.join(st, t))) == files[t]
    assert incremental._manifest_state(st, "cm", 0) == manifest
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
    """Parts written into the store outside a commit (by Spark, or any
    other writer) are invisible to every reader alike: winners, pinned
    seqs, group reads, listings and the manifest all read the committed
    parts only, and the next commit does not take an uncommitted seq. A
    directory with such parts and no commit at all is refused, not read
    as empty."""
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
    with pytest.raises(IOError, match="no _head"):
        store.latest_entry(spark, path, "x")

    path = str(tmp_path / "committed")
    assert store.save_sketch(spark, path, "x", sks[0],
                             meta={"by": "arrow"}) == 0
    spark_row("x", 1, sks[1], '{"by": "spark"}')
    spark_row("g/a", 4, sks[0], "{}")
    store.save_sketches_bulk(spark, path, [("g/b", 4, sks[1], 1)])

    assert store.latest_entry(spark, path, "x") == (0, {"by": "arrow"})
    assert store.save_sketch(spark, path, "x", sks[2]) == 1
    for seq, s in ((0, sks[0]), (1, sks[2])):
        assert (store.load_sketch(spark, path, "x", seq=seq).to_bytes()
                == s.to_bytes())
    groups = store.load_group_sketches(spark, path, "g")
    assert {g: s.to_bytes() for g, s in groups.items()} == {
        "b": sks[1].to_bytes()}
    listing = {r["name"]: r["seq"]
               for r in store.list_sketches(spark, path).collect()}
    assert listing == {"x": 1, "g/b": 4}

    (store.one_part_df(spark, [("m", 0, "", -1), ("m", 0, "f0", 10)],
                       store._MANIFEST_SCHEMA)
     .write.mode("append").parquet(path + "/ingested"))
    incremental._append_manifest(path, "m", 1, {"f1": 20})
    assert incremental._manifest_state(path, "m", 0) == {"f1": 20}


def test_read_opens_only_new_parts(spark, tmp_path, monkeypatch):
    """After a publish, a read opens the new part (for its keys) and the
    winner's payload part — not every part of the store's history. The
    same holds for manifest reads of ``ingested/``. A read with no
    commit since the last one stats the head once and opens no part
    file, and no read walks a table directory."""
    from sketchlib import incremental, store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    cfg = CMConfig(eps=1e-2, delta=0.1, seed=1)

    def version(i):
        s = CountMinSketch(cfg)
        s.update_batch(np.arange(i + 1, dtype=np.int64))
        return s

    for i in range(20):
        store.save_sketch(spark, path, "x", version(i))
        incremental._append_manifest(path, "x", i, {f"f{i}": i})
    assert store.latest_sketch(spark, path, "x")[0] == 19
    assert len(incremental._manifest_state(path, "x", 0)) == 20

    opened, walks, stats = [], [], []
    real_open, real_walk = store.pq.ParquetFile, store.pafs.FileSelector
    real_stat = store._stat

    def counting_open(*a, **kw):
        opened.append(1)
        return real_open(*a, **kw)

    def counting_walk(*a, **kw):
        walks.append(a)
        return real_walk(*a, **kw)

    def counting_stat(fs, p):
        stats.append(p)
        return real_stat(fs, p)

    monkeypatch.setattr(store.pq, "ParquetFile", counting_open)
    monkeypatch.setattr(store.pafs, "FileSelector", counting_walk)
    monkeypatch.setattr(store, "_stat", counting_stat)
    store.save_sketch(spark, path, "x", version(20))
    opened.clear()
    got = store.latest_sketch(spark, path, "x")
    assert got[0] == 20 and got[2].to_bytes() == version(20).to_bytes()
    assert len(opened) == 2  # the new part's keys, then its payload

    opened.clear()
    stats.clear()
    got = store.latest_sketch(spark, path, "x")     # warm: no commit since
    assert got[0] == 20 and got[2].to_bytes() == version(20).to_bytes()
    assert opened == [] and stats == [path + "/_head"]

    incremental._append_manifest(path, "x", 20, {"f20": 20})
    opened.clear()
    files = incremental._manifest_state(path, "x", 0)
    assert files == {f"f{i}": i for i in range(21)}
    assert len(opened) == 1
    assert walks == []


def test_read_decodes_only_admitted_row_groups(tmp_path):
    """In a part of many row groups (a compacted fleet), a one-name read
    decodes the keys of the row group whose footer bounds admit the name
    only; another name decodes its own row group once, and a read of
    every name reaches them all."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib import store
    from sketchlib.countmin import CMConfig, CountMinSketch

    path = str(tmp_path / "store")
    for d in ("sketches", "_log"):
        os.makedirs(f"{path}/{d}")
    sketches = {}
    for g in range(40):
        s = CountMinSketch(CMConfig(eps=0.5, delta=0.5, seed=1))
        s.update_batch(np.array([g], dtype=np.int64))
        sketches[f"f/{g:03d}"] = s
    rows = [store._sketch_row(n, 0, s, 1, None) for n, s in sketches.items()]
    schema = store._arrow_schema(store._SCHEMAS["sketches"])
    pq.write_table(pa.table([pa.array(c, type=f.type)
                             for c, f in zip(zip(*rows), schema)],
                            schema=schema),
                   path + "/sketches/part-0.parquet", row_group_size=4)
    store._commit(path, 0, (), {"sketches": ["part-0.parquet"]})

    def decoded():
        (index,) = [v[1] for k, v in store._MEMO.items()
                    if k[:2] == (path, "sketches") and k[2][0] == "keys"]
        (groups,) = index.values()
        assert len(groups) == 10
        return [g[0] for g in groups if g[5] is not None]

    def blob(name):
        return store._winner_rows(path, names=[name])[name].blob

    assert blob("f/007") == sketches["f/007"].to_bytes()
    assert decoded() == [1]
    assert blob("f/030") == sketches["f/030"].to_bytes()
    assert decoded() == [1, 7]
    got = store._winner_rows(path, prefix="f", payload=())
    assert sorted(got) == sorted(sketches)
    assert decoded() == list(range(10))


def test_memo_value_over_budget_evicts_nothing(monkeypatch):
    """A value larger than the whole memo budget is not kept: it drops
    its own key's old value, and the other entries stay."""
    from sketchlib import store

    monkeypatch.setattr(store, "_MEMO", {})
    monkeypatch.setattr(store, "_MEMO_BYTES", 100)
    store._memo_put(("a",), (), "a", 60)
    store._memo_put(("b",), (), "b", 30)
    store._memo_put(("c",), (), "c", 101)
    assert list(store._MEMO) == [("a",), ("b",)]
    store._memo_put(("b",), (), "b2", 101)
    assert list(store._MEMO) == [("a",)]
    store._memo_put(("d",), (), "d", 50)
    assert list(store._MEMO) == [("d",)]
