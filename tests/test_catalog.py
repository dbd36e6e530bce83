"""Sketch catalog (sketchlib.catalog): registration, answers with error
contracts, staleness policies (auto/refuse/stale_ok), spec persistence
across catalog reopen, spec-mismatch refusal, and cross-table overlap."""

import math
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from sketchlib.catalog import SketchCatalog, StaleEntryError
from sketchlib.datagen import generate_token_table


def _write_part(table_dir, part, rows, seed):
    src = str(table_dir / f"_src{part}.parquet")
    generate_token_table(src, rows=rows, seed=seed, dist="zipf")
    os.makedirs(table_dir / "data", exist_ok=True)
    shutil.move(src, table_dir / "data" / f"part{part}.parquet")


def _exact_counts(spark, data):
    from pyspark.sql import functions as F
    rows = (spark.read.parquet(data)
            .select(F.explode("tokens").alias("t"))
            .groupBy("t").agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), "t").collect())
    return {int(r["t"]): int(r["c"]) for r in rows}


@pytest.fixture()
def table(tmp_path):
    _write_part(tmp_path, 0, rows=800, seed=11)
    return str(tmp_path / "data")


TOKEN_KINDS = ["cm", "hll", "theta", "mg", "bloom"]


def test_register_and_answers(spark, table, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    reg = cat.register(table, "tokens", TOKEN_KINDS)
    assert reg.covered_rows == 800 and reg.extra["new_rows"] == 800

    exact = _exact_counts(spark, table)
    n = sum(exact.values())

    cd = cat.count_distinct(table, "tokens")
    assert cd.kind == "theta" and cd.stale_files == 0
    assert abs(cd.value - len(exact)) <= 4 * 0.03 * len(exact) + 2

    hot, hot_c = max(exact.items(), key=lambda kv: (kv[1], kv[0]))
    fq = cat.frequency(table, "tokens", hot)
    assert fq.kind == "cm"
    assert hot_c <= fq.value <= hot_c + 1e-4 * n + 1

    tk = cat.topk(table, "tokens", k=5)
    bound = tk.extra["bound"]
    survivors = dict(tk.value)
    for key, c in exact.items():
        if c > bound:
            got = [v for kk, v in tk.value if kk == key]
            # guaranteed present among ALL survivors; top-5 may truncate
            if key in survivors:
                assert survivors[key] <= c <= survivors[key] + bound

    mb = cat.member(table, "tokens", hot)
    assert mb.value is True and "false-positive" in mb.contract

    # batch answers: one store read, aligned with the key array,
    # identical to the per-key answers
    some = sorted(exact)[:50]
    fb = cat.frequencies(table, "tokens", some)
    assert [int(v) for v in fb.value[:5]] == [
        cat.frequency(table, "tokens", k).value for k in some[:5]]
    assert np.all(fb.value >= np.array([exact[k] for k in some]))
    memb = cat.members(table, "tokens", some)
    assert bool(np.all(memb.value))

    # every answer reads KB blobs, never the table
    assert cd.sketch_bytes < 200_000 and fq.sketch_bytes < 2_000_000


def test_numeric_quantile(spark, tmp_path):
    rng = np.random.default_rng(7)
    vals = rng.normal(100.0, 15.0, size=5000)
    data = str(tmp_path / "num")
    os.makedirs(data)
    pd.DataFrame({"v": vals}).to_parquet(data + "/part0.parquet")

    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(data, "v", ["kll", "tdigest"])
    med = float(np.quantile(vals, 0.5))
    q = cat.quantile(data, "v", 0.5)
    assert q.kind == "kll"
    # rank-error tolerance: value at rank 0.5 +/- 0.05
    lo, hi = np.quantile(vals, [0.45, 0.55])
    assert lo <= q.value <= hi, (q.value, med)


def test_staleness_policies(spark, tmp_path):
    _write_part(tmp_path, 0, rows=500, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"), policy="stale_ok")
    cat.register(data, "tokens", ["theta", "hll"])
    before = cat.count_distinct(data, "tokens").value

    _write_part(tmp_path, 1, rows=400, seed=22)
    assert cat.stale_files(data, "tokens") == 1

    # stale_ok: answers from the old sketch, reports the lag
    a = cat.count_distinct(data, "tokens")
    assert a.stale_files == 1 and not a.refreshed and a.value == before

    # refuse: raises
    with pytest.raises(StaleEntryError, match="stale by 1"):
        cat.count_distinct(data, "tokens", policy="refuse")

    # auto: folds the delta (delta scan only), then answers fresh
    b = cat.count_distinct(data, "tokens", policy="auto")
    assert b.refreshed and b.stale_files == 0 and b.covered_rows == 900

    # the auto-refreshed answer equals a from-scratch rebuild's answer
    cat2 = SketchCatalog(spark, str(tmp_path / "store2"))
    cat2.register(data, "tokens", ["theta", "hll"])
    assert cat2.count_distinct(data, "tokens").value == b.value


def test_spec_persists_across_reopen(spark, table, tmp_path):
    store = str(tmp_path / "store")
    SketchCatalog(spark, store).register(table, "tokens", TOKEN_KINDS)

    # a brand-new catalog object (fresh session in real life) answers
    # without re-registration: the spec lives in the store meta
    cat = SketchCatalog(spark, store)
    assert cat.count_distinct(table, "tokens").value > 0
    ents = cat.entries()
    assert len(ents) == 1
    assert ents[0]["column"] == "tokens"
    assert ents[0]["kinds"] == TOKEN_KINDS
    assert ents[0]["stale_files"] == 0
    assert ents[0]["covered_rows"] == 800


def test_spec_mismatch_refused(spark, table, tmp_path):
    store = str(tmp_path / "store")
    cat = SketchCatalog(spark, store)
    cat.register(table, "tokens", ["cm", "hll"])
    # same spec again: idempotent no-op refresh
    r = cat.register(table, "tokens", ["cm", "hll"])
    assert r.extra["new_files"] == 0
    with pytest.raises(ValueError, match="different spec"):
        cat.register(table, "tokens", ["cm", "theta"])
    with pytest.raises(ValueError, match="different spec"):
        cat.register(table, "tokens",
                     [("cm", {"eps": 1e-3}), "hll"])
    # rebuild=True replaces the registration
    cat.register(table, "tokens", ["cm", "theta"], rebuild=True)
    assert cat.count_distinct(table, "tokens").kind == "theta"


def test_unregistered_and_missing_kind(spark, table, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    with pytest.raises(KeyError, match="not registered"):
        cat.count_distinct(table, "tokens")
    cat.register(table, "tokens", ["cm"])
    with pytest.raises(KeyError, match="registered kinds"):
        cat.quantile(table, "tokens", 0.5)
    with pytest.raises(ValueError, match="unknown sketch kind"):
        cat.register(table, "tokens", ["nope"], rebuild=True)
    with pytest.raises(ValueError, match="no params"):
        cat.register(table, "tokens", [("cm", {"width": 9})],
                     rebuild=True)


def test_range_count(spark, table, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(table, "tokens", [("dyadic", {"eps": 1e-3})])
    exact = _exact_counts(spark, table)
    keys = sorted(exact)
    lo, hi = keys[len(keys) // 4], keys[3 * len(keys) // 4]
    true = sum(c for k, c in exact.items() if lo <= k <= hi)
    a = cat.range_count(table, "tokens", lo, hi)
    assert true <= a.value <= true + a.extra["bound"]
    assert "one-sided" in a.contract

    # key-domain median: cumulative mass strictly below the answer must
    # sit below target+slack, and including it must reach target-slack
    # (jump-robust — one hot key may straddle the whole window)
    n = sum(exact.values())
    med = cat.key_quantile(table, "tokens", 0.5)
    below = sum(c for k, c in exact.items() if k < med.value)
    at = below + exact.get(med.value, 0)
    slack = 0.02 * n
    assert below <= 0.5 * n + slack and at >= 0.5 * n - slack, \
        (med.value, below, at, n)


def _exact_by_source(spark, data):
    from pyspark.sql import functions as F
    rows = (spark.read.parquet(data)
            .select("source", F.explode("tokens").alias("t"))
            .groupBy("source").agg(
                F.countDistinct("t").alias("d"),
                F.count("*").alias("n")).collect())
    return {str(r["source"]): (int(r["d"]), int(r["n"])) for r in rows}


def test_grouped_register_and_answers(spark, tmp_path):
    _write_part(tmp_path, 0, rows=600, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    reg = cat.register_grouped(data, "source", "tokens",
                               ["cm", "theta", "mg"])
    exact = _exact_by_source(spark, data)
    assert reg.extra["updated_groups"] == len(exact)

    cd = cat.count_distinct_grouped(data, "source", "tokens")
    assert set(cd.value) == set(exact)
    assert cd.extra["groups"] == len(exact)
    for g, (d, _n) in exact.items():
        # per-source distinct (~16k) exceeds theta k=4096: estimation
        # regime, so assert the 5-sigma KMV envelope, not equality
        assert abs(cd.value[g] - d) <= 5 * 0.016 * d + 2, (g, cd.value[g], d)

    tk = cat.topk_grouped(data, "source", "tokens", k=3)
    assert set(tk.value) == set(exact)
    assert all(len(v) <= 3 for v in tk.value.values())

    # per-group CM upper bound on one hot key
    from pyspark.sql import functions as F
    hot = int(spark.read.parquet(data)
              .select(F.explode("tokens").alias("t"))
              .groupBy("t").count().orderBy(F.desc("count"), "t")
              .first()["t"])
    fq = cat.frequency_grouped(data, "source", "tokens", hot)
    per_g = {str(r["source"]): int(r["c"]) for r in
             spark.read.parquet(data)
             .select("source", F.explode("tokens").alias("t"))
             .filter(F.col("t") == hot)
             .groupBy("source").agg(F.count("*").alias("c")).collect()}
    for g, est in fq.value.items():
        assert est >= per_g.get(g, 0)

    # a grouped fleet lists ONCE in entries(), with its group column
    ents = cat.entries()
    assert len(ents) == 1
    assert ents[0]["group_col"] == "source"
    assert ents[0]["kinds"] == ["cm", "theta", "mg"]
    assert ents[0]["stale_files"] == 0

    # per-group numeric quantiles (separate fleet over n_tok)
    cat.register_grouped(data, "source", "n_tok", ["kll"])
    qg = cat.quantile_grouped(data, "source", "n_tok", 0.5)
    med = {str(r["source"]): (float(r["lo"]), float(r["hi"])) for r in
           spark.read.parquet(data).groupBy("source").agg(
               F.expr("percentile(n_tok, 0.35)").alias("lo"),
               F.expr("percentile(n_tok, 0.65)").alias("hi")).collect()}
    for g, v in qg.value.items():
        lo, hi = med[g]
        assert lo <= v <= hi, (g, v, lo, hi)
    assert len(cat.entries()) == 2


def test_grouped_staleness_and_reopen(spark, tmp_path):
    _write_part(tmp_path, 0, rows=500, seed=11)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path, policy="stale_ok")
    cat.register_grouped(data, "source", "tokens", ["theta"])

    _write_part(tmp_path, 1, rows=300, seed=22)
    assert cat.stale_files_grouped(data, "source", "tokens") == 1
    with pytest.raises(StaleEntryError, match="stale by 1"):
        cat.count_distinct_grouped(data, "source", "tokens",
                                   policy="refuse")
    a = cat.count_distinct_grouped(data, "source", "tokens",
                                   policy="auto")
    assert a.refreshed and a.stale_files == 0

    # a from-scratch registration over the full table agrees exactly
    cat2 = SketchCatalog(spark, str(tmp_path / "store2"))
    cat2.register_grouped(data, "source", "tokens", ["theta"])
    b = cat2.count_distinct_grouped(data, "source", "tokens")
    assert a.value == b.value

    # reopen: fresh catalog object rediscovers the spec from group rows
    cat3 = SketchCatalog(spark, store_path)
    c = cat3.count_distinct_grouped(data, "source", "tokens")
    assert c.value == a.value
    with pytest.raises(ValueError, match="different spec"):
        cat3.register_grouped(data, "source", "tokens", ["theta", "mg"])


def test_drift_between_epochs(spark, tmp_path):
    """cat.drift(): certified TV envelope between published epochs —
    a same-distribution append stays near zero, a uniform-shifted
    append is detected (lb rises), pinned pairs are reproducible."""
    _write_part(tmp_path, 0, rows=600, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(data, "tokens", ["mg", "theta"])            # seq 0

    _write_part(tmp_path, 1, rows=300, seed=22)              # same dist
    cat.refresh(data, "tokens")                              # seq 1
    a = cat.drift(data, "tokens", 0)
    assert 0.0 <= a.value["tv_lb"] <= a.value["tv_ub"] <= 1.0
    assert a.extra["seq_old"] == 0 and a.seq == 1

    src = str(tmp_path / "_u.parquet")
    generate_token_table(src, rows=900, seed=33, dist="uniform")
    shutil.move(src, os.path.join(data, "uniform.parquet"))
    cat.refresh(data, "tokens")                              # seq 2
    b = cat.drift(data, "tokens", 0)
    assert b.value["tv_lb"] > a.value["tv_lb"]               # detected
    assert b.value["tv_lb"] > 0.05

    pinned = cat.drift(data, "tokens", 0, 1)
    assert pinned.value == a.value                           # reproducible
    with pytest.raises(KeyError, match="no epoch 7"):
        cat.drift(data, "tokens", 7, 1)

    # certified movers after the shift: rows are (token, p_old, p_new,
    # shift_lb) with every lower bound strictly positive by contract
    mv = cat.top_movers(data, "tokens", 0, limit=10)
    assert mv.value and len(mv.value) <= 10
    assert all(lb > 0 for _t, _pa, _pb, lb in mv.value)
    assert mv.extra["tv"] == b.value


def test_catalog_survives_store_compaction(spark, tmp_path):
    """Compaction rewrites sketches/ + ingested/ into single files; the
    catalog's answers, spec rediscovery AND the incremental manifest
    (staleness diffs, delta-only refresh) must be unaffected."""
    from sketchlib.store import compact_store

    _write_part(tmp_path, 0, rows=400, seed=11)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path)
    cat.register(data, "tokens", ["theta", "cm"])
    _write_part(tmp_path, 1, rows=200, seed=22)
    cat.refresh(data, "tokens")              # two seqs + manifest rows
    before = cat.count_distinct(data, "tokens").value

    stats = compact_store(spark, store_path)
    assert stats                              # something was compacted
    spark.catalog.clearCache()

    cat2 = SketchCatalog(spark, store_path)   # reopen post-compaction
    assert cat2.count_distinct(data, "tokens").value == before
    assert cat2.stale_files(data, "tokens") == 0
    _write_part(tmp_path, 2, rows=100, seed=33)
    r = cat2.refresh(data, "tokens")
    assert r.extra["new_rows"] == 100         # manifest survived: delta-only
    assert cat2.count_distinct(data, "tokens").covered_rows == 700


def test_grouped_empty_table_refused(spark, tmp_path):
    data = str(tmp_path / "empty")
    os.makedirs(data)
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    with pytest.raises(ValueError, match="empty table"):
        cat.register_grouped(data, "source", "tokens", ["theta"])


def test_overlap_across_tables(spark, tmp_path):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a_dir), os.makedirs(b_dir)
    pd.DataFrame({"val": np.arange(0, 1000, dtype=np.int64)}).to_parquet(
        a_dir + "/p.parquet")
    pd.DataFrame({"val": np.arange(500, 1500, dtype=np.int64)}).to_parquet(
        b_dir + "/p.parquet")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(a_dir, "val", ["theta"])
    cat.register(b_dir, "val", ["theta"])
    ov = cat.overlap(a_dir, "val", b_dir, "val")
    # k=4096 > n: theta is exact below saturation
    assert ov.value["union"] == 1500.0
    assert ov.value["intersection"] == 500.0
    assert abs(ov.value["jaccard"] - 1 / 3) < 1e-9
    assert len(cat.entries()) == 2


def test_single_group_targeted_read(spark, tmp_path, monkeypatch):
    """VERDICT r4 #1a: a single-group question reads exactly ONE
    committed winner row — the fleet is never loaded. The monkeypatch
    pins the row-read count: the only store group-read the answer makes
    is restricted to exactly that group."""
    import sketchlib.store as store_mod

    _write_part(tmp_path, 0, rows=600, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_grouped(data, "source", "tokens", ["cm", "theta", "mg"])
    fleet_cd = cat.count_distinct_grouped(data, "source", "tokens")
    fleet_tk = cat.topk_grouped(data, "source", "tokens", k=3)
    g = sorted(fleet_cd.value)[0]

    calls = []
    orig = store_mod.load_group_sketches

    def spy(spark_, path, prefix, **kw):
        calls.append(kw.get("groups"))
        return orig(spark_, path, prefix, **kw)

    monkeypatch.setattr(store_mod, "load_group_sketches", spy)

    one = cat.count_distinct_grouped(data, "source", "tokens", group=g)
    assert one.value == fleet_cd.value[g]
    assert one.extra == {"group": g, "groups": 1, "group_col": "source"}
    assert one.seq >= 0 and one.sketch_bytes > 0

    tk = cat.topk_grouped(data, "source", "tokens", k=3, group=g)
    assert tk.value == fleet_tk.value[g]

    # row-read pin: every group-read the two answers made was targeted
    # to exactly [g] — never None (the whole-fleet load)
    assert calls == [[g], [g]]

    with pytest.raises(KeyError, match="no committed sketch"):
        cat.count_distinct_grouped(data, "source", "tokens",
                                   group="no-such-source")
    with pytest.raises(ValueError, match="exclusive"):
        cat.count_distinct_grouped(data, "source", "tokens", group=g,
                                   as_df=True)


def test_fleet_df_answers_match_dict(spark, tmp_path):
    """VERDICT r4 #1b: as_df=True evaluates the fleet per group inside
    mapInPandas over committed winner rows — same values as the dict
    path (same blobs, same arithmetic), no driver fan-in."""
    _write_part(tmp_path, 0, rows=600, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_grouped(data, "source", "tokens", ["cm", "theta", "mg"])
    cat.register_grouped(data, "source", "n_tok", ["tdigest"])

    cd = cat.count_distinct_grouped(data, "source", "tokens")
    cd_df = cat.count_distinct_grouped(data, "source", "tokens",
                                       as_df=True)
    assert cd_df.extra["distributed"] is True
    assert cd_df.value.columns == ["group", "value"]
    got = {r["group"]: r["value"] for r in cd_df.value.collect()}
    assert got == cd.value

    tk = cat.topk_grouped(data, "source", "tokens", k=3)
    tk_df = cat.topk_grouped(data, "source", "tokens", k=3, as_df=True)
    assert tk_df.value.columns == ["group", "key", "count"]
    by_g = {}
    for r in tk_df.value.collect():
        by_g.setdefault(r["group"], []).append((r["key"], r["count"]))
    assert {g: sorted(v) for g, v in by_g.items()} == \
        {g: sorted(v) for g, v in tk.value.items()}

    hot = next(iter(tk.value.values()))[0][0]
    fq = cat.frequency_grouped(data, "source", "tokens", hot)
    fq_df = cat.frequency_grouped(data, "source", "tokens", hot,
                                  as_df=True)
    assert {r["group"]: r["value"] for r in fq_df.value.collect()} \
        == fq.value

    qg = cat.quantile_grouped(data, "source", "n_tok", 0.5)
    qg_df = cat.quantile_grouped(data, "source", "n_tok", 0.5,
                                 as_df=True)
    assert {r["group"]: r["value"] for r in qg_df.value.collect()} \
        == qg.value


def test_quantile_grouped_contract_matches_kind(spark, tmp_path):
    """ADVICE r4: the grouped quantile contract reports the kind the
    registration RESOLVED to, not a hardcoded KLL wording."""
    _write_part(tmp_path, 0, rows=400, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_grouped(data, "source", "n_tok", ["tdigest"])
    a = cat.quantile_grouped(data, "source", "n_tok", 0.5)
    assert a.kind == "tdigest"
    assert "O(1/delta)" in a.contract and "O(1/k)" not in a.contract

    cat2 = SketchCatalog(spark, str(tmp_path / "store2"))
    cat2.register_grouped(data, "source", "n_tok", ["dd"])
    b = cat2.quantile_grouped(data, "source", "n_tok", 0.5)
    assert b.kind == "dd"
    assert "relative value error" in b.contract


def test_gspec_pinned_to_committed_epoch(spark, tmp_path, monkeypatch):
    """ADVICE r4: a rebuild with a CHANGED spec that dies before its
    commit leaves no row of the new spec visible — _gspec, answers, the
    spec-mismatch guard and entries() all read the committed spec."""
    from sketchlib import store as store_mod

    _write_part(tmp_path, 0, rows=400, seed=11)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path)
    kinds = ["cm", "theta", "mg"]
    cat.register_grouped(data, "source", "tokens", kinds)
    committed = cat.count_distinct_grouped(data, "source", "tokens")

    # the crash: a rebuild to ["theta"] wrote its parts, then died
    # before claiming its generation
    def killed(*args):
        raise OSError("killed before the claim")

    monkeypatch.setattr(store_mod, "_claim", killed)
    with pytest.raises(OSError, match="killed"):
        cat.register_grouped(data, "source", "tokens", ["theta"],
                             rebuild=True)
    monkeypatch.undo()

    # committed spec still rules every read path
    assert [k["kind"] for k in
            cat._gspec(data, "source", "tokens")["kinds"]] == kinds
    after = cat.count_distinct_grouped(data, "source", "tokens")
    assert after.value == committed.value
    (ent,) = cat.entries()
    assert ent["kinds"] == kinds
    # idempotent re-register with the COMMITTED spec must not raise;
    # the dead rebuild's spec is the one that now mismatches
    cat.register_grouped(data, "source", "tokens", kinds)
    with pytest.raises(ValueError, match="different spec"):
        cat.register_grouped(data, "source", "tokens", ["theta"])


def test_drift_grouped_between_epochs(spark, tmp_path):
    """VERDICT r4 #4: cat.drift_grouped — per-group certified TV
    envelopes between two PUBLISHED epochs, answered from store rows
    (zero table scans), with a planted one-source shift that must rank
    strictly on top while untouched sources certify tv_lb == 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    _write_part(tmp_path, 0, rows=600, seed=11)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path)
    cat.register_grouped(data, "source", "tokens", ["mg", "theta"])  # ep 0

    srcs = sorted(r["source"] for r in
                  spark.read.parquet(data).select("source")
                  .distinct().collect())
    planted = srcs[len(srcs) // 2]

    # exact epoch-A per-source freqs, materialized BEFORE the append
    # (a cached DataFrame would be matched by root path and silently
    # served for the post-append read too)
    def freqs(df):
        out = {}
        for r in (df.select("source", F.explode("tokens").alias("t"))
                  .groupBy("source", "t").agg(F.count("*").alias("c"))
                  .collect()):
            out.setdefault(r["source"], {})[int(r["t"])] = int(r["c"])
        return out
    fa = freqs(spark.read.parquet(data))

    # append a part touching ONLY the planted source: constant tokens
    SHIFT, N_NEW = 31337, 200
    tbl = pa.table({
        "doc_id": pa.array([f"drift-{i}" for i in range(N_NEW)]),
        "tokens": pa.array([[SHIFT] * 64] * N_NEW,
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([64] * N_NEW, type=pa.int32()),
        "source": pa.array([planted] * N_NEW),
    })
    pq.write_table(tbl, os.path.join(data, "part-drift.parquet"))
    cat.refresh_grouped(data, "source", "tokens")                    # ep 1

    d = cat.drift_grouped(data, "source", "tokens", 0, 1)
    assert d.extra["distributed"] is True and d.extra["seq_old"] == 0
    rows = {r["key"]: r for r in d.value.collect()}
    assert set(rows) == set(srcs)

    # exact per-source TV between the two epoch states, independently
    fb = freqs(spark.read.parquet(data))
    for s in srcs:
        na, nb = sum(fa[s].values()), sum(fb[s].values())
        exact = 0.5 * sum(abs(fa[s].get(t, 0) / na - fb[s].get(t, 0) / nb)
                          for t in set(fa[s]) | set(fb[s]))
        r = rows[s]
        assert r["tv_lb"] - 1e-9 <= exact <= r["tv_ub"] + 1e-9, (s, exact)
        if s != planted:
            assert r["tv_lb"] == 0.0     # untouched: certified no shift
    # planted shift mass = 12800 constant tokens over the group's
    # epoch-B stream; certified lb must capture most of it
    assert rows[planted]["tv_lb"] > 0.05
    assert all(rows[planted]["tv_lb"] > rows[s]["tv_lb"]
               for s in srcs if s != planted)

    # pinned epochs are reproducible; uncommitted epochs unaddressable
    again = {r["key"]: r for r in
             cat.drift_grouped(data, "source", "tokens", 0, 1)
             .value.collect()}
    assert {k: (v["tv_lb"], v["tv_ub"]) for k, v in again.items()} == \
        {k: (v["tv_lb"], v["tv_ub"]) for k, v in rows.items()}
    with pytest.raises(KeyError, match="no committed epoch 9"):
        cat.drift_grouped(data, "source", "tokens", 9, 1)


def test_catalog_stream_upkeep(spark, table, tmp_path):
    """Streamed appends land as atomically committed batch dirs, the
    registered entry delta-folds them per micro-batch, answers stay
    fresh within contract, and a replayed batch never double-counts."""
    from sketchlib.streaming import CatalogStreamUpkeep

    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(table, "tokens", ["cm", "theta"])
    base_exact = _exact_counts(spark, table)

    src = tmp_path / "incoming"
    os.makedirs(src)
    generate_token_table(str(src / "a.parquet"), rows=250, seed=21,
                         dist="zipf")
    generate_token_table(str(src / "b.parquet"), rows=250, seed=22,
                         dist="zipf")

    static = spark.read.parquet(str(src))
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    upkeep = CatalogStreamUpkeep(cat, table, ["tokens"])
    q = upkeep.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    # batch dirs are subdirectories — batch readers of a streamed table use
    # recursiveFileLookup (the catalog's own manifest walk is recursive)
    from pyspark.sql import functions as F
    rows = (spark.read.option("recursiveFileLookup", "true").parquet(table)
            .select(F.explode("tokens").alias("t"))
            .groupBy("t").agg(F.count("*").alias("c")).collect())
    exact = {int(r["t"]): int(r["c"]) for r in rows}
    n = sum(exact.values())
    assert n > sum(base_exact.values())   # streamed tokens reached the table
    ans = upkeep.last[("", "tokens")]
    assert ans.covered_rows == 800 + 500  # base rows + both streamed batches

    hot, hot_c = max(exact.items(), key=lambda kv: (kv[1], kv[0]))
    fq = cat.frequency(table, "tokens", hot)
    assert fq.stale_files == 0
    assert hot_c <= fq.value <= hot_c + 1e-4 * n + 1
    cd = cat.count_distinct(table, "tokens")
    assert abs(cd.value - len(exact)) <= 4 * 0.03 * len(exact) + 2

    # replay idempotency: foreachBatch is at-least-once — re-processing a
    # committed batch id must not rewrite data or re-fold files
    covered = cat.refresh(table, "tokens").covered_rows
    replay = spark.read.parquet(str(src / "a.parquet"))
    upkeep.process_batch(replay, batch_id=0)
    assert cat.refresh(table, "tokens").covered_rows == covered


def test_catalog_stream_upkeep_requires_registration(spark, table, tmp_path):
    from sketchlib.streaming import CatalogStreamUpkeep

    cat = SketchCatalog(spark, str(tmp_path / "store"))
    with pytest.raises(KeyError):
        CatalogStreamUpkeep(cat, table, ["tokens"])
    cat.register(table, "tokens", ["cm"])
    with pytest.raises(ValueError):
        CatalogStreamUpkeep(cat, table, [])


def test_catalog_stream_upkeep_grouped(spark, table, tmp_path):
    """Grouped fleets stay fresh from the same stream: every micro-batch
    delta-republishes only the groups it touches, and per-group answers
    reflect base + streamed rows."""
    from pyspark.sql import functions as F
    from sketchlib.streaming import CatalogStreamUpkeep

    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_grouped(table, "source", "tokens", ["theta"])

    src = tmp_path / "incoming"
    os.makedirs(src)
    generate_token_table(str(src / "a.parquet"), rows=200, seed=31,
                         dist="zipf")
    static = spark.read.parquet(str(src))
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    upkeep = CatalogStreamUpkeep(cat, table, [],
                                 grouped=[("source", "tokens")])
    q = upkeep.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert ("source", "tokens") in upkeep.last

    rows = (spark.read.option("recursiveFileLookup", "true").parquet(table)
            .select("source", F.explode("tokens").alias("t"))
            .groupBy("source")
            .agg(F.countDistinct("t").alias("d")).collect())
    exact = {str(r["source"]): int(r["d"]) for r in rows}
    ans = cat.count_distinct_grouped(table, "source", "tokens")
    assert set(ans.value) == set(exact)
    for g, d in exact.items():
        assert abs(ans.value[g] - d) <= 4 * 0.03 * d + 2


def test_explain_routes_match_actual_answers(spark, table, tmp_path):
    """explain() is provenance without blob reads: its routed kind per
    verb must equal the Answer.kind the verb actually returns (both
    resolve through _VERB_ROUTES), unroutable verbs must say so, and
    staleness must track appended files."""
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(table, "tokens", ["cm", "theta", "mg"])

    ex = cat.explain(table, "tokens")
    assert ex["kinds"] == ["cm", "theta", "mg"]
    assert ex["stale_files"] == 0 and ex["covered_rows"] == 800
    r = ex["routes"]
    assert r["count_distinct"]["kind"] == "theta"   # preferred over hll
    assert r["frequency"]["kind"] == "cm"
    assert r["topk"]["kind"] == "mg"
    assert r["drift"]["kind"] == "mg"
    # not registered: quantile (kll/tdigest/dd), member (bloom), range
    for verb in ("quantile", "member", "range_count", "key_quantile"):
        assert r[verb]["kind"] is None and not r[verb]["available"]

    # never-disagree: the actual answers carry exactly the routed kind
    assert cat.count_distinct(table, "tokens").kind == "theta"
    assert cat.frequency(table, "tokens", 1).kind == "cm"
    assert cat.topk(table, "tokens", k=3).kind == "mg"
    with pytest.raises(KeyError):
        cat.quantile(table, "tokens", 0.5)

    # staleness surfaces without a refresh
    _write_part(tmp_path, 1, rows=200, seed=12)
    assert cat.explain(table, "tokens")["stale_files"] == 1

    with pytest.raises(KeyError):
        cat.explain(table, "nope")


def test_explain_grouped(spark, tmp_path):
    """Grouped explain: committed-epoch seq, grouped verb subset only,
    store rows describe the winner-row / fleet-DataFrame reads."""
    _write_part(tmp_path, 0, rows=400, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    reg = cat.register_grouped(data, "source", "tokens", ["theta", "mg"])

    ex = cat.explain(data, "tokens", group_col="source")
    assert ex["group_col"] == "source" and ex["seq"] == reg.seq
    assert set(ex["routes"]) == set(SketchCatalog._GROUPED_VERBS)
    assert ex["routes"]["count_distinct"]["kind"] == "theta"
    assert ex["routes"]["topk"]["kind"] == "mg"
    assert ex["routes"]["frequency"]["kind"] is None   # no cm registered
    assert "winner" in ex["store_rows"]["single_group"]
    assert ex["stale_files"] == 0

    assert cat.count_distinct_grouped(data, "source", "tokens").kind == "theta"


def test_top_movers_grouped_between_epochs(spark, tmp_path):
    """cat.top_movers_grouped — per-group certified key movers between
    two published epochs: the planted source must report the planted
    token as its top mover (fleet DataFrame AND targeted single-group
    two-row read agree), untouched sources report no movers for the
    planted token, and every reported shift_lb is a true lower bound on
    the exact |p_old - p_new|."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    _write_part(tmp_path, 0, rows=500, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_grouped(data, "source", "tokens", ["mg"])        # ep 0

    srcs = sorted(r["source"] for r in
                  spark.read.parquet(data).select("source")
                  .distinct().collect())
    planted = srcs[0]

    def freqs(df):
        out = {}
        for r in (df.select("source", F.explode("tokens").alias("t"))
                  .groupBy("source", "t").agg(F.count("*").alias("c"))
                  .collect()):
            out.setdefault(r["source"], {})[int(r["t"])] = int(r["c"])
        return out
    fa = freqs(spark.read.parquet(data))

    SHIFT, N_NEW = 41414, 150
    tbl = pa.table({
        "doc_id": pa.array([f"mv-{i}" for i in range(N_NEW)]),
        "tokens": pa.array([[SHIFT] * 64] * N_NEW,
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([64] * N_NEW, type=pa.int32()),
        "source": pa.array([planted] * N_NEW),
    })
    pq.write_table(tbl, os.path.join(data, "part-movers.parquet"))
    cat.refresh_grouped(data, "source", "tokens")                 # ep 1
    fb = freqs(spark.read.parquet(data))

    ans = cat.top_movers_grouped(data, "source", "tokens", 0, 1)
    assert ans.extra["distributed"] is True and ans.kind == "mg"
    rows = {}
    for r in ans.value.collect():
        rows.setdefault(r["key"], []).append(
            (int(r["token"]), r["p_old"], r["p_new"], r["shift_lb"]))

    # planted source's top mover is the planted token
    top = sorted(rows[planted], key=lambda r: -r[3])[0]
    assert top[0] == SHIFT and top[3] > 0.05
    # no other source certifies the planted token as a mover
    for s in srcs[1:]:
        assert SHIFT not in {t for t, *_ in rows.get(s, [])}
    # every certified shift is a true lower bound on the exact shift
    for s, movers in rows.items():
        na, nb = sum(fa[s].values()), sum(fb[s].values())
        for t, p_old, p_new, lb in movers:
            exact = abs(fa[s].get(t, 0) / na - fb[s].get(t, 0) / nb)
            assert lb <= exact + 1e-9, (s, t, lb, exact)

    # targeted single-group mode: identical movers, O(1) store rows
    single = cat.top_movers_grouped(data, "source", "tokens", 0, 1,
                                    group=planted)
    assert single.extra["group"] == planted
    assert [(int(t), pa_, pb_, lb) for t, pa_, pb_, lb in single.value] \
        == sorted(rows[planted], key=lambda r: (-r[3], r[0]))

    with pytest.raises(KeyError):
        cat.top_movers_grouped(data, "source", "tokens", 0, 1,
                               group="no-such-source")


def test_groups_diff_between_epochs(spark, tmp_path):
    """cat.groups_diff — fleet-membership changes between published
    epochs from store METADATA only: an appended novel source shows as
    'appeared'; after a rebuild without it, it shows as 'disappeared';
    unchanged epochs diff to empty. Epoch pins follow the committed
    lineage (uncommitted epochs unaddressable, pre-rebuild rows dead)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _write_part(tmp_path, 0, rows=300, seed=11)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    reg0 = cat.register_grouped(data, "source", "tokens", ["mg"])  # ep0

    part = os.path.join(data, "part-novel.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(["n-0", "n-1"]),
        "tokens": pa.array([[7, 8, 9], [9, 10]],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([3, 2], type=pa.int32()),
        "source": pa.array(["novel-src"] * 2),
    }), part)
    reg1 = cat.refresh_grouped(data, "source", "tokens")           # ep1

    d01 = cat.groups_diff(data, "source", "tokens", reg0.seq, reg1.seq)
    assert d01.kind == "metadata" and d01.sketch_bytes == 0
    assert [(r["key"], r["status"]) for r in d01.value.collect()] == \
        [("novel-src", "appeared")]

    os.remove(part)
    reg2 = cat.register_grouped(data, "source", "tokens", ["mg"],
                                rebuild=True)                      # ep2
    d12 = cat.groups_diff(data, "source", "tokens", reg1.seq, reg2.seq)
    assert [(r["key"], r["status"]) for r in d12.value.collect()] == \
        [("novel-src", "disappeared")]
    # ep0 and the current epoch (ep2, default seq_new) share the same
    # membership — both lack the novel source: empty diff
    assert cat.groups_diff(data, "source", "tokens",
                           reg0.seq).value.count() == 0
    with pytest.raises(KeyError, match="no committed epoch"):
        cat.groups_diff(data, "source", "tokens", 99, reg2.seq)


def test_cs_kind_unbiased_frequency_and_second_moment(spark, table,
                                                      tmp_path):
    """'cs' catalog kind: frequency_unbiased answers within a few
    per-row sds of exact (and, unlike CM, is NOT systematically
    one-sided), second_moment brackets the exact self-join size
    Σf², and explain routes both verbs to cs."""
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(table, "tokens", ["cm", "cs"])

    exact = _exact_counts(spark, table)
    f2_exact = sum(c * c for c in exact.values())

    sm = cat.second_moment(table, "tokens")
    assert sm.kind == "cs"
    # median-of-5 AMS rows at w=8192: well within 5 per-row sigmas
    sigma = math.sqrt(2.0 / 8192) * f2_exact
    assert abs(sm.value - f2_exact) <= 5 * sigma

    hot, hot_c = max(exact.items(), key=lambda kv: (kv[1], kv[0]))
    fu = cat.frequency_unbiased(table, "tokens", hot)
    assert fu.kind == "cs"
    sd = math.sqrt(f2_exact / 8192)
    assert abs(fu.value - hot_c) <= 5 * sd

    ex = cat.explain(table, "tokens")
    assert ex["routes"]["frequency_unbiased"]["kind"] == "cs"
    assert ex["routes"]["second_moment"]["kind"] == "cs"
    assert ex["routes"]["frequency"]["kind"] == "cm"

    # SQL parity
    from sketchlib.catalog_sql import register_catalog_sql
    register_catalog_sql(spark, str(tmp_path / "store"))
    row = spark.sql(
        f"SELECT catalog_frequency_unbiased('{table}', 'tokens', "
        f"{hot}) AS fu, catalog_second_moment('{table}', 'tokens') "
        "AS f2").collect()[0]
    assert row["fu"] == fu.value and row["f2"] == sm.value


def test_sample_registration_subset_sums(spark, table, tmp_path):
    """Weighted-sample entries: register_sample builds a PrioritySample
    over (doc_id, n_tok, payload=source); subset_sum answers arbitrary
    key predicates (exact while the sample never overflowed),
    sample_group_sums matches per-source totals, staleness folds
    delta-only under policy='auto', and the SQL scalar matches."""
    from pyspark.sql import functions as F

    cat = SketchCatalog(spark, str(tmp_path / "store"), policy="auto")
    reg = cat.register_sample(table, "doc_id", "n_tok",
                              payload_col="source", k=4096)
    assert reg.covered_rows == 800

    pdf = spark.read.parquet(table).select("doc_id", "n_tok",
                                           "source").toPandas()
    total = int(pdf["n_tok"].sum())

    st = cat.sample_total(table, "doc_id", "n_tok")
    assert st.value["exact"] == total
    assert st.value["estimate"] == total        # k=4096 > 800: exact mode

    # arbitrary predicate: every doc whose id ends in an odd digit
    want = int(pdf[pdf["doc_id"].str[-1].astype(int) % 2 == 1]
               ["n_tok"].sum())
    a = cat.subset_sum(table, "doc_id", "n_tok",
                       pred=lambda s: int(s[-1]) % 2 == 1)
    assert a.value == want and a.extra["exact_mode"] and a.kind == "psample"

    # fnmatch pattern form (SQL-shippable)
    want_p = int(pdf[pdf["doc_id"].str.endswith("7")]["n_tok"].sum())
    p = cat.subset_sum(table, "doc_id", "n_tok", pattern="*7")
    assert p.value == want_p

    gs = cat.sample_group_sums(table, "doc_id", "n_tok")
    want_g = pdf.groupby("source")["n_tok"].sum().to_dict()
    assert gs.value == {k: float(v) for k, v in want_g.items()}

    # staleness: appended part folds delta-only, answers go fresh
    _write_part(tmp_path, 1, rows=200, seed=44)
    a2 = cat.subset_sum(table, "doc_id", "n_tok", pattern="*7")
    assert a2.refreshed and a2.covered_rows == 1000
    pdf2 = spark.read.parquet(table).select("doc_id",
                                            "n_tok").toPandas()
    # the appended fixture part reuses doc ids with different weights;
    # the sample's documented duplicate-key collapse keeps the MAX
    # (weight, payload) instance per key
    dd = pdf2.groupby("doc_id", as_index=False)["n_tok"].max()
    assert a2.value == int(dd[dd["doc_id"].str.endswith("7")]
                           ["n_tok"].sum())

    # SQL parity
    from sketchlib.catalog_sql import register_catalog_sql
    register_catalog_sql(spark, str(tmp_path / "store"))
    row = spark.sql(
        f"SELECT catalog_subset_sum('{table}', 'doc_id', 'n_tok', "
        "'*7') AS s").collect()[0]
    assert row["s"] == a2.value

    # overflow regime: small k still lands within a loose band and
    # reports estimation mode
    cat.register_sample(table, "doc_id", "n_tok", k=64, seed=7,
                        rebuild=True)
    small = cat.subset_sum(table, "doc_id", "n_tok", pattern="*")
    assert not small.extra["exact_mode"]
    exact_all = int(dd["n_tok"].sum())
    assert 0.5 * exact_all <= small.value <= 1.5 * exact_all

    # entries()/explain() render the sample entry
    ent = [e for e in cat.entries() if e["kinds"] == ["psample"]]
    assert len(ent) == 1 and ent[0]["column"] == "doc_id~n_tok"
    ex = cat.explain(table, "doc_id~n_tok")
    assert ex["routes"]["subset_sum"]["kind"] == "psample"

    with pytest.raises(ValueError, match="exactly one"):
        cat.subset_sum(table, "doc_id", "n_tok")
    with pytest.raises(KeyError, match="no sample registration"):
        cat.subset_sum(table, "doc_id", "nope", pattern="*")


def test_grouped_sample_subset_sums(spark, table, tmp_path):
    """Per-group weighted samples (register_sample_grouped): exact-mode
    per-source subset sums match exact SQL, single-group mode reads one
    committed row and agrees with the fleet dict, delta folds republish
    only touched groups, and entries() lists the fleet."""
    cat = SketchCatalog(spark, str(tmp_path / "store"), policy="auto")
    reg = cat.register_sample_grouped(table, "source", "doc_id",
                                      "n_tok", k=4096)
    pdf = spark.read.parquet(table).select("doc_id", "n_tok",
                                           "source").toPandas()
    assert reg.extra["updated_groups"] == pdf["source"].nunique()

    want = (pdf[pdf["doc_id"].str.endswith("3")]
            .groupby("source")["n_tok"].sum().to_dict())
    fleet = cat.subset_sum_grouped(table, "source", "doc_id", "n_tok",
                                   pattern="*3")
    assert fleet.kind == "psample"
    for g in sorted(set(pdf["source"])):
        assert fleet.value[g] == float(want.get(g, 0))

    g0 = sorted(fleet.value)[0]
    single = cat.subset_sum_grouped(table, "source", "doc_id", "n_tok",
                                    pattern="*3", group=g0)
    assert single.value == fleet.value[g0]
    assert single.extra["groups"] == 1 and single.extra["exact_mode"]

    # delta fold under policy='auto': answers refresh and still exact
    # (appended fixture part reuses doc ids -> max-(weight) collapse)
    _write_part(tmp_path, 1, rows=200, seed=55)
    f2 = cat.subset_sum_grouped(table, "source", "doc_id", "n_tok",
                                pattern="*3")
    assert f2.refreshed
    pdf2 = spark.read.parquet(table).select("doc_id", "n_tok",
                                            "source").toPandas()
    dd = (pdf2.sort_values("n_tok", ascending=False)
          .drop_duplicates(["source", "doc_id"]))
    want2 = (dd[dd["doc_id"].str.endswith("3")]
             .groupby("source")["n_tok"].sum().to_dict())
    for g, v in f2.value.items():
        assert v == float(want2.get(g, 0)), (g, v, want2.get(g))

    ent = [e for e in cat.entries()
           if e["kinds"] == ["psample"] and e["group_col"] == "source"]
    assert len(ent) == 1 and ent[0]["column"] == "doc_id~n_tok"

    # explain() renders grouped sample fleets without crashing
    gex = cat.explain(table, "doc_id~n_tok", group_col="source")
    assert gex["kinds"] == ["psample"]
    assert gex["routes"]["subset_sum"]["kind"] == "psample"

    with pytest.raises(KeyError, match="no grouped sample"):
        cat.subset_sum_grouped(table, "source", "doc_id", "nope",
                               pattern="*")
    with pytest.raises(ValueError, match="different sample spec"):
        cat.register_sample_grouped(table, "source", "doc_id", "n_tok",
                                    k=128)


def test_via_merged_fleet_matches_global(spark, tmp_path):
    """via=<group_col> answers a GLOBAL question by tree-merging the
    grouped fleet's committed sketches — for the order-independent kinds
    (CM counter sums, HLL register max, theta k-smallest union) the
    merged MultiSketch must be BYTE-IDENTICAL to a global entry built
    over the same rows, so the answers are equal exactly, not just
    within bounds."""
    _write_part(tmp_path, 0, rows=700, seed=21)
    _write_part(tmp_path, 1, rows=600, seed=22)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    kinds = [("cm", {"eps": 1e-3}), "hll", "theta", "mg"]
    cat.register(data, "tokens", kinds)
    cat.register_grouped(data, "source", "tokens", kinds)

    _, _, ms_global, _, _ = cat._entry(data, "tokens", None)
    _, ms_via = cat._merge_fleet(
        cat._gname(data, "source", "tokens"),
        cat._gspec(data, "source", "tokens"))
    for i, kind in enumerate(("cm", "hll", "theta")):
        assert ms_global.parts[i].to_bytes() == ms_via.parts[i].to_bytes(), \
            f"{kind} part not byte-identical"

    assert cat.count_distinct(data, "tokens", via="source").value == \
        cat.count_distinct(data, "tokens").value
    exact = _exact_counts(spark, data)
    hot = max(exact, key=lambda t: (exact[t], t))
    fv = cat.frequency(data, "tokens", hot, via="source")
    assert fv.value == cat.frequency(data, "tokens", hot).value
    assert fv.extra["merged_from_fleet"] and fv.extra["group_col"] == "source"
    # MG merged via fleet: order-dependent bytes, but the guarantee
    # holds — the heaviest key (far above any merged bound here)
    # surfaces, and survivor counts stay within [reported, +bound]
    tk = cat.topk(data, "tokens", k=5, via="source")
    assert hot in {t for t, _ in tk.value}
    for t, c in tk.value:
        assert c <= exact[t] <= c + tk.extra["bound"]

    # staleness flows through the fleet path: refuse raises, auto folds
    _write_part(tmp_path, 2, rows=500, seed=23)
    with pytest.raises(StaleEntryError):
        cat.count_distinct(data, "tokens", via="source", policy="refuse")
    v = cat.count_distinct(data, "tokens", via="source", policy="auto")
    assert v.refreshed and v.stale_files == 0
    g = cat.count_distinct(data, "tokens", policy="auto")
    assert v.value == g.value


def test_file_index_locate_and_pruned_read(spark, tmp_path):
    """Per-file data-skipping index: locate() has NO false negatives for
    any probed key, per-candidate CM upper bounds are one-sided, a
    pruned read returns exactly the full scan's rows for the key, and a
    delta fold republishes ONLY the appended file's group."""
    from pyspark.sql import functions as F

    for part, seed in ((0, 31), (1, 32), (2, 33)):
        _write_part(tmp_path, part, rows=400, seed=seed)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_file_index(
        data, "tokens",
        [("bloom", {"capacity": 50_000, "fpr": 0.001}),
         ("cm", {"eps": 1e-3})])

    df = (spark.read.parquet(data)
          .withColumn("f", F.element_at(
              F.split(F.input_file_name(), "/"), -1)))
    base = df.select("f", F.explode("tokens").alias("t"))
    per_file = {(str(r["f"]), int(r["t"])): int(r["c"]) for r in
                base.filter(F.col("t") % 17 == 0)
                .groupBy("f", "t").agg(F.count("*").alias("c"))
                .collect()}
    by_token: dict[int, set] = {}
    for (f, t), c in per_file.items():
        by_token.setdefault(t, set()).add(f)
    # a deterministic 1/17 vocabulary slice, probed in ONE fleet pass:
    # no false negatives, CM upper bounds sound per (key, file)
    probe = sorted(by_token)
    lb = cat.locate_batch(data, "tokens", probe)
    assert lb.extra["files_total"] == 3
    for t in probe:
        cand = {f for f, _ in lb.value[t]}
        assert by_token[t] <= cand, f"false negative for token {t}"
        for f, ub in lb.value[t]:
            assert ub >= per_file.get((f, t), 0)
    # a token in exactly one file prunes the scan (deterministic blooms:
    # same data + key -> same candidate set every run)
    single = next(t for t in probe if len(by_token[t]) == 1)
    loc = cat.locate(data, "tokens", single)
    assert loc.extra["files_total"] == 3
    assert loc.extra["files_matched"] < 3
    pr = cat.pruned_read(data, "tokens", single)
    n_pruned = (pr.select(F.explode("tokens").alias("t"))
                .filter(F.col("t") == single).count())
    n_full = (df.select(F.explode("tokens").alias("t"))
              .filter(F.col("t") == single).count())
    assert n_pruned == n_full > 0

    # absent key: value may be [] and pruned_read still works (empty)
    missing = max(by_token) + 12345
    empty = cat.pruned_read(data, "tokens", missing)
    assert (empty.select(F.explode("tokens").alias("t"))
            .filter(F.col("t") == missing).count()) == 0

    # delta: ONLY the appended file's group publishes; old rows stand
    _write_part(tmp_path, 3, rows=300, seed=34)
    r = cat.refresh_file_index(data, "tokens")
    assert r.extra["new_files"] == 1 and r.extra["updated_groups"] == 1
    loc2 = cat.locate(data, "tokens", single)
    assert loc2.extra["files_total"] == 4
    assert {f for f, _ in loc.value} <= {f for f, _ in loc2.value}

    # spec change without rebuild refused; reopen rediscovers the spec
    with pytest.raises(ValueError, match="rebuild=True"):
        cat.register_file_index(data, "tokens",
                                [("bloom", {"capacity": 9})])
    cat2 = SketchCatalog(spark, str(tmp_path / "store"))
    again = cat2.locate(data, "tokens", single)
    assert [f for f, _ in again.value] == [f for f, _ in loc2.value]


def test_sample_via_merged_fleet_matches_global(spark, table, tmp_path):
    """subset_sum / sample_total with via=<group_col>: the merged
    grouped sample fleet must answer IDENTICALLY to a global sample
    entry with the same (k, seed) — priorities are deterministic in
    (key, seed), so per-group k-samples merge to exactly the global
    k-sample over the same rows."""
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_sample(table, "doc_id", "n_tok",
                        payload_col="source", k=4096)
    cat.register_sample_grouped(table, "source", "doc_id", "n_tok",
                                payload_col="source", k=4096)
    for pat in ("*1", "*5"):
        a = cat.subset_sum(table, "doc_id", "n_tok", pattern=pat)
        b = cat.subset_sum(table, "doc_id", "n_tok", pattern=pat,
                           via="source")
        assert b.value == a.value
        assert b.extra["merged_from_fleet"] \
            and b.extra["group_col"] == "source"
        assert b.extra["exact_mode"] == a.extra["exact_mode"]
    t_g = cat.sample_total(table, "doc_id", "n_tok")
    t_v = cat.sample_total(table, "doc_id", "n_tok", via="source")
    assert t_v.value == t_g.value

    # unregistered fleet fails loudly
    with pytest.raises(KeyError, match="register_sample_grouped"):
        cat.subset_sum(table, "doc_id", "n_tok", pattern="*1",
                       via="nope")


def test_ngram_file_index_decontamination_triage(spark, tmp_path):
    """File index over the DERIVED hashed-n-gram stream (ngrams=n):
    "which files can contain this shingle" answered from store rows —
    the file-level triage in front of exact-verify decontamination. No
    false negatives per shingle; coexists with the raw-key index over
    the same column; delta folds republish only the appended file."""
    import pyarrow.parquet as pq

    from sketchlib.ngrams import array_ngrams

    for part, seed in ((0, 71), (1, 72), (2, 73)):
        _write_part(tmp_path, part, rows=300, seed=seed)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    N, SEED = 5, 99
    cat.register_file_index(
        data, "tokens",
        [("bloom", {"capacity": 400_000, "fpr": 0.001}),
         ("cm", {"eps": 1e-3})],
        ngrams=N, ngram_seed=SEED)
    # raw index over the same column coexists (different entry label)
    cat.register_file_index(
        data, "tokens", [("bloom", {"capacity": 50_000, "fpr": 0.001})])

    # ground truth: per-file shingle sets, same public kernel
    truth: dict[int, set] = {}
    per_file_hashes = {}
    for part in (0, 1, 2):
        col = pq.read_table(f"{data}/part{part}.parquet",
                            columns=["tokens"]).column(0)
        hs = array_ngrams(col, N, SEED)
        per_file_hashes[f"part{part}.parquet"] = hs
        for h in np.unique(hs):
            truth.setdefault(int(h), set()).add(f"part{part}.parquet")

    # probe a deterministic slice of real shingles in ONE fleet pass
    probe = sorted(truth)[::197]
    lb = cat.locate_batch(data, "tokens", probe, ngrams=N,
                          ngram_seed=SEED)
    assert lb.extra["files_total"] == 3
    for h in probe:
        cand = {f for f, _ in lb.value[h]}
        assert truth[h] <= cand, f"false negative for shingle {h}"

    # a single-file shingle prunes; CM ub bounds its exact count
    single = next(h for h in probe if len(truth[h]) == 1)
    loc = cat.locate(data, "tokens", single, ngrams=N, ngram_seed=SEED)
    assert loc.extra["files_matched"] < 3
    (f_hit, ub), *_ = loc.value
    exact_in_file = int((per_file_hashes[f_hit] == single).sum()) \
        if f_hit in per_file_hashes else 0
    assert ub >= exact_in_file >= 1 or f_hit not in per_file_hashes

    # the raw index still answers raw keys independently
    col0 = pq.read_table(f"{data}/part0.parquet",
                         columns=["tokens"]).column(0)
    raw_key = int(col0.combine_chunks().flatten()[0].as_py())
    raw = cat.locate(data, "tokens", raw_key)
    assert "part0.parquet" in {f for f, _ in raw.value}

    # delta: appended file -> ONE new group in the n-gram fleet
    _write_part(tmp_path, 3, rows=200, seed=74)
    r = cat.refresh_file_index(data, "tokens", ngrams=N,
                               ngram_seed=SEED)
    assert r.extra["new_files"] == 1 and r.extra["updated_groups"] == 1
    lb2 = cat.locate(data, "tokens", single, ngrams=N, ngram_seed=SEED)
    assert lb2.extra["files_total"] == 4


def test_refresh_grouped_on_file_index(spark, tmp_path):
    """refresh_grouped with the file-index group column folds appended
    files into the per-file index (the same fold as refresh_file_index)."""
    _write_part(tmp_path, 0, rows=300, seed=41)
    data = str(tmp_path / "data")
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_file_index(data, "tokens")
    _write_part(tmp_path, 1, rows=200, seed=42)
    r = cat.refresh_grouped(data, "__file__", "tokens")
    assert r.kind == "refresh_file_index"
    assert r.extra["new_files"] == 1 and r.extra["updated_groups"] == 1
    assert cat.locate(data, "tokens", 0).extra["files_total"] == 2
    assert cat.stale_files_grouped(data, "__file__", "tokens") == 0


def test_fresh_answers_run_no_spark_job(spark, table, tmp_path):
    """A non-stale answer on a local store reads the store through
    pyarrow and the table listing through the filesystem: no verb below
    starts a Spark job."""
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(table, "tokens", ["cm", "theta", "mg", "bloom"])
    exact = _exact_counts(spark, table)
    key = next(iter(exact))
    cat.frequency(table, "tokens", key)     # first read fills the memo

    sc = spark.sparkContext
    sc.setJobGroup("fresh-answers", "catalog reads")
    try:
        answers = [cat.frequency(table, "tokens", key),
                   cat.frequencies(table, "tokens", [key, key + 1]),
                   cat.count_distinct(table, "tokens"),
                   cat.topk(table, "tokens", k=3),
                   cat.member(table, "tokens", key)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fresh-answers") == []
    assert all(a.stale_files == 0 and not a.refreshed for a in answers)
    assert answers[0].value >= exact[key]
    assert answers[4].value is True


def test_small_delta_fold_runs_no_spark_job(spark, table, tmp_path):
    """An ``auto`` answer over a 10-row delta folds it in the driver
    process (the merge planner's in-process path): the fold, publish and
    answer start no Spark job, and the answer covers the delta."""
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register(table, "tokens", ["cm", "theta", "mg", "bloom"])
    _write_part(tmp_path, 1, rows=10, seed=12)
    exact = _exact_counts(spark, table)
    key = next(iter(exact))

    sc = spark.sparkContext
    sc.setJobGroup("small-delta-fold", "auto answer over a 10-row delta")
    try:
        a = cat.frequency(table, "tokens", key)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("small-delta-fold") == []
    assert a.refreshed and a.stale_files == 0 and a.covered_rows == 810
    assert a.value >= exact[key]


def test_fold_never_alters_an_answer_already_read(spark, tmp_path):
    """A delta fold merges into the sketch it loads; the reads that came
    before it — Python verb, SQL function, and the store object a caller
    holds — keep their pre-fold answers, and every post-fold answer
    equals a from-scratch build."""
    from sketchlib import store
    from sketchlib.catalog import _factory_from_spec
    from sketchlib.catalog_sql import register_catalog_sql
    from sketchlib.spark_build import build_aggregator_parquet

    _write_part(tmp_path, 0, rows=500, seed=61)
    data = str(tmp_path / "data")
    sp = str(tmp_path / "store")
    cat = SketchCatalog(spark, sp)
    cat.register(data, "tokens", ["cm", "theta", "bloom"])
    register_catalog_sql(spark, sp)
    keys = sorted(_exact_counts(spark, data))[:8]
    sql = (f"SELECT catalog_frequency('{data}', 'tokens', k) AS f "
           f"FROM VALUES {', '.join(f'({k})' for k in keys)} AS t(k)")

    held = store.latest_sketch(spark, sp, cat._name(data, "tokens"))
    held_bytes = held[2].to_bytes()
    py0 = cat.frequencies(data, "tokens", keys)
    sql0 = [r["f"] for r in spark.sql(sql).collect()]
    assert sql0 == [int(v) for v in py0.value]

    _write_part(tmp_path, 1, rows=300, seed=62)
    py1 = cat.frequencies(data, "tokens", keys)      # auto: folds first
    assert py1.refreshed and py1.seq == held[0] + 1
    sql1 = [r["f"] for r in spark.sql(sql).collect()]

    assert held[2].to_bytes() == held_bytes
    pinned = store.latest_sketch(spark, sp, cat._name(data, "tokens"),
                                 seq=held[0])
    assert pinned[2].to_bytes() == held_bytes
    assert list(py0.value) == sql0

    spec = cat._spec(data, "tokens")
    rebuilt = build_aggregator_parquet(spark, data, "tokens",
                                       _factory_from_spec(spec)).sketch
    latest = store.load_sketch(spark, sp, cat._name(data, "tokens"))
    assert latest.to_bytes() == rebuilt.to_bytes()
    want = [int(v) for v in rebuilt.parts[0].point_query_batch(
        np.asarray(keys, dtype=np.int64))]
    assert [int(v) for v in py1.value] == sql1 == want


def test_fleet_read_runs_no_duplicate_check_job(spark, table, tmp_path):
    """A ``via=<group_col>`` fleet read streams the committed winners
    straight into the merge: winners_streaming runs no job of its own to
    look for exact-duplicate rows (the commit refuses a committed
    (name, seq), so there are none), and the store's parts are read with
    their known schema, so no job infers it. The read runs 3 Spark jobs;
    it ran 7 with that check and the schema inference."""
    cat = SketchCatalog(spark, str(tmp_path / "store"))
    cat.register_grouped(table, "source", "tokens", ["theta"])
    expect = cat.count_distinct(table, "tokens", via="source").value
    sc = spark.sparkContext
    sc.setJobGroup("fleet-read", "count_distinct via the fleet")
    try:
        a = cat.count_distinct(table, "tokens", via="source")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("fleet-read")) == 3
    assert a.value == expect and not a.refreshed
