"""SQL surface for the catalog (sketchlib.catalog_sql): verbs answer
from published store blobs, match the Python catalog API exactly (same
winner rule, same blobs), see new epochs after a refresh (fingerprint
cache invalidation), and read one committed row for group questions."""

import os
import shutil

import pytest

from sketchlib.catalog import SketchCatalog
from sketchlib.catalog_sql import register_catalog_sql
from sketchlib.datagen import generate_token_table


def _write_part(table_dir, part, rows, seed):
    src = str(table_dir / f"_src{part}.parquet")
    generate_token_table(src, rows=rows, seed=seed, dist="zipf")
    os.makedirs(table_dir / "data", exist_ok=True)
    shutil.move(src, table_dir / "data" / f"part{part}.parquet")


@pytest.fixture()
def setup(spark, tmp_path):
    _write_part(tmp_path, 0, rows=500, seed=11)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path)
    cat.register(data, "tokens", ["cm", "theta", "mg", "bloom"])
    cat.register(data, "n_tok", ["kll"])
    cat.register_grouped(data, "source", "tokens", ["theta", "mg"])
    cat.register_grouped(data, "source", "n_tok", ["kll"])
    register_catalog_sql(spark, store_path)
    return cat, data


def test_sql_verbs_match_python_api(spark, setup):
    cat, data = setup
    row = spark.sql(f"""
        SELECT catalog_count_distinct('{data}', 'tokens') AS cd,
               catalog_quantile('{data}', 'n_tok', 0.5) AS med
    """).collect()[0]
    assert row["cd"] == cat.count_distinct(data, "tokens").value
    assert row["med"] == cat.quantile(data, "n_tok", 0.5).value

    # topk TVF: identical survivors to the Python verb
    got = [(r["key"], r["count"]) for r in
           spark.sql(f"SELECT * FROM catalog_topk('{data}', 'tokens', 5)")
           .collect()]
    assert got == [(int(k), int(c)) for k, c in
                   cat.topk(data, "tokens", k=5).value]

    # per-row key column: CM upper bound and bloom no-false-negatives
    # hold for every present token (batch-probed, one resolve per batch)
    from pyspark.sql import functions as F
    toks = (spark.read.parquet(data)
            .select(F.explode("tokens").alias("t"))
            .groupBy("t").agg(F.count("*").alias("exact")))
    toks.createOrReplaceTempView("tok_counts")
    checked = spark.sql(f"""
        SELECT SUM(CASE WHEN catalog_frequency('{data}','tokens',t)
                             >= exact THEN 0 ELSE 1 END) AS cm_viol,
               SUM(CASE WHEN catalog_member('{data}','tokens',t)
                        THEN 0 ELSE 1 END) AS bloom_misses,
               COUNT(*) AS n
        FROM tok_counts
    """).collect()[0]
    assert checked["n"] > 0
    assert checked["cm_viol"] == 0 and checked["bloom_misses"] == 0


def test_sql_sees_new_epoch_after_refresh(spark, setup, tmp_path):
    cat, data = setup
    q = f"SELECT catalog_count_distinct('{data}', 'tokens') AS cd"
    before = spark.sql(q).collect()[0]["cd"]
    _write_part(tmp_path, 1, rows=400, seed=22)
    cat.refresh(data, "tokens")
    after = spark.sql(q).collect()[0]["cd"]
    assert after == cat.count_distinct(data, "tokens").value
    assert after != before   # new vocabulary arrived; stale cache would
    # have served `before` (the fingerprint changed with the publish)


def test_sql_group_answer_pinned_to_committed_epoch(spark, setup):
    cat, data = setup
    fleet = cat.count_distinct_grouped(data, "source", "tokens")
    g = sorted(fleet.value)[0]
    got = spark.sql(
        f"SELECT catalog_count_distinct_group('{data}', 'source', "
        f"'tokens', '{g}') AS v").collect()[0]["v"]
    assert got == fleet.value[g]

    # a row above the committed epoch (a direct publish that no fold's
    # commit marker covers) must not change the SQL answer
    from sketchlib import store as store_mod
    from sketchlib.theta import ThetaSketch
    name = cat._gname(data, "source", "tokens")
    store_mod.save_sketches_bulk(
        spark, cat.store_path, [(f"{name}/{g}", 999, ThetaSketch(4096,
                                                                 1337), 0)],
        meta={"catalog_spec": {"version": 1, "column": "tokens",
                               "group_col": "source",
                               "kinds": [{"kind": "theta",
                                          "params": {"k": 4096,
                                                     "seed": 1337}}]},
              "table_path": os.path.abspath(data),
              "column": "tokens", "group_col": "source"})
    still = spark.sql(
        f"SELECT catalog_count_distinct_group('{data}', 'source', "
        f"'tokens', '{g}') AS v").collect()[0]["v"]
    assert still == fleet.value[g]


def test_sql_unregistered_errors(spark, setup):
    _cat, data = setup
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException
    with pytest.raises((PythonException, Py4JJavaError),
                       match="not registered"):
        spark.sql(f"SELECT catalog_count_distinct('{data}', 'nope')"
                  ).collect()
    with pytest.raises((PythonException, Py4JJavaError),
                       match="none of"):
        # n_tok registered with kll only: no theta/hll part
        spark.sql(f"SELECT catalog_count_distinct('{data}', 'n_tok')"
                  ).collect()


def test_sql_grouped_topk_and_quantile_match_python(spark, setup):
    """The grouped TVF and scalar answer from ONE committed fleet row
    and equal the Python verbs' group= answers exactly."""
    cat, data = setup
    fleet = cat.count_distinct_grouped(data, "source", "tokens")
    g = sorted(fleet.value)[0]

    got = [(r["key"], r["count"]) for r in spark.sql(
        f"SELECT * FROM catalog_topk_group('{data}', 'source', "
        f"'tokens', '{g}', 5)").collect()]
    want = cat.topk_grouped(data, "source", "tokens", k=5, group=g)
    assert got == [(int(k), int(c)) for k, c in want.value]
    assert len(got) > 0

    med = spark.sql(
        f"SELECT catalog_quantile_group('{data}', 'source', 'n_tok', "
        f"'{g}', 0.5) AS v").collect()[0]["v"]
    assert med == cat.quantile_grouped(data, "source", "n_tok", 0.5,
                                       group=g).value


def test_sql_grouped_frequency_matches_python(spark, setup):
    """catalog_frequency_group batch-probes one committed fleet row's
    CM and equals the Python frequency_grouped(group=) answer; the
    per-group CM never undercounts the group's exact count."""
    from pyspark.sql import functions as F

    cat, data = setup
    cat.register_grouped(data, "source", "tokens", ["theta", "mg", "cm"],
                         rebuild=True)
    fleet = cat.count_distinct_grouped(data, "source", "tokens")
    g = sorted(fleet.value)[0]
    exact = (spark.read.parquet(data)
             .filter(F.col("source") == g)
             .select(F.explode("tokens").alias("t"))
             .groupBy("t").agg(F.count("*").alias("cnt"))
             .orderBy(F.desc("cnt"), "t").limit(10).collect())
    assert exact
    for r in exact:
        got = spark.sql(
            f"SELECT catalog_frequency_group('{data}', 'source', "
            f"'tokens', '{g}', {int(r['t'])}) AS v").collect()[0]["v"]
        assert got == cat.frequency_grouped(
            data, "source", "tokens", int(r["t"]), group=g).value
        assert got >= int(r["cnt"])


def test_sql_drift_and_entries_match_python(spark, setup, tmp_path):
    """catalog_drift answers from two pinned epochs and equals cat.drift;
    catalog_entries lists every registration like cat.entries()."""
    cat, data = setup
    seq0 = cat.count_distinct(data, "tokens").seq
    _write_part(tmp_path, 1, rows=400, seed=33)
    cat.refresh(data, "tokens")
    seq1 = cat.count_distinct(data, "tokens").seq
    assert seq1 > seq0

    row = spark.sql(
        f"SELECT * FROM catalog_drift('{data}', 'tokens', {seq0}, "
        f"{seq1})").collect()[0]
    want = cat.drift(data, "tokens", seq0, seq1)
    assert row["tv_lb"] == want.value["tv_lb"]
    assert row["tv_ub"] == want.value["tv_ub"]
    assert row["tv_lb"] <= row["tv_ub"]
    # NULL seq_new = latest epoch
    latest = spark.sql(
        f"SELECT * FROM catalog_drift('{data}', 'tokens', {seq0}, "
        f"NULL)").collect()[0]
    assert (latest["tv_lb"], latest["tv_ub"]) == (row["tv_lb"],
                                                  row["tv_ub"])

    got = {(r["name"], r["group_col"], r["kinds"]) for r in
           spark.sql("SELECT * FROM catalog_entries()").collect()}
    want_e = {(e["name"], e["group_col"], ",".join(e["kinds"]))
              for e in cat.entries()}
    assert got == want_e and len(got) >= 4


def test_sql_overlap_matches_python(spark, setup, tmp_path):
    """catalog_overlap answers from two theta winner rows and equals
    cat.overlap exactly (same blobs, same estimator)."""
    cat, data = setup
    # a second table sharing part of the vocabulary (overlapping seeds)
    other_dir = tmp_path / "other"
    os.makedirs(other_dir, exist_ok=True)
    _write_part(other_dir, 0, rows=500, seed=11)   # same dist as table A
    other = str(other_dir / "data")
    cat.register(other, "tokens", ["theta"])

    row = spark.sql(
        f"SELECT * FROM catalog_overlap('{data}', 'tokens', "
        f"'{other}', 'tokens')").collect()[0]
    want = cat.overlap(data, "tokens", other, "tokens").value
    assert row["union_est"] == want["union"]
    assert row["intersection_est"] == want["intersection"]
    assert row["jaccard"] == want["jaccard"]
    # identical zipf draw: heavy overlap, sane estimates
    assert row["intersection_est"] > 0
    assert 0.0 < row["jaccard"] <= 1.0
    assert row["rse"] > 0


def test_sql_cache_invalidates_across_compaction(spark, setup):
    """compact_store rewrites the store's file set; the fingerprint
    cache must re-resolve (same answers, new files)."""
    from sketchlib.store import compact_store
    cat, data = setup
    q = f"SELECT catalog_count_distinct('{data}', 'tokens') AS cd"
    before = spark.sql(q).collect()[0]["cd"]
    compact_store(spark, cat.store_path)
    after = spark.sql(q).collect()[0]["cd"]
    assert after == before == cat.count_distinct(data, "tokens").value


def test_sql_explain_matches_python_explain(spark, setup):
    """catalog_explain TVF rows must agree verb-for-verb with the Python
    explain() (both resolve through _VERB_ROUTES), for global and
    grouped entries; unroutable verbs report kind NULL."""
    cat, data = setup

    rows = {r["verb"]: r for r in spark.sql(
        f"SELECT * FROM catalog_explain('{data}', 'tokens')").collect()}
    ex = cat.explain(data, "tokens")
    assert set(rows) == set(ex["routes"])
    for verb, route in ex["routes"].items():
        assert rows[verb]["kind"] == route["kind"]
        assert rows[verb]["available"] == route["available"]
        assert rows[verb]["preference"] == ",".join(route["preference"])
        assert int(rows[verb]["seq"]) == ex["seq"]
        assert rows[verb]["kinds"] == ",".join(ex["kinds"])
    assert rows["count_distinct"]["kind"] == "theta"
    assert rows["quantile"]["kind"] is None          # kll on n_tok only

    grows = {r["verb"]: r for r in spark.sql(
        f"SELECT * FROM catalog_explain('{data}', 'tokens', 'source')"
    ).collect()}
    gex = cat.explain(data, "tokens", group_col="source")
    assert set(grows) == set(gex["routes"])
    for verb, route in gex["routes"].items():
        assert grows[verb]["kind"] == route["kind"]
        assert int(grows[verb]["seq"]) == gex["seq"]
    assert grows["topk"]["kind"] == "mg"
    assert grows["frequency"]["kind"] is None        # no cm in the fleet


def test_sql_movers_and_group_drift_match_python(spark, setup, tmp_path):
    """catalog_top_movers == cat.top_movers (global, two pinned rows);
    catalog_drift_group / catalog_top_movers_group == the single-group
    Python verbs (two committed winner rows, never the fleet)."""
    cat, data = setup
    seq0 = cat.count_distinct(data, "tokens").seq
    g_ans = cat.count_distinct_grouped(data, "source", "tokens")
    gep0 = 0
    _write_part(tmp_path, 1, rows=400, seed=33)
    cat.refresh(data, "tokens")
    reg2 = cat.refresh_grouped(data, "source", "tokens")
    seq1 = cat.count_distinct(data, "tokens").seq
    gep1 = reg2.seq

    # global movers
    rows = [(r["token"], r["p_old"], r["p_new"], r["shift_lb"])
            for r in spark.sql(
                f"SELECT * FROM catalog_top_movers('{data}', 'tokens', "
                f"{seq0}, {seq1}, 10)").collect()]
    want = [(int(t), po, pn, lb) for t, po, pn, lb in
            cat.top_movers(data, "tokens", seq0, seq1, limit=10).value]
    assert rows == want

    g = sorted(g_ans.value)[0]
    drow = spark.sql(
        f"SELECT * FROM catalog_drift_group('{data}', 'source', "
        f"'tokens', '{g}', {gep0}, {gep1})").collect()[0]
    # single-group Python verb reads the same two rows
    mrows = [(r["token"], r["p_old"], r["p_new"], r["shift_lb"])
             for r in spark.sql(
                 f"SELECT * FROM catalog_top_movers_group('{data}', "
                 f"'source', 'tokens', '{g}', {gep0}, {gep1}, 10)"
             ).collect()]
    mwant = [(int(t), po, pn, lb) for t, po, pn, lb in
             cat.top_movers_grouped(data, "source", "tokens", gep0,
                                    gep1, group=g, limit=10).value]
    assert mrows == mwant
    assert drow["tv_lb"] <= drow["tv_ub"]
    # the group's certified mover mass is consistent with its envelope:
    # every mover's lb/2 contributes to TV, so max mover lb/2 <= tv_ub
    if mrows:
        assert max(r[3] for r in mrows) / 2 <= drow["tv_ub"] + 1e-9

    import pytest as _pytest
    with _pytest.raises(Exception, match="no committed epoch"):
        spark.sql(f"SELECT * FROM catalog_drift_group('{data}', "
                  f"'source', 'tokens', '{g}', 99, {gep1})").collect()


def test_sql_groups_diff_matches_python(spark, setup, tmp_path):
    """catalog_groups_diff == cat.groups_diff (metadata-only membership
    delta between pinned epochs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cat, data = setup
    part = os.path.join(data, "part-novel.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(["n-0"]),
        "tokens": pa.array([[5, 6]], type=pa.list_(pa.int32())),
        "n_tok": pa.array([2], type=pa.int32()),
        "source": pa.array(["novel-src"]),
    }), part)
    reg1 = cat.refresh_grouped(data, "source", "tokens")
    rows = [(r["key"], r["status"]) for r in spark.sql(
        f"SELECT * FROM catalog_groups_diff('{data}', 'source', "
        f"'tokens', 0, {reg1.seq})").collect()]
    want = sorted((r["key"], r["status"]) for r in
                  cat.groups_diff(data, "source", "tokens", 0,
                                  reg1.seq).value.collect())
    assert rows == want == [("novel-src", "appeared")]


def test_sql_subset_sum_and_group_match_python(spark, setup, tmp_path):
    """catalog_subset_sum / catalog_subset_sum_group answer from sample
    registrations and equal the Python verbs (exact mode)."""
    cat, data = setup
    cat.register_sample(data, "doc_id", "n_tok", k=4096)
    cat.register_sample_grouped(data, "source", "doc_id", "n_tok",
                                k=4096)
    want = cat.subset_sum(data, "doc_id", "n_tok", pattern="*9").value
    fleet = cat.subset_sum_grouped(data, "source", "doc_id", "n_tok",
                                   pattern="*9").value
    g0 = sorted(fleet)[0]
    row = spark.sql(
        f"SELECT catalog_subset_sum('{data}', 'doc_id', 'n_tok', "
        f"'*9') AS s, catalog_subset_sum_group('{data}', 'source', "
        f"'doc_id', 'n_tok', '{g0}', '*9') AS sg").collect()[0]
    assert row["s"] == want
    assert row["sg"] == fleet[g0]
    assert abs(sum(fleet.values()) - want) < 1e-9   # partition of total


def test_sql_merged_fleet_matches_python_via(spark, setup):
    """catalog_count_distinct_merged / catalog_frequency_merged answer
    from the MERGED grouped fleet and must equal both the Python via=
    answers and (order-independence) a global entry's answers."""
    cat, data = setup
    row = spark.sql(f"""
        SELECT catalog_count_distinct_merged(
                   '{data}', 'source', 'tokens') AS cd
    """).collect()[0]
    assert row["cd"] == cat.count_distinct(data, "tokens",
                                           via="source").value
    assert row["cd"] == cat.count_distinct(data, "tokens").value


def test_sql_merged_frequency_and_locate(spark, tmp_path):
    from pyspark.sql import functions as F

    for part, seed in ((0, 61), (1, 62)):
        _write_part(tmp_path, part, rows=400, seed=seed)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path)
    cat.register(data, "tokens", [("cm", {"eps": 1e-3})])
    cat.register_grouped(data, "source", "tokens",
                         [("cm", {"eps": 1e-3})])
    cat.register_file_index(
        data, "tokens", [("bloom", {"capacity": 40_000, "fpr": 0.001}),
                         ("cm", {"eps": 1e-3})])
    register_catalog_sql(spark, store_path)

    hot = int(spark.read.parquet(data)
              .select(F.explode("tokens").alias("t"))
              .groupBy("t").count().orderBy(F.desc("count"), "t")
              .limit(1).collect()[0]["t"])
    row = spark.sql(f"""
        SELECT catalog_frequency_merged(
                   '{data}', 'source', 'tokens', {hot}) AS fq
    """).collect()[0]
    assert row["fq"] == cat.frequency(data, "tokens", hot,
                                      via="source").value
    assert row["fq"] == cat.frequency(data, "tokens", hot).value

    got = sorted((r["file"], r["count_ub"]) for r in spark.sql(
        f"SELECT * FROM catalog_locate('{data}', 'tokens', {hot})")
        .collect())
    assert got == cat.locate(data, "tokens", hot).value
    assert len(got) >= 1   # the hot token is everywhere

    # a locate over an unregistered column fails loudly
    with pytest.raises(Exception, match="file index|register_file"):
        spark.sql(f"SELECT * FROM catalog_locate('{data}', 'n_tok', 1)"
                  ).collect()


def test_sql_locate_ngram_index(spark, tmp_path):
    """catalog_locate's optional (ngrams, seed) arguments address an
    n-gram file index; answers equal the Python verb's."""
    import pyarrow.parquet as pq

    from sketchlib.ngrams import array_ngrams

    for part, seed in ((0, 81), (1, 82)):
        _write_part(tmp_path, part, rows=250, seed=seed)
    data = str(tmp_path / "data")
    store_path = str(tmp_path / "store")
    cat = SketchCatalog(spark, store_path)
    N, SEED = 4, 17
    cat.register_file_index(
        data, "tokens", [("bloom", {"capacity": 200_000,
                                    "fpr": 0.001})],
        ngrams=N, ngram_seed=SEED)
    register_catalog_sql(spark, store_path)

    col = pq.read_table(f"{data}/part0.parquet",
                        columns=["tokens"]).column(0)
    h = int(array_ngrams(col, N, SEED)[0])
    got = sorted((r["file"], r["count_ub"]) for r in spark.sql(
        f"SELECT * FROM catalog_locate('{data}', 'tokens', {h}, "
        f"{N}, {SEED})").collect())
    assert got == cat.locate(data, "tokens", h, ngrams=N,
                             ngram_seed=SEED).value
    assert "part0.parquet" in {f for f, _ in got}
