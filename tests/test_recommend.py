"""hs.recommend(df): the advisory loop's other half — whyNot explains a
miss, recommend proposes the config that would hit.  Round-trip tested:
create exactly what it suggests, re-plan, and the suggestion must fire."""

import pytest

from hyperspace_spark import Hyperspace

from tests.conftest import rows_equal, table


@pytest.fixture()
def hs(spark, tmp_path):
    return Hyperspace(spark, system_path=str(tmp_path / "idx"))


def test_recommend_filter_and_roundtrip(spark, hs, tmp_path):
    src = str(tmp_path / "orders")
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    df = o.filter("o_custkey = 42").select("o_orderkey", "o_totalprice")
    recs = hs.recommend(df)
    ci = [r for r in recs if r["rule"] == "FilterIndexRule"]
    ds = [r for r in recs if r["rule"] == "DataSkippingIndexRule"]
    assert len(ci) == 1 and len(ci) + len(ds) == len(recs)
    cfg = ci[0]["config"]
    assert cfg.indexed_columns == ["o_custkey"]
    assert set(cfg.included_columns) == {"o_orderkey", "o_totalprice"}
    # the alternative: a skipping sketch on the equality column
    assert len(ds) == 1
    assert [s.column for s in ds[0]["config"].sketches] == ["o_custkey"]
    # create exactly the covering suggestion -> the planner now uses it
    hs.create_index(o, cfg)
    out, used = hs._apply_with_info(df)
    assert used == [cfg.name], hs.why_not(df)
    assert rows_equal(df, out)
    # and ALL suggestions disappear (query already index-served)
    assert hs.recommend(df) == []


def test_recommend_range_and_join_and_agg(spark, hs, tmp_path):
    from pyspark.sql import functions as F

    src_o = str(tmp_path / "o")
    src_l = str(tmp_path / "l")
    table(spark, "orders").write.parquet(src_o)
    table(spark, "lineitem").write.parquet(src_l)
    o = spark.read.parquet(src_o)
    li = spark.read.parquet(src_l)
    # range filter -> first predicate column as the sort key, plus a
    # MinMax-sketch skipping alternative
    r = hs.recommend(o.filter("o_totalprice > 1000.0").select("o_orderkey"))
    r_ci = [x for x in r if x["rule"] == "FilterIndexRule"]
    r_ds = [x for x in r if x["rule"] == "DataSkippingIndexRule"]
    assert len(r_ci) == 1 and r_ci[0]["config"].indexed_columns == ["o_totalprice"]
    assert len(r_ds) == 1
    assert [s.kind for s in r_ds[0]["config"].sketches] == ["MinMax"]
    # equi-join -> a co-bucketed pair (one suggestion per side)
    j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    recs = hs.recommend(j)
    by_rule = {}
    for rec in recs:
        by_rule.setdefault(rec["rule"], []).append(rec)
    assert len(by_rule.get("JoinIndexRule", [])) == 2
    keys = {tuple(rec["config"].indexed_columns) for rec in by_rule["JoinIndexRule"]}
    assert keys == {("l_orderkey",), ("o_orderkey",)}
    # index one side -> only the other side is still proposed
    (l_rec,) = [
        rec for rec in by_rule["JoinIndexRule"] if rec["config"].indexed_columns == ["l_orderkey"]
    ]
    hs.create_index(li, l_rec["config"])
    left = [rec for rec in hs.recommend(j) if rec["rule"] == "JoinIndexRule"]
    assert [rec["config"].indexed_columns for rec in left] == [["o_orderkey"]], left
    # group-by over a scan -> bucketed-agg suggestion
    a = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    recs_a = hs.recommend(a)
    assert any(
        rec["rule"] == "AggBucketedIndexRule"
        and rec["config"].indexed_columns == ["o_custkey"]
        for rec in recs_a
    )


def test_recommend_or_pair_roundtrip(spark, hs, tmp_path):
    """A disjunctive filter family yields ONE suggestion per branch
    column (rule FilterOrIndexRule); creating the full set makes the
    index-OR union fire, and the suggestions disappear."""
    src = str(tmp_path / "orders_or")
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    df = o.filter("o_custkey = 42 OR o_orderpriority = '1-URGENT'").select(
        "o_orderkey", "o_totalprice"
    )
    recs = hs.recommend(df)
    or_recs = [r for r in recs if r["rule"] == "FilterOrIndexRule"]
    assert {tuple(r["config"].indexed_columns) for r in or_recs} == {
        ("o_custkey",),
        ("o_orderpriority",),
    }, recs
    # no competing single-index suggestion for the same filter: an OR
    # pins nothing for the plain rule, so suggesting one is noise
    assert not [r for r in recs if r["rule"] == "FilterIndexRule"]
    for r in or_recs:
        # pin a bucket count: at toy scale the auto policy sizes the
        # index to ONE bucket (nothing to prune); real sources get many
        cfg = r["config"]
        cfg.num_buckets = 8
        hs.create_index(o, cfg)
    out, used = hs._apply_with_info(df)
    assert len(used) == 2, hs.why_not(df)
    assert rows_equal(df, out)
    # loop closed: both branch indexes exist -> nothing left to suggest
    assert [r for r in hs.recommend(df) if r["rule"] == "FilterOrIndexRule"] == []


def test_recommend_skipping_sketch_roundtrip(spark, hs, tmp_path):
    """Sketch-kind selection + round-trip (VERDICT r10 item 5): a range
    predicate proposes MinMax, an equality on a low-cardinality column
    proposes ValueList, an equality on a high-cardinality column
    proposes Bloom; creating the proposed DataSkippingIndexConfig makes
    DataSkippingIndexRule prune files on the probe query, and the
    proposal disappears."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "orders_ds")
    # layout-correlated writes so MinMax pruning has something to drop
    table(spark, "orders").repartition(8, "o_orderkey").write.parquet(src)
    o = spark.read.parquet(src)
    df = o.filter(
        "o_totalprice < 5000.0 AND o_orderpriority = '1-URGENT' AND o_custkey = 42"
    )
    recs = [r for r in hs.recommend(df) if r["rule"] == "DataSkippingIndexRule"]
    assert len(recs) == 1, recs
    cfg = recs[0]["config"]
    kinds = {s.column: s.kind for s in cfg.sketches}
    # o_custkey: ~1k distinct in a ~15k-row sample -> high cardinality;
    # o_orderpriority: 5 distinct -> low; o_totalprice: range predicate
    assert kinds["o_totalprice"] == "MinMax"
    assert kinds["o_orderpriority"] == "ValueList"
    assert kinds["o_custkey"] == "Bloom"
    hs.create_index(o, cfg)
    out, used = hs._apply_with_info(df)
    assert used == [cfg.name], hs.why_not(df)
    assert rows_equal(df, out)
    # the rewrite physically prunes: fewer source files in the scan
    n_all = len(o.inputFiles())
    n_kept = len(out.inputFiles())
    assert 0 < n_kept < n_all, (n_kept, n_all)
    # loop closed
    assert [
        r for r in hs.recommend(df) if r["rule"] == "DataSkippingIndexRule"
    ] == []


def test_recommend_window_roundtrip(spark, hs, tmp_path):
    """A window PARTITION BY proposes a bucketed index on the partition
    key (rule WindowBucketedIndexRule); creating it serves the window
    Exchange-free and the suggestion disappears."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    src = str(tmp_path / "orders_w")
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    df = (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
    )
    recs = [r for r in hs.recommend(df) if r["rule"] == "WindowBucketedIndexRule"]
    assert len(recs) == 1 and recs[0]["config"].indexed_columns == ["o_custkey"]
    hs.create_index(o, recs[0]["config"])
    out, used = hs._apply_with_info(df)
    assert used == [recs[0]["config"].name], hs.why_not(df)
    assert rows_equal(df, out)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan
    assert [r for r in hs.recommend(df) if r["rule"] == "WindowBucketedIndexRule"] == []


def test_recommend_never_raises_on_odd_plans(spark, hs):
    assert hs.recommend(spark.range(5)) == []
    assert hs.recommend(spark.createDataFrame([(1,)], ["x"])) == []


def test_recommend_partial_index_variant(spark, hs, tmp_path):
    """A literal equality conjunct alongside other predicates also
    yields a partial-index suggestion scoped to that conjunct — and
    creating it makes the planner serve the query."""
    from tests.conftest import rows_equal

    src = str(tmp_path / "o2")
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    df = o.filter(
        "o_custkey BETWEEN 100 AND 200 AND o_orderpriority = '1-URGENT'"
    ).select("o_orderkey", "o_totalprice")
    recs = hs.recommend(df)
    partial = [r for r in recs if getattr(r["config"], "where", None)]
    assert partial, recs
    cfg = partial[0]["config"]
    assert "1-URGENT" in cfg.where
    assert cfg.indexed_columns == ["o_custkey"]
    hs.create_index(o, cfg)
    out, used = hs._apply_with_info(df)
    assert cfg.name in used, hs.why_not(df)
    assert rows_equal(df, out)
    # loop closed: the partial index serves the filter, so no covering
    # or skipping proposal is left and the created config is not
    # proposed again
    recs = hs.recommend(df)
    assert not [
        r for r in recs if r["rule"] in ("FilterIndexRule", "DataSkippingIndexRule")
    ], recs
    assert not [
        r
        for r in recs
        if getattr(r["config"], "where", None) == cfg.where
        and getattr(r["config"], "indexed_columns", None) == cfg.indexed_columns
    ], recs


def test_recommend_zorder_roundtrip(spark, hs, tmp_path):
    """Multi-column range family (VERDICT r11 item 6): two range columns
    propose a ZOrderCoveringIndexConfig keyed on BOTH; creating it makes
    ZOrderFilterIndexRule serve the query, and the proposal disappears."""
    src = str(tmp_path / "orders_z")
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    df = o.filter(
        "o_custkey BETWEEN 100 AND 400 AND o_totalprice > 150000"
    ).select("o_orderkey", "o_totalprice")
    recs = hs.recommend(df)
    z = [r for r in recs if r["rule"] == "ZOrderFilterIndexRule"]
    assert len(z) == 1, recs
    cfg = z[0]["config"]
    assert set(cfg.indexed_columns) == {"o_custkey", "o_totalprice"}
    assert "o_orderkey" in cfg.included_columns
    hs.create_index(o, cfg)
    out, used = hs._apply_with_info(df)
    assert used == [cfg.name], hs.why_not(df)
    assert rows_equal(df, out)
    assert [
        r for r in hs.recommend(df) if r["rule"] == "ZOrderFilterIndexRule"
    ] == [], "z-order proposal must drop once the index serves the family"


def test_recommend_txt_roundtrip(spark, hs, tmp_path):
    """A substring predicate over a string column proposes an inverted
    TXT index; creating it serves text_search and the proposal drops."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "docs_txt")
    table(spark, "documents").repartition(4).write.parquet(src)
    d = spark.read.parquet(src)
    df = d.filter(F.col("text").contains("data")).select("doc_id")
    recs = hs.recommend(df)
    txt = [r for r in recs if r["config"].__class__.__name__ == "InvertedTextIndexConfig"]
    assert len(txt) == 1, recs
    cfg = txt[0]["config"]
    assert cfg.text_col == "text" and cfg.id_col == "doc_id"
    hs.create_index(d, cfg)
    hits = hs.text_search(cfg.name, ["data"])
    assert hits.count() > 0
    assert [
        r
        for r in hs.recommend(df)
        if r["config"].__class__.__name__ == "InvertedTextIndexConfig"
    ] == [], "TXT proposal must drop once the index exists"


def test_recommend_ann_roundtrip(spark, hs, tmp_path):
    """A top-k ordered by an expression over a float-vector column
    proposes an IVF ANN index; creating it serves ann_search and the
    proposal drops."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "emb_ann")
    table(spark, "embeddings").repartition(4).write.parquet(src)
    e = spark.read.parquet(src)
    score = F.expr(
        "aggregate(zip_with(embedding, array(0.1, 0.2, 0.3, 0.4), (x, y) -> x * y),"
        " 0D, (acc, v) -> acc + v)"
    )
    df = e.select("vec_id", score.alias("score")).orderBy(F.desc("score")).limit(10)
    recs = hs.recommend(df)
    ann = [r for r in recs if r["config"].__class__.__name__ == "IvfIndexConfig"]
    assert len(ann) == 1, recs
    cfg = ann[0]["config"]
    assert cfg.vec_col == "embedding" and cfg.id_col == "vec_id"
    cfg.n_clusters = 4
    hs.create_index(e, cfg)
    first = e.select("embedding").first()["embedding"]
    hits = hs.ann_search(cfg.name, {0: list(first)}, k=3)
    assert hits.count() == 3
    assert [
        r
        for r in hs.recommend(df)
        if r["config"].__class__.__name__ == "IvfIndexConfig"
    ] == [], "ANN proposal must drop once the index exists"


def test_recommend_id_col_skips_nonunique_foreign_key(spark, hs, tmp_path):
    """r13 (ADVICE r12): the first *key/*id column on a fact-like table
    is a NON-unique foreign key; pick_id_col's sampled-uniqueness probe
    must skip it and key the TXT suggestion by the unique row id, with
    the reason stating what was checked."""
    src = str(tmp_path / "fact_txt")
    _fact_rows(spark).write.parquet(src)
    _assert_txt_keyed_by_doc_id(hs, spark.read.parquet(src))


def test_recommend_id_col_probe_reads_csv_source(spark, hs, tmp_path):
    """The sampled-uniqueness probe reads the source like its scan
    (format and reader options), so a header=true CSV fact table is
    probed too instead of falling back to the foreign key."""
    src = str(tmp_path / "fact_txt_csv")
    _fact_rows(spark).write.option("header", "true").csv(src)
    _assert_txt_keyed_by_doc_id(hs, spark.read.option("header", "true").csv(src))


def _fact_rows(spark):
    from pyspark.sql import functions as F

    return spark.range(200).select(
        (F.col("id") % 7).alias("cust_key"),  # FK, first candidate
        F.col("id").alias("doc_id"),  # unique row id
        F.concat(F.lit("data point "), F.col("id")).alias("text"),
    )


def _assert_txt_keyed_by_doc_id(hs, d):
    from pyspark.sql import functions as F

    df = d.filter(F.col("text").contains("data")).select("doc_id")
    recs = hs.recommend(df)
    txt = [r for r in recs if r["config"].__class__.__name__ == "InvertedTextIndexConfig"]
    assert len(txt) == 1, recs
    assert txt[0]["config"].id_col == "doc_id", txt[0]
    assert "unique over a" in txt[0]["reason"], txt[0]["reason"]


def test_recommend_or_branch_served_by_partial_index(spark, hs, tmp_path):
    """FilterOrIndexRule checks a partial index against its branch's own
    disjunct, so recommend's served check does too: with a partial index
    serving one branch and a whole-table index the other, the OR filter
    is index-served and nothing is proposed for its branches."""
    from hyperspace_spark import CoveringIndexConfig

    src = str(tmp_path / "orders_or_partial")
    table(spark, "orders").repartition(4).write.parquet(src)
    o = spark.read.parquet(src)
    cols = ["o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"]
    hs.create_index(o, CoveringIndexConfig(
        "p_ck", ["o_custkey"], cols[1:], where="o_orderpriority = '1-URGENT'", num_buckets=4
    ))
    hs.create_index(o, CoveringIndexConfig(
        "w_st", ["o_orderstatus"], [c for c in cols if c != "o_orderstatus"], num_buckets=4
    ))
    df = o.filter(
        "(o_custkey = 42 AND o_orderpriority = '1-URGENT') OR o_orderstatus = 'F'"
    ).select("o_orderkey", "o_totalprice")
    out, used = hs._apply_with_info(df)
    assert sorted(used) == ["p_ck", "w_st"], hs.why_not(df)
    assert rows_equal(df, out)
    recs = hs.recommend(df)
    assert not [
        r for r in recs if r["rule"] in ("FilterOrIndexRule", "FilterIndexRule")
    ], recs


def test_recommend_ignores_inferred_isnotnull_columns(spark, hs, tmp_path):
    """Spark infers ``isnotnull`` filters on both sides of a band join;
    a column only those reference is no user predicate, so the orders
    side (no user filter) gets no filter proposal and the lineitem side
    is keyed on the user's own range column."""
    src_o = str(tmp_path / "o_nn")
    src_l = str(tmp_path / "l_nn")
    table(spark, "orders").write.parquet(src_o)
    table(spark, "lineitem").write.parquet(src_l)
    o = spark.read.parquet(src_o)
    li = spark.read.parquet(src_l)
    recs = hs.recommend(li.filter("l_quantity < 5").join(o, li.l_orderkey > o.o_orderkey))
    filt = [r for r in recs if r["rule"] == "FilterIndexRule"]
    assert not [r for r in filt if r["source"] == [src_o] or "o_orderkey" in r["reason"]], recs
    assert [r["config"].indexed_columns for r in filt] == [["l_quantity"]], recs
