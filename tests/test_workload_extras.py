"""Round-6 additions: bloom-pruning and nested-index contract queries
must actually take their index paths (hs.apply falls back silently, so
the oracle alone cannot distinguish "accelerated" from "correct but
raw"), plus unit coverage for the relational operators (as-of join,
bucketized range join, deterministic distinct sketch).
"""

import pytest
from pyspark.sql import functions as F

from hyperspace_spark.relational import asof_join, distinct_count_sketch, range_join
from hyperspace_spark.workload import executed_plan_final

GUARD_SF_DIR = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# workload index-path assertions
# ---------------------------------------------------------------------------
def test_dataskipping_bloom_prunes_files(spark):
    """The bloom IN-probe must eliminate source files: li_byship has 16
    date-ranged files and the probed orderkeys live in only a few of
    them.  MinMax on l_shipdate is useless for this predicate, so any
    pruning is the Bloom sketch's."""
    from hyperspace_spark.workload import _p, workspace

    ws = workspace(spark, GUARD_SF_DIR)
    raw = _p(spark, ws.li_byship).filter(F.col("l_orderkey").isin(257, 1022, 4242, 9999))
    total = len(spark.read.parquet(ws.li_byship).inputFiles())
    fast, used = ws.hs._apply_with_info(raw)
    assert used == ["w_li_skip"], ws.hs.why_not(raw)
    kept = len(fast.inputFiles())
    assert kept < total, f"bloom pruned nothing: {kept}/{total} files survive"
    # 4 probed keys -> at most ~4 true files + fpp stragglers; at 16
    # files anything >= 12 means the filter is saturated (the r5 fixed-
    # expected_items defect this sizing change exists to prevent).
    assert kept <= total * 0.75, f"bloom nearly saturated: {kept}/{total}"


def test_dataskipping_valuelist_prunes_files(spark):
    """The ValueList IN-probe on l_shipyear (layout-correlated with the
    l_shipdate range partitioning) must eliminate the files whose
    distinct-year lists don't overlap {1996, 1999} — 2 of ~7 years means
    well under half of the 16 files survive."""
    from hyperspace_spark.workload import _p, workspace

    ws = workspace(spark, GUARD_SF_DIR)
    raw = _p(spark, ws.li_byship).filter(F.col("l_shipyear").isin(1996, 1999))
    total = len(spark.read.parquet(ws.li_byship).inputFiles())
    fast, used = ws.hs._apply_with_info(raw)
    assert used == ["w_li_skip"], ws.hs.why_not(raw)
    kept = len(fast.inputFiles())
    assert kept < total * 0.6, f"valuelist pruned too little: {kept}/{total}"


def test_dataskipping_inset_prunes_with_bounded_predicate(spark):
    """r7: the 96-timestamp IN list arrives as Catalyst InSet, gets its
    internal micros recovered as typed literals, and the MinMax sketch's
    single exists()-probe prunes — 96 consecutive days cover ~4% of the
    shipdate range, so most of the 16 date-ranged files drop."""
    from hyperspace_spark.workload import _INSET_SHIP_DAYS, _p, workspace

    assert len(_INSET_SHIP_DAYS) > 64  # must exceed the OR-chain cap
    ws = workspace(spark, GUARD_SF_DIR)
    raw = _p(spark, ws.li_byship).filter(F.col("l_shipdate").isin(_INSET_SHIP_DAYS))
    total = len(spark.read.parquet(ws.li_byship).inputFiles())
    fast, used = ws.hs._apply_with_info(raw)
    assert used == ["w_li_skip"], ws.hs.why_not(raw)
    from tests.conftest import rows_equal

    kept = len(fast.inputFiles())
    assert kept < total * 0.5, f"inset pruned too little: {kept}/{total}"
    assert rows_equal(raw, fast)


def test_opaque_union_accel_uses_index(spark):
    """r7: the opaque_union_accel contract query applies the covering
    index to the parseable branch while the IN-subquery branch rides an
    OpaqueN verbatim replay."""
    from hyperspace_spark.workload import QUERIES, workspace

    from tests.conftest import apply_events

    ws = workspace(spark, GUARD_SF_DIR)
    with apply_events() as used:
        df = QUERIES["opaque_union_accel"](spark, GUARD_SF_DIR)
    assert ["w_o_cov"] in used or any(
        "w_o_cov" in f for f in df.inputFiles()
    ), "covering index not applied to the parseable union branch"


def test_nested_contract_query_uses_index(spark):
    from hyperspace_spark.workload import _p, workspace

    ws = workspace(spark, GUARD_SF_DIR)
    q = (
        _p(spark, ws.orders_nested)
        .filter("info.custkey BETWEEN 300 AND 350")
        .select("o_orderkey", F.col("info.totalprice").alias("totalprice"))
    )
    fast, used = ws.hs._apply_with_info(q)
    assert used == ["w_nested_cov"], ws.hs.why_not(q)
    assert all("w_nested_cov" in f for f in fast.inputFiles())


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            ("a", 10.0, "L1"),
            ("a", 20.0, "L2"),
            ("a", 30.0, "L3"),
            ("b", 5.0, "L4"),
            ("b", 6.0, "L5"),
            ("c", 100.0, "L6"),  # key with no right rows at all
        ],
        "k string, ts double, tag string",
    )
    right = spark.createDataFrame(
        [
            ("a", 9.0, 1.0),
            ("a", 20.0, 2.0),  # exact tie with L2
            ("a", 25.0, 3.0),
            ("b", 6.5, 4.0),  # after every b left row
        ],
        "k string, ts double, v double",
    )
    return left, right


def test_asof_inner_backward(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"], how="inner")
    got = {(r.tag): (r.ts_right, r.v_right) for r in out.collect()}
    # L1: latest right <= 10 is ts 9 -> v 1; L2 ties at 20 -> v 2;
    # L3: 25 -> v 3; b rows have no prior right row; c has none.
    assert got == {"L1": (9.0, 1.0), "L2": (20.0, 2.0), "L3": (25.0, 3.0)}


def test_asof_left_keeps_unmatched(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"], how="left")
    rows = {r.tag: r.v_right for r in out.collect()}
    assert len(rows) == 6
    assert rows["L4"] is None and rows["L5"] is None and rows["L6"] is None
    assert rows["L3"] == 3.0


def test_asof_tolerance(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(
        left, right, on="ts", by=["k"], value_cols=["v"], how="inner", tolerance_seconds=2.0
    )
    # L1 matches ts 9 at distance 1 <= 2; L3's match (25) is 5 away -> dropped.
    got = {r.tag for r in out.collect()}
    assert got == {"L1", "L2"}


def test_asof_matches_pandas_merge_asof(spark):
    """Property check against an independent implementation: random
    timestamps, pandas merge_asof(direction='backward') is the oracle."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    lpd = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 300).astype(str),
            "ts": rng.uniform(0, 1000, 300).round(3),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 100).astype(str),
            "ts": rng.uniform(0, 1000, 100).round(3),
            "v": rng.uniform(0, 1, 100).round(6),
        }
    )
    # merge_asof needs global sort; equal-ts ties don't occur (continuous draws)
    exp = pd.merge_asof(
        lpd.sort_values("ts").reset_index(drop=True),
        rpd.sort_values("ts").reset_index(drop=True),
        on="ts",
        by="k",
        direction="backward",
    )
    left = spark.createDataFrame(lpd)
    right = spark.createDataFrame(rpd)
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"], how="left").toPandas()
    key = lambda df: sorted(
        (r.k, round(r.ts, 3), None if pd.isna(r.v) else round(r.v, 6))
        for r in df.itertuples()
    )
    got = out.rename(columns={"v_right": "v"})[["k", "ts", "v"]]
    assert key(got) == key(exp[["k", "ts", "v"]])


def test_asof_null_payload_field_not_backfilled(spark):
    """r7 (ADVICE): when the matched right row has a NULL value_col, the
    output must carry that NULL — not back-fill the column from an OLDER
    right row.  The payload travels as one struct per right row, matching
    DuckDB ASOF / pandas merge_asof semantics."""
    left = spark.createDataFrame(
        [("a", 10.0, "L1"), ("a", 30.0, "L2")], "k string, ts double, tag string"
    )
    right = spark.createDataFrame(
        [("a", 5.0, 1.0, "old"), ("a", 25.0, None, "new")],
        "k string, ts double, v double, w string",
    )
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v", "w"], how="inner")
    got = {r.tag: (r.ts_right, r.v_right, r.w_right) for r in out.collect()}
    # L2's match is ts 25 whose v is NULL: v_right must be NULL (the old
    # per-column last(ignorenulls) carried 1.0 from ts 5 — wrong).
    assert got == {"L1": (5.0, 1.0, "old"), "L2": (25.0, None, "new")}


def test_asof_null_right_timestamp_never_matches(spark):
    """A right row with a NULL ``on`` timestamp is not a match candidate
    (merge_asof rejects NaT keys; DuckDB ASOF never matches NULL)."""
    left = spark.createDataFrame([("a", 10.0, "L1")], "k string, ts double, tag string")
    right = spark.createDataFrame(
        [("a", None, 9.0), ("a", 4.0, 1.0)], "k string, ts double, v double"
    )
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"], how="inner")
    got = [(r.ts_right, r.v_right) for r in out.collect()]
    assert got == [(4.0, 1.0)]


def test_asof_plan_single_shuffle_no_nested_loop(spark, asof_frames):
    left, right = asof_frames
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"], how="inner")
    out.collect()
    plan = executed_plan_final(out)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan
    # union + one window shuffle on k; no join operator at all.
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# range_join
# ---------------------------------------------------------------------------
def test_range_join_matches_naive_and_no_dups(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    pts = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(rng.uniform(0, 100, 500).round(3))],
        "pid long, x double",
    )
    ivs = spark.createDataFrame(
        [
            ("i0", 0.0, 10.0),
            ("i1", 5.0, 5.5),  # inside one bucket
            ("i2", 9.999, 30.0),  # crosses bucket edges
            ("i3", 50.0, 50.0),  # empty under closed='left'
            ("i4", 40.0, 100.0),  # wide
            ("i5", 95.0, 200.0),  # extends past the data
        ],
        "iid string, lo double, hi double",
    )
    got = range_join(pts, ivs, "x", "lo", "hi", bucket_width=7.0).select("pid", "iid")
    naive = pts.join(ivs, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi"))).select(
        "pid", "iid"
    )
    g = sorted((r.pid, r.iid) for r in got.collect())
    n = sorted((r.pid, r.iid) for r in naive.collect())
    assert g == n
    assert len(g) == len(set(g)), "duplicate (point, interval) matches"


def test_range_join_closed_both_and_by_keys(spark):
    pts = spark.createDataFrame(
        [("u1", 1, 10.0), ("u1", 2, 20.0), ("u2", 3, 10.0)], "u string, pid long, x double"
    )
    ivs = spark.createDataFrame(
        [("u1", "a", 10.0, 20.0), ("u2", "b", 0.0, 5.0)], "u string, iid string, lo double, hi double"
    )
    out = range_join(pts, ivs, "x", "lo", "hi", bucket_width=5.0, by=["u"], closed="both")
    got = sorted((r.pid, r.iid) for r in out.collect())
    # closed='both': x == hi matches; by-key keeps u2's point out of u1's interval
    assert got == [(1, "a"), (2, "a")]


def test_range_join_no_nested_loop_plan(spark):
    pts = spark.createDataFrame([(1, 3.0)], "pid long, x double")
    ivs = spark.createDataFrame([("a", 0.0, 10.0)], "iid string, lo double, hi double")
    out = range_join(pts, ivs, "x", "lo", "hi", bucket_width=5.0)
    out.collect()
    plan = executed_plan_final(out)
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# distinct_count_sketch
# ---------------------------------------------------------------------------
def test_distinct_sketch_deterministic_and_accurate(spark):
    n = 20000
    df = spark.range(n).select((F.col("id") % 7919).alias("v"))  # 7919 distinct
    est1 = distinct_count_sketch(df, "v").collect()[0][0]
    est2 = distinct_count_sketch(df, "v").collect()[0][0]
    assert est1 == est2, "sketch must be deterministic"
    assert abs(est1 - 7919) / 7919 < 0.25, est1


def test_distinct_sketch_multiplicity_independent(spark):
    """Row duplication must not move the estimate (value-hash sampling,
    not row sampling)."""
    df = spark.range(5000).select((F.col("id") % 1000).alias("v"))
    dup = df.union(df).union(df)
    a = distinct_count_sketch(df, "v", keep_below="20").collect()[0][0]
    b = distinct_count_sketch(dup, "v", keep_below="20").collect()[0][0]
    assert a == b


def test_distinct_sketch_grouped_params_validated(spark):
    df = spark.range(10).select((F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        distinct_count_sketch(df, "v", keep_below="zz4", prefix_len=2)
    out = distinct_count_sketch(df, "v", group_cols=["g"], prefix_len=1, keep_below="8")
    assert set(out.columns) == {"g", "approx_distinct"}


def test_distinct_sketch_uppercase_threshold_normalized(spark):
    """r7 (ADVICE): md5 digests are lowercase, and the survivor filter is
    a lexicographic string compare where digits sort below 'a'-'f' — an
    uppercase threshold like 'A4' would silently bias p.  Normalize-to-
    lower must make 'A4' and 'a4' identical."""
    df = spark.range(20000).select((F.col("id") % 7919).alias("v"))
    up = distinct_count_sketch(df, "v", keep_below="A4").collect()[0][0]
    lo = distinct_count_sketch(df, "v", keep_below="a4").collect()[0][0]
    assert up == lo
    assert abs(lo - 7919) / 7919 < 0.25, lo


def test_funnel_strictly_after_semantics(spark):
    """funnel_steps counts a step only STRICTLY AFTER the user's earliest
    completion of the previous step — set membership is not enough."""
    from datetime import datetime as dt

    from hyperspace_spark.relational import funnel_steps

    rows = [
        # u1: full ordered funnel
        (1, dt(2024, 1, 1, 0), "view"), (1, dt(2024, 1, 1, 1), "click"),
        (1, dt(2024, 1, 1, 2), "purchase"),
        # u2: clicked BEFORE viewing -> stops at step 1
        (2, dt(2024, 1, 2, 0), "click"), (2, dt(2024, 1, 2, 1), "view"),
        # u3: view+click, purchase SIMULTANEOUS with click -> not strictly
        # after -> stops at step 2
        (3, dt(2024, 1, 3, 0), "view"), (3, dt(2024, 1, 3, 1), "click"),
        (3, dt(2024, 1, 3, 1), "purchase"),
        # u4: never viewed
        (4, dt(2024, 1, 4, 0), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r.step: (r.event_type, r.users) for r in funnel_steps(
        df, ["view", "click", "purchase"]).collect()}
    assert got == {1: ("view", 3), 2: ("click", 2), 3: ("purchase", 1)}


def test_retention_cohort_triangle(spark):
    from datetime import datetime as dt

    from hyperspace_spark.relational import retention_cohorts

    rows = [
        # u1 first seen week of Mon 2024-01-01; active weeks 0 and 2
        (1, dt(2024, 1, 2, 10)), (1, dt(2024, 1, 17, 9)),
        # u2 same cohort, only week 0 (two events, one distinct week)
        (2, dt(2024, 1, 3, 8)), (2, dt(2024, 1, 5, 8)),
        # u3 cohort of Mon 2024-01-08, active weeks 0 and 1
        (3, dt(2024, 1, 9, 8)), (3, dt(2024, 1, 16, 8)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.cohort_week, r.week_offset): r.users
           for r in retention_cohorts(df).collect()}
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_resample_gapfill_modes(spark):
    """resample_gapfill: grid completeness per key (first..last bucket,
    no holes), count 0 on gaps, and the three fill semantics."""
    import datetime

    from pyspark.sql import functions as F

    from hyperspace_spark.relational import resample_gapfill

    rows = [
        (1, datetime.datetime(2024, 1, 1, 5), 10.0),
        (1, datetime.datetime(2024, 1, 1, 7), 20.0),   # day 1: 30
        (1, datetime.datetime(2024, 1, 4, 1), 5.0),    # days 2-3: gap
        (2, datetime.datetime(2024, 1, 2, 0), 1.0),    # single day
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    locf = resample_gapfill(df, "user_id", "ts", "1 day", "value", how="locf")
    got = {
        (r.user_id, r.bucket.date().isoformat()): (r.n, r.value)
        for r in locf.collect()
    }
    assert got == {
        (1, "2024-01-01"): (2, 30.0),
        (1, "2024-01-02"): (0, 30.0),  # carried forward
        (1, "2024-01-03"): (0, 30.0),
        (1, "2024-01-04"): (1, 5.0),
        (2, "2024-01-02"): (1, 1.0),
    }
    zero = resample_gapfill(df, "user_id", "ts", "1 day", "value", how="zero")
    z = {(r.user_id, r.bucket.date().isoformat()): r.value for r in zero.collect()}
    assert z[(1, "2024-01-02")] == 0.0 and z[(1, "2024-01-01")] == 30.0
    nul = resample_gapfill(df, "user_id", "ts", "1 day", "value", how="null")
    nv = {(r.user_id, r.bucket.date().isoformat()): r.value for r in nul.collect()}
    assert nv[(1, "2024-01-03")] is None
    # hourly interval works too (sequence step honored)
    hourly = resample_gapfill(df, "user_id", "ts", "1 hour", "value", how="zero")
    assert hourly.filter("user_id = 1").count() == 69  # 01-01 05:00 .. 01-04 01:00
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resample_gapfill(df, "user_id", "ts", "1 day", "value", how="bogus")


def test_quantile_estimate_properties(spark):
    """quantile_estimate: accuracy within sampling error on a known
    distribution, determinism, and argument validation."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hyperspace_spark.relational import quantile_estimate

    df = spark.range(20000).select(
        F.col("id"), (F.col("id") % 10000).cast("double").alias("v")
    )
    got = {
        r.prob: r.value
        for r in quantile_estimate(df, "v", [0.1, 0.5, 0.9], key_cols=["id"]).collect()
    }
    # ids are uniform so v's true quantiles are ~1000/5000/9000; a 1/16
    # sample of 20k rows has rank s.e. ~35 positions (~ +-60 in value at
    # 3 sigma against 10k distinct values -> generous 500 bound)
    assert abs(got[0.1] - 1000) < 500
    assert abs(got[0.5] - 5000) < 500
    assert abs(got[0.9] - 9000) < 500
    # determinism across executions
    again = {
        r.prob: r.value
        for r in quantile_estimate(df, "v", [0.1, 0.5, 0.9], key_cols=["id"]).collect()
    }
    assert again == got
    with _pytest.raises(ValueError):
        quantile_estimate(df, "v", [0.5], key_cols=[])
    with _pytest.raises(ValueError):
        quantile_estimate(df, "v", [1.5], key_cols=["id"])
    with _pytest.raises(ValueError):
        quantile_estimate(df, "v", [0.5], key_cols=["id"], keep_below="XYZ", prefix_len=2)


def test_quantile_estimate_grouped(spark):
    """group_cols: per-group quantiles match running the estimator on
    each group's rows alone."""
    from pyspark.sql import functions as F

    from hyperspace_spark.relational import quantile_estimate

    df = spark.range(30000).select(
        "id",
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 7000).cast("double").alias("v"),
    )
    got = {
        (r.g, r.prob): r.value
        for r in quantile_estimate(
            df, "v", [0.5, 0.9], key_cols=["id"], group_cols=["g"]
        ).collect()
    }
    assert len(got) == 6
    for g in (0, 1, 2):
        alone = {
            r.prob: r.value
            for r in quantile_estimate(
                df.filter(F.col("g") == g), "v", [0.5, 0.9], key_cols=["id"]
            ).collect()
        }
        assert got[(g, 0.5)] == alone[0.5] and got[(g, 0.9)] == alone[0.9]
