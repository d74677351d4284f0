"""Whole-contract plan audit (r15; guide §1.2/§7.2 + VERDICT r14 #7).

Builds every declared query's DataFrame and scans its FORMATTED plan for
operator counts (Exchange / Python-eval nodes / join strategies /
cartesians).  Writes plans/r15/plan_audit_all_queries.txt.

VERDICT r14 #7: the r14 audit doc claimed "BNLJ: 0" while the r14 audit
file shows EIGHT queries with BroadcastNestedLoopJoin=1 (VERDICT's own
enumeration listed six and missed salted_join_orders/unigram_logprob) —
all are deliberate broadcast-tiny-frame cross joins (a literal/aggregate
frame of <= ~20 rows broadcast against the corpus scan).  This audit
encodes them as an ALLOWLIST with their
broadcast-side row bounds and FAILS (exit 1) when a BNLJ or
CartesianProduct shows up anywhere else, so a regression to an
unbounded nested-loop join is caught instead of hand-waved.

Usage: python scripts/r15_plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)
OUT = os.path.join(REPO, "plans", "r15", "plan_audit_all_queries.txt")

# BNLJ allowlist: query -> (max broadcast-side rows, why it is bounded).
# Every entry is a literal/tiny query frame (built from a Python list of
# ids or a LIMITed probe) broadcast against the big side — the nested
# loop is O(|corpus| x bound), linear in the corpus.
BNLJ_ALLOWED = {
    "ann_cosine_topk": (16, "literal query-id frame (3 ids) cross-scored"),
    "ann_ivf_topk": (16, "literal query-id frame vs centroid frame"),
    "ann_knn_join_brute": (64, "bounded query sample cross-scored"),
    "ann_filtered_topk": (16, "literal query-id frame"),
    "quantile_estimate_prices": (8, "scalar quantile-bound row"),
    "dsir_importance_en": (8, "scalar corpus-stat row"),
    # Two more pre-existing bounded shapes the VERDICT r14 six-query list
    # missed (both BNLJ=1 in the r14 audit file as well — not new):
    "salted_join_orders": (8, "literal salt frame range(salt_buckets=8) crossJoined to replicate the small join side (scale.salted_join)"),
    "unigram_logprob": (1, "1-row corpus-total aggregate broadcast as crossJoin (llm/text.unigram_logprob)"),
}

OPS = [
    "Exchange",
    "BatchEvalPython",
    # A distinct operator: the \b in the pattern below keeps
    # "BatchEvalPython" from matching it.
    "BatchEvalPythonUDTF",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
]

BATCH_EVAL_ALLOWED = {"udtf_chunk_text"}  # per-row UDTF is the operator BY SPEC


def main() -> None:
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("r15_plan_audit")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/hs_bench_warehouse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hyperspace_spark.llm import dedup as _dedup
    from hyperspace_spark.workload import QUERIES, workspace

    workspace(spark, sf_dir)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)

    violations: list[str] = []
    lines: list[str] = []
    for name in QUERIES:
        spark.sparkContext.setJobDescription(f"audit:{name}")
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            stdout = sys.stdout
            sys.stdout = buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            plan = buf.getvalue()
            # formatted plans render the numbered operator list as
            # "(n) OpName ..." in the detail section and "OpName (n)" in
            # the tree; count the detail headers (one per operator).
            import re

            counts = {
                op: len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M)) for op in OPS
            }
            note = ""
            if counts["BroadcastNestedLoopJoin"] or counts["CartesianProduct"]:
                if name in BNLJ_ALLOWED and counts["CartesianProduct"] == 0:
                    bound, why = BNLJ_ALLOWED[name]
                    note = f"BNLJ allowed: broadcast side <= {bound} rows ({why})"
                else:
                    violations.append(name)
                    note = "VIOLATION: nested-loop/cartesian outside allowlist"
            row_at_a_time = counts["BatchEvalPython"] + counts["BatchEvalPythonUDTF"]
            if row_at_a_time and name not in BATCH_EVAL_ALLOWED:
                violations.append(name)
                note += " VIOLATION: row-at-a-time Python"
            lines.append(f"{name}\t{counts}\t{note}")
            print(lines[-1])
        except Exception as e:  # noqa: BLE001
            lines.append(f"{name}\tERROR: {e}")
            violations.append(name)
            print(lines[-1])
        _dedup.release_caches()

    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
        f.write(f"\nviolations: {violations or 'none'}\n")
    print(f"\nwrote {OUT}; violations: {violations or 'none'}")
    spark.stop()
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
