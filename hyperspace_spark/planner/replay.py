"""IR -> DataFrame: rebuild the query on top of (possibly rewritten) scans.

Each scan leaf materializes as a DataFrame (original source read, or the
index substitute a rule installed) registered under a unique temp view;
the upper plan is regenerated as nested ANSI SQL and handed back to
Catalyst — so the rewritten query still gets the full optimizer
(pushdown into the index parquet, whole-stage codegen, AQE...).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from hyperspace_spark.planner import ir

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


# itertools.count: next() is a single C call, atomic under the GIL, so
# concurrent apply() calls on different threads can never mint the same
# temp-view name (a list[int] += was a non-atomic read-modify-write —
# two threads could both register __hs_scan_N and silently read each
# other's scan data).
import itertools as _itertools

_VIEW_SEQ = _itertools.count(1)


def replay(spark: "SparkSession", node: ir.Node) -> "DataFrame":
    views: list[str] = []
    try:
        sql = _sql(spark, node, views)
        if isinstance(node, (ir.Scan, ir.OpaqueN)):
            # A leaf at the plan ROOT (e.g. MetadataOnlyAggRule replaces
            # the whole Aggregate with one replacement scan): _sql
            # returned a bare view name, which is not a statement.
            sql = f"SELECT * FROM {sql}"
        return spark.sql(sql)
    finally:
        # Temp views must outlive the returned DataFrame's execution; Spark
        # resolves them eagerly at spark.sql() time, so dropping here is safe.
        for v in views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass


def _register(spark: "SparkSession", df: "DataFrame", views: list[str]) -> str:
    name = f"__hs_scan_{next(_VIEW_SEQ)}"
    df.createOrReplaceTempView(name)
    views.append(name)
    return name


def _sql(spark: "SparkSession", node: ir.Node, views: list[str]) -> str:
    if isinstance(node, ir.Scan):
        if node.replacement is not None:
            df = node.replacement(spark)
        else:
            df = node.read(spark).select(*node.output)
        return _register(spark, df, views)

    if isinstance(node, ir.OpaqueN):
        # Verbatim replay of a subtree the parser could not model: wrap
        # the original optimized JVM plan back into a DataFrame.  The
        # classic Dataset.ofRows round-trip re-runs analysis over an
        # already-resolved plan — a no-op semantically.
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, node.jplan
        )
        return _register(spark, _CDF(jdf, spark), views)

    if isinstance(node, ir.FilterN):
        child = _sub(spark, node.child, views)
        return f"SELECT * FROM {child} WHERE {node.condition.sql}"

    if isinstance(node, ir.ExistsFilterN):
        # Correlated-EXISTS re-rendering of a Catalyst ExistenceJoin
        # chain (see ir.ExistsFilterN): each branch substitutes its
        # placeholder with `EXISTS (SELECT 1 FROM <branch> WHERE cond)`;
        # Catalyst decorrelates the round trip back to the same
        # ExistenceJoins over the (possibly index-rewritten) subtrees.
        child = _sub(spark, node.child, views, alias="__hs_l")
        cond = node.cond_template
        for token, right, cond_sql in node.branches:
            rsql = _sub(spark, right, views, alias=token)
            cond = cond.replace(
                "{" + token + "}",
                f"EXISTS (SELECT 1 FROM {rsql} WHERE {cond_sql})",
            )
        return f"SELECT * FROM {child} WHERE {cond}"

    if isinstance(node, ir.ProjectN):
        child = _sub(spark, node.child, views)
        cols = ", ".join(node.exprs) if node.exprs else "*"
        return f"SELECT {cols} FROM {child}"

    if isinstance(node, ir.AggregateN):
        child = _sub(spark, node.child, views)
        cols = ", ".join(node.aggs)
        if node.grouping:
            return f"SELECT {cols} FROM {child} GROUP BY {', '.join(node.grouping)}"
        return f"SELECT {cols} FROM {child}"

    if isinstance(node, ir.GroupingSetsN):
        # ROLLUP/CUBE lowered forms re-render as the explicit GROUPING
        # SETS spelling — semantically identical (that is what the
        # analyzer expands them to), and exact for arbitrary set lists.
        # Names are backtick-quoted: a computed rollup key arrives as a
        # child-Project column literally named "round(x, 0)", which
        # unquoted would re-parse as a function call.
        from hyperspace_spark.planner.expr import _quote_if_needed

        child = _sub(spark, node.child, views)
        cols = ", ".join(node.aggs)
        sets_sql = ", ".join(
            "(" + ", ".join(_quote_if_needed(c) for c in s) + ")"
            for s in node.grouping_sets
        )
        return f"SELECT {cols} FROM {child} GROUP BY GROUPING SETS ({sets_sql})"

    if isinstance(node, ir.SortN):
        child = _sub(spark, node.child, views)
        return f"SELECT * FROM {child} ORDER BY {', '.join(node.orders)}"

    if isinstance(node, ir.LimitN):
        child = _sub(spark, node.child, views)
        return f"SELECT * FROM {child} LIMIT {node.n}"

    if isinstance(node, ir.DistinctN):
        child = _sub(spark, node.child, views)
        return f"SELECT DISTINCT * FROM {child}"

    if isinstance(node, ir.UnionN):
        parts = [f"SELECT * FROM {_sub(spark, k, views)}" for k in node.kids]
        return " UNION ALL ".join(parts)

    if isinstance(node, ir.WindowN):
        child = _sub(spark, node.child, views)
        extra = ", ".join(node.window_exprs)
        return f"SELECT *, {extra} FROM {child}"

    if isinstance(node, ir.JoinN):
        left = _sub(spark, node.left, views, alias="__hs_l")
        right = _sub(spark, node.right, views, alias="__hs_r")
        conds = [f"__hs_l.{_q(l)} = __hs_r.{_q(r)}" for l, r in node.equi_keys]
        if node.residual_sql:
            conds.append(node.residual_sql)
        jt = {
            "inner": "INNER JOIN",
            "left_outer": "LEFT OUTER JOIN",
            "right_outer": "RIGHT OUTER JOIN",
            "full_outer": "FULL OUTER JOIN",
            "left_semi": "LEFT SEMI JOIN",
            "left_anti": "LEFT ANTI JOIN",
            "cross": "CROSS JOIN",
        }.get(node.join_type)
        if jt is None:
            raise ValueError(f"unsupported join type {node.join_type}")
        on = f" ON {' AND '.join(conds)}" if conds else ""
        if node.select_exprs is not None:
            # A fused parent Project (parser._fuse_project_join) or a
            # synthesized renamed SELECT (parser._finalize_join_collision):
            # the join's own output is name-ambiguous, so the SELECT list
            # is fully side-qualified and defines the output.
            sel = ", ".join(node.select_exprs)
            return f"SELECT {sel} FROM {left} {jt} {right}{on}"
        if node.right_keep is not None:
            # Inner self-join on a same-named key (parser resolved the
            # pair by exprId): `SELECT *` would expose the key twice and
            # break every ancestor reference.  The copies are value-
            # equal on an inner equi join, so keep the left one and
            # enumerate the surviving right columns explicitly (no
            # `* EXCEPT` — explicit lists are portable and exact).
            keep = ", ".join(f"__hs_r.{_q(c)}" for c in node.right_keep)
            sel = f"__hs_l.*, {keep}" if keep else "__hs_l.*"
            return f"SELECT {sel} FROM {left} {jt} {right}{on}"
        return f"SELECT * FROM {left} {jt} {right}{on}"

    raise ValueError(f"replay: unsupported node {type(node).__name__}")


def _sub(spark: "SparkSession", node: ir.Node, views: list[str], alias: str | None = None) -> str:
    inner = _sql(spark, node, views)
    name = alias or ""
    if " " not in inner and not name:
        return inner  # bare view name
    name = name or f"__hs_sq_{next(_VIEW_SEQ)}"
    return f"({inner}) AS {name}" if " " in inner else f"{inner} AS {name}"


def _q(col: str) -> str:
    return f"`{col}`" if not col.startswith("`") else col
