"""Lightweight logical-plan IR the Python planner pattern-matches on.

Kept deliberately shallow, mirroring how shallow the reference's rules
match Catalyst plans (only Project/Filter/Join over leaf relations are
ever inspected — FilterIndexRule.scala:44-53, JoinIndexRule.scala:53-119).
Upper nodes (Aggregate/Sort/Limit/...) are carried so the replayer can
rebuild the full query on top of a rewritten scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from hyperspace_spark.metadata.entry import Relation
from hyperspace_spark.planner.expr import Expr


@dataclass
class Node:
    pass


@dataclass
class Scan(Node):
    root_paths: list[str] = field(default_factory=list)
    file_format: str = "parquet"
    data_schema_json: str = ""
    output: list[str] = field(default_factory=list)
    partition_columns: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    # Delta/Iceberg table root when the scan's paths are a snapshot's
    # files (sources/delta.py, sources/iceberg.py).  Source IDENTITY is
    # then the table, not the momentary file list — two scans of
    # different versions of the same table match the same indexes
    # (hybrid scan bridges the diff).
    delta_root: str | None = None
    iceberg_root: str | None = None
    # Filled by the planner when a rule rewrites this scan:
    replacement = None  # Callable[[SparkSession], DataFrame] | None
    applied_index: str | None = None

    # A scan carries a Relation's reader fields, so its rows — all of
    # them, or ``files`` of them — are read by the same method.
    read = Relation.read

    def normalized_paths(self) -> tuple[str, ...]:
        if self.delta_root:
            return (_normalize_path(self.delta_root),)
        if self.iceberg_root:
            return (_normalize_path(self.iceberg_root),)
        return tuple(sorted(_normalize_path(p) for p in self.root_paths))


def _normalize_path(p: str) -> str:
    if p.startswith("file://"):
        p = p[len("file://"):]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return p.rstrip("/")


@dataclass
class FilterN(Node):
    child: Node = None
    condition: Expr = None
    # Catalyst's Expression.deterministic for the WHOLE condition.  A
    # non-deterministic term (rand(), uuid()...) contributes no column
    # references, so reference-based eligibility checks alone would let
    # MetadataOnlyAggRule evaluate it once per FILE instead of per row.
    deterministic: bool = True


@dataclass
class ExistsFilterN(Node):
    """Filter over a chain of Catalyst ExistenceJoins (r13): the
    decorrelated form of EXISTS subqueries under a DISJUNCTION (TPC-DS
    q10/q35's `EXISTS(web) OR EXISTS(catalog)`).  Catalyst cannot lower
    these to semi/anti joins (the OR needs both truth values), so it
    emits boolean flag columns — ALL named `exists`, distinguished only
    by exprId — making name-based SQL replay of the raw shape
    impossible (and ExistenceJoin.sql() throws, so the generic join
    path can't even see the type).  This composite captures the whole
    Filter+chain and replays it as correlated EXISTS subqueries, which
    Catalyst re-decorrelates to the same ExistenceJoins — an exact
    round trip — while every scan inside the branch subtrees stays
    visible to the index rules (each channel star's date join can serve
    from its co-bucketed pair).

    cond_template: SQL over the child's columns with one ``{token}``
    placeholder per branch; branches: (token, right_subtree,
    side-qualified join condition under aliases __hs_l / <token>)."""

    child: Node = None
    cond_template: str = ""
    branches: list = field(default_factory=list)
    references: frozenset = frozenset()


@dataclass
class ProjectN(Node):
    child: Node = None
    exprs: list[str] = field(default_factory=list)  # SQL incl. aliases, in order
    output: list[str] = field(default_factory=list)
    references: frozenset[str] = field(default_factory=frozenset)
    # exprId-keyed renames carried through an attribute-only pruning
    # Project whose child is a renamed join (see JoinN.renames) — set
    # only when this Project's own output still carries dup names.
    renames: dict = field(default_factory=dict)


@dataclass
class AggregateN(Node):
    child: Node = None
    grouping: list[str] = field(default_factory=list)  # SQL
    aggs: list[str] = field(default_factory=list)  # SQL incl. aliases, full output order
    output: list[str] = field(default_factory=list)
    references: frozenset[str] = field(default_factory=frozenset)


@dataclass
class GroupingSetsN(Node):
    """Aggregate over Expand — GROUP BY ROLLUP / CUBE / GROUPING SETS —
    recovered from the Expand's spark_grouping_id bit patterns (r11).
    Before this node existed the whole subtree went OpaqueN and every
    relation under a rollup was invisible to index rules; TPC-DS q27 and
    q67 (rollups over fact-dim stars) could never accelerate.  Replays
    as explicit GROUP BY GROUPING SETS SQL; grouping()/grouping_id()
    projections are re-derived from their shiftright(gid) pattern."""

    child: Node = None
    grouping_sets: list[list[str]] = field(default_factory=list)  # column names per set
    aggs: list[str] = field(default_factory=list)  # SQL incl. aliases, full output order
    output: list[str] = field(default_factory=list)
    references: frozenset[str] = field(default_factory=frozenset)


@dataclass
class SortN(Node):
    child: Node = None
    orders: list[str] = field(default_factory=list)  # "expr ASC NULLS FIRST" SQL fragments
    references: frozenset[str] = field(default_factory=frozenset)
    # exprId renames carried through from a renamed child (r13): sort
    # keys were rendered against the child's EXPOSED (__hs_dupN) names;
    # parse_df's root restoration puts the user's duplicate names back.
    renames: dict = field(default_factory=dict)


@dataclass
class LimitN(Node):
    child: Node = None
    n: int = 0
    # pass-through of a renamed child's map (r13) — LIMIT changes no names
    renames: dict = field(default_factory=dict)


@dataclass
class JoinN(Node):
    left: Node = None
    right: Node = None
    join_type: str = "inner"
    condition: Expr | None = None
    # Equi-join key pairs resolved to sides: [(left_col, right_col), ...]
    equi_keys: list[tuple[str, str]] = field(default_factory=list)
    residual_sql: str | None = None  # non-equi remainder of the condition
    # Band residual (r12): set when join_type is left_semi/left_anti and
    # the ENTIRE residual is one comparison with strict side separation —
    # `expr(right) <op> expr(left)` with op in {>, >=, <, <=, <>}.  The
    # shape EXISTS/NOT-EXISTS subqueries decorrelate to (b.total >
    # a.total*2 under an equi key; b.key <> a.key is TPC-DS q16/q94's
    # residual).  BandExistsAggRule rewrites the right side to a per-key
    # MAX/MIN aggregate (a MIN+MAX pair for <>), turning the within-group
    # pair scan into one comparison per key — the scale-safe plan for
    # skewed keys.  It DECLINES on multi-conjunct residuals (the parser
    # only sets band for a single conjunct) and, under ANSI mode, on a
    # right operand containing Divide/Cast (r13 — see _render_side).
    # Tuple: (op, right_expr_bare_sql, left_expr_qualified_sql, r_refs,
    # r_total).
    band: tuple | None = None
    # Fused parent Project (r12): when an inner self-join's output
    # carries the SAME column name from both sides (TPC-DS q95's ws_wh
    # CTE: ws1.ws_warehouse_sk wh1, ws2.ws_warehouse_sk wh2), name-based
    # `SELECT *` replay is ambiguous and the subtree used to go opaque.
    # If the plan has a Project DIRECTLY above that disambiguates by
    # exprId-aliasing, the parser fuses it in: select_exprs are fully
    # side-qualified (__hs_l/__hs_r) SELECT items replayed in place of
    # `SELECT *`, select_output the resulting names.  The join's scans
    # become visible to index rules again.
    select_exprs: list[str] | None = None
    select_output: list[str] | None = None
    # Inner-join self-key dedup (r7): when an equi key has the SAME name
    # on both sides (resolved by exprId, parser._equi_pair_by_exprid),
    # replaying `SELECT *` would expose the name twice and make every
    # ancestor reference ambiguous.  For an INNER equi join the two
    # copies are value-equal on every surviving row, so replay projects
    # `__hs_l.*` plus exactly these right-side columns (the right key
    # copies dropped).  None = normal `SELECT *` replay.
    right_keep: list[str] | None = None
    # exprId-keyed internal renames (r13, the q47 collision class): when
    # duplicate payload names survive INTO this node's output (a self-
    # join chain where the disambiguating Project sits levels ABOVE),
    # the parser synthesizes a select_exprs list that renames second
    # copies to __hs_dupN and records {jvm exprId -> exposed name} here.
    # CONSUMERS: only map-aware nodes may sit above a renamed node — a
    # parent join (key/residual rendering translates through the map), a
    # fused or attribute-only pruning Project (which re-establishes
    # unique naming).  Any other consumer declines (parser guard) so a
    # name-based ancestor can never silently read the wrong copy.
    renames: dict = field(default_factory=dict)


@dataclass
class OpaqueN(Node):
    """A subtree the parser cannot model (r7) — replayed VERBATIM from
    the original optimized JVM plan via Dataset.ofRows, registered as a
    temp view like a scan.  Scans inside are invisible to rules (no
    rewrite, no hybrid scan) — sound, since the user's own subtree
    executes unchanged — but the REST of the query around it can still
    be accelerated, where before one unparseable corner (e.g. the
    LeftSemi self-join an IN-subquery decorrelates to, whose condition
    is name-ambiguous) failed the whole apply().  Reference parity: a
    JVM Catalyst rule never has this problem (it rewrites relation nodes
    in place, ApplyHyperspace.scala:32-76); this is the Python planner's
    closest equivalent."""

    jplan: object = None  # JVM LogicalPlan
    output: list[str] = field(default_factory=list)


@dataclass
class DistinctN(Node):
    child: Node = None


@dataclass
class UnionN(Node):
    kids: list[Node] = field(default_factory=list)


@dataclass
class WindowN(Node):
    child: Node = None
    window_exprs: list[str] = field(default_factory=list)  # SQL incl. aliases
    output: list[str] = field(default_factory=list)
    references: frozenset[str] = field(default_factory=frozenset)
    # PARTITION BY column names when every partition expression is a
    # plain attribute; None when any is computed (r7, consumed by
    # WindowBucketedIndexRule for shuffle-free windows on bucket keys).
    partition_cols: list[str] | None = None


def children(node: Node) -> list[Node]:
    if isinstance(node, JoinN):
        return [node.left, node.right]
    if isinstance(node, UnionN):
        return list(node.kids)
    if isinstance(node, ExistsFilterN):
        return [node.child] + [r for _, r, _ in node.branches]
    child = getattr(node, "child", None)
    return [child] if child is not None else []


def with_children(node: Node, new_children: list[Node]) -> Node:
    import copy

    out = copy.copy(node)
    if isinstance(node, JoinN):
        out.left, out.right = new_children
    elif isinstance(node, UnionN):
        out.kids = list(new_children)
    elif isinstance(node, ExistsFilterN):
        out.child = new_children[0]
        out.branches = [
            (t, nc, c)
            for (t, _, c), nc in zip(node.branches, new_children[1:])
        ]
    elif new_children:
        out.child = new_children[0]
    return out


def scan_has_column(scan: "Scan", col: str) -> bool:
    """Top-level name, or dotted nested path resolved against the scan's
    data schema (reference: ResolverUtils nested resolution)."""
    return resolve_column(scan, col, case_sensitive=True) is not None


def resolve_column(scan: "Scan", col: str, case_sensitive: bool = False) -> str | None:
    """Resolve ``col`` against the scan and return its SCHEMA spelling, or
    None if it does not exist.  With case_sensitive=False (Spark's
    default) each path segment matches case-insensitively when the match
    is unambiguous (reference: util/ResolverUtils.scala:114-234)."""

    def pick(name: str, candidates) -> str | None:
        cands = list(candidates)
        if name in cands:
            return name
        if not case_sensitive:
            hits = [c for c in cands if c.lower() == name.lower()]
            if len(hits) == 1:
                return hits[0]
        return None

    if "." not in col:
        return pick(col, scan.output)
    import json as _json

    from pyspark.sql.types import StructType

    if not scan.data_schema_json:
        return None
    cur = StructType.fromJson(_json.loads(scan.data_schema_json))
    out = []
    for part in col.split("."):
        if not isinstance(cur, StructType):
            return None
        hit = pick(part, cur.fieldNames())
        if hit is None:
            return None
        out.append(hit)
        cur = cur[hit].dataType
    return ".".join(out)


def iter_scans(node: Node):
    if isinstance(node, Scan):
        yield node
    for c in children(node):
        yield from iter_scans(c)


def required_columns(node: Node) -> frozenset[str]:
    """All source columns the subtree's RESULT and internal expressions need.

    For a pattern rooted at ``node`` directly above a scan, this is the
    set a covering index must cover (reference: FilterColumnFilter,
    covering/FilterIndexRule.scala:62-103).
    """
    if isinstance(node, Scan):
        return frozenset(node.output)
    if isinstance(node, FilterN):
        # A Filter passes its child's FULL output upward, so everything the
        # scan produces is still needed — plus the predicate's columns.
        return node.condition.references | required_columns(node.child)
    if isinstance(node, ExistsFilterN):
        # Same shape as FilterN: the child's full output passes upward
        # (flag columns are consumed here and dropped); references carry
        # the template's plain conjuncts and each branch's correlated
        # left-side columns.
        return frozenset(node.references) | required_columns(node.child)
    if isinstance(node, ProjectN):
        # A Project narrows the output to its own references, but any Filter
        # BETWEEN it and the scan still needs its predicate columns.
        below = frozenset()
        cur = node.child
        while isinstance(cur, FilterN):
            below = below | cur.condition.references
            cur = cur.child
        return frozenset(node.references) | below
    if isinstance(node, WindowN):
        # A Window passes its child's FULL output upward plus the new
        # window columns — like Filter, everything below is still needed.
        return node.references | required_columns(node.child)
    if isinstance(node, (AggregateN, GroupingSetsN)):
        # An Aggregate narrows to its grouping + aggregate references;
        # like Project, any Filter below still needs its predicate
        # columns (AggBucketedIndexRule matches Aggregate over a linear
        # [Project] <- [Filter] <- Scan chain).
        below = frozenset()
        cur = node.child
        while isinstance(cur, (FilterN, ProjectN)):
            if isinstance(cur, FilterN):
                below = below | cur.condition.references
            else:
                below = below | frozenset(cur.references)
            cur = cur.child
        return frozenset(node.references) | below
    raise ValueError(f"required_columns: unsupported node {type(node).__name__}")
