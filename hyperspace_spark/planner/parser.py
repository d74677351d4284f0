"""Catalyst plan (via py4j) -> planner IR.

We parse ``df._jdf.queryExecution().optimizedPlan()`` — the same
vantage point the reference's rules get, since ApplyHyperspace runs in
``extraOptimizations`` after all standard Catalyst batches
(reference: package.scala:82-93).  Anything unrecognized raises
UnsupportedPlan, which the engine turns into "leave the query as-is"
(reference swallows rule errors the same way, ApplyHyperspace.scala:60-64).
"""

from __future__ import annotations

import re

from hyperspace_spark.planner import ir
from hyperspace_spark.planner.expr import (
    Attr,
    Cmp,
    _quote_if_needed,
    parse_expr,
    scala_map,
    scala_seq,
    split_conjuncts,
)


class UnsupportedPlan(Exception):
    pass


_FORMAT_BY_CLASS = {
    "ParquetFileFormat": "parquet",
    "CSVFileFormat": "csv",
    "JsonFileFormat": "json",
    "OrcFileFormat": "orc",
    "TextFileFormat": "text",
    "AvroFileFormat": "avro",
}

# WindowGroupLimit is an optimizer-inserted per-partition top-k shortcut
# (rank pushdown); dropping it is semantics-preserving — the rank filter
# above still applies, Catalyst re-inserts it when it re-optimizes our
# replayed plan.
_PASS_THROUGH = {
    "SubqueryAlias",
    "View",
    "ResolvedHint",
    "Repartition",
    "RepartitionByExpression",
    "WindowGroupLimit",
}


def parse_df(df) -> ir.Node:
    jroot = df._jdf.queryExecution().optimizedPlan()
    plan = _parse(jroot)
    rmap = getattr(plan, "renames", None) or {}
    if rmap:
        # Root restoration (r13): the subtree renamed duplicate columns
        # to __hs_dupN internally (the q47/q39 self-join collision
        # class); the USER's schema — which may legitimately carry
        # duplicate names, e.g. TPC-DS q39 selects both sides' columns
        # verbatim — is restored by one final projection with duplicate
        # aliases, legal at the root where nothing above references the
        # output by name.
        exprs, out, refs = [], [], set()
        for a in scala_seq(jroot.output()):
            base = str(a.name())
            exposed = rmap.get(int(a.exprId().id()), base)
            refs.add(exposed)
            exprs.append(
                f"{_quote_if_needed(exposed)} AS {_quote_if_needed(base)}"
                if exposed != base
                else _quote_if_needed(exposed)
            )
            out.append(base)
        plan = ir.ProjectN(
            child=plan, exprs=exprs, output=out, references=frozenset(refs)
        )
    try:
        cs = df.sparkSession.conf.get("spark.sql.caseSensitive", "false") == "true"
    except Exception:
        cs = False
    if not cs:
        normalize_attr_case(plan)
    return plan


def normalize_attr_case(plan: ir.Node) -> None:
    """Fold every attribute reference to its scan's schema spelling.

    Catalyst (caseSensitive=false, the default) resolves `O_CUSTKEY`
    against an `o_custkey` relation but KEEPS the user's spelling in
    Filter conditions, Project outputs, and join keys, while the Scan
    reports schema case — so the planner's string matching would silently
    skip indexes for mixed-case queries.  Reference honors the resolver
    the same way (util/ResolverUtils.scala:114-234).  Only the ROOT
    segment of dotted (nested) names folds: struct-field segments come
    from GetStructField resolution and are already schema-cased.
    Ambiguous lower-cased names (two scans, different spellings) are
    left untouched — matching then requires the exact spelling, which is
    the conservative failure mode."""
    import dataclasses

    canon: dict[str, str] = {}
    drop: set[str] = set()
    for scan in ir.iter_scans(plan):
        for c in scan.output:
            k = c.lower()
            if canon.setdefault(k, c) != c:
                drop.add(k)
    for k in drop:
        canon.pop(k, None)
    if not canon:
        return

    def fold_name(n: str) -> str:
        root, sep, rest = n.partition(".")
        return canon.get(root.lower(), root) + sep + rest

    def fold_refs(refs: frozenset) -> frozenset:
        return frozenset(fold_name(r) for r in refs)

    def fold_expr(e):
        if e is None or not dataclasses.is_dataclass(e):
            return e
        updates = {}
        for f in dataclasses.fields(e):
            v = getattr(e, f.name)
            if f.name == "references" and isinstance(v, frozenset):
                updates[f.name] = fold_refs(v)
            elif f.name == "name" and isinstance(e, Attr):
                updates[f.name] = fold_name(v)
            elif dataclasses.is_dataclass(v) and not isinstance(v, type):
                updates[f.name] = fold_expr(v)
            elif isinstance(v, (list, tuple)) and v and dataclasses.is_dataclass(v[0]):
                updates[f.name] = type(v)(fold_expr(x) for x in v)
        return dataclasses.replace(e, **updates) if updates else e

    def walk(node):
        for f in getattr(node, "__dataclass_fields__", {}):
            v = getattr(node, f)
            if isinstance(v, ir.Node):
                continue  # children handled below
            if f == "references" and isinstance(v, frozenset):
                setattr(node, f, fold_refs(v))
            elif f == "equi_keys" and v:
                setattr(node, f, [(fold_name(a), fold_name(b)) for a, b in v])
            elif f == "right_keep" and v:
                setattr(node, f, [fold_name(c) for c in v])
            elif f == "partition_cols" and v:
                setattr(node, f, [fold_name(c) for c in v])
            elif v is not None and dataclasses.is_dataclass(v) and not isinstance(v, ir.Node):
                setattr(node, f, fold_expr(v))
        for c in ir.children(node):
            walk(c)

    walk(plan)


def _out_names(jnode) -> list[str]:
    return [str(a.name()) for a in scala_seq(jnode.output())]


def _opaque(jnode) -> ir.Node:
    """Degrade an unparseable subtree to an OpaqueN leaf (replayed
    verbatim).  Refused when the subtree's output has case-folded
    duplicate names: ancestors attribute columns by name, and a
    duplicate would make the replayed SQL ambiguous (or worse, let a
    parent join mis-attribute a key) — fall back entirely instead."""
    names = _out_names(jnode)
    if len({n.lower() for n in names}) != len(names):
        raise UnsupportedPlan(
            f"opaque:duplicate-output:{jnode.getClass().getSimpleName()}"
        )
    return ir.OpaqueN(jplan=jnode, output=names)


def _parse_exprs(jexprs, scalar_subquery_in: str | None = None) -> list:
    """parse_expr over one node's expression list.  An expression whose
    SQL the JVM could not render declines the node, so a JVM failure
    never reaches replay.  With ``scalar_subquery_in`` (the node kind),
    an UNCORRELATED scalar subquery declines it too: it survives
    optimization as a ScalarSubquery expression (correlated ones
    decorrelate to joins) whose rendered SQL, `scalarsubquery()`, cannot
    be regenerated.  The node's subtree then stays verbatim and the rest
    of the query can still accelerate (TPC-DS q6's Filter, q9's 15
    bucket probes in a SELECT list).  Declines at the first such
    expression, before parsing the rest."""
    parsed = []
    for e in jexprs:
        p = parse_expr(e)
        if p.sql == "<unparseable>":
            raise UnsupportedPlan("unparseable expression")
        if scalar_subquery_in and "scalarsubquery" in p.sql.lower():
            raise UnsupportedPlan(f"{scalar_subquery_in} with scalar subquery")
        parsed.append(p)
    return parsed


def _refs(parsed) -> frozenset:
    return frozenset().union(*[p.references for p in parsed])


def _parse_or_opaque(jnode, allow_renamed: bool = False) -> ir.Node:
    try:
        node = _parse(jnode)
        if not allow_renamed and getattr(node, "renames", None):
            # A renamed subtree (JoinN/ProjectN.renames, r13) is only
            # consumable by map-aware parents (a join or a fused /
            # pruning Project).  A name-based ancestor would silently
            # read the FIRST copy of a renamed column — decline instead,
            # which degrades to the old opaque cascade (never wrong).
            raise UnsupportedPlan("renamed-child-under-name-based-parent")
        return node
    except UnsupportedPlan:
        return _opaque(jnode)


_GID = "spark_grouping_id"
_GROUPING_BIT = re.compile(
    r"CAST\(\(shiftright\(spark_grouping_id, (\d+)\) & 1L?\) AS TINYINT\)"
)


def _parse_grouping_sets(jagg, jex) -> ir.Node:
    """Aggregate(Expand) -> GroupingSetsN (GROUP BY ROLLUP/CUBE/
    GROUPING SETS).

    Spark lowers grouping sets to an Expand emitting one projection per
    set: grouping columns are NULLed out where absent and a
    spark_grouping_id literal encodes membership (bit k set = the
    (m-1-k)-th grouping column is absent — the analyzer's bit order).
    The sets are recovered from those gid literals, cross-checked
    against the null pattern, and grouping()/grouping_id() projections
    (rendered by Catalyst as shiftright-of-gid) are rewritten back to
    grouping(col) so the whole node replays as explicit GROUPING SETS
    SQL.  Conservative: only PLAIN column grouping keys qualify —
    computed keys raise UnsupportedPlan and the subtree stays opaque
    (the pre-r11 behavior)."""
    out_attrs = list(scala_seq(jex.output()))
    out_names = [str(a.name()) for a in out_attrs]
    if _GID not in out_names:
        raise UnsupportedPlan("expand without spark_grouping_id")
    gid_pos = out_names.index(_GID)

    # grouping columns in groupingExpressions order (first = highest bit),
    # located in the Expand output by exprId (names can collide with the
    # raw pass-through attributes the aggregates consume)
    gcols: list[str] = []
    gpos: list[int] = []
    ids = {int(a.exprId().id()): i for i, a in enumerate(out_attrs)}
    for ge in scala_seq(jagg.groupingExpressions()):
        if ge.getClass().getSimpleName() != "AttributeReference":
            raise UnsupportedPlan("computed grouping-set key")
        if str(ge.name()) == _GID:
            continue
        pos = ids.get(int(ge.exprId().id()))
        if pos is None:
            raise UnsupportedPlan("grouping key not in expand output")
        gcols.append(str(ge.name()))
        gpos.append(pos)
    m = len(gcols)
    if m == 0 or m > 62:
        raise UnsupportedPlan("grouping-set arity")

    sets: list[list[str]] = []
    for p in scala_seq(jex.projections()):
        elems = list(scala_seq(p))
        if len(elems) != len(out_attrs):
            raise UnsupportedPlan("ragged expand projection")
        gid_e = elems[gid_pos]
        if gid_e.getClass().getSimpleName() != "Literal" or gid_e.value() is None:
            raise UnsupportedPlan("non-literal grouping id")
        gid = int(gid_e.value())
        included = [not ((gid >> (m - 1 - j)) & 1) for j in range(m)]
        for j in range(m):
            e = elems[gpos[j]]
            ecls = e.getClass().getSimpleName()
            if included[j]:
                # plain-column guard: the source must be the attribute
                # itself, or the regenerated GROUP BY text would diverge
                if ecls != "AttributeReference" or str(e.name()) != gcols[j]:
                    raise UnsupportedPlan("non-attribute grouping source")
            elif not (ecls == "Literal" and e.value() is None):
                raise UnsupportedPlan("expand null pattern mismatch")
        sets.append([gcols[j] for j in range(m) if included[j]])
    if not sets:
        raise UnsupportedPlan("empty grouping sets")

    def _to_grouping(match) -> str:
        k = int(match.group(1))
        if k >= m:
            raise UnsupportedPlan("grouping bit out of range")
        return f"grouping({gcols[m - 1 - k]})"

    parsed = _parse_exprs(scala_seq(jagg.aggregateExpressions()))
    aggs = [_GROUPING_BIT.sub(_to_grouping, p.sql) for p in parsed]
    if any(_GID in s for s in aggs):
        # grouping_id()/other gid arithmetic: not re-derived (rare);
        # stay opaque rather than regenerate wrong SQL
        raise UnsupportedPlan("unrecognized grouping-id expression")

    return ir.GroupingSetsN(
        child=_parse_or_opaque(jex.child()),
        grouping_sets=sets,
        aggs=aggs,
        output=_out_names(jagg),
        references=(_refs(parsed) - {_GID}) | frozenset(gcols),
    )


def _parse(jnode) -> ir.Node:
    cls = jnode.getClass().getSimpleName()

    if cls in _PASS_THROUGH:
        return _parse(jnode.child())

    if cls == "LogicalRelation":
        return _parse_relation(jnode)

    if cls == "Project":
        plist = scala_seq(jnode.projectList())
        jchild = jnode.child()
        child = None
        if jchild.getClass().getSimpleName() == "Join":
            # Parse the join once; fusion, the pruning Project and the
            # generic ProjectN below all consume this one parse.
            sides = _Sides(jchild)
            try:
                join = _parse_join(jchild, sides)
            except UnsupportedPlan:
                child = _opaque(jchild)
            else:
                fused = _fuse_project_join(plist, jchild, sides, join)
                if fused is not None:
                    return fused
                _finalize_join_collision(join, sides)
                pruned = _pruning_project(plist, join)
                if pruned is not None:
                    return pruned
                # the _parse_or_opaque guard: a renamed child under this
                # name-based Project would silently bind the first copy
                child = _opaque(jchild) if join.renames else join
        parsed = _parse_exprs(plist, "project")
        return ir.ProjectN(
            child=child if child is not None else _parse_or_opaque(jchild),
            exprs=[p.sql for p in parsed],
            output=_out_names(jnode),
            references=_refs(parsed),
        )

    if cls == "Filter":
        jchild = jnode.child()
        if jchild.getClass().getSimpleName() in ("Join", "Project"):
            ej = _try_parse_exists_filter(jnode, jchild)
            if ej is not None:
                return ej
        jcond = jnode.condition()
        (condition,) = _parse_exprs([jcond], "filter")
        try:
            det = bool(jcond.deterministic())
        except Exception:
            det = False  # unknown -> treat as non-deterministic (safe)
        return ir.FilterN(
            child=_parse_or_opaque(jchild),
            condition=condition,
            deterministic=det,
        )

    if cls == "Aggregate":
        jchild = jnode.child()
        if jchild.getClass().getSimpleName() == "Expand":
            # GROUP BY ROLLUP / CUBE / GROUPING SETS lowers to Aggregate
            # over Expand; recover the grouping sets from the gid bit
            # patterns so the relations UNDERNEATH stay index candidates
            # (an opaque Expand hid them before r11).
            try:
                return _parse_grouping_sets(jnode, jchild)
            except UnsupportedPlan:
                # Unrecoverable shape (computed grouping key, exotic gid
                # expression): keep the WHOLE aggregate verbatim.  An
                # AggregateN over an opaque Expand would re-render the
                # Expand's synthesized output names ("round(l_q, 0)") as
                # SQL text that re-parses as a function call over a
                # column the view does not expose.
                return _opaque(jnode)
        grouping = _parse_exprs(scala_seq(jnode.groupingExpressions()))
        aggs = _parse_exprs(scala_seq(jnode.aggregateExpressions()))
        return ir.AggregateN(
            child=_parse_or_opaque(jchild),
            grouping=[p.sql for p in grouping],
            aggs=[p.sql for p in aggs],
            output=_out_names(jnode),
            references=_refs(grouping + aggs),
        )

    if cls == "Sort":
        child = _parse_or_opaque(jnode.child(), allow_renamed=True)
        cmap = getattr(child, "renames", None) or {}
        orders = []
        refs: frozenset[str] = frozenset()
        for so in scala_seq(jnode.order()):
            key = so.child()
            child_sql = None
            if cmap:
                # A renamed child exposes second copies as __hs_dupN:
                # bare-attribute keys translate through the map; any
                # other key shape over a renamed child declines (the
                # rendered name could bind the wrong copy).
                if key.getClass().getSimpleName() != "AttributeReference":
                    raise UnsupportedPlan("sort:non-attr-key-over-renamed-child")
                exposed = cmap.get(int(key.exprId().id()), str(key.name()))
                child_sql = _quote_if_needed(exposed)
                # The rendered key uses the child's exposed __hs_dupN
                # name; keep SortN.references consistent with the SQL
                # actually replayed (both names — original and exposed).
                refs = refs | {exposed}
            (pkey,) = _parse_exprs([key])
            refs = refs | pkey.references
            child_sql = child_sql or pkey.sql
            direction = "ASC" if "Ascending" in str(so.direction().getClass().getSimpleName()) else "DESC"
            nulls = (
                "NULLS FIRST"
                if "NullsFirst" in str(so.nullOrdering().getClass().getSimpleName())
                else "NULLS LAST"
            )
            orders.append(f"{child_sql} {direction} {nulls}")
        return ir.SortN(
            child=child, orders=orders, references=refs, renames=dict(cmap)
        )

    if cls == "GlobalLimit":
        n = int(jnode.limitExpr().value())
        inner = jnode.child()
        if inner.getClass().getSimpleName() == "LocalLimit":
            inner = inner.child()
        child = _parse_or_opaque(inner, allow_renamed=True)
        return ir.LimitN(
            child=child, n=n, renames=dict(getattr(child, "renames", None) or {})
        )

    if cls == "LocalLimit":
        child = _parse_or_opaque(jnode.child(), allow_renamed=True)
        return ir.LimitN(
            child=child,
            n=int(jnode.limitExpr().value()),
            renames=dict(getattr(child, "renames", None) or {}),
        )

    if cls == "Window":
        wexprs = _parse_exprs(scala_seq(jnode.windowExpressions()))
        # Plain-attribute PARTITION BY keys (None if any is computed):
        # lets WindowBucketedIndexRule serve the window's clustered
        # distribution from the index's bucketing.
        part_cols: list[str] | None = []
        for pe in scala_seq(jnode.partitionSpec()):
            if pe.getClass().getSimpleName() == "AttributeReference":
                part_cols.append(str(pe.name()))
            else:
                part_cols = None
                break
        return ir.WindowN(
            child=_parse_or_opaque(jnode.child()),
            window_exprs=[p.sql for p in wexprs],
            output=_out_names(jnode),
            references=_refs(wexprs),
            partition_cols=part_cols,
        )

    if cls == "Union":
        return ir.UnionN(kids=[_parse_or_opaque(c) for c in scala_seq(jnode.children())])

    if cls == "Join":
        sides = _Sides(jnode)
        return _finalize_join_collision(_parse_join(jnode, sides), sides)

    raise UnsupportedPlan(cls)


def _try_parse_exists_filter(jnode, jchild) -> "ir.ExistsFilterN | None":
    """Filter over a chain of ExistenceJoins -> ir.ExistsFilterN (r13).

    Catalyst decorrelates EXISTS subqueries under a DISJUNCTION (TPC-DS
    q10/q35's `EXISTS(web) OR EXISTS(catalog)`) into ExistenceJoin
    nodes that emit boolean flag columns consumed by this Filter.  The
    flags are all NAMED `exists` (exprId-distinguished), so name-based
    replay of the raw shape is ambiguous — and ExistenceJoin.sql()
    throws outright.  Instead the whole Filter+chain re-renders as
    correlated EXISTS subqueries (Catalyst re-decorrelates on replay —
    an exact round trip), keeping the branch subtrees' scans visible to
    the index rules.  None when the shape doesn't hold or any piece
    leaves the bounded grammar (the Filter then goes opaque as before).
    ``jchild`` is the Filter's child, which the caller has already read."""
    def _is_ej(n) -> bool:
        return (
            n.getClass().getSimpleName() == "Join"
            and n.joinType().getClass().getSimpleName() == "ExistenceJoin"
        )

    chain = []
    cur = jchild
    while True:
        if _is_ej(cur):
            chain.append(cur)
            cur = cur.left()
            continue
        # Catalyst column pruning inserts attribute-only Projects BETWEEN
        # stacked ExistenceJoins; replay re-prunes, so a pure passthrough
        # list is safe to step over (an Alias is not — it renames).
        if (
            cur.getClass().getSimpleName() == "Project"
            and _is_ej(cur.child())
            and all(
                e.getClass().getSimpleName() == "AttributeReference"
                for e in scala_seq(cur.projectList())
            )
        ):
            cur = cur.child()
            continue
        break
    if not chain:
        return None
    flag_tokens: dict[int, str] = {}
    for j in chain:
        att = j.joinType().exists()
        flag_tokens[int(att.exprId().id())] = f"__hs_ex{att.exprId().id()}"
    base_out = cur.outputSet()
    refs: set[str] = set()

    def has_flag(e) -> bool:
        it = e.references().iterator()
        while it.hasNext():
            if int(it.next().exprId().id()) in flag_tokens:
                return True
        return False

    def render(e) -> str | None:
        cls = e.getClass().getSimpleName()
        if cls == "AttributeReference":
            tok = flag_tokens.get(int(e.exprId().id()))
            if tok is not None:
                return "{" + tok + "}"
            if not base_out.contains(e):
                return None
            refs.add(str(e.name()))
            return _quote_if_needed(str(e.name()))
        if cls in ("And", "Or"):
            a, b = render(e.left()), render(e.right())
            if a is None or b is None:
                return None
            return f"({a} {'AND' if cls == 'And' else 'OR'} {b})"
        if cls == "Not":
            c = render(e.child())
            return None if c is None else f"(NOT {c})"
        # Flag-free leaf predicate over the child's columns: the generic
        # expression renderer (same one plain FilterN replay uses).
        if has_flag(e):
            return None
        pe = parse_expr(e)
        if "<unparseable>" in pe.sql:
            return None
        # A ScalarSubquery conjunct renders as the bare token
        # 'scalarsubquery()' — syntactically valid in the template but
        # unreplayable; decline at parse time like the Filter/Project
        # branches do, instead of deferring the failure to replay
        # analysis (where apply() swallows it opaquely).
        if "scalarsubquery" in pe.sql.lower():
            return None
        refs.update(pe.references)
        return pe.sql

    tmpl = render(jnode.condition())
    if tmpl is None:
        return None
    branches = []
    for j in chain:
        att = j.joinType().exists()
        tok = flag_tokens[int(att.exprId().id())]
        cond_opt = j.condition()
        if not cond_opt.isDefined():
            return None
        jcond = cond_opt.get()
        if has_flag(jcond):
            return None
        jright = j.right()
        lset = j.left().outputSet()
        cond_sql = _render_qualified(
            jcond, lset, jright.outputSet(), lalias="__hs_l", ralias=tok
        )
        if cond_sql is None:
            return None
        # correlated left-side columns must stay available on the child
        it = jcond.references().iterator()
        while it.hasNext():
            a = it.next()
            if lset.contains(a):
                refs.add(str(a.name()))
        branches.append((tok, _parse_or_opaque(jright), cond_sql))
    return ir.ExistsFilterN(
        child=_parse_or_opaque(cur),
        cond_template=tmpl,
        branches=branches,
        references=frozenset(refs),
    )


class _Sides:
    """A JVM join's two children.  Each side's outputSet is fetched on
    first use, then shared by every conjunct and the fused Project that
    needs exprId attribution."""

    def __init__(self, jjoin):
        self.left, self.right = jjoin.left(), jjoin.right()
        self._sets = None

    def sets(self) -> tuple:
        if self._sets is None:
            self._sets = (self.left.outputSet(), self.right.outputSet())
        return self._sets


def _parse_join(jnode, sides: _Sides) -> "ir.JoinN":
    """The Join node itself, before any collision handling: a join whose
    output carries a name twice needs a fusing parent Project
    (_fuse_project_join) or _finalize_join_collision before anything
    consumes it."""
    try:
        # ExistenceJoin (and any future internal type) THROWS from
        # .sql(); that Java exception must become a clean decline,
        # not a crash that opaques the whole statement.
        jt = str(jnode.joinType().sql()).lower().replace(" ", "_")
    except Exception:
        raise UnsupportedPlan(
            f"join:{jnode.joinType().getClass().getSimpleName()}"
        )
    left = _parse_or_opaque(sides.left, allow_renamed=True)
    right = _parse_or_opaque(sides.right, allow_renamed=True)
    # exprId-keyed rename maps from renamed children (r13, the q47
    # collision class): every name-based resolution below is unsound
    # against a renamed side (it would silently bind the FIRST copy),
    # so non-empty maps force the exprId paths throughout.
    lmap = getattr(left, "renames", None) or {}
    rmap = getattr(right, "renames", None) or {}
    cond_opt = jnode.condition()
    condition = None
    equi: list[tuple[str, str]] = []
    residual: list[str] = []
    residual_jconjs: list = []
    shared_keys: list[str] = []
    if cond_opt.isDefined():
        jcond = cond_opt.get()
        condition = parse_expr(jcond)
        lcols = frozenset(_names(left))
        rcols = frozenset(_names(right))
        shared = lcols & rcols
        for jconj in _java_conjuncts(jcond):
            conj = parse_expr(jconj)
            pair = None if (lmap or rmap) else _equi_pair(conj, lcols, rcols)
            if pair is None:
                # Name resolution failed — the reference resolves by
                # exprId (JoinIndexRule.scala:179-317); we have the
                # JVM conjunct in hand, so do the same.  This is how
                # a self-join whose key has the SAME name on both
                # sides (TPC-DS q65's sb.ss_store_sk =
                # sc.ss_store_sk) still yields an attributed pair.
                pair = _equi_pair_by_exprid(jconj, sides, lmap, rmap)
                if pair is not None and pair[0].lower() == pair[1].lower():
                    # The replayed join must not expose the name
                    # twice; only an INNER equi join guarantees the
                    # two copies are value-equal so the right copy
                    # can be dropped (left_semi/left_anti never
                    # expose right columns at all — nothing to drop).
                    if jt == "inner":
                        shared_keys.append(pair[1])
                    # Other join types keep BOTH copies (an outer
                    # join's copies are not value-equal — neither
                    # can be dropped); the ON clause references the
                    # CHILD-level names (__hs_l/__hs_r aliases), so
                    # the pair is unambiguous as-is, and the output
                    # collision triggers the r13 rename synthesis
                    # (_finalize_join_collision) instead of a bail.
            if pair is not None:
                equi.append(pair)
            else:
                # A residual referencing a column BOTH sides expose
                # (e.g. df1.join(df2, "id")) cannot be replayed by
                # bare name — the SQL would be ambiguous and every
                # sibling rewrite would die at replay.  r11: the raw
                # JVM conjunct is in hand, so first try rendering it
                # with the replay's own side aliases (__hs_l/__hs_r),
                # attributing each attribute by exprId — the
                # range-band self-join shape (a.id = b.id AND a.ts
                # BETWEEN b.lo AND b.hi) then parses instead of
                # bailing the whole query.  Unrenderable conjuncts
                # keep the loud bail (fallback, never a wrong
                # replay); unambiguous residuals keep bare SQL.
                shared_ci = {c.lower() for c in shared}
                if (
                    lmap
                    or rmap
                    or any(r.lower() in shared_ci for r in conj.references)
                ):
                    # Renamed children force the exprId-qualified
                    # path even without a shared name: the residual's
                    # ORIGINAL names may bind the wrong copy in the
                    # replayed child.
                    qualified = _render_qualified(
                        jconj, *sides.sets(), lmap=lmap, rmap=rmap
                    )
                    if qualified is None:
                        raise UnsupportedPlan("join:ambiguous-column-condition")
                    residual.append(qualified)
                else:
                    residual.append(conj.sql)
                residual_jconjs.append(jconj)
    right_keep = None
    if shared_keys:
        drop = {c.lower() for c in shared_keys}
        right_keep = [c for c in _names(right) if c.lower() not in drop]
    out = ir.JoinN(
        left=left,
        right=right,
        join_type=jt,
        condition=condition,
        equi_keys=equi,
        residual_sql=" AND ".join(residual) if residual else None,
        right_keep=right_keep,
    )
    if (
        jt in ("left_semi", "left_anti")
        and equi
        and len(residual_jconjs) == 1
        and not lmap
        and not rmap
    ):
        # EXISTS/NOT-EXISTS band shape: the whole residual is one
        # side-separated comparison — record the structured form so
        # BandExistsAggRule can rewrite the pair scan to a per-key
        # aggregate (sound for anti too: a key-group match exists in
        # the MAX/MIN aggregate iff one exists in the raw rows).
        # Skipped under child renames: _band_conjunct renders by
        # original name.
        out.band = _band_conjunct(residual_jconjs[0], sides)
    if jt in ("left_semi", "left_anti"):
        # Output is the left side only — no collision possible here,
        # but a renamed LEFT child's map passes through verbatim.
        out.renames = dict(lmap)
    return out


def _finalize_join_collision(out: "ir.JoinN", sides: _Sides) -> "ir.JoinN":
    """Give a join that no parent Project fused an output every consumer
    can read: a semi/anti join already has one; any other join whose
    output names collide, or whose children carry renames, gets the
    synthesized renamed SELECT list."""
    if out.join_type in ("left_semi", "left_anti"):
        return out
    lmap = getattr(out.left, "renames", None) or {}
    rmap = getattr(out.right, "renames", None) or {}
    names = [n.lower() for n in _names(out)]
    if len(set(names)) != len(names) or lmap or rmap:
        # Duplicate payload names survive INTO this join's output
        # (the q47 self-join chain: the disambiguating Project
        # sits LEVELS above), or a child carries renames that
        # `SELECT *` would mis-expose.  r13: synthesize an
        # explicit exprId-keyed SELECT list — second copies
        # become __hs_dupN — and record the map for map-aware
        # consumers (a parent join or a fused/pruning Project).
        _synthesize_renamed_select(out, sides, lmap, rmap)
    return out


class _UniqueSelect:
    """A SELECT list whose output names stay unique case-insensitively:
    the first use of a name keeps it, later copies become the next free
    __hs_dupN.  ``renames`` maps the exprId of every column whose final
    name differs from its Catalyst name to that final name."""

    def __init__(self):
        self.exprs: list[str] = []
        self.output: list[str] = []
        self.renames: dict[int, str] = {}
        self._used: set[str] = set()
        self._n = 0

    def add(self, eid: int, base: str, exposed: str, qualifier: str = "") -> None:
        final = exposed
        while final.lower() in self._used:
            final = f"__hs_dup{self._n}"
            self._n += 1
        self._used.add(final.lower())
        q = qualifier + _quote_if_needed(exposed)
        self.exprs.append(q if final == exposed else f"{q} AS {_quote_if_needed(final)}")
        self.output.append(final)
        if final != base:
            self.renames[eid] = final


def _pruning_project(plist, join: "ir.JoinN") -> "ir.ProjectN | None":
    """Attribute-only Project directly above a finalized JOIN that
    carries exprId renames (or whose kept names still collide):
    Catalyst's column pruning inserts these between the levels of a
    self-join chain — q47's Project between the v1×v1_lag join and the
    outer join keeps BOTH sum_sales copies under one name.  Each
    attribute is translated through the join's map, the output
    re-deduped (__hs_dupN), and the COMPOSED map carried upward; only
    map-aware consumers may sit above (the _parse_or_opaque guard).
    None when the list is not attribute-only or nothing is renamed or
    colliding."""
    if not plist or any(
        e.getClass().getSimpleName() != "AttributeReference" for e in plist
    ):
        return None
    names = [str(e.name()) for e in plist]
    cmap = join.renames
    if not cmap and len({n.lower() for n in names}) == len(names):
        return None
    sel = _UniqueSelect()
    for e, base in zip(plist, names):
        eid = int(e.exprId().id())
        sel.add(eid, base, cmap.get(eid, base))
    return ir.ProjectN(
        child=join,
        exprs=sel.exprs,
        output=sel.output,
        references=frozenset(names),
        renames=sel.renames,
    )


def _synthesize_renamed_select(out: "ir.JoinN", sides: _Sides, lmap: dict, rmap: dict) -> None:
    """Install an explicit exprId-attributed SELECT list on a join whose
    output carries duplicate names (r13, VERDICT r12 #4 — the q47
    moving-average self-join chain).  First occurrences keep their
    exposed name; later copies rename to __hs_dupN; {exprId -> exposed
    name} lands in out.renames for map-aware consumers.  Child renames
    compose: an attribute a child already renamed is referenced by its
    child-exposed name and re-recorded under its final name here."""
    keep = None
    if out.right_keep is not None:
        keep = {c.lower() for c in out.right_keep}
    sel = _UniqueSelect()
    for qualifier, amap, jside in (
        ("__hs_l.", lmap, sides.left),
        ("__hs_r.", rmap, sides.right),
    ):
        for a in scala_seq(jside.output()):
            eid = int(a.exprId().id())
            base = str(a.name())
            exposed = amap.get(eid, base)
            if jside is sides.right and keep is not None and exposed.lower() not in keep:
                continue  # a right key copy the inner-equi dedup drops
            sel.add(eid, base, exposed, qualifier)
    out.select_exprs = sel.exprs
    out.select_output = sel.output
    out.right_keep = None
    out.renames = sel.renames


def _names(node: ir.Node) -> list[str]:
    if isinstance(node, ir.Scan):
        return node.output
    if isinstance(node, ir.OpaqueN):
        return node.output
    if isinstance(node, (ir.ProjectN, ir.AggregateN, ir.WindowN, ir.GroupingSetsN)):
        return node.output
    if isinstance(node, (ir.FilterN, ir.ExistsFilterN, ir.LimitN, ir.SortN, ir.DistinctN)):
        return _names(node.child)
    if isinstance(node, ir.UnionN):
        return _names(node.kids[0]) if node.kids else []
    if isinstance(node, ir.JoinN):
        # Semi/anti joins expose ONLY the left side (Catalyst semantics
        # and the replayed SQL agree); a dedup'd inner self-join drops
        # the right key copies; a fused parent Project defines the
        # output outright.
        if node.select_output is not None:
            return list(node.select_output)
        if node.join_type in ("left_semi", "left_anti"):
            return _names(node.left)
        if node.right_keep is not None:
            return _names(node.left) + node.right_keep
        return _names(node.left) + _names(node.right)
    return []


def _java_conjuncts(jcond) -> list:
    """Split a JVM condition on And nodes, left-to-right — the same
    order expr.split_conjuncts produces on the parsed tree."""
    if jcond.getClass().getSimpleName() == "And":
        return _java_conjuncts(jcond.left()) + _java_conjuncts(jcond.right())
    return [jcond]


# bounded expression grammar for side-qualified residual rendering:
# comparisons, arithmetic, boolean glue — enough for range-band and
# offset conditions; anything else falls back to the loud bail
_RESIDUAL_BINOPS = {
    "EqualTo": "=",
    "EqualNullSafe": "<=>",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "Add": "+",
    "Subtract": "-",
    "Multiply": "*",
    "Divide": "/",
    "And": "AND",
    "Or": "OR",
}


def _render_qualified(
    jexpr, lset, rset, lalias="__hs_l", ralias="__hs_r", lmap=None, rmap=None
) -> str | None:
    """Side-qualified rendering over the bounded residual grammar: a
    residual join conjunct referencing a column BOTH sides expose, a
    fused Project's expressions, and the ExistenceJoin-chain branch
    conditions (custom aliases).  Every attribute is attributed to its
    side by exprId; None when the expression leaves the grammar or an
    attribute resolves to neither/both sides.  lmap/rmap
    (r13): exprId -> exposed-name maps for RENAMED children — an
    attribute a child renamed must be referenced by its __hs_dupN name."""
    lmap = lmap or {}
    rmap = rmap or {}

    def render(e) -> str | None:
        cls = e.getClass().getSimpleName()
        if cls == "AttributeReference":
            in_l, in_r = lset.contains(e), rset.contains(e)
            if in_l == in_r:
                return None
            side = lalias if in_l else ralias
            amap = lmap if in_l else rmap
            name = amap.get(int(e.exprId().id()), str(e.name()))
            return f"{side}.{_quote_if_needed(name)}"
        if cls == "Literal":
            return str(e.sql())
        if cls in _RESIDUAL_BINOPS:
            a, b = render(e.left()), render(e.right())
            if a is None or b is None:
                return None
            return f"({a} {_RESIDUAL_BINOPS[cls]} {b})"
        if cls == "Not":
            c = render(e.child())
            return None if c is None else f"(NOT {c})"
        if cls == "Cast":
            c = render(e.child())
            if c is None:
                return None
            try:
                return f"CAST({c} AS {e.dataType().sql()})"
            except Exception:
                return None
        if cls == "IsNull":
            c = render(e.child())
            return None if c is None else f"({c} IS NULL)"
        if cls == "IsNotNull":
            c = render(e.child())
            return None if c is None else f"({c} IS NOT NULL)"
        if cls == "CaseWhen":
            # TPC-DS q74/q11/q4's year-over-year ratio residuals compare
            # CASE expressions across self-join instances.
            parts = []
            for b in scala_seq(e.branches()):
                w, t = render(b._1()), render(b._2())
                if w is None or t is None:
                    return None
                parts.append(f"WHEN {w} THEN {t}")
            tail = ""
            ev = e.elseValue()
            if ev.isDefined():
                el = render(ev.get())
                if el is None:
                    return None
                tail = f" ELSE {el}"
            return f"(CASE {' '.join(parts)}{tail} END)"
        return None

    return render(jexpr)


def _fuse_project_join(plist, jjoin, sides: _Sides, join: "ir.JoinN") -> "ir.JoinN | None":
    """Project DIRECTLY above an inner join whose output carries the
    same column name from both sides (TPC-DS q95's ws_wh CTE:
    ``SELECT ws1.ws_order_number, ws1.ws_warehouse_sk wh1,
    ws2.ws_warehouse_sk wh2 FROM web_sales ws1, web_sales ws2 ...``) —
    name-based replay of the bare join is ambiguous, so the subtree
    used to go opaque and its scans were invisible to every index rule.
    The Project's own expressions are attributed by exprId, so when each
    renders under the bounded grammar the Project FUSES into the join
    (not yet finalized) as an explicit side-qualified SELECT list.
    Returns the fused join, or None without touching ``join``."""
    names = _out_names(jjoin)
    if len({n.lower() for n in names}) == len(names):
        return None  # no collision: the generic path replays fine
    if not plist:
        # an EMPTY pruning Project (count(*) over the join) would fuse
        # to `SELECT FROM ...` — not a statement; keep the opaque path
        return None
    if join.join_type != "inner":
        return None
    lmap = getattr(join.left, "renames", None) or {}
    rmap = getattr(join.right, "renames", None) or {}
    sel: list[str] = []
    out_names: list[str] = []
    for je in plist:
        jcls = je.getClass().getSimpleName()
        if jcls not in ("Alias", "AttributeReference"):
            return None
        body_expr = je.child() if jcls == "Alias" else je
        body = _render_qualified(body_expr, *sides.sets(), lmap=lmap, rmap=rmap)
        if body is None:
            return None
        name = str(je.name())
        sel.append(f"{body} AS {_quote_if_needed(name)}")
        out_names.append(name)
    if len({n.lower() for n in out_names}) != len(out_names):
        return None  # the project output itself is ambiguous
    join.select_exprs = sel
    join.select_output = out_names
    join.right_keep = None
    join.renames = {}  # the fused list re-establishes unique names
    return join


_BAND_OPS = {
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
}
_BAND_FLIP = {">": "<", ">=": "<=", "<": ">", "<=": ">=", "<>": "<>"}


def _render_side(e, allowed_set, alias: str | None):
    """Render an expression whose every attribute belongs to
    ``allowed_set`` (a JVM AttributeSet, exprId-exact) — bare names when
    alias is None, alias-qualified otherwise.  Same bounded grammar as
    ``_render_qualified`` minus boolean glue (band operands are
    arithmetic).  Returns (sql, refs, total) or None; ``total`` is False
    when the expression contains a construct that can THROW under ANSI
    mode (Divide → divide-by-zero, Cast → overflow/format) — the band
    rewrite evaluates the right operand over EVERY right-side row, while
    the raw semi/anti SMJ only reaches key groups actually probed, so a
    throwing operand in a never-probed group would error the rewritten
    plan where the raw plan succeeds (integer Add/Multiply overflow is
    a residual theoretical gap, negligible against real column ranges)."""
    refs: set[str] = set()
    throwing: list[str] = []

    def render(x) -> str | None:
        cls = x.getClass().getSimpleName()
        if cls == "AttributeReference":
            if not allowed_set.contains(x):
                return None
            name = str(x.name())
            refs.add(name)
            q = _quote_if_needed(name)
            return f"{alias}.{q}" if alias else q
        if cls == "Literal":
            return str(x.sql())
        if cls in ("Add", "Subtract", "Multiply", "Divide"):
            if cls == "Divide":
                throwing.append(cls)
            a, b = render(x.left()), render(x.right())
            if a is None or b is None:
                return None
            return f"({a} {_RESIDUAL_BINOPS[cls]} {b})"
        if cls == "Cast":
            throwing.append(cls)
            c = render(x.child())
            if c is None:
                return None
            try:
                return f"CAST({c} AS {x.dataType().sql()})"
            except Exception:
                return None
        return None

    sql = render(e)
    return None if sql is None else (sql, frozenset(refs), not throwing)


def _band_conjunct(jconj, sides: _Sides) -> tuple | None:
    """(op, right_expr_bare_sql, left_expr_qualified_sql, r_refs,
    r_total) when the conjunct is one comparison whose operands separate
    cleanly by side: the right operand references ONLY right attributes
    (at least one — the aggregate needs something to aggregate), the
    left operand ONLY left attributes (or none).  ``r_total`` is False
    when the right operand can throw under ANSI mode (Divide/Cast) —
    BandExistsAggRule declines then, because the aggregate evaluates it
    over rows the raw SMJ never probes.  Normalized so the right
    expression sits first: ``r_expr <op> l_expr`` — then
    EXISTS(b: b.k = a.k AND r_expr(b) > l_expr(a))
      ⇔  MAX(r_expr) per k  >  l_expr(a)
    (MIN for </<=; the same equivalence makes NOT EXISTS / anti sound).
    None when the shape doesn't hold — the plain semi/anti join serving
    still applies.

    ``<>`` (Catalyst: Not(EqualTo)) also qualifies — TPC-DS q16/q94's
    exact EXISTS residual ('another row of the same group with a
    DIFFERENT value'):
        EXISTS(b: b.K = a.K AND r_expr(b) <> l_expr(a))
          <=>  per-K MIN(r_expr) <> l_expr OR per-K MAX(r_expr) <> l_expr
    (all non-null group values equal l_expr iff min = max = l_expr; an
    all-NULL group aggregates to NULL, the comparison is NULL, no match
    — exactly the raw rows' behavior, for semi and negated anti alike)."""
    cls = jconj.getClass().getSimpleName()
    if cls == "Not" and jconj.child().getClass().getSimpleName() == "EqualTo":
        jconj = jconj.child()
        cls = "NotEqualTo"
        op = "<>"
    elif cls in _BAND_OPS:
        op = _BAND_OPS[cls]
    else:
        return None
    lset, rset = sides.sets()
    a, b = jconj.left(), jconj.right()
    for r_operand, l_operand, o in ((a, b, op), (b, a, _BAND_FLIP[op])):
        r = _render_side(r_operand, rset, None)
        if r is None or not r[1]:
            continue
        l = _render_side(l_operand, lset, "__hs_l")
        if l is None:
            continue
        return (o, r[0], l[0], r[1], r[2])
    return None


def _equi_pair_by_exprid(jconj, sides: _Sides, lmap: dict, rmap: dict) -> tuple[str, str] | None:
    """Attribute an EqualTo(attr, attr) conjunct to join sides by exprId
    membership in the JVM children's outputSet — the reference rule's
    own resolution (JoinIndexRule.scala:179-317), reachable here because
    the raw Catalyst conjunct is still in hand.  Name-based resolution
    (_equi_pair) cannot attribute a key that exists on BOTH sides; the
    exprId is unambiguous by construction.  Returns (left_col,
    right_col) in the name each side's replay EXPOSES (a renamed child's
    __hs_dupN via lmap/rmap, schema case otherwise), or None."""
    if jconj.getClass().getSimpleName() != "EqualTo":
        return None
    a, b = jconj.left(), jconj.right()
    if (
        a.getClass().getSimpleName() != "AttributeReference"
        or b.getClass().getSimpleName() != "AttributeReference"
    ):
        return None
    lset, rset = sides.sets()

    def side(attr):
        in_l, in_r = lset.contains(attr), rset.contains(attr)
        if in_l and not in_r:
            return "l"
        if in_r and not in_l:
            return "r"
        return None

    def lname(attr):
        return lmap.get(int(attr.exprId().id()), str(attr.name()))

    def rname(attr):
        return rmap.get(int(attr.exprId().id()), str(attr.name()))

    sa, sb = side(a), side(b)
    if sa == "l" and sb == "r":
        return (lname(a), rname(b))
    if sa == "r" and sb == "l":
        return (lname(b), rname(a))
    return None


def _resolve_side(name: str, cols: frozenset[str]) -> str | None:
    """Resolve an attribute against one join side's schema-cased output:
    exact match first, then unique case-insensitive match (Catalyst keeps
    the USER's spelling in join conditions while scans report schema
    case — a mixed-case `ON O_CUSTKEY = C_CUSTKEY` must still find the
    equi pair or the join rule silently never fires).  Ambiguous
    case-folded matches return None — the conservative failure mode."""
    if name in cols:
        return name
    hits = [c for c in cols if c.lower() == name.lower()]
    return hits[0] if len(hits) == 1 else None


def _equi_pair(conj, lcols: frozenset[str], rcols: frozenset[str]) -> tuple[str, str] | None:
    if not (isinstance(conj, Cmp) and conj.op == "=" and isinstance(conj.left, Attr) and isinstance(conj.right, Attr)):
        return None
    a, b = conj.left.name, conj.right.name
    # Require unambiguous side resolution (self-joins with shared names bail;
    # the reference resolves those by exprId, JoinIndexRule.scala:179-317).
    # Returned names are SCHEMA-cased, so downstream matching and the
    # later normalize_attr_case fold agree.
    a_l, a_r = _resolve_side(a, lcols), _resolve_side(a, rcols)
    b_l, b_r = _resolve_side(b, lcols), _resolve_side(b, rcols)
    if a_l and b_r and a_r is None and b_l is None:
        return (a_l, b_r)
    if b_l and a_r and b_r is None and a_l is None:
        return (b_l, a_r)
    return None


def _parse_relation(jnode) -> ir.Scan:
    rel = jnode.relation()
    rel_cls = rel.getClass().getSimpleName()
    if rel_cls != "HadoopFsRelation":
        raise UnsupportedPlan(f"relation:{rel_cls}")
    fmt_cls = rel.fileFormat().getClass().getSimpleName()
    fmt = _FORMAT_BY_CLASS.get(fmt_cls)
    if fmt is None:
        raise UnsupportedPlan(f"format:{fmt_cls}")
    paths = [str(p.toString()) for p in scala_seq(rel.location().rootPaths())]
    part_cols = [str(f.name()) for f in scala_seq(rel.partitionSchema())]
    return ir.Scan(
        root_paths=paths,
        file_format=fmt,
        data_schema_json=str(rel.dataSchema().json()),
        output=_out_names(jnode),
        partition_columns=part_cols,
        options=scala_map(rel.options()),
        delta_root=_detect_table_root(fmt, paths, "delta"),
        iceberg_root=_detect_table_root(fmt, paths, "iceberg"),
    )


def _detect_table_root(fmt: str, paths: list[str], kind: str) -> str | None:
    """A parquet scan whose paths are FILES under one Delta (`_delta_log`)
    or Iceberg (`metadata/*.metadata.json`) table is a snapshot read —
    identity becomes the table root so indexes survive version changes.

    A scan whose path IS the bare table directory (raw
    `spark.read.parquet(table_root)`) is deliberately NOT tagged: that
    scan also reads files the log has removed but vacuum hasn't deleted,
    so snapshot semantics would change its results.  It still matches
    delta/iceberg indexes through the table-root identity and gets the
    dead files compensated as hybrid-scan appends."""
    if fmt != "parquet" or not paths:
        return None
    from hyperspace_spark.sources.delta import find_delta_root, strip_scheme
    from hyperspace_spark.sources.iceberg import find_iceberg_root

    finder = find_delta_root if kind == "delta" else find_iceberg_root
    root = finder(paths[0])
    if root is None:
        return None
    sep = root.rstrip("/") + "/"
    saw_inner = False
    for p in paths:
        sp = strip_scheme(p)
        if sp == root.rstrip("/"):
            continue
        if not sp.startswith(sep):
            return None
        saw_inner = True
    return root if saw_inner else None
