"""Python-side expression AST, parsed from Catalyst expressions via py4j.

The planner needs structured predicates for two jobs the raw SQL string
can't do: (a) the covering/z-order rules' indexed-column checks
(reference: FilterIndexRule FilterColumnFilter, covering/FilterIndexRule.scala:62-103),
and (b) data-skipping predicate translation to sketch predicates
(reference: DataSkippingIndex.translateFilterCondition,
dataskipping/DataSkippingIndex.scala:143-185).

Every node keeps the Catalyst-generated SQL (``Expression.sql``) so the
plan replayer can rebuild the exact semantics through ``F.expr`` without
us reimplementing SQL generation.  Unrecognized expressions degrade to
``Unknown`` — still replayable, just not convertible for sketches.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# AST nodes
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Expr:
    sql: str
    references: frozenset[str] = field(default_factory=frozenset)


@dataclass(frozen=True)
class Attr(Expr):
    name: str = ""
    dtype: str = ""
    # Non-empty when the attribute appeared under a Cast in the original
    # predicate (outermost cast target typeName).  Sketch converters must
    # treat cast-wrapped attributes conservatively: only order-preserving
    # exact widenings are safe for min/max-style pruning, and hash-based
    # sketches (Bloom) need the exact stored type.  The reference never
    # converts cast-wrapped predicates at all; we allow the provably-safe
    # subset (see sketches.SAFE_WIDENING).
    cast_to: str = ""


@dataclass(frozen=True)
class Lit(Expr):
    dtype: str = ""
    is_null: bool = False


@dataclass(frozen=True)
class Cmp(Expr):
    """Binary comparison: op in {'=', '<=>', '<', '<=', '>', '>='}."""

    op: str = "="
    left: Expr | None = None
    right: Expr | None = None


@dataclass(frozen=True)
class InExpr(Expr):
    child: Expr | None = None
    values: tuple[Lit, ...] = ()


@dataclass(frozen=True)
class NullTest(Expr):
    child: Expr | None = None
    is_null: bool = True


@dataclass(frozen=True)
class BoolOp(Expr):
    op: str = "and"  # or "or"
    children: tuple[Expr, ...] = ()


@dataclass(frozen=True)
class NotExpr(Expr):
    child: Expr | None = None


@dataclass(frozen=True)
class TrueLit(Expr):
    pass


@dataclass(frozen=True)
class Unknown(Expr):
    pass


# ---------------------------------------------------------------------------
# py4j helpers
# ---------------------------------------------------------------------------
def scala_seq(jseq) -> list:
    out = []
    for i in range(jseq.size()):
        out.append(jseq.apply(i))
    return out


def scala_map(jmap) -> dict:
    out = {}
    it = jmap.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = str(kv._2())
    return out


def jrefs(jexpr) -> frozenset[str]:
    try:
        names = set()
        it = jexpr.references().iterator()
        while it.hasNext():
            names.add(str(it.next().name()))
        return frozenset(names)
    except Exception:
        return frozenset()


import re

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# InSet literal recovery cap: each recovered element costs ~1-2 py4j
# round trips (~0.2-1 ms), paid on EVERY parse of the predicate — on an
# enable()d session that is every cache-missed action, index or not.
# Pruning value saturates far below this (a 1,000-member probe already
# touches most files of any realistic layout), so beyond the cap the
# set stays opaque and the planner simply doesn't convert it.
_INSET_PARSE_MAX = 1_000


def _quote_if_needed(name: str) -> str:
    return name if _IDENT.match(name) else "`" + name.replace("`", "``") + "`"


# typeName -> Catalyst typed-literal suffix ("5L" = bigint, "1.5D" =
# double, ...), the same rendering Literal.sql itself emits — so
# downstream consumers (the Bloom probe's _lit_python, F.expr replay)
# see exactly the shape they already handle for small In lists.
_LIT_SUFFIX = {"byte": "Y", "short": "S", "integer": "", "long": "L"}


def _render_internal_literal(jv, tn: str, dt) -> str | None:
    """SQL for one INTERNAL Catalyst value (an InSet element), or None if
    the type can't be rendered exactly.

    Primitives arrive as exact Python numbers (py4j's JVM->Python
    conversion is lossless) and are rendered in Catalyst's own
    typed-literal suffix style; internal date (days since epoch) and
    timestamp (UTC micros) integers go through the timezone-independent
    DATE_FROM_UNIX_DATE / TIMESTAMP_MICROS constructors; non-primitive
    objects (UTF8String, Decimal) stay JavaObjects, so Catalyst's own
    Literal.sql renders them — string escaping included."""
    if jv is None:
        return "NULL"
    if tn in _LIT_SUFFIX:
        return f"{int(jv)}{_LIT_SUFFIX[tn]}"
    if tn == "boolean":
        return "true" if jv else "false"
    if tn in ("float", "double"):
        x = float(jv)
        if x != x or x in (float("inf"), float("-inf")):
            return None  # non-finite IN-list members: stay opaque (rare)
        return f"{x!r}{'D' if tn == 'double' else 'F'}"
    if tn == "date":
        return f"DATE_FROM_UNIX_DATE({int(jv)})"
    if tn == "timestamp":
        return f"TIMESTAMP_MICROS({int(jv)})"
    if tn == "timestamp_ntz":
        # internal micros since epoch with NO timezone: render the exact
        # wall-clock literal (TIMESTAMP_MICROS would attach the session
        # zone and shift the instant under any non-UTC session).
        import datetime as _dt

        t = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(jv))
        # isoformat, not strftime: strftime("%Y") does not zero-pad years
        # below 1000, and a 1-3 digit year is an INVALID_TYPED_LITERAL.
        return "TIMESTAMP_NTZ '" + t.isoformat(sep=" ", timespec="microseconds") + "'"
    # char/varchar typeNames carry their length ("char(5)") — match by prefix.
    if tn == "string" or tn.startswith(("char", "varchar", "decimal")):
        try:
            from pyspark.sql import SparkSession

            jvm = SparkSession.getActiveSession()._jvm
            jlit = jvm.org.apache.spark.sql.catalyst.expressions.Literal
            return str(jlit(jv, dt).sql())
        except Exception:
            return None
    return None


def _jsql(jexpr) -> str:
    """Expression SQL with attribute qualifiers stripped.

    Plans built over temp views render attributes as `view`.`col`; the
    replayer registers scans under fresh view names, so qualified refs
    would dangle.  Replace each attribute's qualified rendering with its
    bare (quoted-if-needed) name.
    """
    try:
        # An Alias can CARRY a view qualifier itself (e.g. the analyzer's
        # grouping-sets re-aliases render as `expr AS t.a`) — rebuild it
        # bare; Alias.sql() would otherwise emit an unparseable name.
        if (
            jexpr.getClass().getSimpleName() == "Alias"
            and jexpr.qualifier().size() > 0
        ):
            return _jsql(jexpr.child()) + " AS " + _quote_if_needed(str(jexpr.name()))
    except Exception:
        pass
    sql = str(jexpr.sql())
    try:
        it = jexpr.references().iterator()
        while it.hasNext():
            attr = it.next()
            qualified = str(attr.sql())
            bare = _quote_if_needed(str(attr.name()))
            if qualified != bare and qualified in sql:
                sql = sql.replace(qualified, bare)
    except Exception:
        pass
    return sql


# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------
_CMP_OPS = {
    "EqualTo": "=",
    "EqualNullSafe": "<=>",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}

_FLIP = {"=": "=", "<=>": "<=>", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


def parse_expr(jexpr) -> Expr:
    """Catalyst Expression (py4j) -> Python AST.  Never raises; worst case Unknown."""
    try:
        return _parse(jexpr)
    except Exception:
        try:
            return Unknown(sql=_jsql(jexpr), references=jrefs(jexpr))
        except Exception:
            return Unknown(sql="<unparseable>", references=frozenset())


def _unwrap_cast(jexpr):
    """Unwrap Cast/UpCast chains, remembering the OUTERMOST target type.

    Returns (inner_jexpr, target_typename_or_None).  The parser records the
    target on Attr.cast_to so sketch converters can refuse unsound
    translations (e.g. CAST(ts AS DATE) = DATE'..' must NOT become a raw
    min/max probe on ts — a file whose ts values all fall later in the day
    would be pruned despite matching)."""
    target = None
    name = jexpr.getClass().getSimpleName()
    while name in ("Cast", "UpCast", "AnsiCast", "TryCast"):
        if target is None:
            target = str(jexpr.dataType().typeName())
        jexpr = jexpr.child()
        name = jexpr.getClass().getSimpleName()
    return jexpr, target


def _parse_casted(jexpr) -> Expr:
    """Parse an operand that may be cast-wrapped.

    Attr keeps its raw name/dtype plus the cast target; a cast-wrapped
    Literal degrades to Unknown (its inner SQL would change semantics, and
    the optimizer constant-folds literal casts anyway, so this is rare)."""
    inner, target = _unwrap_cast(jexpr)
    node = _parse(inner)
    if target is None:
        return node
    if isinstance(node, Attr):
        return Attr(
            sql=node.sql, references=node.references, name=node.name,
            dtype=node.dtype, cast_to=target,
        )
    if isinstance(node, Lit):
        return Unknown(sql=_jsql(jexpr), references=frozenset())
    return node


def _parse(jexpr) -> Expr:
    cls = jexpr.getClass().getSimpleName()
    sql = _jsql(jexpr)

    if cls == "AttributeReference":
        n = str(jexpr.name())
        return Attr(sql=sql, references=frozenset([n]), name=n, dtype=str(jexpr.dataType().typeName()))

    if cls == "GetStructField":
        # Nested field access resolves to a DOTTED attribute name
        # ("nested.leaf.cnt") so covering indexes can match flattened
        # __hs_nested columns (reference: ResolverUtils.scala:44-98).
        child = _parse(jexpr.child())
        if isinstance(child, Attr):
            n = f"{child.name}.{jexpr.extractFieldName()}"
            return Attr(
                sql=sql, references=frozenset([n]), name=n, dtype=str(jexpr.dataType().typeName())
            )
        return Unknown(sql=sql, references=jrefs(jexpr))

    if cls == "Alias":
        child = _parse(jexpr.child())
        return Unknown(sql=sql, references=child.references)

    if cls == "Literal":
        is_null = jexpr.value() is None
        return Lit(sql=sql, dtype=str(jexpr.dataType().typeName()), is_null=is_null)

    if cls in ("And", "Or"):
        left, right = _parse(jexpr.left()), _parse(jexpr.right())
        op = "and" if cls == "And" else "or"
        kids: list[Expr] = []
        for c in (left, right):  # flatten nested same-op chains
            if isinstance(c, BoolOp) and c.op == op:
                kids.extend(c.children)
            else:
                kids.append(c)
        refs = frozenset().union(*[c.references for c in kids])
        return BoolOp(sql=sql, references=refs, op=op, children=tuple(kids))

    if cls == "Not":
        child = _parse(jexpr.child())
        return NotExpr(sql=sql, references=child.references, child=child)

    if cls in _CMP_OPS:
        left, right = _parse_casted(jexpr.left()), _parse_casted(jexpr.right())
        op = _CMP_OPS[cls]
        # Normalize to attr-on-left when possible (reference: NormalizedExprExtractor).
        if isinstance(right, Attr) and isinstance(left, Lit):
            left, right, op = right, left, _FLIP[op]
        return Cmp(
            sql=sql,
            references=left.references | right.references,
            op=op,
            left=left,
            right=right,
        )

    if cls == "In":
        child = _parse_casted(jexpr.value())
        vals = []
        for jv in scala_seq(jexpr.list()):
            v = _parse_casted(jv)
            if not isinstance(v, Lit):
                return Unknown(sql=sql, references=jrefs(jexpr))
            vals.append(v)
        return InExpr(sql=sql, references=child.references, child=child, values=tuple(vals))

    if cls == "InSet":
        # Post-OptimizeIn form (Catalyst rewrites In -> InSet above
        # spark.sql.optimizer.inSetConversionThreshold = 10, so every
        # non-trivial IN list arrives here).  The value set holds INTERNAL
        # Catalyst objects with no Literal wrapper; primitives are
        # rendered Python-side (py4j's unboxing of Scala Long/Int/Double
        # to Python numbers is exact, but round-tripping them back to the
        # JVM re-boxes by SIZE and Literal rejects the mismatch), and
        # non-primitive objects (UTF8String, Decimal — py4j leaves them
        # as JavaObjects) go through Catalyst's own Literal.sql.  A set
        # beyond _INSET_PARSE_MAX stays opaque (the emitted sketch
        # predicate would bloat past any pruning win).
        child = _parse_casted(jexpr.child())
        try:
            jset = jexpr.hset()
            if jset.size() > _INSET_PARSE_MAX:
                return Unknown(sql=sql, references=child.references)
            dt = jexpr.child().dataType()
            tn = dt.typeName()
            vals = []
            for jv in scala_seq(jset.toSeq()):
                lit_sql = _render_internal_literal(jv, tn, dt)
                if lit_sql is None:
                    return Unknown(sql=sql, references=child.references)
                vals.append(Lit(sql=lit_sql, dtype=tn, is_null=jv is None))
            return InExpr(sql=sql, references=child.references, child=child, values=tuple(vals))
        except Exception:
            return Unknown(sql=sql, references=child.references)

    if cls == "IsNull":
        child = _parse_casted(jexpr.child())
        return NullTest(sql=sql, references=child.references, child=child, is_null=True)

    if cls == "IsNotNull":
        child = _parse_casted(jexpr.child())
        return NullTest(sql=sql, references=child.references, child=child, is_null=False)

    return Unknown(sql=sql, references=jrefs(jexpr))


def split_conjuncts(e: Expr) -> list[Expr]:
    if isinstance(e, BoolOp) and e.op == "and":
        out: list[Expr] = []
        for c in e.children:
            out.extend(split_conjuncts(c))
        return out
    return [e]


def split_disjuncts(e: Expr) -> list[Expr]:
    """Top-level OR flattening (the dual of split_conjuncts): the
    branch list FilterOrIndexRule routes to per-disjunct index scans."""
    if isinstance(e, BoolOp) and e.op == "or":
        out: list[Expr] = []
        for c in e.children:
            out.extend(split_disjuncts(c))
        return out
    return [e]
