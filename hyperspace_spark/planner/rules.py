"""Index-application rules + score-based selection context.

Scores follow the reference's fixed heuristic (BASELINE.md):
filter = 50·coverage (FilterIndexRule.scala:151-173), z-order =
60·coverage (ZOrderFilterIndexRule.scala:128-152), join = 70+70·coverage
(JoinIndexRule.scala:689-719), data skipping = 1, always losing to any
covering rewrite (ApplyDataSkippingIndex.scala:76-83).
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field

from hyperspace_spark.config import HyperspaceConf
from hyperspace_spark.planner import ir
from hyperspace_spark.planner.candidates import Candidate, Reasons
from hyperspace_spark.planner.expr import split_conjuncts
from hyperspace_spark.planner.implication import implies

# Rule-stage whyNot reasons (reference: plananalysis/FilterReason.scala).
NO_FIRST_INDEXED_COL_COND = "NO_FIRST_INDEXED_COL_COND"
MISSING_INDEXED_COL = "MISSING_INDEXED_COL"
MISSING_REQUIRED_COL = "MISSING_REQUIRED_COL"
NOT_ELIGIBLE_JOIN = "NOT_ELIGIBLE_JOIN"
NOT_ALL_JOIN_COL_INDEXED = "NOT_ALL_JOIN_COL_INDEXED"
NO_COMPATIBLE_JOIN_INDEX_PAIR = "NO_COMPATIBLE_JOIN_INDEX_PAIR"
NO_AVAIL_JOIN_INDEX_PAIR = "NO_AVAIL_JOIN_INDEX_PAIR"
ANOTHER_INDEX_APPLIED = "ANOTHER_INDEX_APPLIED"
INELIGIBLE_FILTER_CONDITION = "INELIGIBLE_FILTER_CONDITION"
OR_BRANCH_NOT_PRUNABLE = "OR_BRANCH_NOT_PRUNABLE"
PREDICATE_NOT_IMPLIED = "PREDICATE_NOT_IMPLIED"


@dataclass
class RuleContext:
    spark: object
    conf: HyperspaceConf
    candidates: dict[int, list[Candidate]]  # id(scan) -> candidates
    reasons: Reasons | None = None
    # Memo for skipping-index pruning: the optimizer visits the same
    # Filter<-Scan pattern at several tree levels; compute the kept file
    # ids once per (index, predicate) within one apply().
    prune_memo: dict = field(default_factory=dict)
    # Frames built from immutable index versions, kept ACROSS apply()
    # calls (the owning Hyperspace's dict; see indexes.base.version_slot):
    # data-skipping sketch rows held in the driver, which file pruning
    # and the metadata-only fold both read, and covering index reads per
    # bucket-file subset.  Keyed on index content, so a new version
    # replaces its slot; every lifecycle operation clears the dict.
    version_cache: dict | None = None

    def for_scan(self, scan: ir.Scan, kind: str) -> list[Candidate]:
        return [c for c in self.candidates.get(id(scan), []) if c.entry.derived_kind == kind]

    def tag(self, index_name: str, reason: str, detail: str = "") -> None:
        if self.reasons is not None:
            self.reasons.add(index_name, reason, detail)


@dataclass
class Applied:
    node: ir.Node
    score: float
    index_names: list[str] = field(default_factory=list)


# ---------------------------------------------------------------------------
# pattern helpers
# ---------------------------------------------------------------------------
def match_filter_pattern(node: ir.Node):
    """[Project] <- Filter <- Scan (reference FilterPlanNodeFilter,
    covering/FilterIndexRule.scala:33-55)."""
    project = None
    cur = node
    if isinstance(cur, ir.ProjectN):
        project = cur
        cur = cur.child
    if not isinstance(cur, ir.FilterN):
        return None
    filt = cur
    if not isinstance(filt.child, ir.Scan):
        return None
    return project, filt, filt.child


def match_linear_side(node: ir.Node):
    """[Project] <- [Filter] <- Scan (reference requires linear join children,
    JoinIndexRule.scala:150-151).  Returns (scan, required_cols) or None."""
    cur = node
    if isinstance(cur, ir.ProjectN):
        cur = cur.child
    if isinstance(cur, ir.FilterN):
        cur = cur.child
    if not isinstance(cur, ir.Scan):
        return None
    try:
        return cur, ir.required_columns(node)
    except ValueError:
        return None


def linear_side_filter(node: ir.Node):
    """The deterministic Filter condition of a linear [Project] <-
    [Filter] <- Scan subtree, or None — what the partial-index
    implication proof runs against in the join/agg rules (the filter
    replays ON TOP of the index scan, so cond ⇒ predicate means every
    needed row is in the partial index)."""
    cur = node
    if isinstance(cur, ir.ProjectN):
        cur = cur.child
    if isinstance(cur, ir.FilterN) and isinstance(cur.child, ir.Scan):
        return cur.condition if cur.deterministic else None
    return None


def _substitute_scans(node: ir.Node, subs: dict[int, tuple]) -> ir.Node:
    """Deep-copy the subtree installing replacements for the scans in
    ``subs`` (id(scan) -> (replacement_fn, index_name)) in ONE pass —
    cloning loses object identity, so all substitutions must happen
    against the original tree.  Copies keep the un-rewritten plan
    reusable when another rule scores higher."""

    def clone(n: ir.Node) -> ir.Node:
        if id(n) in subs:
            replacement, index_name = subs[id(n)]
            s = copy.copy(n)
            s.replacement = replacement
            s.applied_index = index_name
            return s
        kids = ir.children(n)
        if not kids:
            return copy.copy(n)
        return ir.with_children(n, [clone(k) for k in kids])

    return clone(node)


def equality_literals(cond, column: str):
    """Literals a top-level equality/IN conjunct pins ``column`` to, or
    None when no such conjunct exists.

    Sound for bucket pruning because a CONJUNCT constrains every matching
    row: rows can only live in the buckets those literals hash to.  The
    attribute must be cast-free (a predicate on CAST(col) says nothing
    about which bucket the raw value hashed into) and the literal side a
    plain Lit."""
    from hyperspace_spark.planner.expr import Attr, Cmp, InExpr, Lit

    def _attr_ok(e) -> bool:
        return isinstance(e, Attr) and e.name == column and not e.cast_to

    for conj in split_conjuncts(cond):
        if (
            isinstance(conj, Cmp)
            and conj.op in ("=", "<=>")
            and _attr_ok(conj.left)
            and isinstance(conj.right, Lit)
        ):
            return [conj.right]
        if isinstance(conj, InExpr) and _attr_ok(conj.child) and conj.values:
            return list(conj.values)
    return None


def _index_bytes(c: Candidate) -> int:
    return sum(f.size for f in c.entry.content_files)


def _rank_smallest(cands: list[Candidate]) -> list[Candidate]:
    """Prefer the smallest index data (reference FilterIndexRanker.scala)."""
    return sorted(cands, key=lambda c: (_index_bytes(c), c.entry.name))


# ---------------------------------------------------------------------------
# shared covering-rule parts: gate, pick, file pruning, index leaf
# ---------------------------------------------------------------------------
def _gate(ctx: RuleContext, cands, required, cond, key_fits) -> list[Candidate]:
    """The candidates that can serve a subtree (reference: the IndexFilter
    chain, HyperspaceRule.scala:28-91), each rejection tagged once:

    - the rule's key test, ``key_fits(indexed_columns)``: True, False for
      a silent miss, or the ``(reason, detail)`` to tag;
    - every required column covered (indexed or included);
    - a partial index only where ``cond`` — the deterministic filter that
      replays on top of the index scan, None when there is none —
      PROVABLY implies its build predicate (every index conjunct implied
      by some query conjunct; conservative, planner/implication.py).
      Appended files are safe as-is: the hybrid union scans them RAW and
      the filter re-applies on top, dropping rows outside the predicate.
    """
    out = []
    for c in cands:
        p = c.entry.derived_properties
        indexed = p.get("indexedColumns", [])
        covered = set(indexed) | set(p.get("includedColumns", []))
        fit = key_fits(indexed)
        if fit is not True:
            if fit:
                ctx.tag(c.entry.name, *fit)
        elif not required.issubset(covered):
            ctx.tag(c.entry.name, MISSING_REQUIRED_COL, f"missing {sorted(required - covered)}")
        elif (pred := _entry_predicate(c.entry)) is not None and (cond is None or not implies(cond, pred)):
            ctx.tag(
                c.entry.name, PREDICATE_NOT_IMPLIED, f"query filter does not imply index predicate {pred.sql!r}"
            )
        else:
            out.append(c)
    return out


def _pick(ctx: RuleContext, eligible: list[Candidate]) -> Candidate | None:
    """The smallest eligible index; every other one is tagged as the loser
    (the ranked tail, so the winner never tags itself)."""
    if not eligible:
        return None
    winner, *losers = _rank_smallest(eligible)
    for c in losers:
        ctx.tag(c.entry.name, ANOTHER_INDEX_APPLIED, f"lost to {winner.entry.name}")
    return winner


def _index_files(ctx: RuleContext, cand: Candidate, cond) -> list[str] | None:
    """The index data files ``cond`` can touch, or None for a full read —
    computed driver-side, zero Spark jobs:

    - CI: equality/IN conjuncts pinning EVERY indexed column map the rows
      to their bucket FILES through a Spark-compatible murmur3 chained
      like Spark's Murmur3Hash fold (planner/mmh3.py), so a k-column
      point probe reads numBuckets'th of the index.  Gated by
      ``filterRule.useBucketSpec``; a hybrid candidate reads in full.
      Range predicates read the whole index plainly: the data is sorted
      by the indexed columns, so parquet row-group stats prune.
    - ZCI: per-file min/max ranges of the indexed columns (tight after
      z-clustering, indexes/zorder.py); None unless a file drops.
    """
    from hyperspace_spark.indexes.covering import bucket_pruned_files_multi
    from hyperspace_spark.indexes.zorder import stats_pruned_files

    entry = cand.entry
    if entry.derived_kind == "ZCI":
        return stats_pruned_files(entry, cond)
    if not ctx.conf.filter_rule_use_bucket_spec or cand.appended:
        return None
    indexed = entry.derived_properties.get("indexedColumns", [])
    return bucket_pruned_files_multi(entry, [equality_literals(cond, c) for c in indexed])


def _index_leaf(ctx: RuleContext, scan: ir.Scan, required, cand: Candidate, files=None, bucketed=False):
    """The ``(replacement, index_name)`` pair ``_substitute_scans`` installs
    for ``scan``: a read of ``cand``'s index (restricted to ``files``,
    bucketed for shuffle-free joins and aggregates) projected to the
    required columns in scan order, dotted nested leaves last, with the
    hybrid-scan compensation for its appended and deleted files."""
    cols = [c for c in scan.output if c in required] + sorted(c for c in required if "." in c)

    def replacement(spark, _cache=ctx.version_cache):
        from hyperspace_spark.indexes.covering import index_scan_df

        return index_scan_df(
            spark, cand.entry, cols, appended=cand.appended, deleted=cand.deleted,
            bucketed=bucketed, files=files, cache=_cache,
        )

    return replacement, cand.entry.name


# ---------------------------------------------------------------------------
# FilterIndexRule (covering) + ZOrderFilterIndexRule
# ---------------------------------------------------------------------------
class FilterIndexRule:
    kind = "CI"
    base_score = 50.0

    @staticmethod
    def key_fits(indexed, refs):
        """Reference: the first indexed column must appear in the predicate
        (FilterColumnFilter, FilterIndexRule.scala:62-103) — that's the
        column the bucketed/sorted layout can actually seek on."""
        if indexed and indexed[0] in refs:
            return True
        return NO_FIRST_INDEXED_COL_COND, f"first indexed {indexed[:1]} not in predicate"

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        m = match_filter_pattern(node)
        if m is None:
            return None
        _, filt, scan = m
        cands = ctx.for_scan(scan, self.kind)
        refs = filt.condition.references
        if not cands or not refs:
            return None
        required = ir.required_columns(node)
        winner = _pick(ctx, _gate(ctx, cands, required, filt.condition, lambda ix: self.key_fits(ix, refs)))
        if winner is None:
            return None
        leaf = _index_leaf(ctx, scan, required, winner, files=_index_files(ctx, winner, filt.condition))
        return Applied(
            _substitute_scans(node, {id(scan): leaf}), self.base_score * winner.coverage, [winner.entry.name]
        )


class ZOrderFilterIndexRule(FilterIndexRule):
    """Same shape, but any indexed column qualifies and the score is 60
    (reference: zordercovering/ZOrderFilterIndexRule.scala:36-153) — the
    z-clustered layout prunes parquet row-groups on every indexed column."""

    kind = "ZCI"
    base_score = 60.0

    @staticmethod
    def key_fits(indexed, refs):
        return bool(set(indexed) & refs) or (MISSING_INDEXED_COL, "no indexed column in predicate")


class FilterOrIndexRule:
    """Index-union rewrite for DISJUNCTIVE filters — an extension beyond
    the reference (its FilterIndexRule.scala:62-103 requires the first
    indexed column in the whole predicate, which an OR satisfies only
    trivially: the single index still scans fully because no conjunct
    pins the bucket column).  Classic RDBMS index-OR (bitmap-union)
    re-expressed for bucketed parquet:

        WHERE a = 1 OR (b = 2 AND ...)
          ->  union( idx_on_a ⋉ buckets(a=1)  FILTER d1,
                     idx_on_b ⋉ buckets(b=2)  FILTER d2 AND d1 IS NOT TRUE )

    Each disjunct routes to an index the single-index rules' key test
    admits for THAT disjunct and whose files it prunes (``_index_files``:
    bucket files for a CI, min/max stats for a ZCI, so mixed-kind unions
    compose an equality branch on one index with a range branch on a
    z-clustered one); a partial index must be implied by the disjunct
    alone (other disjuncts' rows are served by their own branches).  The
    k-th branch is guarded by `NOT coalesce(d_j, false)` for every earlier
    disjunct j < k, so a row satisfying several disjuncts surfaces exactly
    once — no DISTINCT, no shuffle.  At 100 TB an OR of two point probes
    reads 2/numBuckets of two indexes instead of the full table.

    Declines (plain FilterIndexRule/ZOrderFilterIndexRule still
    compete) when: any branch can't prune (a full-index branch scan is
    worse than one full scan), any candidate is hybrid-stale (appended
    files would scan once PER BRANCH), a disjunct touches nested
    columns (branch guards run on the flattened index frame), or every
    branch resolved to the SAME z-order index (one stats-pruned scan
    of that index reads the union of the branches' files ONCE — the
    single-index rule's plan strictly dominates there).

    Score 65: when every branch prunes, the union reads a few bucket
    files / stats-kept files per branch — strictly less than the
    single-index rules' full scan (neither CI bucket pruning nor ZCI
    stats pruning fires on a disjunction: no conjunct pins anything),
    so it must out-rank ZCI's 60.
    """

    base_score = 65.0  # beats CI-50 and ZCI-60: every branch is pruned
    MAX_BRANCHES = 8  # an OR wider than this is selectivity-free anyway

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        from hyperspace_spark.planner.expr import BoolOp, split_disjuncts

        m = match_filter_pattern(node)
        if m is None:
            return None
        _, filt, scan = m
        cond = filt.condition
        if not isinstance(cond, BoolOp) or cond.op != "or" or not filt.deterministic:
            return None
        disjuncts = split_disjuncts(cond)
        if not (2 <= len(disjuncts) <= self.MAX_BRANCHES):
            return None
        kinds = [(ctx.for_scan(scan, r.kind), r.key_fits) for r in (FilterIndexRule, ZOrderFilterIndexRule)]
        if not any(cands for cands, _ in kinds) or any("." in r for r in cond.references):
            return None
        required = ir.required_columns(node)

        branches = []
        for d in disjuncts:
            if not d.references:
                return None
            eligible = []
            for cands, fits in kinds:
                for c in _gate(ctx, cands, required, d, lambda ix: fits(ix, d.references) is True):
                    if c.appended:
                        continue  # its appended files would scan once PER BRANCH
                    files = _index_files(ctx, c, d)
                    if files is None:
                        z = c.entry.derived_kind == "ZCI"
                        why = "file stats prune nothing for disjunct" if z else "bucket pruning unavailable"
                        ctx.tag(c.entry.name, OR_BRANCH_NOT_PRUNABLE, why)
                    else:
                        eligible.append((len(files), _index_bytes(c), c.entry.name, c, files))
            if not eligible:
                return None
            *_, winner, files = min(eligible, key=lambda e: e[:3])
            branches.append((d.sql, winner, files, _index_leaf(ctx, scan, required, winner, files=files)[0]))

        if len({id(w.entry) for _, w, _, _ in branches}) == 1 and branches[0][1].entry.derived_kind == "ZCI":
            # Every branch resolved to the same z-order index: one
            # stats-pruned scan of it reads the same files once each —
            # let ZOrderFilterIndexRule serve the whole disjunction.
            return None
        used = [w.entry.name for _, w, _, _ in branches]

        def replacement(spark, _branches=tuple(branches)):
            from hyperspace_spark.telemetry import HyperspaceEvent, emit

            out = None
            for i, (dsql, win, files, read) in enumerate(_branches):
                # Per-branch statistics, consumed by explain(verbose=True):
                # which index serves the disjunct and how hard it prunes.
                # Emitted here (replay of the WINNING plan), never from
                # apply() — rules run speculatively during scoring.
                emit(
                    HyperspaceEvent(
                        kind="or_branch",
                        index_name=win.entry.name,
                        detail=(
                            f"branch {i}: ({dsql}) -> {win.entry.name}, "
                            f"reads {len(files)}/{len(win.entry.content_files)} index files"
                        ),
                    )
                )
                guard = f"({dsql})" + "".join(f" AND (NOT coalesce(({b[0]}), false))" for b in _branches[:i])
                f = read(spark).filter(guard)
                out = f if out is None else out.unionByName(f)
            return out

        coverage = min(w.coverage for _, w, _, _ in branches)
        new_node = _substitute_scans(node, {id(scan): (replacement, "+".join(used))})
        return Applied(new_node, self.base_score * coverage, sorted(set(used)))


def _entry_predicate(entry):
    """The partial-index build predicate as a parsed Expr, or None for a
    whole-table index.  Persisted as Expr-JSON at create time
    (hyperspace.py create path -> implication.expr_to_json); an entry
    whose JSON cannot round-trip is treated as an OPAQUE predicate —
    implication then only succeeds on exact-SQL conjunct matches."""
    j = entry.derived_properties.get("filterPredicateExpr")
    if not j:
        return None
    from hyperspace_spark.planner.implication import expr_from_json

    try:
        return expr_from_json(j)
    except Exception:
        from hyperspace_spark.planner.expr import Unknown

        return Unknown(sql=str(entry.derived_properties.get("filterPredicate", "")))


# ---------------------------------------------------------------------------
# AggBucketedIndexRule
# ---------------------------------------------------------------------------
def _plain_column(sql_expr: str) -> str | None:
    """Bare column name of a grouping-expression SQL string, or None for
    anything computed ('round(x)', 'a + b', struct paths)."""
    s = sql_expr.strip().strip("`")
    if not s or any(ch in s for ch in "(). +-*/,'\""):
        return None
    return s


class AggBucketedIndexRule:
    """Aggregate whose grouping keys cover ALL of a covering index's
    bucket keys -> read the index through its BUCKETED catalog table so
    the aggregation inherits the hash distribution and Spark drops the
    agg Exchange entirely.

    This is the aggregation analog of JoinIndexRule's shuffle
    elimination, and the selective form of the reference's global
    `spark.hyperspace.index.filterRule.useBucketSpec` switch
    (HyperspaceConf.scala:80-87, CoveringIndexRuleUtils.scala:51-120):
    the reference makes bucketed filter-scans an all-or-nothing session
    conf because a bucketed read caps scan parallelism at numBuckets;
    here the planner enables it exactly when an Aggregate keyed on the
    bucket columns sits above the scan — the one shape where the saved
    corpus-wide shuffle always dominates the lost file-split
    parallelism.  At 100 TB a GROUP BY over a fact table is a full
    shuffle of the projected data; this rule makes it shuffle-free.

    Pattern: Aggregate <- [Project] <- [Filter] <- Scan with every
    indexed (bucket) column present in the grouping keys and all
    required columns covered; a partial index only under a subtree
    filter that implies its predicate (an unfiltered aggregate over a
    row subset would silently drop rows).  Candidates with appended
    source files are left to FilterIndexRule — the hybrid union erases
    the bucketing, so the score advantage would be unearned — and so
    are indexes not registrable as a single bucketed location.  Spark's
    native bucket pruning still applies on top for equality/IN
    predicates on the key.  Score 55·coverage: above FilterIndexRule's
    50 (strictly more work eliminated), below ZOrder's 60 and the join
    rule's 70 ladder.
    """

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        if not isinstance(node, ir.AggregateN) or not node.grouping:
            return None
        group_cols = {
            c.lower() for c in (_plain_column(g) for g in node.grouping) if c
        }
        if not group_cols:
            return None
        return self._apply_keyed(node, group_cols, ctx)

    def _apply_keyed(
        self, node: ir.Node, key_cols: set[str], ctx: RuleContext
    ) -> Applied | None:
        m = match_linear_side(node.child)
        if m is None:
            return None
        scan, _ = m
        cands = ctx.for_scan(scan, "CI")
        if not cands:
            return None
        try:
            required = ir.required_columns(node)
        except ValueError:
            return None
        served = _gate(
            ctx, cands, required, linear_side_filter(node.child),
            lambda ix: bool(ix) and {i.lower() for i in ix} <= key_cols,
        )
        winner = _pick(ctx, [
            c for c in served
            if not c.appended and c.entry.derived_properties.get("tableName") and len(c.entry.index_data_dirs) == 1
        ])
        if winner is None:
            return None
        leaf = _index_leaf(ctx, scan, required, winner, bucketed=True)
        return Applied(_substitute_scans(node, {id(scan): leaf}), 55.0 * winner.coverage, [winner.entry.name])


class WindowBucketedIndexRule(AggBucketedIndexRule):
    """Window functions partitioned by the index's bucket keys — the
    `row_number() OVER (PARTITION BY key ORDER BY ts)` latest-record
    pattern that at 100 TB costs a full shuffle of the fact table.  A
    bucketed read satisfies the window's clustered distribution the
    same way it satisfies the aggregate's, so the window Exchange
    disappears (the in-partition sort remains — that is the window's
    own work).  Same eligibility and score class as the aggregate rule;
    partition keys were captured as plain attributes at parse time
    (ir.WindowN.partition_cols — None for computed expressions, which
    never match)."""

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        if not isinstance(node, ir.WindowN) or not node.partition_cols:
            return None
        return self._apply_keyed(
            node, {c.lower() for c in node.partition_cols}, ctx
        )


# ---------------------------------------------------------------------------
# JoinIndexRule
# ---------------------------------------------------------------------------
class JoinIndexRule:
    """Equi-join CNF over linear children -> read both sides from covering
    indexes bucketed on the join keys; Spark's planner then drops the
    Exchange (reference: covering/JoinIndexRule.scala:635-720).  A
    partial index serves a side only when that side's own filter implies
    its predicate (otherwise a row-subset index silently drops matches).

    Hybrid scan: deleted files are free — the lineage anti-filter
    preserves the bucketed partitioning.  Appended files union a direct
    scan of just those files onto the index side (the U5 equivalent of
    the reference's BucketUnionExec, CoveringIndexRuleUtils.scala:357-417,
    which repartitions appends into the index's bucketing JVM-side).  The
    union erases the bucket-partitioning info, so Spark re-shuffles that
    side for the SMJ — one shuffle of (slim index + small delta) instead
    of abandoning the index wholesale between refreshes.  At 100 TB with
    continuous ingest "no appends" is never true, so bailing out meant
    the join acceleration was effectively always off.  Pairs with no
    appends still rank first.

    r11 extension beyond the reference's simple-CNF-equi gate
    (JoinIndexRule.scala:164-170): LEFT SEMI / LEFT ANTI joins and
    joins carrying a residual conjunct also qualify.  Sound because the
    rewrite substitutes only the SCANS — the join node itself (type,
    equi keys, residual) replays unchanged, and an index scan produces
    exactly the source's rows; semi/anti SMJs hash-partition on the
    same equi keys, so co-bucketed reads drop their Exchanges the same
    way (the decorrelated-EXISTS band shape rides the pair).
    """

    SERVED_JOIN_TYPES = ("inner", "left_semi", "left_anti")
    base_score = 70.0

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        if not isinstance(node, ir.JoinN) or node.join_type not in self.SERVED_JOIN_TYPES:
            return None
        if not node.equi_keys:
            return None
        sides = [match_linear_side(node.left), match_linear_side(node.right)]
        if None in sides:
            return None
        lc, rc = (
            # Reference: indexed columns must equal the join columns
            # (JoinColumnFilter, JoinIndexRule.scala:451).
            _gate(
                ctx, ctx.for_scan(scan, "CI"), required, linear_side_filter(side),
                lambda ix, k=keys: set(ix) == set(k)
                or (NOT_ALL_JOIN_COL_INDEXED, f"indexed {ix} != join keys {sorted(set(k))}"),
            )
            for (scan, required), side, keys in zip(sides, (node.left, node.right), zip(*node.equi_keys))
        )
        if not lc or not rc:
            # One side has eligible indexes but the other has none: tag
            # the orphans (reference FilterReason NO_AVAIL_JOIN_INDEX_PAIR,
            # FilterReason.scala) so whyNot explains the miss.
            for c in lc or rc:
                ctx.tag(c.entry.name, NO_AVAIL_JOIN_INDEX_PAIR, "no eligible index on the other join side")
            return None
        pair = self._best_pair(node, lc, rc)
        if pair is None:
            for c in lc + rc:
                ctx.tag(c.entry.name, NO_COMPATIBLE_JOIN_INDEX_PAIR, "")
            return None
        subs = {
            id(scan): _index_leaf(ctx, scan, required, win, bucketed=not win.appended)
            for (scan, required), win in zip(sides, pair)
        }
        coverage = min(w.coverage for w in pair)
        return Applied(
            _substitute_scans(node, subs), self.base_score + 70.0 * coverage, [w.entry.name for w in pair]
        )

    def _best_pair(self, node: ir.JoinN, lc: list[Candidate], rc: list[Candidate]):
        """Compatibility: the indexed-column ORDER must agree with the join
        condition's column mapping (JoinRankFilter.isCompatible,
        JoinIndexRule.scala:607-616); rank pairs by equal bucket count,
        then by more buckets (JoinIndexRanker.scala:52-90)."""
        key_map = dict(node.equi_keys)
        pairs = []
        for l in lc:
            for r in rc:
                lcols = l.entry.derived_properties["indexedColumns"]
                rcols = r.entry.derived_properties["indexedColumns"]
                if len(lcols) != len(rcols):
                    continue
                if any(key_map.get(a) != b for a, b in zip(lcols, rcols)):
                    continue
                lb = l.entry.derived_properties["numBuckets"]
                rb = r.entry.derived_properties["numBuckets"]
                # Append-free pairs first: each appended side costs a
                # union + re-shuffle (see class docstring).
                n_app = int(bool(l.appended)) + int(bool(r.appended))
                pairs.append(((n_app, 0 if lb == rb else 1, -min(lb, rb)), (l, r)))
        if not pairs:
            return None
        pairs.sort(key=lambda x: x[0])
        return pairs[0][1]


def _ansi_enabled(spark) -> bool:
    try:
        return str(spark.conf.get("spark.sql.ansi.enabled", "true")).lower() == "true"
    except Exception:
        return True  # assume the strict default when unreadable


class BandExistsAggRule(JoinIndexRule):
    """Band-EXISTS -> per-key-aggregate rewrite (r12, VERDICT r11 #5).

    A decorrelated EXISTS / NOT EXISTS whose residual is ONE
    side-separated comparison — JoinN(left_semi|left_anti, equi keys K,
    residual ``r_expr(b) > l_expr(a)``) — makes the SMJ scan candidate
    PAIRS inside each key group: worst-case O(group²) on a skewed key.
    The equivalence

        EXISTS(b: b.K = a.K AND r_expr(b) > l_expr(a))
          <=>  (per-K MAX(r_expr)) > l_expr(a)        (MIN for < / <=)

    collapses the probe side to one row per key BEFORE the join, so the
    join does one comparison per left row — linear no matter how skewed
    K is.  Anti is the same equivalence negated row-wise: a key-group
    match exists against the aggregate iff one exists against the raw
    rows (an all-NULL group aggregates to NULL, the comparison is NULL,
    no match — exactly the raw rows' behavior).

    Serving is JoinIndexRule's: both sides read the covering index
    co-bucketed on K, so the pre-aggregate (grouped on the bucket key)
    AND the semi/anti SMJ run Exchange-free; this rule only adds the
    per-key aggregate on the served pair.  Scores 80 + 70·cov — above
    the plain join serving (70 + 70·cov): the aggregate shape strictly
    dominates at any scale.  No reference counterpart
    (covering/JoinIndexRule.scala serves the join as written); this is a
    rewrite the 100 TB target demands.
    """

    base_score = 80.0

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        if (
            not isinstance(node, ir.JoinN)
            or node.join_type not in ("left_semi", "left_anti")
            or node.band is None
            or not node.equi_keys
        ):
            return None
        op, r_expr, l_expr, r_refs, r_total = node.band
        if not r_total and _ansi_enabled(ctx.spark):
            # The aggregate evaluates r_expr over EVERY right row; the
            # raw SMJ residual only runs inside probed key groups.  A
            # throwing r_expr (Divide/Cast under ANSI) in a never-probed
            # group would error the rewrite where the raw plan succeeds
            # — never wrong rows, but a new runtime error.  Decline; the
            # plain semi/anti serving still applies.
            return None
        served = super().apply(node, ctx)
        if served is None:
            return None

        from hyperspace_spark.planner.expr import _quote_if_needed

        gkeys = list(dict.fromkeys(b for _, b in node.equi_keys))
        gcols = [_quote_if_needed(k) for k in gkeys]
        if op == "<>":
            # 'another row with a DIFFERENT value' (the TPC-DS q16/q94
            # residual): all non-null group values equal l_expr iff
            # min = max = l_expr, so one min/max pair per key decides
            # every row of the group.
            aggs = gcols + [
                f"MIN({r_expr}) AS __hs_band_min",
                f"MAX({r_expr}) AS __hs_band_max",
            ]
            out_names = gkeys + ["__hs_band_min", "__hs_band_max"]
            residual = (
                f"((__hs_r.`__hs_band_min` <> {l_expr}) OR "
                f"(__hs_r.`__hs_band_max` <> {l_expr}))"
            )
        else:
            agg_fn = "MAX" if op in (">", ">=") else "MIN"
            aggs = gcols + [f"{agg_fn}({r_expr}) AS __hs_band"]
            out_names = gkeys + ["__hs_band"]
            residual = f"(__hs_r.`__hs_band` {op} {l_expr})"
        join = served.node
        join.right = ir.AggregateN(
            child=join.right,
            grouping=gcols,
            aggs=aggs,
            output=out_names,
            references=frozenset(gkeys) | r_refs,
        )
        join.residual_sql = residual
        join.band = None
        return served


# ---------------------------------------------------------------------------
# ApplyDataSkippingIndex
# ---------------------------------------------------------------------------
class DataSkippingIndexRule:
    """Filter over a scan -> scan only the files that might match,
    according to the per-file sketch index (reference:
    dataskipping/rules/ApplyDataSkippingIndex.scala:33-105).  Score is 1:
    skipping always loses to a covering rewrite (:76-83) but always beats
    doing nothing."""

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        from hyperspace_spark.indexes.dataskipping import prune_file_ids, translate
        from hyperspace_spark.indexes.sketches import sketch_from_json

        m = match_filter_pattern(node)
        if m is None:
            return None
        _, filt, scan = m
        cands = ctx.for_scan(scan, "DS")
        if not cands:
            return None
        # INTERSECT across every eligible skipping index on this scan
        # (r10 — the reference applies one index per relation,
        # ApplyDataSkippingIndex.scala:33-105): a file is skippable the
        # moment ANY index's sketch rules it out, and each per-index
        # kept set is a sound superset of the matching files, so the
        # intersection is too.  Two single-sketch indexes (say MinMax on
        # ship date + Bloom on order key) now compose instead of the
        # smaller one winning outright.  Cost: one filter per index over
        # its sketch rows (memoized per condition within apply(); the
        # rows themselves are held per index version in
        # ctx.version_cache, so a warm min/max probe starts no job).
        live: list | None = None
        pruned_out: set[str] = set()
        contributors: list[str] = []
        for cand in _rank_smallest(cands):
            entry = cand.entry
            sketches = [sketch_from_json(s) for s in entry.derived_properties["sketches"]]
            pred = translate(filt.condition, sketches)
            if pred.trivial:
                ctx.tag(entry.name, INELIGIBLE_FILTER_CONDITION, "no sketch-convertible term")
                continue
            memo_key = (entry.name, filt.condition.sql)
            if memo_key in ctx.prune_memo:
                kept_ids = ctx.prune_memo[memo_key]
            else:
                kept_ids = prune_file_ids(ctx.spark, entry, pred, ctx.version_cache)
                ctx.prune_memo[memo_key] = kept_ids
            if kept_ids is None:
                continue
            tracker = entry.file_id_tracker
            deleted_keys = {f.key() for f in cand.deleted}
            common = [f for f in entry.source_files if f.key() not in deleted_keys]
            if live is None:
                # The live file set is scan-time reality — identical
                # through every candidate's (common + appended) view.
                live = common + cand.appended
            pruned_here = {f.path for f in common if tracker.get(f) not in kept_ids}
            if not pruned_here:
                ctx.tag(entry.name, INELIGIBLE_FILTER_CONDITION, "predicate prunes no file")
                continue
            pruned_out |= pruned_here
            contributors.append(entry.name)
        if not contributors or live is None:
            return None
        kept = [f for f in live if f.path not in pruned_out]

        if not kept and scan.partition_columns:
            # Empty read can't reconstruct partition columns from paths;
            # keep one file — the filter above still yields zero rows.
            kept = live[:1]

        def replacement(spark, _scan=scan, _kept=tuple(kept)):
            import json as _json

            from pyspark.sql.types import StructType

            if _kept:
                return _scan.read(spark, list(_kept)).select(*_scan.output)
            schema = StructType.fromJson(_json.loads(_scan.data_schema_json))
            return spark.createDataFrame([], schema).select(*_scan.output)

        new_node = _substitute_scans(node, {id(scan): (replacement, "+".join(contributors))})
        return Applied(new_node, 1.0, sorted(contributors))


import re as _re

# Aggregate CALLS inside a resolved Catalyst output expression:
# "min(l_shipdate)", "count(1)", "sum(l_quantity)" — possibly wrapped in
# scalar expressions ("round(sum(l_quantity), 2) AS s", "(count(1) +
# CAST(1 AS BIGINT)) AS c1": Catalyst collapses post-agg projects into
# the Aggregate).  Only plain-column / star arguments match; DISTINCT
# aggregates, computed arguments, and FILTER clauses deliberately do NOT
# — their leftovers then reference source columns that don't exist in
# the fold frame, replay fails analysis, and apply() declines (the
# documented swallow path), never producing a wrong answer.
_META_AGG_CALL_RX = _re.compile(
    r"\b(min|max|sum|count|avg)\(\s*(DISTINCT\s+)?(\*|1|`?[A-Za-z_][A-Za-z0-9_]*`?)\s*\)",
    _re.IGNORECASE,
)

_META_ALIAS_RX = _re.compile(r"^(.+)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$", _re.S)


class MetadataOnlyAggRule:
    """Global (no GROUP BY, no WHERE) min/max/sum/count/avg over a scan
    -> answered ENTIRELY from the data-skipping sketch index: per-file
    min/max (MinMaxSketch), per-file sum + non-null count (SumSketch),
    per-file row count (RowCountSketch).  This is the 'metadata-only
    query' Delta/Iceberg serve from manifests, generalized to any column
    a sketch was declared on — at 100 TB it turns a full-corpus scan
    into a read of a few thousand sketch rows.

    Hybrid scan is exact, not approximate: per-file sketch rows make
    deletes subtractable (drop the deleted file's row) and appends
    additive (one raw partial aggregate over ONLY the appended files,
    unioned with the sketch partials before the final fold).

    GROUP BY is supported when every grouping key is a PARTITION column
    with a PartitionSketch in the same index: partition values are
    constant per file, so the per-file sketch rows regroup exactly —
    `SELECT dt, count(*) FROM events GROUP BY dt` (the daily-counts
    query every pipeline dashboard runs) never touches the events data.
    A WHERE clause referencing only partition columns folds the same way
    (`... WHERE dt >= DATE'2024-01-01'`): the predicate applies verbatim
    to the partition-valued sketch rows — an exact file filter, not a
    might-contain approximation.

    Extension beyond the reference — its sketches only ever SKIP files
    (dataskipping/rules/ApplyDataSkippingIndex.scala:33-105); the same
    per-file aggregates, read the other way, ANSWER the query.  Score
    95: eliminating the entire scan outranks every covering rewrite
    (filter 50, z-order 60, agg-bucketed 55)."""

    base_score = 95.0

    def apply(self, node: ir.Node, ctx: RuleContext) -> Applied | None:
        if not isinstance(node, ir.AggregateN):
            return None
        # Linear child: pass-through projects of plain columns, plus at
        # most ONE filter — which must reference ONLY partition columns
        # (checked below, once the scan is known): a partition value is
        # constant per file, so such a predicate keeps or drops whole
        # files and filtering the per-file sketch ROWS is exact, not a
        # might-contain approximation.  `SELECT count(*) FROM t WHERE
        # dt >= X` — the dashboard query — folds from the index.
        cur = node.child
        filt: ir.FilterN | None = None
        while isinstance(cur, (ir.ProjectN, ir.FilterN)):
            if isinstance(cur, ir.ProjectN):
                if any(_plain_column(e) is None for e in cur.exprs):
                    return None
            else:
                if filt is not None:
                    return None
                filt = cur
            cur = cur.child
        if not isinstance(cur, ir.Scan):
            return None
        scan = cur

        # Grouping keys: each must be a plain PARTITION column (constant
        # per file — the only columns whose per-file sketch value
        # regroups exactly).
        part_cols = {c.lower() for c in scan.partition_columns}
        filter_sql: str | None = None
        filter_refs: list[str] = []
        if filt is not None:
            refs = filt.condition.references
            if not filt.deterministic:
                # rand()/uuid()-style terms carry no references but must
                # run once per ROW; folding would evaluate them once per
                # file sketch row (confirmed wrong-results repro, r8).
                return None
            if not refs or not {r.lower() for r in refs} <= part_cols:
                return None
            # Applied VERBATIM to a frame exposing only partition-named
            # columns (+ fold slots) — a reference the parser missed
            # fails analysis at replay and apply() declines; it can
            # never fold wrong.
            filter_sql = filt.condition.sql
            filter_refs = [
                c for c in scan.partition_columns
                if c.lower() in {r.lower() for r in refs}
            ]
        group_cols: list[str] = []
        for g in node.grouping:
            c = _plain_column(g)
            if c is None:
                return None
            rc = ir.resolve_column(scan, c)
            if rc is None or rc.lower() not in part_cols:
                return None
            group_cols.append(rc)

        # Extract every aggregate call from every output expression.  A
        # quote anywhere declines the whole node: the call regex cannot
        # tell code from string-literal content, and rewriting inside a
        # literal would silently corrupt it.
        calls: dict[tuple[str, str | None], str] = {}  # (fn, col) -> fold alias
        outputs: list[tuple[str, list, str]] = []  # (expr, [spans], alias)
        for a in node.aggs:
            a = a.strip()
            if "'" in a or '"' in a:
                return None
            am = _META_ALIAS_RX.match(a)
            if am is not None:
                expr, alias = am.group(1), am.group(2)
            else:
                # Un-aliased output: only a grouping-key passthrough
                # (Catalyst emits the bare attribute, e.g. "o_year").
                c = _plain_column(a)
                if c is None:
                    return None
                expr = alias = c
            spans = []
            for m in _META_AGG_CALL_RX.finditer(expr):
                fn, distinct, arg = (
                    m.group(1).lower(),
                    bool(m.group(2)),
                    m.group(3).strip("`"),
                )
                if distinct and fn != "count":
                    # sum/avg DISTINCT are not foldable from sketches.
                    return None
                if arg in ("*", "1"):
                    if fn != "count" or distinct:
                        # sum(1)/min(1)... left in place would re-aggregate
                        # the one-row fold frame — decline outright.
                        return None
                    key = ("count_star", None)
                else:
                    col = ir.resolve_column(scan, arg)
                    if col is None:
                        return None
                    key = ("count_distinct" if distinct else fn, col)
                if key not in calls:
                    calls[key] = f"_hs_f{len(calls)}"
                spans.append((m.start(), m.end(), calls[key]))
            outputs.append((expr, spans, alias))
        if not calls and not group_cols:
            return None
        # Span-less outputs in a GROUPED query must be plain grouping-key
        # references: anything else (first(pcol), an uncaptured agg...)
        # would re-evaluate over the fold frame — the structural guard in
        # _metadata_only_agg_df catches the general case, this declines
        # the common one before planning.
        if group_cols:
            gset = {c.lower() for c in group_cols}
            for expr, spans, _alias in outputs:
                if not spans:
                    c = _plain_column(expr)
                    if c is None or c.lower() not in gset:
                        return None

        cands = ctx.for_scan(scan, "DS")
        if not cands:
            return None
        for cand in _rank_smallest(cands):
            entry = cand.entry
            plan = self._map_specs(entry, calls, part_cols)
            groups = self._map_groups(entry, group_cols)
            fcols = self._map_groups(entry, filter_refs)
            if plan is None or groups is None or fcols is None:
                ctx.tag(
                    entry.name,
                    MISSING_REQUIRED_COL,
                    "no sketch for some aggregate/grouping key "
                    "(need MinMax/Sum/RowCount/Partition/ValueList)",
                )
                continue
            tracker = entry.file_id_tracker
            deleted_ids = tuple(
                i for i in (tracker.get(f) for f in cand.deleted) if i is not None
            )
            # Re-evaluate the scalar wrappers over the fold aliases, in
            # output order.
            final_exprs = []
            for expr, spans, alias in outputs:
                for start, end, fold_alias in reversed(spans):
                    expr = expr[:start] + fold_alias + expr[end:]
                final_exprs.append(f"{expr} AS `{alias}`")

            def replacement(
                spark,
                _plan=tuple(plan),
                _groups=tuple(groups),
                _entry=entry,
                _cache=ctx.version_cache,
                _del=deleted_ids,
                _app=tuple(cand.appended),
                _scan=scan,
                _out=tuple(final_exprs),
                _fsql=filter_sql,
                _fcols=tuple(fcols),
            ):
                return _metadata_only_agg_df(
                    spark, _plan, _groups, _entry, _cache, _del, _app, _scan, _out,
                    _fsql, _fcols,
                )

            sub = ir.Scan(output=list(node.output))
            sub.replacement = replacement
            sub.applied_index = entry.name
            return Applied(sub, self.base_score, [entry.name])
        return None

    @staticmethod
    def _map_specs(entry, calls, part_cols=frozenset()):
        """[(fn, sketch_col(s), source_col, fold_alias)] over the index
        schema, or None if any aggregate has no backing sketch column."""
        import json as _json

        fields = {
            f["name"].lower(): f
            for f in _json.loads(entry.derived_properties["schemaJson"])["fields"]
        }
        plan = []
        for (fn, col), alias in calls.items():
            lc = col.lower() if col else None
            if fn == "count_star":
                if "rowcount__cnt" not in fields:
                    return None
                plan.append(("count_star", (fields["rowcount__cnt"]["name"],), None, alias))
            elif fn in ("min", "max"):
                key = f"minmax_{lc}__{fn}"
                if key not in fields:
                    # A PARTITION column's per-file value IS its per-file
                    # min and max (constant within the file), so
                    # `SELECT max(dt) FROM t` — the freshness query —
                    # works off PartitionSketch with no MinMax declared.
                    pkey = f"partition_{lc}__value"
                    if lc in part_cols and pkey in fields:
                        plan.append((fn, (fields[pkey]["name"],), col, alias))
                        continue
                    return None
                plan.append((fn, (fields[key]["name"],), col, alias))
            elif fn == "count":
                key = f"sum_{lc}__cnt"
                if key not in fields:
                    return None
                plan.append(("count_col", (fields[key]["name"],), col, alias))
            elif fn == "count_distinct":
                # ValueListSketch holds the EXACT distinct values per file
                # (null-free collect_set) — the global distinct count is
                # the distinct of the per-file unions.
                key = f"valuelist_{lc}__values"
                if key not in fields:
                    return None
                plan.append(("count_distinct", (fields[key]["name"],), col, alias))
            elif fn == "sum":
                key = f"sum_{lc}__sum"
                if key not in fields:
                    return None
                plan.append(("sum", (fields[key]["name"],), col, alias))
            elif fn == "avg":
                ks, kc = f"sum_{lc}__sum", f"sum_{lc}__cnt"
                if ks not in fields or kc not in fields:
                    return None
                # avg(decimal) has engine-specific result scale (s+4) the
                # sum/count fold wouldn't reproduce — decline.
                t = fields[ks]["type"]
                if isinstance(t, dict) or str(t).startswith("decimal"):
                    return None
                plan.append(("avg", (fields[ks]["name"], fields[kc]["name"]), col, alias))
            else:
                return None
        return plan

    @staticmethod
    def _map_groups(entry, group_cols):
        """[(sketch_field, source_col)] for each grouping key's
        PartitionSketch value column, or None if any is missing."""
        import json as _json

        fields = {
            f["name"].lower(): f["name"]
            for f in _json.loads(entry.derived_properties["schemaJson"])["fields"]
        }
        out = []
        for c in group_cols:
            key = f"partition_{c.lower()}__value"
            if key not in fields:
                return None
            out.append((fields[key], c))
        return out


def _metadata_only_agg_df(
    spark, plan, groups, entry, version_cache, deleted_ids, appended, scan, out_exprs,
    filter_sql=None, fcols=(),
):
    """Fold per-file sketch partials (+ a raw partial over appended files)
    into the final aggregate — one row, or one row per partition-value
    group (``groups``: PartitionSketch value columns re-aliased to the
    source partition columns) — then re-evaluate the original scalar
    wrappers (``out_exprs``) over the fold aliases.  Types match the
    original agg exactly: min/max keep the source column type, count
    folds to BIGINT, sum(sum) is cast back to the per-file sum type
    (= Spark's sum result type for the source column), avg is
    try_divide(Σsum, Σcnt) — NULL on an all-null or empty input, like
    the built-in."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.indexes.base import version_slot
    from hyperspace_spark.indexes.dataskipping import _sketch_frame

    idx_schema = StructType.fromJson(_json.loads(entry.derived_properties["schemaJson"]))
    idx = _sketch_frame(spark, entry, version_slot(version_cache, entry))
    if deleted_ids:
        idx = idx.filter(~F.col(DATA_FILE_ID_COLUMN).isin(list(deleted_ids)))

    # Per-aggregate slot names keep the union schema positional-proof.
    def slots(i):
        return f"_hs_p{i}", f"_hs_p{i}b"

    gcols = [col for _field, col in groups]
    idx_cols = [F.col(field).alias(col) for field, col in groups]
    # Partition columns the filter references but the grouping doesn't:
    # exposed for the verbatim filter, dropped before the fold.
    fonly = [(field, col) for field, col in fcols if col not in gcols]
    idx_cols += [F.col(field).alias(col) for field, col in fonly]
    raw_aggs = []
    for i, (fn, sk_cols, col, _alias) in enumerate(plan):
        s, sb = slots(i)
        idx_cols.append(F.col(sk_cols[0]).alias(s))
        if fn == "count_star":
            raw_aggs.append(F.count(F.lit(1)).alias(s))
        elif fn in ("min", "max"):
            raw_aggs.append(getattr(F, fn)(col).alias(s))
        elif fn == "count_col":
            raw_aggs.append(F.count(col).alias(s))
        elif fn == "count_distinct":
            raw_aggs.append(F.collect_set(col).alias(s))
        elif fn == "sum":
            raw_aggs.append(F.sum(col).alias(s))
        elif fn == "avg":
            idx_cols.append(F.col(sk_cols[1]).alias(sb))
            raw_aggs.append(F.sum(col).alias(s))
            raw_aggs.append(F.count(col).alias(sb))
    parts = idx.select(*idx_cols)
    if filter_sql:
        # Verbatim: the frame exposes the referenced partition columns
        # under their source names, and partition values are constant
        # per file, so the row filter IS the exact file filter.
        parts = parts.filter(filter_sql)
    if fonly:
        parts = parts.drop(*[col for _field, col in fonly])

    if appended:
        loaded = scan.read(spark, list(appended))
        if filter_sql:
            loaded = loaded.filter(filter_sql)
        if raw_aggs:
            raw = loaded.groupBy(*gcols).agg(*raw_aggs) if gcols else loaded.agg(*raw_aggs)
        else:
            raw = loaded.select(*gcols).distinct()
        parts = parts.unionByName(raw)

    finals = []
    for i, (fn, sk_cols, _col, alias) in enumerate(plan):
        s, sb = slots(i)
        if fn in ("min", "max"):
            finals.append(getattr(F, fn)(s).alias(alias))
        elif fn in ("count_star", "count_col"):
            finals.append(F.coalesce(F.sum(s), F.lit(0)).cast("long").alias(alias))
        elif fn == "count_distinct":
            # collect_list skips null arrays (a full_outer sketch-join
            # row); cardinality is bounded — ValueList only exists on
            # low-cardinality columns.
            finals.append(
                F.size(F.array_distinct(F.flatten(F.collect_list(s))))
                .cast("long")
                .alias(alias)
            )
        elif fn == "sum":
            sum_type = idx_schema[sk_cols[0]].dataType
            finals.append(F.sum(s).cast(sum_type).alias(alias))
        elif fn == "avg":
            finals.append(
                F.try_divide(F.sum(s).cast("double"), F.sum(sb)).alias(alias)
            )
    if not finals:
        # Pure `SELECT pcol FROM t GROUP BY pcol` — a distinct over the
        # partition values.
        folded = parts.select(*gcols).distinct()
    elif gcols:
        folded = parts.groupBy(*gcols).agg(*finals)
    else:
        folded = parts.agg(*finals)
    result = folded.selectExpr(*out_exprs)
    # Structural guard: the final projection must be a pure SCALAR step.
    # An aggregate the span regex did not capture (first(pcol),
    # sum(pcol*2), an unknown agg over a grouping column...) analyzes as
    # an IMPLICIT GLOBAL aggregate over the fold frame — legal SQL, one
    # wrong row, no error.  selectExpr over `folded` adds exactly one
    # node, so if that node is an Aggregate the rewrite is unsound:
    # raise, and apply()'s documented swallow path returns the original
    # DataFrame untouched.
    top = result._jdf.queryExecution().analyzed().getClass().getSimpleName()
    if top == "Aggregate":
        raise ValueError(
            "metadata-only fold left an uncaptured aggregate in the "
            f"output projection: {list(out_exprs)}"
        )
    return result


def default_rules() -> list:
    return [
        FilterIndexRule(),
        ZOrderFilterIndexRule(),
        FilterOrIndexRule(),
        AggBucketedIndexRule(),
        WindowBucketedIndexRule(),
        MetadataOnlyAggRule(),
        JoinIndexRule(),
        BandExistsAggRule(),
        DataSkippingIndexRule(),
    ]
