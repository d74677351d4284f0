"""Index recommendation: the advisory loop's other half.

``Hyperspace.why_not`` explains a miss with the rules that plan the
query (reference Hyperspace.scala:183-192); ``recommend`` proposes the
index that would hit.  One walk over the parsed plan emits a
``(scan, config, rule, reason)`` proposal per query shape:

- a Filter over a scan: a covering index on the equality-pinned (else
  the first) predicate column or one per OR branch, its partial
  variant, a skipping index whose sketch kinds fit the predicates, a
  z-order index over a multi-column family with a range, an inverted
  text index per substring predicate;
- a top-k over a float-vector column: an IVF index;
- equi-join sides, GROUP BY keys, window PARTITION BY keys: a covering
  index on the keys.

Every proposal goes through ``_Recommender.propose``: it drops
duplicates and whatever an ACTIVE index on the same source already
serves (``_serves``, read back through ``Hyperspace._config_of``), names
what is left and appends the dict.
"""

from __future__ import annotations

import json
import re

from hyperspace_spark.indexes.ann import IvfIndexConfig
from hyperspace_spark.indexes.covering import CoveringIndexConfig
from hyperspace_spark.indexes.dataskipping import DataSkippingIndexConfig
from hyperspace_spark.indexes.inverted import InvertedTextIndexConfig
from hyperspace_spark.indexes.sketches import BloomFilterSketch, MinMaxSketch, ValueListSketch
from hyperspace_spark.indexes.zorder import ZOrderCoveringIndexConfig
from hyperspace_spark.metadata.entry import IndexLogEntry, States
from hyperspace_spark.planner import ir
from hyperspace_spark.planner.expr import BoolOp, Cmp, Lit, NullTest, split_conjuncts, split_disjuncts
from hyperspace_spark.planner.implication import implies
from hyperspace_spark.planner.parser import parse_df
from hyperspace_spark.planner.rules import (
    FilterOrIndexRule,
    _entry_predicate,
    _plain_column,
    equality_literals,
    linear_side_filter,
    match_filter_pattern,
    match_linear_side,
)

_SUBSTRING = re.compile(r"\bcontains\(|\binstr\(|\blocate\(|LIKE\s+'%", re.IGNORECASE)
_NAME_TAG = {"CI": "", "DS": "_ds", "ZCI": "_z", "TXT": "_txt", "ANN": "_ann"}
_SAMPLE_ROWS = 100_000


def recommend(hs, df) -> list[dict]:
    """``Hyperspace.recommend``: the proposals for ``df``, in walk order."""
    try:
        plan = parse_df(df)
    except Exception:
        return []
    rec = _Recommender(hs)
    rec.walk(plan)
    return rec.suggestions


class _Recommender:
    def __init__(self, hs):
        self.spark = hs.spark
        entries = hs._all_latest_entries(hs.conf())
        self.existing = [(e, hs._config_of(e)) for e in entries if e.state == States.ACTIVE]
        self.suggestions: list[dict] = []
        self._seen: set[tuple] = set()
        self._seen_filters: set[int] = set()
        self._id_memo: dict[tuple, tuple[str, str]] = {}

    def walk(self, node) -> None:
        m = match_filter_pattern(node)
        if m is not None and id(m[1]) not in self._seen_filters:
            # outermost match wins: Project(Filter(Scan)) also matches
            # again at the bare Filter child with a wider required set —
            # suggest once, with the projection.
            self._seen_filters.add(id(m[1]))
            self._filter(node, m[1].condition, m[2])
        if isinstance(node, ir.LimitN) and isinstance(node.child, ir.SortN) and node.n <= 1000:
            self._top_k(node)
        shapes = []  # (linear subtree, key columns, rule, reason)
        if isinstance(node, ir.JoinN) and node.equi_keys:
            for side, cols in (
                (node.left, [l for l, _ in node.equi_keys]),
                (node.right, [r for _, r in node.equi_keys]),
            ):
                why = (f"equi-join on {', '.join(cols)}: co-bucketed pair eliminates the join "
                       "shuffle (create BOTH sides' indexes with equal num_buckets)")
                shapes.append((side, cols, "JoinIndexRule", why))
        if isinstance(node, ir.AggregateN) and node.grouping:
            cols = [c for c in (_plain_column(g) for g in node.grouping) if c]
            if cols:
                why = f"GROUP BY {', '.join(cols)}: bucketed read drops the aggregation exchange"
                shapes.append((node.child, cols, "AggBucketedIndexRule", why))
        if isinstance(node, ir.WindowN) and node.partition_cols:
            cols = list(node.partition_cols)
            why = f"window PARTITION BY {', '.join(cols)}: bucketed read drops the window exchange"
            shapes.append((node.child, cols, "WindowBucketedIndexRule", why))
        for side, cols, rule, why in shapes:
            ms = match_linear_side(side)
            if ms is not None:
                cfg = _covering(cols, ms[1])
                self.propose(ms[0], cfg, rule, why, linear_side_filter(side))
        for k in ir.children(node):
            self.walk(k)

    def _filter(self, node, cond, scan) -> None:
        try:
            required = sorted(ir.required_columns(node))
        except ValueError:
            required = sorted(cond.references)
        conjs = split_conjuncts(cond)
        # a column only Spark's inferred isnotnull conjuncts name is no user predicate
        refs = sorted({c for cj in conjs if not (isinstance(cj, NullTest) and not cj.is_null)
                       for c in cj.references if "." not in c})
        eq = [c for c in refs if equality_literals(cond, c) is not None]
        ranges = [c for c in refs if any(_is_range(cj, c) for cj in conjs)]

        # Disjunctive filter family (r11): when every OR branch pins a
        # column with an equality/IN, ONE index per distinct branch
        # column lets FilterOrIndexRule serve the disjunction as a union
        # of bucket-pruned branch scans.  One entry per disjunct, served
        # against that disjunct alone as the rule checks a partial index;
        # propose() keeps a column's first unserved entry.
        keyed = [
            (_covering([col], required), "FilterOrIndexRule",
             f"OR branch pins {col}: index-OR union reads only that literal's buckets per "
             "branch (create the full set of branch indexes)", disjunct)
            for col, disjunct in _or_branches(cond)
        ]
        if not keyed and refs:
            col = (eq or refs)[0]
            why = (f"equality probe on {col}: bucket-pruned point lookup" if eq else
                   f"range predicate on {col}: sorted index scan with row-group pruning")
            keyed = [(_covering([col], required), "FilterIndexRule", why, cond)]
        # A LITERAL equality conjunct alongside other predicates also
        # admits a PARTIAL index scoped to that conjunct: predicate-
        # fraction build and storage cost for the same query family.
        lit_eq = [
            c for c in conjs
            if isinstance(c, Cmp) and c.op == "=" and isinstance(c.right, Lit) and c.references
        ]
        pinned = {next(iter(c.references)) for c in lit_eq}
        others = [c for c in refs if c not in pinned]
        partial = []
        if lit_eq and others:
            pred = lit_eq[0].sql
            why = (f"partial index WHERE {pred}: indexes only the queried subset at "
                   "predicate-fraction cost")
            partial = [(_covering(others[:1], required, where=pred), "FilterIndexRule", why, cond)]
        # An index already serves this filter (its key, its partial
        # variant or the whole OR-branch set): any other covering or
        # skipping index would be redundant advice.
        if not (
            (keyed and all(self._served(scan, c, f) for c, _, _, f in keyed))
            or any(self._served(scan, c, f) for c, _, _, f in partial)
        ):
            for cfg, rule, why, f in keyed + partial:
                self.propose(scan, cfg, rule, why, f)
            self._skipping(scan, refs, eq, ranges)

        # Z-order (r12; reference ZOrderCoveringIndex.scala:28-189): a
        # MULTI-column family with a range is what a single-key covering
        # index serves poorly (bucket pruning pins only its first key);
        # z-clustering lets per-file min/max prune on ANY of the columns.
        zcols = list(dict.fromkeys(eq + ranges))
        if len(zcols) >= 2 and ranges:
            cfg = _covering(zcols, required, cls=ZOrderCoveringIndexConfig)
            why = (f"multi-column predicate on {', '.join(zcols)} with a range: z-clustering "
                   "prunes files on ANY of the columns (a single-key covering index pins only "
                   "its first key)")
            self.propose(scan, cfg, "ZOrderFilterIndexRule", why)

        # Inverted text (r12): a substring predicate re-scans and
        # re-tokenizes every row per query; a TXT index serves
        # term/phrase/boolean/BM25 probes from bucket-pruned postings.
        types = _col_types(scan)
        for cj in conjs:
            tcol = next(iter(cj.references)) if len(cj.references) == 1 else None
            if types.get(tcol) == "string" and _SUBSTRING.search(cj.sql):
                cfg = InvertedTextIndexConfig("", text_col=tcol, id_col="")
                self.propose(scan, cfg, "text_search (explicit API)", lambda caveat: (
                    f"substring predicate on {tcol} re-scans every row per query; an inverted "
                    "TXT index serves term/phrase/boolean/BM25 probes from bucket-pruned "
                    f"postings ({caveat})"))

    def _skipping(self, scan, refs, eq, ranges) -> None:
        """Data-skipping sketches (r11; the advisory role of the
        reference's MinMaxAnalysisUtil.analyze): MinMax for a range; for
        an equality/IN, a sampled cardinality estimate picks ValueList
        (low: exact per-file lists) or Bloom (high: constant bytes per
        file).  Partition columns are left out: Spark prunes those."""
        sketches, reasons = [], []
        for col in refs:
            if col in (scan.partition_columns or []):
                continue
            if col in eq:
                ratio = _sampled_distinct_ratio(self.spark, scan, col)
                if ratio is not None and ratio <= 0.05:
                    sketches.append(ValueListSketch([col]))
                    reasons.append(f"ValueList({col}): equality probe on a low-cardinality "
                                   f"column (~{ratio:.1%} distinct in sample)")
                else:
                    sketches.append(BloomFilterSketch([col]))
                    reasons.append(f"Bloom({col}): equality probe on a high-cardinality column")
            elif col in ranges:
                sketches.append(MinMaxSketch([col]))
                reasons.append(f"MinMax({col}): range predicate")
        if sketches:
            cfg = DataSkippingIndexConfig("", sketches)
            self.propose(scan, cfg, "DataSkippingIndexRule", "; ".join(reasons))

    def _top_k(self, node) -> None:
        """ANN (r12): a top-k ordered by an expression over a
        float-vector column scores the whole corpus per query; an IVF
        index bounds each probe to n_probe clusters."""
        ms = match_linear_side(node.child.child)
        if ms is None:
            return
        types = _col_types(ms[0])
        vecs = [c for c in sorted(ms[1]) if types.get(c) in ("array<float>", "array<double>")]
        for vcol in vecs[:1]:
            cfg = IvfIndexConfig("", vec_col=vcol, id_col="")
            self.propose(ms[0], cfg, "ann_search / ann_join (explicit API)", lambda caveat: (
                f"top-{node.n} ordered by an expression over vector column {vcol}: brute force "
                "scores the whole corpus per query; IVF probes n_probe clusters (add pq_m for "
                f"the PQ layout at billion-vector scale; {caveat})"))

    def propose(self, scan, cfg, rule, reason, cond=None) -> None:
        """The one sink: drop a duplicate or served proposal, else name
        it ``hs_rec[_<tag>]_<n>_<col>`` and append it.  A callable
        ``reason`` (TXT/ANN) takes the id-column caveat, so the id
        column is probed only for a proposal that is kept."""
        kind, cols, included, where = _shape(cfg)
        paths = scan.normalized_paths()
        key = (paths, kind, cols, included, where)
        if not cols or key in self._seen or self._served(scan, cfg, cond):
            return
        self._seen.add(key)
        if callable(reason):
            cfg.id_col, caveat = self._id_col(scan)
            reason = reason(caveat)
        first = cols[0][1] if kind == "DS" else cols[0]
        cfg.name = f"hs_rec{_NAME_TAG[kind]}_{len(self.suggestions)}_{first}".lower()
        self.suggestions.append(
            {"config": cfg, "rule": rule, "reason": reason, "source": list(paths)}
        )

    def _served(self, scan, cfg, cond) -> bool:
        return any(
            _same_source(e, scan) and _serves(e, have, cfg, cond) for e, have in self.existing
        )

    def _id_col(self, scan) -> tuple[str, str]:
        """(id_col, caveat) for TXT/ANN proposals.  The first *id/*key
        column can be a NON-unique foreign key (a *_sk dimension key on a
        fact table), and TXT/ANN indexes key rows by id_col — so a
        sampled-uniqueness probe (r13) prefers the first candidate whose
        sample has no duplicate and no NULL (countDistinct == count
        implies both).  A sample can't prove global uniqueness, so the
        caveat states what was checked; when the probe can't run, the
        'verify it yourself' caveat stands.  The sample is read like the
        scan (``Relation.read``), so CSV/JSON/... sources are probed too.
        Memoized per (paths, candidates) within one recommend() call, so
        several TXT/ANN columns of one table pay one probe."""
        cands = [c for c in scan.output if c.lower().endswith(("id", "key"))] or (
            scan.output[:1] or ["id"]
        )
        memo_key = (scan.normalized_paths(), tuple(cands))
        if memo_key not in self._id_memo:
            self._id_memo[memo_key] = _probe_id_col(self.spark, scan, cands)
        return self._id_memo[memo_key]


def _is_range(conj, col: str) -> bool:
    return isinstance(conj, Cmp) and conj.op in ("<", "<=", ">", ">=") and conj.references == {col}


def _or_branches(cond) -> list[tuple]:
    """``(column, disjunct)`` per OR branch, the column the branch pins
    with an equality/IN; [] unless every one of 2..MAX_BRANCHES branches
    pins one."""
    disjuncts = split_disjuncts(cond) if isinstance(cond, BoolOp) and cond.op == "or" else []
    if not 2 <= len(disjuncts) <= FilterOrIndexRule.MAX_BRANCHES:
        return []
    out = []
    for d in disjuncts:
        deq = [
            c for c in sorted(d.references) if "." not in c and equality_literals(d, c) is not None
        ]
        if not deq:
            return []
        out.append((deq[0], d))
    return out


def _covering(indexed, required, where=None, cls=CoveringIndexConfig):
    """An unnamed covering config: dotted (nested) columns are left out,
    the other required columns become included columns."""
    indexed = [c for c in indexed if "." not in c]
    included = sorted(c for c in required if c not in indexed and "." not in c)
    return cls("", indexed, included, where=where)


def _shape(cfg) -> tuple:
    """(kind, key columns, included columns, where): a config minus its name."""
    if cfg.kind == "DS":
        return "DS", tuple((s.kind, s.column) for s in cfg.sketches), (), None
    if cfg.kind in ("TXT", "ANN"):
        return cfg.kind, (cfg.text_col if cfg.kind == "TXT" else cfg.vec_col,), (), None
    return cfg.kind, tuple(cfg.indexed_columns), tuple(cfg.included_columns), cfg.where


def _serves(entry: IndexLogEntry, have, want, cond) -> bool:
    """The existing index ``have`` (``entry``'s config) already does what
    the proposal ``want`` would for a subtree filtered by ``cond`` (None
    when it has no filter)."""
    if want.kind in ("CI", "ZCI"):
        if have.kind not in ("CI", "ZCI"):
            return False
        if not set(want.referenced_columns()) <= set(have.referenced_columns()):
            return False
        if want.kind == "ZCI":
            return (
                have.kind == "ZCI"
                and not have.where
                and set(want.indexed_columns) <= set(have.indexed_columns)
            )
        # FilterIndexRule's gates: the leading key, and a partial index's
        # predicate implied by the query filter
        pred = _entry_predicate(entry)
        return have.indexed_columns[: len(want.indexed_columns)] == want.indexed_columns and (
            pred is None or (cond is not None and implies(cond, pred))
        )
    if want.kind == "DS":
        # a ValueList also answers the equality probes a Bloom would
        have_pairs = set(_shape(have)[1]) if have.kind == "DS" else set()
        return all(
            p in have_pairs or (p[0] == "Bloom" and ("ValueList", p[1]) in have_pairs)
            for p in _shape(want)[1]
        )
    return _shape(have)[:2] == _shape(want)[:2]


def _same_source(entry: IndexLogEntry, scan: ir.Scan) -> bool:
    """``entry`` indexes the relation ``scan`` reads (same normalized
    root paths)."""
    roots = sorted(ir._normalize_path(p) for r in entry.relations for p in r.root_paths)
    return tuple(roots) == scan.normalized_paths()


def _col_types(scan) -> dict:
    """Column name -> type name (``array<elem>`` for arrays) from the
    scan's data schema."""
    try:
        fields = json.loads(scan.data_schema_json)["fields"]
    except (ValueError, KeyError, TypeError):
        return {}
    out = {}
    for f in fields:
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "array":
            out[f["name"]] = f"array<{t.get('elementType')}>"
        elif isinstance(t, str):
            out[f["name"]] = t
    return out


def _sampled_distinct_ratio(spark, scan, col: str):
    """Distinct-value ratio of ``col`` over a bounded sample of the scan,
    for the sketch-kind choice.  LIMIT keeps the job O(sample), never
    O(table) — advisory APIs must stay cheap at 100 TB.  None on any
    failure (the caller falls back to Bloom, the safe generic for
    equality probes)."""
    from pyspark.sql import functions as F

    try:
        row = (
            scan.read(spark).select(col).limit(_SAMPLE_ROWS)
            .agg(F.approx_count_distinct(col).alias("d"), F.count(F.lit(1)).alias("n"))
            .first()
        )
        return float(row["d"]) / float(row["n"]) if row and row["n"] else None
    except Exception:
        return None


def _probe_id_col(spark, scan, cands: list[str]) -> tuple[str, str]:
    """The first of ``cands`` unique over the sample, with the caveat the
    reason carries; the first candidate when none is or the probe fails."""
    from pyspark.sql import functions as F

    try:
        sample = scan.read(spark).select(*cands).limit(_SAMPLE_ROWS)
        row = sample.agg(
            F.count(F.lit(1)).alias("__hs_n"), *[F.countDistinct(c).alias(c) for c in cands]
        ).collect()[0]
        n = row["__hs_n"]
        for c in cands:
            if n and row[c] == n:
                return c, f"id_col {c} unique over a {n}-row sample"
    except Exception:
        pass
    return cands[0], f"verify id_col {cands[0]} is a unique row id"
