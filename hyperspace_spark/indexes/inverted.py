"""Inverted text index (kind TXT): token -> posting rows, BUCKETED by
token — keyword search over a 100 TB corpus reads only the probed
tokens' buckets instead of scanning text.

Extension beyond the reference (it has no text index); the engineering
discipline is the covering index's: bucketed external table sink
(indexes/covering.py write_bucketed — the catalog entry is session
scaffolding, the files are the artifact), a lineage column for exact
delete handling at query time, and an append-only incremental refresh
that hardlinks retained bucket files and writes only the new postings
per bucket.

Query shape at scale: a probe for k terms is a bucket-pruned read of
<= k/num_buckets of the postings (Spark prunes buckets for equality/IN
on the bucket column), then one groupBy on doc id over the matching
postings only.  The corpus text is never touched.  Tokenization is the
shared llm/text.py whitespace normalizer, so results are reproducible
in any engine (the contract oracle replays it in DuckDB).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Iterable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


@dataclass
class InvertedTextIndexConfig:
    name: str
    text_col: str = "text"
    id_col: str = "doc_id"
    num_buckets: int | None = None
    kind: str = field(default="TXT", init=False)

    def referenced_columns(self) -> list[str]:
        return [self.id_col, self.text_col]


def normalize_terms(terms: Iterable) -> list[str]:
    """Search terms through the SAME normalization as indexed tokens.
    A term containing whitespace is an ERROR, not a silent drop: under
    mode='all', dropping one conjunct would return a superset of the
    requested result (use text_search_phrase for multi-token phrases)."""
    import re

    out = sorted({str(t).strip().lower() for t in terms if t is not None})
    bad = [t for t in out if re.search(r"\s", t)]
    if bad:
        raise ValueError(
            f"terms must be single tokens (whitespace in {bad!r}); "
            "use text_search_phrase for phrases"
        )
    return [t for t in out if t]


def normalize_phrase(phrase: str) -> list[str]:
    """A phrase through the SAME normalization as indexed tokens:
    trimmed, lowercased, whitespace-split — token ORDER and duplicates
    preserved (unlike normalize_terms' sorted set)."""
    import re

    if phrase is None:
        raise ValueError("phrase must be a non-empty string")
    toks = [t for t in re.split(r"\s+", str(phrase).strip().lower()) if t]
    if not toks:
        raise ValueError("no usable tokens in phrase after normalization")
    return toks


def _doc_postings(doc_df: "DataFrame", id_col: str, text_col: str, *extra_cols):
    """Shared tokenize->postings kernel over a (id, text, *extra) frame:
    one output row per DISTINCT token per doc carrying the full r9
    payload — ``tf`` (occurrences in doc), ``positions`` (sorted 1-based
    token indexes, the phrase-search payload), ``_dl`` (doc token
    length, the BM25 normalizer, denormalized onto every posting so
    scoring never joins a second dataset).

    One corpus-token shuffle (the groupBy) — count/collect_list are
    partial-aggregated map-side, so a boilerplate token repeated 10^6
    times in one doc folds before the exchange."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm.text import tokens

    toks = doc_df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_doc"),
        *[F.col(c) for c in extra_cols],
        tokens(F.col(text_col)).alias("_t"),
    )
    occ = toks.select(
        "_doc",
        *extra_cols,
        F.size("_t").alias("_dl"),
        F.posexplode_outer("_t").alias("_pos", "token"),
    ).filter(F.col("token") != "")
    # extra_cols are GROUP KEYS, not first()-picked payload: the build
    # passes the lineage file id here, and a doc id present in TWO
    # source files must produce separate per-file postings — first()
    # would attribute the merged posting to an arbitrary file, making
    # delete-by-lineage subtract the wrong rows and merging tf/positions
    # across physical copies (r9 review: the merged positions fabricate
    # phrase matches no single copy contains).
    return (
        occ.groupBy("token", "_doc", *extra_cols)
        .agg(
            F.count("*").cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("_pos") + 1)).alias("positions"),
            F.first("_dl").alias("_dl"),
        )
        .select("token", "_doc", "tf", "positions", "_dl", *extra_cols)
    )


def postings_df(
    spark: "SparkSession", df: "DataFrame", config, files, tracker
) -> "DataFrame":
    """(token, _doc, tf, positions, _dl, _data_file_id) — one row per
    DISTINCT token per doc.  tf/positions/_dl are the ranked-retrieval
    and phrase payloads (standard postings-list design: Zobel & Moffat,
    "Inverted files for text search engines", CSUR 2006).  Lineage is
    always on: postings carry no row payload from the source, so the
    only way to subtract a deleted source file exactly is by file id."""
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.indexes.covering import with_lineage

    src = with_lineage(df, spark, files, tracker)
    return _doc_postings(src, config.id_col, config.text_col, DATA_FILE_ID_COLUMN)


def file_doc_stats(postings: "DataFrame") -> dict:
    """Per-source-file corpus statistics of a postings frame:
    ``{file_id: [n_docs, n_tokens]}`` (docs with >= 1 token; total token
    occurrences).  One tiny aggregate over postings, never the corpus —
    so BM25's N and avgdl come from the entry properties with NO
    query-time job, and stay exactly adjustable per deleted/appended
    source file."""
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN

    rows = (
        postings.groupBy(DATA_FILE_ID_COLUMN)
        .agg(
            F.count_distinct("_doc").alias("_nd"),
            F.sum("tf").cast("long").alias("_nt"),
        )
        .collect()
    )
    return {str(r[0]): [int(r["_nd"]), int(r["_nt"])] for r in rows}


def create_index_data(
    spark: "SparkSession",
    df: "DataFrame",
    config: InvertedTextIndexConfig,
    conf,
    files,
    tracker,
    data_dir: str,
    index_name: str,
    version: int,
) -> dict:
    from hyperspace_spark.indexes.covering import table_name, write_bucketed

    tbl = table_name(index_name, version)
    nb = config.num_buckets or conf.resolve_num_buckets(
        sum(f.size for f in files), spark.sparkContext.defaultParallelism
    )
    postings = postings_df(spark, df, config, files, tracker)
    write_bucketed(spark, postings, ["token"], nb, data_dir, tbl)
    props = {
        "indexedColumns": ["token"],
        "includedColumns": ["_doc", "tf", "positions", "_dl"],
        "numBuckets": nb,
        "lineage": True,
        "schemaJson": postings.schema.json(),
        "tableName": tbl,
        "textCol": config.text_col,
        "idCol": config.id_col,
    }
    # {file_id: [n_docs, n_tokens]} — exact BM25 corpus stats, read back
    # from the written postings and adjustable per-file at query time for
    # hybrid appends/deletes.
    props["fileDocStats"] = file_doc_stats(spark.read.schema(postings.schema).parquet(data_dir))
    return props


def refresh_incremental(
    spark: "SparkSession",
    entry,
    conf,
    live,
    appended,
    deleted_ids: list[int],
    data_dir: str,
    version: int,
    fs,
) -> dict:
    """Write the next postings version under ``data_dir``; returns the
    new derived properties.

    Retained bucket files hardlink into the new version (flat bucketed
    layout), the NEW docs' postings append as extra per-bucket files
    under the same bucket spec.  Deletes rewrite only the posting files
    holding the deleted docs' rows (lineage anti-filter — postings carry
    the source file id), so a delete costs index-bytes of the affected
    files, never a corpus re-tokenize; the rewritten survivors re-enter
    through the same bucketed write, so bucket pruning is untouched.  A
    STALE index still answers exactly either way (query-time
    anti-filter)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.indexes.base import carry_index_files, read_index
    from hyperspace_spark.indexes.covering import lineage_affected_files, table_name

    props = entry.derived_properties
    cfg = InvertedTextIndexConfig(entry.name, props["textCol"], props["idCol"])
    new_postings = None
    if appended:
        new_postings = postings_df(
            spark, entry.relations[0].read(spark, appended), cfg, appended, entry.file_id_tracker
        ).persist()
    skip_files: list[str] = []
    survivors = None
    if deleted_ids:
        skip_files = lineage_affected_files(read_index(spark, entry), deleted_ids)
        if skip_files:
            survivors = read_index(spark, entry, skip_files).filter(
                ~F.col(DATA_FILE_ID_COLUMN).isin(deleted_ids)
            )
    os.makedirs(data_dir, exist_ok=True)
    carry_index_files(fs, entry, data_dir, skip_files=skip_files)
    nb = props["numBuckets"]
    tbl = table_name(entry.name, version)
    # Register the new version's external bucketed table over the
    # hardlinked files FIRST: saveAsTable(mode=append) on a NON-existent
    # table is CTAS and CLEARS the target directory, silently dropping
    # the retained postings.  Appending to the pre-registered table keeps
    # them.
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    schema = StructType.fromJson(json.loads(props["schemaJson"]))
    cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {tbl} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY (`token`) SORTED BY (`token`) "
        f"INTO {nb} BUCKETS LOCATION '{data_dir}'"
    )
    delta = new_postings
    if survivors is not None:
        delta = survivors if delta is None else delta.unionByName(survivors)
    if delta is not None:
        (
            delta.repartition(nb, F.col("token"))
            .write.format("parquet")
            .mode("append")
            .bucketBy(nb, "token")
            .sortBy("token")
            .option("path", data_dir)
            .saveAsTable(tbl)
        )
    props["tableName"] = tbl
    # Merge the appended files' BM25 corpus stats into the per-file stats
    # map — one tiny aggregate over the (persisted) posting delta, so
    # ranked retrieval stays exact after refresh; deleted files' stats
    # rows drop (their postings just left).
    merged = dict(props.get("fileDocStats") or {})
    for i in deleted_ids:
        merged.pop(str(i), None)
    if new_postings is not None:
        merged.update(file_doc_stats(new_postings))
        new_postings.unpersist()
    props["fileDocStats"] = merged
    return props


def _probe_hits(
    spark: "SparkSession",
    entry,
    norm: list[str],
    appended=None,
    deleted=None,
) -> "DataFrame":
    """Bucket-pruned posting rows for the normalized terms, hybrid-exact
    against source drift: (token, _doc, tf, positions, _dl).

    Driver-side bucket-FILE pruning (the covering index's own
    discipline — planner/mmh3.py is the Spark-compatible murmur3 and
    covering._BUCKET_FILE_RE the one copy of the bucket-name contract):
    Spark's bucketed-scan pruning is disabled by autoBucketedScan
    whenever no operator consumes the token-hash distribution — which
    is every probe, since downstream work keys on _doc.  Probing k
    terms reads <= k/numBuckets of the postings with NO extra Spark
    job; an unparseable file name falls back to a full posting read
    (never guess — silently excluding a file would drop matches).

    ``deleted`` source files' postings drop via the lineage anti-filter
    (the stale index still answers exactly); ``appended`` files' docs
    are tokenized on the fly (raw read of ONLY those files, through the
    SAME _doc_postings kernel as the build) and unioned in."""
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.indexes.base import read_index
    from hyperspace_spark.indexes.covering import _BUCKET_FILE_RE
    from hyperspace_spark.planner.mmh3 import bucket_id

    props = entry.derived_properties
    nb = int(props["numBuckets"])
    wanted = {bucket_id(t, "string", nb) for t in norm}
    pq = [f for f in entry.content_files if f.path.endswith(".parquet")]
    files: list[str] | None = []
    if None in wanted:
        files = None
    else:
        for f in pq:
            m = _BUCKET_FILE_RE.search(f.path.rsplit("/", 1)[-1])
            if m is None:
                files = None  # unexpected layout: full read
                break
            if int(m.group(1)) in wanted:
                files.append(f.path)
    if files is None:
        files = [f.path for f in pq]
    hits = read_index(spark, entry, files).filter(F.col("token").isin(norm))
    if deleted:
        tracker = entry.file_id_tracker
        ids = [i for i in (tracker.get(f) for f in deleted) if i is not None]
        if ids:
            hits = hits.filter(~F.col(DATA_FILE_ID_COLUMN).isin(ids))
    # _src = which physical COPY of the doc a posting came from.  A doc
    # id can legitimately appear twice in live state (a corrected copy
    # re-appended under the same id before refresh): downstream per-doc
    # maps/pivots must key on (_doc, _src) or they hit duplicate-key
    # errors (phrase) or arbitrary-pick merges (ranked).
    hits = hits.select(
        "token", "_doc", "tf", "positions", "_dl",
        F.col(DATA_FILE_ID_COLUMN).cast("long").alias("_src"),
    )

    if appended:
        raw = entry.relations[0].read(spark, appended)
        # Appended files have no tracker id yet: derive the copy key from
        # the file name AT THE SCAN (input_file_name() is empty after any
        # exchange, and _doc_postings' groupBy must key on it so two
        # appended copies of the same doc id never merge tf/positions).
        # xxhash64 spans the full long range — a collision with a small
        # tracker id would only merge two copies' postings, never lose a
        # doc.
        raw = raw.withColumn("_hs_copy", F.xxhash64(F.input_file_name()))
        raw_hits = (
            _doc_postings(raw, props["idCol"], props["textCol"], "_hs_copy")
            .filter(F.col("token").isin(norm))
            .select(
                "token", "_doc", "tf", "positions", "_dl",
                F.col("_hs_copy").alias("_src"),
            )
        )
        hits = hits.unionByName(raw_hits)
        # The ranked path consumes hits TWICE (df aggregate + score join)
        # and each execution would re-tokenize every appended file;
        # materialize the (tiny, probed-terms-only) hit set once.
        hits = hits.localCheckpoint(eager=False)
    return hits


def _corpus_stats(spark: "SparkSession", entry, appended=None, deleted=None):
    """(N, avgdl) adjusted to live source state: stored per-file stats
    minus deleted files, plus an on-the-fly aggregate over appended
    files (one 1-row collect, only when appends exist).

    N counts physical doc ROWS, so a doc id live under two copies
    contributes twice — the same answer a raw BM25 replay over the live
    files would give (each row is a document to the corpus)."""
    from pyspark.sql import functions as F

    props = entry.derived_properties
    stats = props.get("fileDocStats") or {}
    tracker = entry.file_id_tracker
    dead = set()
    if deleted:
        dead = {i for i in (tracker.get(f) for f in deleted) if i is not None}
    n_docs = 0
    n_tokens = 0
    for fid, (nd, nt) in stats.items():
        if int(fid) in dead:
            continue
        n_docs += int(nd)
        n_tokens += int(nt)
    if appended:
        from hyperspace_spark.llm.text import tokens

        raw = entry.relations[0].read(spark, appended)
        row = (
            raw.filter(F.col(props["textCol"]).isNotNull())
            .select(
                F.filter(
                    tokens(F.col(props["textCol"])), lambda t: t != ""
                ).alias("_t")
            )
            .filter(F.size("_t") > 0)
            .agg(F.count("*").alias("_nd"), F.sum(F.size("_t")).alias("_nt"))
            .collect()[0]
        )
        n_docs += int(row["_nd"] or 0)
        n_tokens += int(row["_nt"] or 0)
    avgdl = (float(n_tokens) / float(n_docs)) if n_docs else 1.0
    return n_docs, avgdl


def text_search(
    spark: "SparkSession",
    entry,
    terms: Iterable,
    mode: str = "all",
    appended=None,
    deleted=None,
) -> "DataFrame":
    """Doc ids containing ALL (default) or ANY of the normalized terms
    (see _probe_hits for the bucket-pruned, hybrid-exact probe).

    Duplicate-id note: when a doc id is live under several physical
    copies (re-appended before refresh), 'all' matches against the id's
    COMBINED content across copies — deliberately, because that is what
    the raw-corpus replay (GROUP BY doc_id HAVING count(DISTINCT token))
    computes; phrase/ranked search, whose raw replays are per-row,
    verify per COPY instead."""
    from pyspark.sql import functions as F

    norm = normalize_terms(terms)
    if not norm:
        raise ValueError("no usable search terms after normalization")
    if mode not in ("all", "any"):
        raise ValueError("mode must be 'all' or 'any'")

    props = entry.derived_properties
    hits = _probe_hits(spark, entry, norm, appended=appended, deleted=deleted)
    id_col = props["idCol"]
    if mode == "any":
        return hits.select(F.col("_doc").alias(id_col)).distinct()
    return (
        hits.groupBy("_doc")
        .agg(F.count_distinct("token").alias("_n"))
        .filter(F.col("_n") == len(norm))
        .select(F.col("_doc").alias(id_col))
    )


def _parse_bool_query(query: str):
    """Recursive-descent parser for boolean term queries:
    ``expr := and_expr (OR and_expr)* ; and_expr := unary (AND unary)* ;
    unary := NOT unary | '(' expr ')' | TERM``.  Keywords are
    case-insensitive; terms normalize like indexed tokens.  Returns an
    AST of ("term", t) / ("not", x) / ("and", [xs]) / ("or", [xs])."""
    import re

    toks = re.findall(r"\(|\)|[^\s()]+", query)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def kw(t, name):
        return t is not None and t.upper() == name

    def parse_or():
        parts = [parse_and()]
        while kw(peek(), "OR"):
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def parse_and():
        parts = [parse_unary()]
        while kw(peek(), "AND"):
            take()
            parts.append(parse_unary())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def parse_unary():
        t = peek()
        if kw(t, "NOT"):
            take()
            return ("not", parse_unary())
        if t == "(":
            take()
            inner = parse_or()
            if take() != ")":
                raise ValueError(f"unbalanced parentheses in query {query!r}")
            return inner
        if t is None or t == ")" or kw(t, "AND") or kw(t, "OR"):
            raise ValueError(f"malformed boolean query {query!r} (at {t!r})")
        return ("term", normalize_terms([take()])[0])

    ast = parse_or()
    if peek() is not None:
        raise ValueError(f"trailing tokens in boolean query {query!r}")
    return ast


def _bool_terms(ast) -> set:
    if ast[0] == "term":
        return {ast[1]}
    if ast[0] == "not":
        return _bool_terms(ast[1])
    return set().union(*[_bool_terms(c) for c in ast[1]])


def _bool_eval(ast, has):
    """Evaluate the AST with ``has(term)`` membership — works for both
    python bools (satisfiability check) and Spark Columns (&, |, ~)."""
    if ast[0] == "term":
        return has(ast[1])
    if ast[0] == "not":
        v = _bool_eval(ast[1], has)
        return (not v) if isinstance(v, bool) else ~v
    vals = [_bool_eval(c, has) for c in ast[1]]
    out = vals[0]
    for v in vals[1:]:
        if isinstance(out, bool):
            out = (out and v) if ast[0] == "and" else (out or v)
        else:
            out = (out & v) if ast[0] == "and" else (out | v)
    return out


def text_search_boolean(
    spark: "SparkSession",
    entry,
    query: str,
    appended=None,
    deleted=None,
) -> "DataFrame":
    """Doc ids satisfying a boolean term QUERY — ``'(quick AND brown) OR
    (lazy AND NOT dog)'`` — evaluated over the probed tokens' postings
    only (one bucket-pruned read for ALL the query's terms; the corpus
    text is never scanned).

    Membership is per doc id across physical copies (same combined-
    content semantics as ``text_search(mode='all')``).  Negation is
    supported only in queries a no-term doc CANNOT satisfy (e.g. ``a AND
    NOT b``): a query satisfiable with every term absent (``NOT b``,
    ``a OR NOT b``) would require the corpus's full doc universe — the
    exact thing the index exists to avoid reading — so it is refused
    loudly rather than answered wrong."""
    from pyspark.sql import functions as F

    ast = _parse_bool_query(query)
    terms = sorted(_bool_terms(ast))
    if _bool_eval(ast, lambda t: False):
        raise ValueError(
            f"boolean query {query!r} is satisfiable by documents containing "
            "none of its terms; answering it needs a corpus scan, not an "
            "index probe — add a positive conjunct"
        )
    props = entry.derived_properties
    hits = _probe_hits(spark, entry, terms, appended=appended, deleted=deleted)
    toks = hits.groupBy("_doc").agg(F.collect_set("token").alias("_toks"))
    cond = _bool_eval(ast, lambda t: F.array_contains(F.col("_toks"), t))
    return toks.filter(cond).select(F.col("_doc").alias(props["idCol"]))


def text_search_ranked(
    spark: "SparkSession",
    entry,
    terms: Iterable,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    filter_query: str | None = None,
    appended=None,
    deleted=None,
) -> "DataFrame":
    """BM25-scored top-k retrieval (Robertson & Zaragoza 2009, the
    Lucene-default scoring): docs matching ANY term ranked by
    sum over terms of  idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)),
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1).

    Everything runs over the probed tokens' postings only: df per term
    is a k-row aggregate of the hits broadcast back; N and avgdl come
    from per-file stats stored in the entry (no corpus job).  The
    per-doc score sums its k term contributions in SORTED-term order via
    a pivot — a fixed floating-point association order, so the score is
    reproducible in any engine (the oracle replays the same order).

    Returns (id_col, score) with score rounded to 4 digits; ties rank by
    id.  Top-k is a TakeOrdered over |hits| rows — no full sort."""
    from functools import reduce

    from pyspark.sql import functions as F

    norm = normalize_terms(terms)
    if not norm:
        raise ValueError("no usable search terms after normalization")
    if k <= 0:
        raise ValueError("k must be positive")

    props = entry.derived_properties
    hits = _probe_hits(spark, entry, norm, appended=appended, deleted=deleted)
    n_docs, avgdl = _corpus_stats(spark, entry, appended=appended, deleted=deleted)

    # df per term from the UNFILTERED hits: BM25 statistics (df, N,
    # avgdl) stay CORPUS-level under a filter_query — the filter narrows
    # candidates, never the collection, matching Lucene filter-context
    # semantics (filters do not affect scoring).
    dfc = hits.groupBy("token").agg(F.count_distinct("_doc").alias("_df"))
    if filter_query:
        # Ranked retrieval over a BOOLEAN-filtered candidate set (the
        # "filter then rank" search-engine composition, r10): the
        # boolean probe shares the same bucket-pruned read path and the
        # allowed doc ids semi-join the scoring hits.
        allowed = text_search_boolean(
            spark, entry, filter_query, appended=appended, deleted=deleted
        ).select(F.col(props["idCol"]).alias("_doc"))
        hits = hits.join(allowed, "_doc", "left_semi")
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    score = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * ((1.0 - b) + b * F.col("_dl") / F.lit(float(avgdl))))
    )
    # Pivot on the term's INDEX in the sorted term list, not the raw
    # token string: pivot values become column names, and a token is
    # arbitrary user text (backquotes, dots, even "_doc" collide).
    ti = F.lit(None).cast("int")
    for i in range(len(norm) - 1, -1, -1):
        ti = F.when(F.col("token") == norm[i], i).otherwise(ti)
    scored = (
        hits.join(F.broadcast(dfc), "token")
        .withColumn("_s", score)
        .withColumn("_ti", ti)
    )
    # Pivot per (_doc, _src): a doc id live under TWO physical copies
    # (re-appended before refresh) scores each copy independently and the
    # BEST copy represents the id — F.first across copies would pick an
    # arbitrary tf.  With unique ids (the normal state) this is a no-op.
    per_copy = scored.groupBy("_doc", "_src").pivot(
        "_ti", list(range(len(norm)))
    ).agg(F.first("_s"))
    total = reduce(
        lambda a, c: a + c,
        [F.coalesce(F.col(str(i)), F.lit(0.0)) for i in range(len(norm))],
    )
    id_col = props["idCol"]
    return (
        per_copy.select(F.col("_doc").alias(id_col), total.alias("_t"))
        .groupBy(id_col)
        .agg(F.round(F.max("_t"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(int(k))
    )


def text_search_phrase(
    spark: "SparkSession",
    entry,
    phrase: str,
    appended=None,
    deleted=None,
) -> "DataFrame":
    """Exact phrase match from positional postings: candidate docs are
    the ones containing ALL the phrase's distinct tokens (bucket-pruned
    probe), and adjacency is verified ONLY on those candidates with an
    in-row exists() over the positions arrays — the standard positional-
    postings phrase algorithm (Zobel & Moffat CSUR 2006 §6); the corpus
    text is never read.

    Returns (id_col) of docs containing the normalized phrase as
    consecutive tokens."""
    from functools import reduce

    from pyspark.sql import functions as F

    toks = normalize_phrase(phrase)
    uniq = sorted(set(toks))
    props = entry.derived_properties
    hits = _probe_hits(spark, entry, uniq, appended=appended, deleted=deleted)
    id_col = props["idCol"]

    # Candidates per (_doc, _src): a doc id live under TWO physical
    # copies (re-appended before refresh) would otherwise feed the same
    # token key into map_from_entries twice — a runtime 'duplicate map
    # key' error under Spark's default dedup policy.  Each copy verifies
    # independently; a doc matches when ANY of its copies contains the
    # phrase.
    cand = (
        hits.groupBy("_doc", "_src")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("token", "positions"))
            ).alias("_m")
        )
        .filter(F.size("_m") == len(uniq))
    )
    if len(toks) == 1:
        return cand.select(F.col("_doc").alias(id_col)).distinct()
    first = F.col("_m")[F.lit(toks[0])]
    match = F.exists(
        first,
        lambda p: reduce(
            lambda a, c: a & c,
            [
                F.array_contains(F.col("_m")[F.lit(t)], p + i)
                for i, t in enumerate(toks[1:], start=1)
            ],
        ),
    )
    return cand.filter(match).select(F.col("_doc").alias(id_col)).distinct()
