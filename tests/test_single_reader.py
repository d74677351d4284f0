"""Every dataset the lifecycle, planner and index kinds read goes through
one of two readers: a source relation through ``Relation.read`` (which
``ir.Scan`` shares), a logged index version through
``indexes.base.read_index``.  A hand-built ``spark.read`` chain beside
them is a reader that can drift from them, by skipping the logged schema
or dropping the source's reader options.  This test parses the code and
fails on any such chain outside the readers and a short list of reads of
a freshly written data directory that no log entry describes yet."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "hyperspace_spark"

SCANNED = [
    PKG / "hyperspace.py",
    *sorted((PKG / "planner").glob("*.py")),
    *sorted((PKG / "indexes").glob("*.py")),
]

READERS = {("indexes/base.py", "read_index")}

# (file, enclosing function) -> why the read may stay hand-built.
FRESH_DATA_DIR = {
    ("indexes/inverted.py", "create_index_data"): "BM25 file stats over the postings just written",
    ("indexes/zorder.py", "collect_file_stats"): "per-file z-ranges of the files just written",
}


def _is_session(node) -> bool:
    name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", "")
    return name in ("spark", "session", "sparkSession")


def _spark_read_sites() -> list[tuple[str, str, int]]:
    sites = []

    def visit(node, rel, func):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func
            if isinstance(child, ast.Attribute) and child.attr == "read" and _is_session(child.value):
                sites.append((rel, func, child.lineno))
            visit(child, rel, inner)

    for path in SCANNED:
        visit(ast.parse(path.read_text()), path.relative_to(PKG).as_posix(), None)
    return sites


def test_every_read_goes_through_a_reader():
    stray = [
        f"{rel}:{line} in {func}()"
        for rel, func, line in _spark_read_sites()
        if (rel, func) not in READERS and (rel, func) not in FRESH_DATA_DIR
    ]
    assert not stray, "hand-built spark.read outside the two readers: " + ", ".join(stray)


def test_allowlist_names_live_reads_only():
    found = {(rel, func) for rel, func, _ in _spark_read_sites()}
    assert READERS <= found  # the detector sees the reader itself
    assert set(FRESH_DATA_DIR) <= found, set(FRESH_DATA_DIR) - found
