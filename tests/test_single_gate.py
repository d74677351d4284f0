"""The covering-index rules decide eligibility in one gate and read index
data through one leaf builder (planner/rules.py ``_gate`` and
``_index_leaf``).  A rule that proves partial-index implication or builds
an index read on its own is a copy that can drift from them, as the
per-rule copies once did.  This test parses the module and fails on any
such call outside those two functions."""

import ast
import pathlib

RULES = pathlib.Path(__file__).resolve().parent.parent / "hyperspace_spark" / "planner" / "rules.py"

# callee -> the module-level functions that may call it
ALLOWED = {
    "implies": {"_gate"},
    "_entry_predicate": {"_gate"},
    "index_scan_df": {"_index_leaf"},
}


def _call_sites() -> list[tuple[str, str, int]]:
    sites = []
    for top in ast.parse(RULES.read_text()).body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in ALLOWED:
                    sites.append((name, getattr(top, "name", "<module>"), node.lineno))
    return sites


def test_gate_and_leaf_are_the_only_call_sites():
    stray = [
        f"{name}() at rules.py:{line} in {owner}"
        for name, owner, line in _call_sites()
        if owner not in ALLOWED[name]
    ]
    assert not stray, "covering-rule decision outside the gate/leaf builder: " + ", ".join(stray)


def test_detector_sees_the_allowed_sites():
    found = {(name, owner) for name, owner, _ in _call_sites()}
    assert found == {(name, owner) for name, owners in ALLOWED.items() for owner in owners}
