"""Every script in ``tools/`` is run by something: a test module imports
it, or README.md or the verify skill names it as ``tools/<name>.py``. A
one-shot study whose numbers are recorded in BASELINE.md or
docs/SCALE.md is deleted, not kept."""

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
DOCS = [REPO / "README.md", REPO / ".claude" / "skills" / "verify" / "SKILL.md"]


def _imported_by_tests() -> set:
    names = set()
    for path in (REPO / "tests").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                mods = [node.module]
                if node.module == "tools":
                    mods += [f"tools.{a.name}" for a in node.names]
            else:
                continue
            for mod in mods:
                parts = mod.split(".")
                if parts[0] == "tools" and len(parts) > 1:
                    names.add(parts[1])
    return names


def _named_in_docs() -> set:
    names = set()
    for path in DOCS:
        names |= set(re.findall(r"tools/(\w+)\.py", path.read_text()))
    return names


def test_every_tool_is_imported_by_a_test_or_named_in_the_docs():
    scripts = sorted(p.stem for p in (REPO / "tools").glob("*.py"))
    assert "check_contract" in scripts, "found no tools/ scripts"
    run = _imported_by_tests() | _named_in_docs()
    unlisted = [s for s in scripts if s not in run]
    assert not unlisted, (
        f"tools/ scripts no test imports and no doc names: {unlisted}; "
        "name a kept script in README.md, or delete a finished study "
        "and record its numbers in BASELINE.md"
    )
