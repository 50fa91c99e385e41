"""README's "Environment knobs" table lists exactly the environment
variables the package (and the suite's conftest) reads."""

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Name) and node.id == "environ") or (
        isinstance(node, ast.Attribute) and node.attr == "environ"
    )


def _env_reads(path: pathlib.Path) -> list:
    """(name or None, line) per environment read; None marks a read whose
    name is not a string literal."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        key = None
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and _is_environ(f.value)
                and f.attr in ("get", "setdefault", "pop")
            ) or (
                isinstance(f, (ast.Name, ast.Attribute))
                and getattr(f, "id", getattr(f, "attr", None)) == "getenv"
            ):
                key = node.args[0] if node.args else None
            else:
                continue
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            key = node.left
        else:
            continue
        name = key.value if isinstance(key, ast.Constant) else None
        out.append((name, f"{path.relative_to(REPO)}:{node.lineno}"))
    return out


def _readme_table() -> set:
    text = (REPO / "README.md").read_text()
    section = text.split("## Environment knobs", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `([A-Z0-9_]+)` \|", section, re.M))


def test_readme_lists_every_env_var_the_package_reads():
    files = sorted((REPO / "spatialpandas_spark").rglob("*.py"))
    files.append(REPO / "tests" / "conftest.py")
    reads = [r for f in files for r in _env_reads(f)]
    assert any(n == "SPARK_GRAFT_CPUS" for n, _ in reads), "scanner found no read"
    dynamic = [where for n, where in reads if n is None]
    assert not dynamic, f"environment read with a computed name: {dynamic}"
    table = _readme_table()
    missing = sorted({f"{n} ({where})" for n, where in reads if n not in table})
    assert not missing, f"README 'Environment knobs' lacks: {missing}"
    stale = sorted(table - {n for n, _ in reads})
    assert not stale, f"README 'Environment knobs' lists unread: {stale}"
