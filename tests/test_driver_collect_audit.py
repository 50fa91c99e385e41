"""Static scan: every bounded collect to the driver is a listed,
reasoned call site, and none iterates partition by partition.

- ``toLocalIterator()`` runs one Spark job per partition of its frame;
  no code under ``spatialpandas_spark/`` calls it.
- ``.limit(n).collect()`` and ``.limit(n).toArrow()`` trade differently,
  so each call site is listed in ``ALLOWED`` with the reason for its
  form. The Row collect scans 1 partition, then 4 times as many, and
  stops once it holds ``n`` rows: up to three jobs on a small frame
  spread over many partitions, but an oversized input is read only
  until the bound is met. The Arrow collect is one job, but it runs
  every partition and sends each one's first ``n`` rows through a
  single task; it fits only an input small by construction (a sketch)
  or one measured on the oversized case.

No Spark session: the scan parses source text only.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "spatialpandas_spark"

_TOP_N = (
    "a limit directly over orderBy plans as one top-n job "
    "(TakeOrderedAndProject), not a partition-by-partition limit scan"
)

_LARGE = (
    "input can be large: the Row collect stops reading partitions once "
    "it holds the bound, where an Arrow collect would run them all"
)

#: (path under spatialpandas_spark/, enclosing function, collect method)
#: -> reason
ALLOWED = {
    ("operators/sjoin.py", "_estimate_cell_size", "collect"): (
        "its sample reads the first partitions, which on Hilbert-packed "
        "input cover one corner of space; the representative-sample fix "
        "replaces this collect (ROADMAP, \"One driver probe\")"
    ),
    ("operators/similarity.py", "_vector_topk", "collect"): _LARGE,
    ("streaming/sequences.py", "sequence_batch", "collect"): _TOP_N,
    ("operators/bpe.py", "train_bpe", "collect"): _TOP_N,
    ("operators/pq.py", "train_pq", "collect"): _TOP_N,
    ("operators/similarity.py", "_centroids", "collect"): _TOP_N,
    ("operators/unigram.py", "train_unigram", "collect"): _TOP_N,
    ("operators/wordpiece.py", "train_wordpiece", "collect"): _TOP_N,
}


def _calls(method: str):
    """(path, innermost enclosing function or ``<module>``, call node) of
    every ``.<method>()`` call in the package."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == method
            ):
                yield fn, child
            yield from walk(child, fn)

    for path in sorted(PKG.rglob("*.py")):
        for fn, node in walk(ast.parse(path.read_text()), "<module>"):
            yield str(path.relative_to(PKG)), fn, node


def _sites(method: str, pred=lambda node: True) -> set:
    return {(p, f, method) for p, f, node in _calls(method) if pred(node)}


def _on_limit(node) -> bool:
    inner = node.func.value
    return (
        isinstance(inner, ast.Call)
        and isinstance(inner.func, ast.Attribute)
        and inner.func.attr == "limit"
    )


def test_no_local_iterator():
    assert _sites("toLocalIterator") == set(), (
        "toLocalIterator() runs one job per partition: collect the result "
        "once, bounded by a count or by construction"
    )


def test_limit_collects_only_where_allowed():
    got = _sites("collect", _on_limit) | _sites("toArrow", _on_limit)
    assert got <= set(ALLOWED), (
        f"{sorted(got - set(ALLOWED))}: list each bounded collect in "
        "ALLOWED with the reason for its form (see the module docstring: "
        ".limit(n).toArrow() runs every partition of its input)"
    )
    assert set(ALLOWED) <= got, "stale ALLOWED entry: drop it"
