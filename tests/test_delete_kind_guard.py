"""Structure guard: ``sinks/deletes.py`` is the one module that reads
a delete file's kind. Every other module under ``sinks/`` and
``streaming/`` asks ``deletes.delete_kind`` / ``by_kind`` — a second
reader is how the per-consumer copies of the delete rules grew before.
Partition-transform spec entries also carry a ``"kind"`` key; the
functions that read those are listed explicitly."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "biglake_iceberg_pipeline_spark"
)

#: functions reading the "kind" of a partition-transform spec entry
#: (``_parse_spec_entry``'s output), not of a delete file
SPEC_KIND_READERS = {
    "_transform_expr",
    "_transform_bounds",
    "_write_data",
    "_record_transforms",
    "evolve_partition_spec",
}


def _kind_reads(tree: ast.AST):
    """(function, line) of every ``x["kind"]`` load and
    ``x.get("kind", ...)`` call; a nested function counts as part of
    the outermost function or method around it."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if fn is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                name = child.name
            is_sub = (
                isinstance(child, ast.Subscript)
                and isinstance(child.ctx, ast.Load)
                and isinstance(child.slice, ast.Constant)
                and child.slice.value == "kind"
            )
            is_get = (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "get"
                and child.args
                and isinstance(child.args[0], ast.Constant)
                and child.args[0].value == "kind"
            )
            if is_sub or is_get:
                yield name, child.lineno
            yield from walk(child, name)

    yield from walk(tree, None)


def test_only_the_delete_module_reads_delete_kind():
    offenders = []
    for sub in ("sinks", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            if path.name == "deletes.py":
                continue
            tree = ast.parse(path.read_text())
            for fn, line in _kind_reads(tree):
                if fn not in SPEC_KIND_READERS:
                    offenders.append(f"{sub}/{path.name}:{line} in {fn}")
    assert offenders == []


def test_guard_sees_a_delete_kind_read():
    src = (
        "def plan(meta, d):\n"
        "    return meta.get(d, {}).get('kind', 'position')\n"
        "def transform(e):\n"
        "    return e['kind']\n"
    )
    assert list(_kind_reads(ast.parse(src))) == [
        ("plan", 2),
        ("transform", 4),
    ]
