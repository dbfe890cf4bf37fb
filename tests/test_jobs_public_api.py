"""The spark-submit jobs are clients of the library: everything they
use of qwery_spark is a public name, so a job never re-implements an
engine loop around a private helper."""

import ast
import pathlib

JOBS = pathlib.Path(__file__).resolve().parent.parent / "jobs"


def _private_uses(tree: ast.AST) -> list[str]:
    """Underscore names a module imports from qwery_spark, or reads as
    an attribute of a qwery_spark module it imported."""
    found, modules = [], set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("qwery_spark"):
            for a in node.names:
                if a.name.startswith("_"):
                    found.append(f"{node.module}.{a.name}")
                else:
                    modules.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("qwery_spark"):
                    found += [a.name for part in a.name.split(".") if part.startswith("_")]
                    modules.add(a.asname or a.name.split(".")[0])
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and node.attr.startswith("_")
                and not node.attr.startswith("__")
                and isinstance(node.value, ast.Name) and node.value.id in modules):
            found.append(f"{node.value.id}.{node.attr}")
    return found


def test_jobs_use_only_public_names():
    offenders = {
        p.name: uses
        for p in sorted(JOBS.glob("*.py"))
        if (uses := _private_uses(ast.parse(p.read_text())))
    }
    assert offenders == {}


def test_private_use_is_detected():
    src = (
        "from qwery_spark.streaming.stream import _wap_batch, run_stream\n"
        "from qwery_spark.streaming import stream\n"
        "stream._record([], 1)\n"
    )
    assert _private_uses(ast.parse(src)) == [
        "qwery_spark.streaming.stream._wap_batch", "stream._record",
    ]
