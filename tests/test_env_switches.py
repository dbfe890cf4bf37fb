"""Engine behaviour is set by parameters and table properties, never by
environment variables: only the deployment settings in session.py and
the compiler's user-facing import_env may read os.environ."""

import ast
import pathlib

import qwery_spark

ALLOWED = {"session.py", "compiler/engine.py"}


def _reads_environ(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
            return True
        if isinstance(node, ast.ImportFrom) and node.module == "os" and any(
            a.name in ("environ", "getenv") for a in node.names
        ):
            return True
    return False


def test_no_env_switches_in_engine():
    root = pathlib.Path(qwery_spark.__file__).parent
    offenders = [
        p.relative_to(root).as_posix()
        for p in sorted(root.rglob("*.py"))
        if p.relative_to(root).as_posix() not in ALLOWED
        and _reads_environ(ast.parse(p.read_text()))
    ]
    assert offenders == []
