"""Guard: engine code reads no environment variables outside session.py.

Session-level settings (cores, master, local dir, heap) belong in
``session.get_spark``; an env read anywhere else is an A/B switch in an
algorithm's hot path, which makes two runs of the same call build
different plans. The one exception is the round-trip tmpfs budget, a
host-capacity setting read where the files are written.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "graph_data_science_spark"
ALLOWED_FILES = {"session.py"}
ALLOWED_VARS = {"SPARK_GRAFT_RT_BUDGET_MB"}


def _const_arg(node: ast.AST | None) -> str | None:
    return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None


def _env_reads(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, variable name or None if not a literal) of every env read."""
    parents = {child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)}
    os_names = {"os"}
    env_names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            env_names |= {a.asname or a.name for a in node.names if a.name in ("environ", "getenv")}

    reads = []
    for node in ast.walk(tree):
        is_os_attr = (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
            and node.attr in ("environ", "getenv")
        )
        is_imported = isinstance(node, ast.Name) and node.id in env_names
        if not (is_os_attr or is_imported):
            continue
        parent = parents.get(node)
        var = None
        if isinstance(parent, ast.Call) and parent.func is node:  # getenv("X")
            var = _const_arg(parent.args[0] if parent.args else None)
        elif isinstance(parent, ast.Subscript):  # environ["X"]
            var = _const_arg(parent.slice)
        elif isinstance(parent, ast.Attribute) and parent.attr == "get":  # environ.get("X")
            call = parents.get(parent)
            if isinstance(call, ast.Call) and call.args:
                var = _const_arg(call.args[0])
        reads.append((node.lineno, var))
    return reads


def test_no_env_reads_outside_session():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name in ALLOWED_FILES and path.parent == PKG:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for line, var in _env_reads(tree):
            if var not in ALLOWED_VARS:
                offenders.append(f"{path.relative_to(PKG.parent)}:{line} reads {var or 'os.environ'}")
    assert not offenders, "environment reads outside session.py:\n" + "\n".join(offenders)


def test_guard_sees_every_read_form():
    src = (
        "import os\nimport os as _os\nfrom os import environ, getenv\n"
        "a = os.environ.get('A')\nb = _os.getenv('B')\nc = environ['C']\n"
        "d = getenv('D')\ne = os.environ\nf = os.environ.get('SPARK_GRAFT_RT_BUDGET_MB')\n"
    )
    assert sorted(_env_reads(ast.parse(src)), key=lambda r: r[0]) == [
        (4, "A"), (5, "B"), (6, "C"), (7, "D"), (8, None), (9, "SPARK_GRAFT_RT_BUDGET_MB"),
    ]
