"""Guard: the checkpoint contract stays inside ``pregel/superstep.py``.

``SuperstepLoop`` owns the input fingerprint (lineage) and the
``state_NNNNN/_COMMITTED`` layout. Any other engine module that reaches
into a private ``SuperstepLoop`` member, or builds a lineage string itself,
is a second copy of that contract which can drift from the first.
"""

import ast
import inspect
import textwrap
from pathlib import Path

from graph_data_science_spark.pregel.superstep import SuperstepLoop

PKG = Path(__file__).resolve().parent.parent / "graph_data_science_spark"
OWNER = PKG / "pregel" / "superstep.py"
LINEAGE_NAMES = {"edge_lineage", "_edge_lineage"}


def _private_members() -> set[str]:
    """Private (single-underscore) SuperstepLoop members: class attributes
    and methods, plus the attributes its methods assign on ``self``."""
    names = {n for n in vars(SuperstepLoop) if n.startswith("_") and not n.startswith("__")}
    tree = ast.parse(textwrap.dedent(inspect.getsource(SuperstepLoop)))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "self"
            and node.attr.startswith("_")
            and not node.attr.startswith("__")
        ):
            names.add(node.attr)
    return names


def _offenses(tree: ast.AST, private: set[str]) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in private | LINEAGE_NAMES:
            found.append((node.lineno, f"accesses .{node.attr}"))
        elif isinstance(node, ast.Name) and node.id in LINEAGE_NAMES:
            found.append((node.lineno, f"uses {node.id}"))
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if alias.name in LINEAGE_NAMES:
                    found.append((node.lineno, f"imports {alias.name}"))
    return found


def test_checkpoint_layout_private_to_superstep():
    private = _private_members()
    assert {"_state_path", "_marker", "_prev_cached"} <= private
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == OWNER:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for line, what in _offenses(tree, private):
            offenders.append(f"{path.relative_to(PKG.parent)}:{line} {what}")
    assert not offenders, "checkpoint contract used outside pregel/superstep.py:\n" + "\n".join(
        offenders
    )
