"""Policy guard for the materialization rule: every eager materialization
in the engine goes through ``flink_emqx_connector_spark/materialize.py``,
which picks a reliable checkpoint when a checkpoint dir is set and a
local one otherwise. A bare ``localCheckpoint()`` elsewhere would bring
back a result that dies with its executor on a cluster that has a
checkpoint dir, and a bare ``checkpoint()`` would fail on a session
without one. This test parses every module of the package and fails on
any such call outside ``materialize.py``."""

import ast
from pathlib import Path

import flink_emqx_connector_spark

_PKG = Path(flink_emqx_connector_spark.__file__).resolve().parent
_ALLOWED = _PKG / "materialize.py"
_FORBIDDEN = {"localCheckpoint", "checkpoint"}


def _checkpoint_calls(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    return [
        f"{path.relative_to(_PKG.parent)}:{node.lineno} .{node.func.attr}("
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _FORBIDDEN
    ]


def test_only_materialize_module_checkpoints():
    offenders = [
        hit
        for path in sorted(_PKG.rglob("*.py"))
        if path != _ALLOWED
        for hit in _checkpoint_calls(path)
    ]
    assert not offenders, (
        "checkpoint calls outside materialize.py (route them through "
        f"materialize()): {offenders}"
    )


def test_materialize_module_holds_both_calls():
    """The rule itself still uses both forms — otherwise the guard above
    passes vacuously after a rename."""
    found = {hit.rsplit(".", 1)[1] for hit in _checkpoint_calls(_ALLOWED)}
    assert found == {f"{name}(" for name in _FORBIDDEN}, found
