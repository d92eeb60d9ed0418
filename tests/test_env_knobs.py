"""Guard: the CDC engine reads exactly one environment knob.

Winner modes, salted dedup, exchange and fanout switches were once read
from ``I3S_*`` variables; each lost its A/B or was dead under the defaults
and was removed. This test keeps new hot-path knobs from creeping back
unnoticed: ``I3S_DEBUG`` (the late-materialization key check) is the only
one allowed.
"""

from __future__ import annotations

import ast
import pathlib

import ingestion3_spark.cdc as cdc_pkg


def _env_reads(tree: ast.AST) -> set[str]:
    """String keys of ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)``, whatever name ``os`` is bound to."""
    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "environ") or f.attr == "getenv":
                key = node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript) and isinstance(node.value, ast.Attribute):
            if node.value.attr == "environ":
                key = node.slice
        if key is not None:
            assert isinstance(key, ast.Constant), ast.dump(node)
            names.add(key.value)
    return names


def test_cdc_reads_only_the_debug_knob():
    root = pathlib.Path(cdc_pkg.__file__).parent
    knobs = set()
    for path in sorted(root.glob("*.py")):
        knobs |= _env_reads(ast.parse(path.read_text()))
    assert knobs == {"I3S_DEBUG"}


def test_guard_sees_every_read_form():
    src = (
        "import os\nimport os as _os\n"
        "a = os.environ.get('A')\nb = _os.environ['B']\nc = os.getenv('C', '0')\n"
    )
    assert _env_reads(ast.parse(src)) == {"A", "B", "C"}
