"""Where the package reads settings (no Spark).

The engine has no user-set switches between code paths: the only
settings it reads are the three deployment settings in ``session.py``
(core count, shuffle partitions, driver memory). Tests reach the
alternative paths through ``conftest.py`` seams, never through a conf
key or an environment variable.
"""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "datafusion_loki_spark",
)


def _setting_reads(tree):
    """(line, text) of every environment read and every Spark conf read
    (``<x>.conf.get(...)``, ``<x>.getConf().get(...)``) in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in (
            "environ",
            "getenv",
        ):
            yield node.lineno, ast.unparse(node)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr.startswith("get")
        ):
            owner = node.func.value
            if (isinstance(owner, ast.Attribute) and owner.attr == "conf") or (
                isinstance(owner, ast.Call)
                and isinstance(owner.func, ast.Attribute)
                and owner.func.attr == "getConf"
            ):
                yield node.lineno, ast.unparse(node)


def test_only_session_reads_settings():
    reads = {}
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                for line, text in _setting_reads(tree):
                    reads.setdefault(os.path.relpath(path, PKG), []).append(
                        (line, text)
                    )
    assert set(reads) == {"session.py"}, reads
    with open(os.path.join(PKG, "session.py")) as f:
        env = set(re.findall(r'os\.environ\.get\(\s*"(\w+)"', f.read()))
    assert env == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_DRIVER_MEMORY",
    }
