"""The scripts outside the package: every name they import resolves, and
the local session is sized from the host unless the environment says
otherwise."""

from __future__ import annotations

import ast
import importlib

import pytest

from dedup.session import local_defaults


@pytest.mark.parametrize(
    "module", ["__spark_entry__", "bench", "tools.check_contract", "tools.run_pipeline"]
)
def test_entry_point_imports_resolve(module):
    """Import the script without running ``main``, then resolve every import
    statement in it, the ones inside functions too: deleting a helper a
    script uses fails here rather than on the script's next run."""
    with open(importlib.import_module(module).__file__) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                importlib.import_module(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            target = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(target, alias.name):  # else a submodule
                    importlib.import_module(f"{node.module}.{alias.name}")


def test_local_defaults_env_wins_else_host():
    kb = 16_456_384  # MemTotal of a 16 GB host
    assert local_defaults({}, 4, kb) == (4, 4, "8035m")
    # the heap is capped at 48g on large hosts
    assert local_defaults({}, 64, 512 * 1024 * 1024) == (64, 64, f"{48 * 1024}m")
    env = {"SPARK_GRAFT_CPUS": "2", "DEDUP_DRIVER_MEM": "3g"}
    assert local_defaults(env, 4, kb) == (2, 2, "3g")
    env["DEDUP_SHUFFLE_PARTITIONS"] = "7"
    assert local_defaults(env, 4, kb) == (2, 7, "3g")
    # an empty variable counts as unset
    assert local_defaults({"SPARK_GRAFT_CPUS": ""}, 3, kb) == (3, 3, "8035m")
