"""Operator behaviour depends on arguments only: no module of the
package reads the process environment, except the three that define
the session and the data location (session.py, sources/catalog.py,
plans/dump.py)."""

from __future__ import annotations

import ast
import os

import saurav_nayak_recipe_etl_project_spark as pkg

ALLOWED = {"session.py", os.path.join("sources", "catalog.py"),
           os.path.join("plans", "dump.py")}
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(path: str) -> list[int]:
    with open(path) as f:
        tree = ast.parse(f.read())
    return [n.lineno for n in ast.walk(tree)
            if (isinstance(n, ast.Attribute) and n.attr in ENV_NAMES)
            or (isinstance(n, ast.Name) and n.id in ENV_NAMES)
            or (isinstance(n, ast.alias) and n.name in ENV_NAMES)]


def test_no_environment_reads_outside_session_and_catalog():
    root = os.path.dirname(pkg.__file__)
    found = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            rel = os.path.relpath(os.path.join(dirpath, name), root)
            if name.endswith(".py") and rel not in ALLOWED:
                lines = _env_reads(os.path.join(dirpath, name))
                if lines:
                    found[rel] = lines
    assert not found, f"environment reads in operator code: {found}"
