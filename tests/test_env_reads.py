"""Names that only one or a few package modules may use, checked over
the source of every module:

- operator behaviour depends on arguments only, so only the three
  modules that define the session and the data location (session.py,
  sources/catalog.py, plans/dump.py) read the process environment;
- scratch directories have one owner, functions/cachereg.py, which
  keeps one live directory per registered entry and removes them all
  at exit; any other `mkdtemp` would leak a directory per build;
- the streaming plumbing has one owner, streaming/__init__.py: the
  availableNow drain (`drain`) and the Hadoop FileSystem lookup
  (`hadoop_fs`), so a runner cannot drift from the shared
  await-or-raise and fold-and-swap code by carrying its own copy."""

from __future__ import annotations

import ast
import os

import saurav_nayak_recipe_etl_project_spark as pkg

_ENV = {"session.py", os.path.join("sources", "catalog.py"),
        os.path.join("plans", "dump.py")}
# name (as an attribute, a bare name or an imported alias) → the
# modules, relative to the package root, allowed to use it
ALLOWED = {
    "environ": _ENV, "environb": _ENV, "getenv": _ENV, "getenvb": _ENV,
    "mkdtemp": {os.path.join("functions", "cachereg.py")},
    "getFileSystem": {os.path.join("streaming", "__init__.py")},
    "availableNow": {os.path.join("streaming", "__init__.py")},
}
# (name, module) → the one function there that may use it anyway: the
# append-mode windowed stream writes a parquet file sink, which is
# neither a memory table nor a foreachBatch function
EXEMPT = {("availableNow", os.path.join("streaming", "events.py")):
          "run_windowed_stream_append"}


def _uses(path: str, rel: str) -> dict[str, list[int]]:
    """{restricted name: lines using it} for one module, `rel` being
    its path relative to the package root."""
    with open(path) as f:
        tree = ast.parse(f.read())
    exempt = {(name, line)
              for f in ast.walk(tree) if isinstance(f, ast.FunctionDef)
              for (name, mod), fn in EXEMPT.items()
              if mod == rel and fn == f.name
              for line in range(f.lineno, f.end_lineno + 1)}
    found: dict[str, list[int]] = {}
    for n in ast.walk(tree):
        name = (n.attr if isinstance(n, ast.Attribute)
                else n.id if isinstance(n, ast.Name)
                else n.name if isinstance(n, ast.alias)
                else n.arg if isinstance(n, ast.keyword) else None)
        if name in ALLOWED and (name, n.lineno) not in exempt:
            found.setdefault(name, []).append(n.lineno)
    return found


def _violations(names: set[str]) -> dict[str, dict[str, list[int]]]:
    """{module: {name: lines}} for each use of `names` outside the
    modules allowed to use it."""
    root = os.path.dirname(pkg.__file__)
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root)
            bad = {name: lines for name, lines in _uses(path, rel).items()
                   if name in names and rel not in ALLOWED[name]}
            if bad:
                out[rel] = bad
    return out


def test_no_environment_reads_outside_session_and_catalog():
    found = _violations({"environ", "environb", "getenv", "getenvb"})
    assert not found, f"environment reads in operator code: {found}"


def test_no_scratch_directories_outside_cachereg():
    found = _violations({"mkdtemp"})
    assert not found, f"mkdtemp outside functions/cachereg.py: {found}"


def test_streaming_plumbing_only_in_the_kit():
    found = _violations({"getFileSystem", "availableNow"})
    assert not found, ("a drain or FileSystem lookup outside "
                       f"streaming/__init__.py: {found}")
