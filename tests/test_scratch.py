"""The scratch rule: every table a query builder writes lives under
``session.scratch_dir(spark)``, inside the driver's SparkFiles root,
and ``spark.stop()`` removes it. Nothing a builder makes is left in
the process temp dir."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import tempfile
from urllib.parse import urlparse

from pyspark import SparkFiles

from aws_lakehouse_spark.registry import load_all

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "aws_lakehouse_spark")

# the only functions that may call ``tempfile``: the scratch rule itself,
# and the protobuf shim's PYTHONPATH stage (not a table; see its docstring)
ALLOWED = {
    ("session.py", "scratch_dir"),
    ("streaming/protoshim.py", "_stage_isolated"),
}


def _tempfile_calls(tree: ast.Module) -> list[str]:
    """Enclosing function name of each ``tempfile.*(...)`` call and each
    ``from tempfile import`` in ``tree``."""
    found = []

    def visit(node: ast.AST, func: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            found.append(func)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "tempfile"
        ):
            found.append(func)
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def test_only_scratch_dir_and_protoshim_call_tempfile():
    sites = set()
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            sites.update((rel, func) for func in _tempfile_calls(tree))
    assert sites == ALLOWED


def test_builders_write_under_the_session_root(spark, sf_dir, tmp_path,
                                               monkeypatch):
    registry = load_all()
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    root = SparkFiles.getRootDirectory()
    for name in ("snapshot_merge_into", "join_bucketed_colocated"):
        df = registry[name].fn(spark, sf_dir)
        files = [urlparse(f).path for f in df.inputFiles()]
        assert files, name
        assert all(f.startswith(root + os.sep) for f in files), (name, files)
        assert df.count() > 0
    assert os.listdir(tmp) == []


_FRESH = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkFiles
from aws_lakehouse_spark.registry import load_all
from aws_lakehouse_spark.session import get_spark

spark = get_spark(master="local[1]")
root = SparkFiles.getRootDirectory()
rows = load_all()["snapshot_merge_into"].fn(spark, {sf!r}).collect()
spark.stop()
print(json.dumps({{"root": root, "rows": len(rows),
                  "root_left": os.path.exists(root)}}))
"""


def test_stop_removes_scratch_and_leaves_tmpdir_empty(sf_dir, tmp_path):
    tmp, local, cwd = (tmp_path / d for d in ("tmp", "local", "cwd"))
    for d in (tmp, local, cwd):
        d.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(local)}
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH.format(repo=REPO, sf=sf_dir)],
        env=env, cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] > 0
    assert out["root"].startswith(str(local) + os.sep)
    assert not out["root_left"]
    assert os.listdir(tmp) == []
