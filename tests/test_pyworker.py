"""_pyworker: zip-import directories are kept only while the archive is
unchanged, and only in a Spark Python worker on CPython < 3.13.

Each scenario runs in a fresh interpreter, so neither this process's
importers nor its pyspark task context are touched.  The ``worker`` mode
sets a task context the way ``pyspark.worker`` does before it unpickles a
task's functions; ``plain`` and ``worker313`` keep the stdlib body and are
the reference for everything but the read count.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]

SCENARIO = r"""
import importlib, json, os, sys, time, zipfile, zipimport

mode, archive = sys.argv[1], sys.argv[2]

def write(**modules):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("p/__init__.py", "")
        z.writestr("p/q/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)

write(a="X = 1\n", v="V = 1\n")
sys.path.insert(0, archive)
import a, v, p.q  # noqa: E401 -- two importers: the archive and p/

if mode != "plain":
    from pyspark.taskcontext import TaskContext
    TaskContext._getOrCreate()
if mode == "worker313":
    real, sys.version_info = sys.version_info, (3, 13, 0)
from pdf_to_epub_spark import _pyworker
if mode == "worker313":
    sys.version_info = real
installed = zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches

reads = []
stdlib_read = zipimport._read_directory
def counting_read(path):
    if path == archive:
        reads.append(path)
    return stdlib_read(path)
zipimport._read_directory = counting_read

importers = [
    f for f in sys.path_importer_cache.values()
    if isinstance(f, zipimport.zipimporter) and f.archive == archive
]

def step():
    del reads[:]
    importlib.invalidate_caches()
    return {
        "reads": len(reads),
        "files": [sorted(f._files) for f in importers],
        "cached": sorted(zipimport._zip_directory_cache.get(archive, {})),
    }

out = {"installed": installed, "importers": len(importers)}
out["unchanged"] = [step() for _ in range(3)]

time.sleep(0.05)
write(a="X = 1\n", v="V = 1\n", b="Y = 2\n")
out["rewritten"] = step()
import b
out["b"] = b.Y

# Same size, same inode, mtime put back: only the ctime moves.
st = os.stat(archive)
time.sleep(0.05)
write(a="X = 1\n", v="V = 2\n", b="Y = 2\n")
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
now = os.stat(archive)
assert (now.st_ino, now.st_size, now.st_mtime_ns) == (st.st_ino, st.st_size, st.st_mtime_ns)
out["same_size"] = step()
out["v"] = importlib.reload(v).V

os.remove(archive)
out["deleted"] = step()
try:
    import c
    out["c_deleted"] = c.Z
except ImportError as e:
    out["c_deleted"] = type(e).__name__

write(a="X = 1\n", c="Z = 3\n")
out["restored"] = step()
import c
out["c"] = c.Z
print(json.dumps(out))
"""


def _scenario(mode: str, tmp_path) -> dict:
    env = dict(os.environ, PYTHONPATH=str(REPO))
    proc = subprocess.run(
        [sys.executable, "-c", SCENARIO, mode, str(tmp_path / f"{mode}.zip")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout)


def _without_reads(out: dict) -> dict:
    out = json.loads(json.dumps(out))
    for value in out.values():
        for st in value if isinstance(value, list) else [value]:
            if isinstance(st, dict):
                st.pop("reads")
    return {k: v for k, v in out.items() if k != "installed"}


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pyworker")
    return {m: _scenario(m, tmp) for m in ("plain", "worker", "worker313")}


def test_only_a_worker_below_3_13_is_wrapped(runs):
    assert not runs["plain"]["installed"]
    assert runs["worker"]["installed"]
    assert not runs["worker313"]["installed"]


def test_stdlib_reads_once_per_importer(runs):
    for mode in ("plain", "worker313"):
        out = runs[mode]
        n = out["importers"]
        assert n == 2
        assert [s["reads"] for s in out["unchanged"]] == [n, n, n]
        assert out["rewritten"]["reads"] == n


def test_unchanged_archive_is_not_reread(runs):
    # The first wrapped call has no identity on record: one read for the
    # archive, shared by its importers.  Later calls read nothing.
    assert [s["reads"] for s in runs["worker"]["unchanged"]] == [1, 0, 0]


def test_changed_archive_is_reread_once(runs):
    out = runs["worker"]
    assert out["rewritten"]["reads"] == 1
    assert out["b"] == 2
    assert out["same_size"]["reads"] == 1
    assert out["v"] == 2
    assert out["restored"]["reads"] == 1
    assert out["c"] == 3


def test_wrapped_importers_match_the_stdlib(runs):
    worker = _without_reads(runs["worker"])
    assert worker == _without_reads(runs["plain"])
    assert worker["deleted"] == {"files": [[], []], "cached": []}
    assert worker["c_deleted"] == "ModuleNotFoundError"
    assert runs["worker"]["deleted"]["reads"] == runs["plain"]["deleted"]["reads"]
