"""spark-submit --py-files packaging smoke: the north-rule ship form.

Builds pkg.zip exactly as DEPLOYMENT.md documents, then runs a real
``spark-submit --master local[2] --py-files pkg.zip job.py`` from a
scratch cwd with the repo stripped from PYTHONPATH — so the job can only
import ``pdf_to_epub_spark`` from the shipped zip — and drives the
extraction pipeline end-to-end inside that job.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent

JOB = """
import pdf_to_epub_spark
assert "pkg.zip" in pdf_to_epub_spark.__file__, pdf_to_epub_spark.__file__

from pyspark.sql import SparkSession

from pdf_to_epub_spark.operators import (
    assemble_documents,
    extract_documents,
)
from pdf_to_epub_spark.sources.synth import make_documents

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
pages = spark.createDataFrame(
    make_documents(8, seed=7),
    "url string, warc_ts timestamp, html binary, text string, lang string",
)
docs = assemble_documents(extract_documents(pages))
n = docs.count()
assert n == 8, n
print("PYFILES_SMOKE_OK", n)
"""


def _spark_submit() -> str | None:
    cand = shutil.which("spark-submit")
    if cand:
        return cand
    import pyspark

    p = pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit"
    return str(p) if p.exists() else None


def test_spark_submit_pyfiles_smoke(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on this machine")

    pkg = tmp_path / "pkg.zip"
    with zipfile.ZipFile(pkg, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted((REPO / "pdf_to_epub_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))
    job = tmp_path / "job.py"
    job.write_text(JOB, encoding="utf-8")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only import source
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    out = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", str(pkg), str(job)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "PYFILES_SMOKE_OK 8" in out.stdout, out.stdout[-2000:]
