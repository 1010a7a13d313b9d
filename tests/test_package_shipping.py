"""The package reaches Python workers as one zip per SparkContext
(``session.ship_package``), and its code pickles by reference.

The Spark-free checks pin the transport: no module of the package is
registered for cloudpickle's by-value mode, the SSTable source pickles
to a class reference, and the zip is named by its content. The one
Spark check runs a vanilla session in a child process whose cwd is
not the repo and whose only path to the package is its own
``sys.path.insert`` (as ``__spark_entry__`` does it), so a worker can
import ``cassowary_spark`` only from the shipped zip.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

from pyspark import cloudpickle

from cassowary_spark import registry, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_package_module_pickles_by_value():
    registry.load_all()
    assert not [
        m for m in cloudpickle.list_registry_pickle_by_value() if m.startswith("cassowary_spark")
    ]


def test_sstable_source_pickles_by_reference():
    from cassowary_spark.sources.sstable_datasource import SSTableDataSource

    assert len(cloudpickle.dumps(SSTableDataSource)) < 1024


def test_package_zip_is_named_by_its_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg = str(tmp_path / "copy" / "cassowary_spark")
    shutil.copytree(session.PACKAGE_DIR, pkg, ignore=shutil.ignore_patterns("__pycache__"))

    first = session.package_zip(pkg)
    assert os.path.dirname(first) == str(tmp_path)
    names = zipfile.ZipFile(first).namelist()
    assert "cassowary_spark/__init__.pyc" in names
    assert "cassowary_spark/sources/sstable_datasource.pyc" in names
    assert not [n for n in names if n.endswith(".py")]
    os.remove(first)
    assert session.package_zip(pkg) == first  # a rebuild of the same tree

    with open(os.path.join(pkg, "sources", "murmur3.py"), "a") as f:
        f.write("\n# edited\n")
    edited = session.package_zip(pkg)
    assert edited != first and os.path.exists(edited)


_CHILD = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from cassowary_spark import registry, session
registry.load_all()
from pyspark.sql import SparkSession
from cassowary_spark.sources.sstable_datasource import read_sstable, write_sstable

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sf = {sf!r}
out = {{}}
out["clustered"] = registry.QUERIES["q_sstable_clustered"](spark, sf).count()
snap = os.path.join(os.getcwd(), "snap")
write_sstable(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), snap, key="k")
out["written"] = sorted(tuple(r) for r in read_sstable(spark, snap).collect())
mm = registry.QUERIES["q_mm_decode"](spark, sf)
out["mm_plan"] = mm._jdf.queryExecution().executedPlan().toString()
out["mm_rows"] = mm.count()
out["zip"] = os.path.basename(session._shipped_zip)
out["worker_file"] = (
    spark.sparkContext.parallelize([0], 1)
    .map(lambda _: __import__("cassowary_spark").__file__)
    .collect()[0]
)
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_foreign_cwd_session_imports_the_package_from_the_shipped_zip(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["clustered"] > 0
    assert out["written"] == [[1, "a"], [2, "b"]]
    assert "MapInPandas" in out["mm_plan"] and out["mm_rows"] > 0
    assert out["zip"].endswith(".zip")
    zip_part = os.sep + out["zip"] + os.sep
    assert zip_part + os.path.join("cassowary_spark", "__init__.pyc") in out["worker_file"], out
