"""Driver/executor code identity: executors import exactly the package
sources the driver runs, even when a zip of older sources is still in
``$TMPDIR`` and the driver starts outside the source tree."""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = r'''
import hashlib, importlib.util, json, pkgutil

from pyspark.sql import SparkSession


def digest(_=None):
    import ee_outliers_spark as pkg
    from ee_outliers_spark import tokenizer

    names = [pkg.__name__] + sorted(m.name for m in pkgutil.walk_packages(
        pkg.__path__, pkg.__name__ + "."))
    h = hashlib.sha256()
    for name in names:
        h.update(name.encode() + b"\0")
        h.update((importlib.util.find_spec(name).loader.get_source(name)
                  or "").encode())
    return h.hexdigest(), hasattr(tokenizer, "EDITED_AFTER_ZIP")


from ee_outliers_spark import ensure_py_files

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
ensure_py_files(spark)
seen = spark.sparkContext.parallelize([0], 1).map(digest).collect()
print(json.dumps([digest(), seen]))
spark.stop()
'''


def test_executors_import_driver_sources_from_foreign_cwd(tmp_path):
    tree = tmp_path / "tree"
    shutil.copytree(os.path.join(REPO, "ee_outliers_spark"),
                    tree / "ee_outliers_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    (tmp_path / "tmp").mkdir()
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp_path / "tmp"),
               PYTHONPATH=str(tree))
    # a zip of the current sources lands in TMPDIR ...
    subprocess.run(
        [sys.executable, "-c",
         "import ee_outliers_spark as m; m._pyfiles_zip()"],
        cwd=cwd, env=env, check=True, timeout=120)
    # ... then the sources change, and a fresh driver starts elsewhere
    with open(tree / "ee_outliers_spark" / "tokenizer.py", "a") as fh:
        fh.write("\nEDITED_AFTER_ZIP = True\n")
    out = subprocess.run([sys.executable, "-c", DRIVER], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    driver, seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert driver[1], "driver did not import the edited tree"
    assert seen == [driver]
