"""Session layer: the Python-worker daemon imports the installed PySpark.

- the path rule as a pure function over a fake ``sys.path``
- a pandas UDF's worker imports pyspark outside any zip and holds no
  zipimporter for SPARK_HOME's archives after its task
- a session started outside the repository still starts its workers
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.worker_daemon import drop_spark_archives

ROOT = Path(__file__).resolve().parents[1]


def _spark_home(tmp_path: Path, zip_version: str) -> tuple[list[str], dict]:
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    archives = [
        str(pyspark_zip),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"),
    ]
    path = ["/work/files", *archives, "/site-packages"]
    cache = {p: object() for p in path}
    cache[str(pyspark_zip / "pyspark" / "sql")] = object()  # a subpackage's importer
    return path, cache


def test_archives_dropped_when_versions_match(tmp_path):
    path, cache = _spark_home(tmp_path, "4.1.2")
    archives = path[1:4]
    assert drop_spark_archives(path, cache, "4.1.2") == archives
    assert path == ["/work/files", "/site-packages"]
    assert set(cache) == {"/work/files", "/site-packages"}


def test_archives_kept_on_version_mismatch_or_no_install(tmp_path):
    for zip_version, installed in (("4.1.1", "4.1.2"), ("4.1.2", None)):
        home = tmp_path / f"{zip_version}-{installed}"
        path, cache = _spark_home(home, zip_version)
        before_path, before_cache = list(path), dict(cache)
        assert drop_spark_archives(path, cache, installed) == []
        assert path == before_path
        assert cache == before_cache


def test_worker_imports_installed_pyspark(spark):
    @F.pandas_udf("string")
    def worker_imports(s: pd.Series) -> pd.Series:
        import os
        import sys
        import zipimport

        import pyspark

        home = os.environ.get("SPARK_HOME", "/opt/spark")
        n = sum(
            isinstance(imp, zipimport.zipimporter) and key.startswith(home)
            for key, imp in sys.path_importer_cache.items()
        )
        return pd.Series([f"{pyspark.__file__}|{n}"] * len(s))

    rows = spark.range(2, numPartitions=2).select(worker_imports(F.col("id").cast("string")))
    for pyspark_file, n_zip_importers in {tuple(r[0].rsplit("|", 1)) for r in rows.collect()}:
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
        assert n_zip_importers == "0"


def test_session_starts_workers_outside_the_repo(tmp_path):
    """The daemon module is found through the workers' PYTHONPATH, not
    the driver's working directory."""
    script = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
import pandas as pd
from pyspark.sql import functions as F
from webscrape_neko_jirushi_spark.session import get_spark

spark = get_spark("outside-repo", cores=1, shuffle_partitions=1)

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print("SUM", spark.range(3).select(plus_one("id").alias("v")).groupBy().sum("v").first()[0])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "SUM 6" in proc.stdout, proc.stderr[-3000:]
