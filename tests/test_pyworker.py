"""The engine's Python daemon (``spark_ml_showcase_spark/pyworker.py``):
zip directories stay cached across tasks unless the archive changes, and
the daemon starts from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F

from spark_ml_showcase_spark import pyworker

from conftest import REPO


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pyworker_probe_a.py": "VALUE = 1\n"})
    reads = []
    read_directory = pyworker._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(pyworker, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        import pyworker_probe_a

        assert pyworker_probe_a.VALUE == 1
        importlib.invalidate_caches()  # first call in this process: reads and stamps
        assert reads == [archive]
        entry = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [archive]  # unchanged: not re-read
        assert zipimport._zip_directory_cache[archive] is entry

        # a rewritten archive (new size and mtime) is re-read, and its new
        # module imports
        _write_zip(archive, {"pyworker_probe_a.py": "VALUE = 1\n", "pyworker_probe_b.py": "VALUE = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [archive, archive]
        assert zipimport._zip_directory_cache[archive] is not entry
        import pyworker_probe_b

        assert pyworker_probe_b.VALUE == 2
    finally:
        for name in ("pyworker_probe_a", "pyworker_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._stamps.pop(archive, None)


def test_engine_workers_keep_the_pyspark_zip_directory_across_jobs(spark):
    assert spark.conf.get("spark.python.daemon.module") == "spark_ml_showcase_spark.pyworker"

    @F.pandas_udf("string")
    def zip_directory_probe(ids: pd.Series) -> pd.Series:
        """The identity of the worker's cached ``pyspark.zip`` directory,
        kept alive on the ``zipimport`` module so that a re-read entry
        cannot reuse a freed one's address."""
        import zipimport

        entry = next(
            v for k, v in zipimport._zip_directory_cache.items() if k.endswith("pyspark.zip")
        )
        zipimport.__dict__.setdefault("_probe_entries", []).append(entry)
        return pd.Series([str(id(entry))] * len(ids))

    probe = spark.range(100).coalesce(1).select(zip_directory_probe("id").alias("p"))
    seen = [{r.p for r in probe.collect()} for _ in range(2)]
    assert len(seen[0]) == 1
    assert seen[0] == seen[1]


@pytest.mark.parametrize("launcher", ["python", "spark-submit"])
def test_package_udf_runs_from_another_working_directory(tmp_path, launcher):
    """The daemon imports the package, so a worker started from any cwd
    must find it; ``session_builder`` puts the package root on the
    executors' PYTHONPATH after the one spark-submit configured."""
    configured = str(tmp_path / "userlib")
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql import functions as F\n"
        "from spark_ml_showcase_spark.session import session_builder\n"
        "from spark_ml_showcase_spark.functions.similarity import cosine_udf\n"
        "spark = session_builder('pyworker-cwd', master='local[1]', shuffle_partitions=1).getOrCreate()\n"
        "print(spark.sparkContext.getConf().get('spark.executorEnv.PYTHONPATH'))\n"
        "df = spark.range(3).select(F.array(F.lit(1.0), F.col('id').cast('double')).alias('v'))\n"
        "print(sorted(round(r.c, 6) for r in df.select(cosine_udf()('v', 'v').alias('c')).collect()))\n"
        "spark.stop()\n"
    )
    if launcher == "python":
        cmd = [sys.executable, "-c", code]
        expected_path = REPO
    else:
        script = tmp_path / "job.py"
        script.write_text(code)
        cmd = [
            os.path.join(_find_spark_home(), "bin", "spark-submit"),
            "--conf", f"spark.executorEnv.PYTHONPATH={configured}", str(script),
        ]
        expected_path = os.pathsep.join([configured, REPO])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        cmd, env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-2:] == [expected_path, "[1.0, 1.0, 1.0]"]
