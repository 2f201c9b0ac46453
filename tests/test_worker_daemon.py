"""The local session's Python daemon (worker_daemon.py): workers import the
installed pyspark rather than Spark's zipped copy, the path rule that
decides it, and a driver started outside the repo root."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pyspark

from pipe_segment_spark.worker_daemon import unzipped_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_the_installed_pyspark(spark):
    # defined here so that cloudpickle ships it by value
    def worker_facts(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        org = sys.modules.get("org")
        yield pd.DataFrame(
            {
                "pyspark_file": [pyspark.__file__],
                "zipimporters": [
                    sum(
                        isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
                "org_from_jar": [
                    org is not None
                    and any(".jar" + os.sep in p for p in org.__path__)
                ],
                "version": [pyspark.__version__],
            }
        )

    rows = (
        spark.range(0, 64, numPartitions=4)
        .mapInPandas(
            worker_facts,
            "pyspark_file string, zipimporters long, org_from_jar boolean, "
            "version string",
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert os.path.isfile(r.pyspark_file), r.pyspark_file
        assert r.zipimporters == 0
        assert not r.org_from_jar
        assert r.version == pyspark.__version__


def test_driver_outside_the_repo_runs_python_udfs(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pipe_segment_spark.session import build_session

        spark = build_session(app_name="outside-the-repo", cores=1)
        df = spark.range(3).mapInPandas(
            lambda batches: (b + 1 for b in batches), "id long")
        print("ids", sorted(r.id for r in df.collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ids [1, 2, 3]" in out.stdout


def _layout(root, pyspark_version="9.9.9", py4j=True):
    """A worker path as Spark builds it: pyspark.zip and the py4j zip in
    ``lib``, the spark-core jar, then ``site`` with unpacked packages."""
    lib, site = root / "lib", root / "site"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", '__version__ = "9.9.9"\n')
    with zipfile.ZipFile(lib / "py4j-0.0.0-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    if pyspark_version is not None:
        (site / "pyspark").mkdir(parents=True)
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f'__version__ = "{pyspark_version}"\n'
        )
    if py4j:
        (site / "py4j").mkdir(parents=True)
        (site / "py4j" / "__init__.py").write_text("")
    site.mkdir(exist_ok=True)
    return [
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.0.0-src.zip"),
        str(root / "jars" / "spark-core_2.13-9.9.9.jar"),
        str(site),
    ]


def test_path_rule_drops_the_archives_when_versions_match(tmp_path):
    path = _layout(tmp_path)
    assert unzipped_path(path) == [path[-1]]


def test_path_rule_keeps_the_path_without_an_unpacked_pyspark(tmp_path):
    path = _layout(tmp_path, pyspark_version=None)
    assert unzipped_path(path) == path


def test_path_rule_keeps_the_path_without_py4j(tmp_path):
    path = _layout(tmp_path, py4j=False)
    assert unzipped_path(path) == path


def test_path_rule_keeps_the_path_when_versions_differ(tmp_path):
    path = _layout(tmp_path, pyspark_version="9.9.8")
    assert unzipped_path(path) == path


def test_path_rule_keeps_a_path_without_pyspark_zip():
    path = ["/a/site-packages", "/b/other.zip"]
    assert unzipped_path(path) == path
