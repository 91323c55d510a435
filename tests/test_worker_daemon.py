"""``worker_daemon``: Spark's pyspark zip and jars leave the workers' path
only when the zip holds the installed pyspark release (checked on a fake
``$SPARK_HOME``); local sessions' Python workers import pyspark from the
installed package; a session on the stock daemon returns the same rows."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from datasheet_etl_spark.session import DAEMON_MODULE, WORKER_DAEMON
from datasheet_etl_spark.worker_daemon import _prune_spark_archives

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b"__version__: str = '4.1.2'\n"


@pytest.fixture
def fake(tmp_path):
    """A ``$SPARK_HOME`` reached through a symlink (as an unpacked Spark
    often is), with a pyspark zip, a py4j zip and a jar; an installed pyspark; a
    user directory; and the workers' ``sys.path`` and importer cache."""
    real = tmp_path / "spark-4.1.2-bin"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    home = tmp_path / "spark"
    home.symlink_to(real)
    shipped = home / "python" / "lib" / "pyspark.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION)
    py4j = home / "python" / "lib" / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = real / "jars" / "spark-core_2.13-4.1.2.jar"  # realpath, as Spark adds it
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/x.class", "")
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(VERSION)
    user = tmp_path / "userFiles"
    user.mkdir()
    path = [str(user), str(shipped), str(py4j), str(jar), str(site)]
    cache = {p: object() for p in path}
    cache[f"{shipped}{os.sep}pyspark"] = object()
    return home, site, path, cache


def test_a_matching_release_drops_the_zip_and_jars_only(fake):
    home, _, path, cache = fake
    user, shipped, py4j, jar, site = path
    assert _prune_spark_archives(path, cache, str(home)) is True
    assert path == [user, py4j, site]
    assert set(cache) == {user, py4j, site}


def test_a_different_release_changes_nothing(fake):
    home, site, path, cache = fake
    (site / "pyspark" / "version.py").write_bytes(b"__version__: str = '4.1.1'\n")
    before = (list(path), dict(cache))
    assert _prune_spark_archives(path, cache, str(home)) is False
    assert (path, cache) == before


def test_no_installed_pyspark_changes_nothing(fake):
    home, site, path, cache = fake
    path.remove(str(site))
    before = (list(path), dict(cache))
    assert _prune_spark_archives(path, cache, str(home)) is False
    assert (path, cache) == before
    assert _prune_spark_archives(path, cache, "") is False
    assert (path, cache) == before


def test_importing_the_daemon_module_loads_no_pyspark():
    code = (
        "import sys, datasheet_etl_spark.worker_daemon\n"
        "print(' '.join(m for m in sys.modules if m.split('.')[0].startswith('pyspark')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        check=True, timeout=120,
    )
    assert out.stdout.split() == []


def _python_worker_rows(spark) -> dict:
    """Where a worker imports pyspark from, and the rows of three Python
    worker paths: local rows through ``createDataFrame``, a pandas UDF and
    ``mapInArrow``, in a JSON-comparable form."""
    from datasheet_etl_spark.operators import dedup, text

    def worker_report(_):  # nested: pickled by value, not by test module name
        import zipimport

        import pyspark

        zips = sorted(
            v.archive for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        )
        yield pyspark.__file__, zips

    rows = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, -0.25), (3, "Ünï", 1e300)], "id long, s string, x double"
    )
    hashes = spark.createDataFrame([(1, [1, 2, 3]), (2, [5, 7]), (3, [])], "id long, h array<long>")
    docs = spark.createDataFrame(
        [(1, "Hello World"), (2, None), (3, "ÄBc dEF")], "doc_id long, text string"
    )
    out = {
        "worker": spark.sparkContext.parallelize([0], 1).mapPartitions(worker_report).collect(),
        "rows": rows.collect(),
        "minhash": hashes.select("id", dedup.minhash_signature_col("h", num_perm=8)).collect(),
        "arrow": text.arrow_byte_stats(docs).collect(),
    }
    return json.loads(json.dumps({k: sorted(map(list, v)) for k, v in out.items()}))


def test_shared_session_workers_import_pyspark_outside_any_zip(spark):
    assert spark.sparkContext.getConf().get(DAEMON_MODULE) == WORKER_DAEMON
    import pyspark

    ((pyspark_file, zips),) = _python_worker_rows(spark)["worker"]
    assert pyspark_file == pyspark.__file__ and ".zip" not in pyspark_file, pyspark_file
    # py4j keeps its zip; Spark's pyspark zip and jars are gone
    assert all(os.path.basename(z).startswith("py4j-") for z in zips), zips


def test_the_stock_daemon_returns_the_same_rows(spark, tmp_path):
    """Conf toggle: a session started with ``pyspark.daemon`` (the opt-out)
    imports pyspark from Spark's zip and returns the rows the shared
    session returns through the engine's daemon."""
    out = tmp_path / "stock.json"
    code = (
        "import json, sys\n"
        "sys.path.insert(0, 'tests')\n"
        "from datasheet_etl_spark.session import get_session\n"
        "from test_worker_daemon import _python_worker_rows\n"
        "spark = get_session(master='local[2]', shuffle_partitions=2, driver_memory='1g',\n"
        f"    extra_conf={{{DAEMON_MODULE!r}: 'pyspark.daemon'}})\n"
        f"daemon = spark.sparkContext.getConf().get({DAEMON_MODULE!r})\n"
        "rows = _python_worker_rows(spark)\n"
        "spark.stop()\n"
        "with open(sys.argv[1], 'w') as fh:\n"
        "    json.dump({'daemon': daemon, **rows}, fh)\n"
    )
    subprocess.run([sys.executable, "-c", code, str(out)], cwd=ROOT, check=True, timeout=600)
    stock = json.loads(out.read_text())
    ours = _python_worker_rows(spark)
    assert stock.pop("daemon") == "pyspark.daemon"
    ((stock_pyspark, _),) = stock.pop("worker")
    assert stock_pyspark.endswith(os.path.join("pyspark.zip", "pyspark", "__init__.py"))
    ours.pop("worker")
    assert stock == ours
    assert [len(v) for v in ours.values()] == [3, 3, 3]
