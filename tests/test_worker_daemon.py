"""plans.worker_daemon: zip directories are re-read only when the archive
changed, and a session from get_spark really forks its workers from it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from tiff_to_geojson_csv_json_format_converter_spark.plans import session, worker_daemon

MOD = "_worker_daemon_probe"
needs_311 = pytest.mark.skipif(sys.version_info >= (3, 12), reason="patch installs only before 3.12")


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MOD}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module; the stock invalidate_caches
    comes back after the test."""
    arc = tmp_path / "probe.zip"
    _write_zip(arc, "one")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(str(arc))
    monkeypatch.delitem(sys.modules, MOD, raising=False)
    yield arc
    sys.modules.pop(MOD, None)
    zipimport._zip_directory_cache.pop(str(arc), None)


def _count_reads(monkeypatch, arc) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(arc):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_311
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert importlib.import_module(MOD).VALUE == "one"
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1  # the stock importer re-reads on every call
    assert worker_daemon.install()
    assert not worker_daemon.install()  # idempotent
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


@needs_311
def test_rewritten_archive_is_reread(archive, monkeypatch):
    assert importlib.import_module(MOD).VALUE == "one"
    assert worker_daemon.install()
    reads = _count_reads(monkeypatch, archive)
    _write_zip(archive, "second")  # new size, new mtime
    importlib.invalidate_caches()
    assert len(reads) == 1
    sys.modules.pop(MOD)
    assert importlib.import_module(MOD).VALUE == "second"
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_no_patch_from_python_312(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_daemon_conf_is_local_only():
    name = "tiff_to_geojson_csv_json_format_converter_spark.plans.worker_daemon"
    for master in ("local", "local[2]", "local[*]"):
        assert session.session_conf(master)["spark.python.daemon.module"] == name
    for master in (None, "spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert "spark.python.daemon.module" not in session.session_conf(master)
    own = {"spark.python.daemon.module": "pyspark.daemon"}
    assert session.session_conf("local[2]", extra_conf=own)["spark.python.daemon.module"] == "pyspark.daemon"


JIT_KEY = "spark.driver.defaultJavaOptions"


def test_jit_policy_conf_is_local_only():
    for master in ("local", "local[2]"):
        assert session.session_conf(master)[JIT_KEY] == session.DRIVER_JIT_OPTIONS
    for master in (None, "spark://host:7077", "yarn"):
        assert JIT_KEY not in session.session_conf(master)
    own = {JIT_KEY: "-XX:CompileThresholdScaling=1"}
    assert session.session_conf("local[2]", extra_conf=own)[JIT_KEY] == own[JIT_KEY]
    extra = {"spark.driver.extraJavaOptions": "-Dfoo=bar"}
    conf = session.session_conf("local[2]", extra_conf=extra)
    assert conf[JIT_KEY] == session.DRIVER_JIT_OPTIONS
    assert conf["spark.driver.extraJavaOptions"] == "-Dfoo=bar"


def test_spark_jvm_runs_the_jit_policy(spark):
    """The session fixture's JVM was launched with 3x the JVM's C2
    (tier 4) thresholds and its own C1 (tier 3) ones."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.com.sun.management.HotSpotDiagnosticMXBean._java_lang_class)
    flags = {name: int(bean.getVMOption(name).getValue()) for name in (
        "Tier4InvocationThreshold", "Tier4MinInvocationThreshold", "Tier4CompileThreshold",
        "Tier4BackEdgeThreshold", "Tier3InvocationThreshold", "Tier3CompileThreshold")}
    assert flags == {"Tier4InvocationThreshold": 15000, "Tier4MinInvocationThreshold": 1800,
                     "Tier4CompileThreshold": 45000, "Tier4BackEdgeThreshold": 120000,
                     "Tier3InvocationThreshold": 200, "Tier3CompileThreshold": 2000}


def test_spark_workers_fork_from_the_daemon(spark):
    """The session fixture is get_spark(master="local[4]"): its Python
    workers carry the daemon's patch and its frozen objects."""

    def probe(batches):
        import gc as _gc
        import zipimport as _zi

        import pyarrow as pa

        n = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict({
            "rows": [n],
            "patched": [hasattr(_zi.zipimporter.invalidate_caches, "stat_keys")],
            "frozen": [_gc.get_freeze_count()],
        })

    rows = spark.range(0, 8, numPartitions=4).mapInArrow(
        probe, "rows long, patched boolean, frozen long").collect()
    assert sum(r.rows for r in rows) == 8
    assert all(r.patched for r in rows) == (sys.version_info < (3, 12))
    assert all(r.frozen > 0 for r in rows)
