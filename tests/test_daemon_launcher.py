"""The Python-daemon launcher (plans/daemon_launcher.py): its PYTHONPATH
rule as a pure function over temp dirs and zips, and a live session's
workers."""

import os
import zipfile

import pytest

from geo_sim_processing_a_spark.plans import daemon_launcher as DL

VERSION = b'__version__: str = "4.1.2"\n'
PY4J_VERSION = b'__version__ = "0.10.9.9"\n'


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _tree(root, files):
    for name, data in files.items():
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    return str(root)


@pytest.fixture
def layout(tmp_path):
    """The JVM's worker PYTHONPATH (pyspark.zip, the py4j zip, the
    Spark core jar) ahead of an application dir, plus a site dir with
    the unpacked packages of the same versions."""
    pyspark_zip = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
        "pyspark/sql/__init__.py": b""})
    py4j_zip = _zip(tmp_path / "py4j-0.10.9.9-src.zip", {
        "py4j/__init__.py": b"", "py4j/version.py": PY4J_VERSION})
    jar = _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {
        "META-INF/MANIFEST.MF": b"Manifest-Version: 1.0\n",
        "org/apache/spark/SparkContext.class": b"\xca\xfe\xba\xbe",
        "pyspark/python/worker.R": b""})
    app = _tree(tmp_path / "app", {"job.py": b""})
    site = _tree(tmp_path / "site", {
        "pyspark/__init__.py": b"", "pyspark/version.py": VERSION,
        "py4j/__init__.py": b"", "py4j/version.py": PY4J_VERSION})
    archives = [pyspark_zip, py4j_zip, jar]
    return tmp_path, archives, app, site


def _slim(entries, site, cwd=None):
    pythonpath = os.pathsep.join(entries)
    head = [cwd] if cwd else []
    return pythonpath, DL.slim_pythonpath(pythonpath, [*head, *entries, site])


def test_archive_modules(layout):
    _, (pyspark_zip, py4j_zip, jar), app, _ = layout
    assert DL.archive_modules(pyspark_zip) == {"pyspark"}
    assert DL.archive_modules(py4j_zip) == {"py4j"}
    assert DL.archive_modules(jar) == set()
    assert DL.archive_modules(app) is None


def test_drops_pyspark_py4j_and_jar_when_unpacked_versions_match(layout):
    _, archives, app, site = layout
    _, slim = _slim([*archives, app], site)
    assert slim == app
    _, slim = _slim(archives, site)
    assert slim == ""


@pytest.mark.parametrize("pkg", ["pyspark", "py4j"])
def test_keeps_pythonpath_when_version_py_differs(layout, pkg):
    _, archives, app, site = layout
    with open(os.path.join(site, pkg, "version.py"), "ab") as f:
        f.write(b"# patched\n")
    pythonpath, slim = _slim([*archives, app], site)
    assert slim == pythonpath


@pytest.mark.parametrize("pkg", ["pyspark", "py4j"])
def test_keeps_pythonpath_without_unpacked_copy(layout, pkg):
    _, archives, app, site = layout
    os.rename(os.path.join(site, pkg), os.path.join(site, "_" + pkg))
    pythonpath, slim = _slim([*archives, app], site)
    assert slim == pythonpath


def test_keeps_pythonpath_when_archive_has_no_version_py(layout):
    tmp_path, (_, py4j_zip, jar), app, site = layout
    bare = _zip(tmp_path / "bare.zip", {"pyspark/__init__.py": b""})
    pythonpath, slim = _slim([bare, py4j_zip, jar, app], site)
    assert slim == pythonpath


def test_resolves_against_the_rest_of_the_path_in_order(layout):
    """An earlier unpacked pyspark of another version (here in the
    working directory, sys.path[0] of a ``-m`` daemon) is what the
    daemon would import once the archives are gone."""
    tmp_path, archives, app, site = layout
    cwd = _tree(tmp_path / "cwd", {
        "pyspark/__init__.py": b"", "pyspark/version.py": b'__version__ = "3.5.0"\n'})
    pythonpath, slim = _slim([*archives, app], site, cwd=cwd)
    assert slim == pythonpath


def test_never_drops_an_archive_carrying_other_modules(layout):
    """A --py-files package zip (tools/build_dist.py's
    dist/geo_sim_spark.zip) stays, whether or not it also carries a
    pyspark/py4j module; the pyspark/py4j-only archives go only when
    the rest of the path still resolves the unpacked copies."""
    tmp_path, archives, app, site = layout
    dist = _zip(tmp_path / "geo_sim_spark.zip", {
        "geo_sim_processing_a_spark/__init__.py": b"",
        "geo_sim_processing_a_spark/plans/session.py": b""})
    _, slim = _slim([*archives, dist, app], site)
    assert slim == os.pathsep.join([dist, app])
    # a top-level module next to py4j makes the archive an app archive
    mixed = _zip(tmp_path / "mixed.zip", {
        "py4j/__init__.py": b"", "py4j/version.py": PY4J_VERSION,
        "helpers.py": b""})
    _, slim = _slim([*archives, mixed], site)
    assert mixed in slim.split(os.pathsep)
    # the kept archive shadows site's py4j: nothing may be dropped
    pythonpath, slim = _slim([mixed, *archives], site)
    assert slim == pythonpath


def test_daemon_argv_keeps_interpreter_options_and_arguments():
    argv = ["/repo/geo_sim_processing_a_spark/plans/daemon_launcher.py",
            "pyspark.worker"]
    assert DL.daemon_argv(
        ["python", "-m", DL.__name__, "pyspark.worker"], argv) == [
        "python", "-m", "pyspark.daemon", "pyspark.worker"]
    assert DL.daemon_argv(
        ["python3", "-X", "dev", f"-m{DL.__name__}", "pyspark.worker"],
        argv) == ["python3", "-X", "dev", "-m", "pyspark.daemon",
                  "pyspark.worker"]


def test_session_falls_back_when_workers_cannot_import_the_launcher(
        tmp_path, monkeypatch):
    """Local workers start in the driver's working directory with its
    PYTHONPATH: without the package on either, the session keeps the
    stock daemon instead of one that fails to start."""
    from geo_sim_processing_a_spark.plans import session
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    assert session._daemon_module() == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", root)
    assert session._daemon_module() == DL.__name__
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH")
    assert session._daemon_module() == DL.__name__


def test_live_workers_import_unpacked_pyspark(spark):
    """A probe task reports what its worker runs on: the unpacked
    pyspark of the session's version, no zipimporter left to re-read
    on each task's invalidate_caches(), and a stock
    ``-m pyspark.daemon`` parent (the benchmark finds the workers'
    peak RSS by that command line)."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        import pyspark
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().split(b"\0")
        zips = sum(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({
            "file": [pyspark.__file__], "version": [pyspark.__version__],
            "zips": [zips], "parent_daemon": [
                any(a == b"-m" and b == b"pyspark.daemon"
                    for a, b in zip(parent, parent[1:]))]})

    rows = (spark.range(0, 4, numPartitions=2)
            .mapInPandas(probe, "file string, version string, zips int, "
                         "parent_daemon boolean").collect())
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert r.version == spark.version
        assert r.zips == 0
        assert r.parent_daemon
