"""The stat guard on ``zipimporter.invalidate_caches`` (gdal_spark/_zipcache.py):
unchanged archives are not re-read, changed ones are, the guard installs once,
and Python workers get it through the engine import."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from gdal_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="stdlib invalidate_caches is lazy on >= 3.13"
)


@pytest.fixture
def reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls."""
    calls = []
    read = zipimport._read_directory

    def counting_read(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return calls


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with one module, on ``sys.path`` for the test only."""
    path = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zc_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_first", "zc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    _zipcache._reads.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.import_module("zc_first")
    importlib.invalidate_caches()  # first call for this archive: one full read
    before = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads[before:].count(archive) == 0


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_changed_archive_is_reread(archive, reads, change):
    importlib.import_module("zc_first")
    importlib.invalidate_caches()
    st = os.stat(archive)
    mtime = st.st_mtime_ns + 1_000_000
    if change == "size":
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zc_second.py", "VALUE = 2\n")
        mtime = st.st_mtime_ns  # the new size alone must trigger the read
    os.utime(archive, ns=(st.st_atime_ns, mtime))
    before = len(reads)
    importlib.invalidate_caches()
    assert reads[before:].count(archive) == 1
    if change == "size":
        assert importlib.import_module("zc_second").VALUE == 2


def test_importers_of_one_archive_share_a_read(archive, reads):
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    importers[0].invalidate_caches()
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("zc_second.py", "VALUE = 2\n")
    before = len(reads)
    for imp in importers:
        imp.invalidate_caches()
    assert reads[before:].count(archive) == 1
    assert all(imp.find_spec("zc_second") is not None for imp in importers)


def test_missing_archive_takes_the_original_path(archive, reads):
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in _zipcache._reads


def test_install_twice_wraps_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert hasattr(guarded, "__wrapped__")  # installed by importing gdal_spark
    _zipcache.install()
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not hasattr(guarded.__wrapped__, "__wrapped__")


def test_left_alone_on_python_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_workers_get_the_guard_through_the_engine_import(spark):
    from pyspark.sql import functions as F

    from gdal_spark.data import pages as P
    from gdal_spark.operators import pip_join as PJ

    pts = P.pages_df(spark, 400).select("lon", "lat").repartition(4)
    PJ.pip_join(pts, P.polygons_df(spark)).write.format("noop").mode("overwrite").save()

    # Nested, so cloudpickle ships it by value: the probe imports no engine code.
    @F.arrow_udf("string")
    def probe(x):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        state = "%d:%s:%s" % (
            os.getpid(),
            "gdal_spark" in sys.modules,
            hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"),
        )
        return pa.array([state] * len(x))

    rows = spark.range(0, 64, 1, 64).select(probe("id").alias("s")).distinct().collect()
    workers = {tuple(r.s.split(":")) for r in rows}
    # A worker has the guard exactly when it has imported the engine ...
    assert all(engine == guard for _, engine, guard in workers), workers
    # ... and the workers that ran the pip_join job have both.
    assert any(guard == "True" for _, _, guard in workers), workers


def test_shipped_package_dir_removed_at_exit(monkeypatch):
    from gdal_spark import session

    registered, shipped = [], []
    monkeypatch.setattr(
        session.atexit, "register", lambda f, *a, **k: registered.append((f, a, k))
    )
    sc = types.SimpleNamespace(addPyFile=shipped.append)
    session._ship_package(types.SimpleNamespace(sparkContext=sc))

    (zip_path,) = shipped
    tmp_dir = os.path.dirname(zip_path)
    assert os.path.basename(tmp_dir).startswith("gdal_spark_pyfiles_")
    assert os.path.exists(zip_path)  # kept while the context may serve it
    (f, args, kwargs), = registered
    f(*args, **kwargs)
    assert not os.path.exists(tmp_dir)
