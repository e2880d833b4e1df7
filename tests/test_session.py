"""Session helpers (meilibridge_spark/session.py).

Covers: ``trim_importer_cache`` on synthetic archives (the Spark,
py4j and jar importers go, an unrelated zip's stays, a module not yet
imported from a dropped archive still imports, the unchanged-size fast
path does nothing) and in real Python workers; ``local_frame`` with a
``StructType`` schema.
"""

import sys
import zipfile
import zipimport

import pytest

from meilibridge_spark import session
from meilibridge_spark.session import local_frame, trim_importer_cache

# module names of the synthetic archives, unique to this file
FAKE_SPARK, FAKE_PY4J = "mb_fake_spark", "mb_fake_py4j"
JAR_A, JAR_B, USER_MOD = "mb_jar_mod_a", "mb_jar_mod_b", "mb_user_mod"


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def _zip_archives():
    return {
        f.archive
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    }


@pytest.fixture()
def archives(tmp_path, monkeypatch):
    """Synthetic stand-ins on sys.path: ``pyspark.zip`` / py4j archives
    whose packages are registered as the loaded ``pyspark`` / ``py4j``,
    a ``.jar`` and an unrelated user zip, each with a cached importer.
    The importer cache is a private dict for the test's duration."""
    paths = {
        "spark": _zip(
            tmp_path / "pyspark.zip",
            {f"{FAKE_SPARK}/__init__.py": "", f"{FAKE_SPARK}/sql/__init__.py": ""},
        ),
        "py4j": _zip(
            tmp_path / "py4j-src.zip", {f"{FAKE_PY4J}/__init__.py": ""}
        ),
        "jar": _zip(
            tmp_path / "spark-core.jar",
            {f"{JAR_A}.py": "A = 1\n", f"{JAR_B}.py": "B = 2\n"},
        ),
        "user": _zip(tmp_path / "user.zip", {f"{USER_MOD}.py": "U = 3\n"}),
    }
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.setattr(session, "_trimmed_len", -1)
    for p in paths.values():
        monkeypatch.syspath_prepend(p)
    try:
        __import__(f"{FAKE_SPARK}.sql")
        for name in (FAKE_PY4J, JAR_A, USER_MOD):
            __import__(name)
        monkeypatch.setitem(sys.modules, "pyspark", sys.modules[FAKE_SPARK])
        monkeypatch.setitem(sys.modules, "py4j", sys.modules[FAKE_PY4J])
        assert _zip_archives() == set(paths.values())
        yield paths
    finally:
        for name in (FAKE_SPARK, f"{FAKE_SPARK}.sql", FAKE_PY4J, JAR_A, JAR_B,
                     USER_MOD):
            sys.modules.pop(name, None)


def test_trim_drops_spark_archive_importers(archives):
    trim_importer_cache()
    assert _zip_archives() == {archives["user"]}
    # a module not yet imported from a dropped archive still imports:
    # the path hooks rebuild the jar's importer
    assert __import__(JAR_B).B == 2
    assert archives["jar"] in _zip_archives()
    trim_importer_cache()
    assert _zip_archives() == {archives["user"]}


def test_trim_fast_path_is_a_no_op(archives):
    trim_importer_cache()
    cache = sys.path_importer_cache
    size = len(cache)
    # same size, one entry swapped for a jar importer: the fast path
    # returns without looking at the entries
    cache[archives["user"]] = zipimport.zipimporter(archives["jar"])
    assert len(cache) == size
    trim_importer_cache()
    assert archives["jar"] in _zip_archives()
    # a grown cache is trimmed again
    cache[archives["user"] + "/pkg"] = zipimport.zipimporter(archives["user"])
    trim_importer_cache()
    assert _zip_archives() == {archives["user"]}


def test_trim_in_python_workers(spark):
    """In real workers pyspark and py4j are imported from Spark's zips
    and the spark-core jar is on the path; after a trim no importer over
    any of them is cached, on any partition."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        trim_importer_cache()
        kept = sorted(
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        )
        yield pd.DataFrame({"kept": ["\n".join(kept)]})

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInPandas(probe, "kept string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        for archive in filter(None, r["kept"].split("\n")):
            base = archive.rsplit("/", 1)[-1]
            assert not base.endswith(".jar"), archive
            assert not base.startswith(("pyspark", "py4j")), archive


def test_local_frame_takes_a_struct_type(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("vec", T.ArrayType(T.FloatType()), True),
        ]
    )
    rows = [(1, [0.1, 0.2]), (2, None), (3, [1.0 / 3.0])]
    got = local_frame(spark, rows, schema)
    assert got.schema == schema
    assert got.collect() == spark.createDataFrame(rows, schema).collect()
    assert local_frame(spark, [], schema).collect() == []
