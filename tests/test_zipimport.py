"""zipimporter.invalidate_caches re-reads an archive only when it changed
(ctinexus_spark/_zipimport.py). Counts calls to zipimport._read_directory,
the central-directory parse PySpark's per-task setup would otherwise
repeat for every cached zip importer; no timing asserts."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle

import ctinexus_spark  # noqa: F401  (installs the wrapper)
from ctinexus_spark import _zipimport
from ctinexus_spark.graph import components
from ctinexus_spark.operators import normalize, similarity

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches is lazy on CPython >= 3.13"
)


def _count_rereads() -> tuple[int, int]:
    """(archives re-read by one invalidate_caches() call, zip importers cached)."""
    original = zipimport._read_directory
    paths = []

    def counting(path):
        paths.append(path)
        return original(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = original
    cached = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    return len(paths), cached


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipmod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipmod_a", "zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipmod_a").VALUE == 1

    primed, cached = _count_rereads()
    assert primed >= 1 and cached >= 1
    assert _count_rereads()[0] == 0

    _write_zip(archive, {"zipmod_a": "VALUE = 1\n", "zipmod_b": "VALUE = 2\n"})
    assert _count_rereads()[0] == 1
    assert importlib.import_module("zipmod_b").VALUE == 2


def test_missing_archive_takes_the_original_error_path(tmp_path):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"zipmod_gone": "VALUE = 0\n"})
    importer = zipimport.zipimporter(str(archive))
    archive.unlink()
    importer.invalidate_caches()
    assert importer._files == {}


def test_install_is_idempotent_and_skips_lazy_pythons(monkeypatch):
    wrapped = zipimport.zipimporter.invalidate_caches
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped

    plain = wrapped.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is plain


def _worker_rereads(batches):
    for _ in batches:
        pass
    importlib.invalidate_caches()  # prime: stamps every cached importer
    rereads, cached = _count_rereads()
    yield pd.DataFrame({"rereads": [rereads], "cached": [cached]})


def test_python_workers_reread_no_unchanged_archive(spark):
    slots = spark.sparkContext.defaultParallelism
    rows = (
        spark.range(slots, numPartitions=slots)
        .mapInPandas(_worker_rereads, "rereads long, cached long")
        .collect()
    )
    assert len(rows) == slots
    assert all(r.cached > 0 for r in rows)  # pyspark.zip et al. are on the worker path
    assert [r.rereads for r in rows] == [0] * slots


def _unpickling_imports_library(func) -> bool:
    """Does a fresh interpreter import ctinexus_spark while unpickling
    func, as a Python worker does when it reads the task's UDF?"""
    probe = "import pickle, sys; pickle.loads(sys.stdin.buffer.read()); print('ctinexus_spark' in sys.modules)"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(ctinexus_spark.__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe],
        input=cloudpickle.dumps(func),
        capture_output=True,
        env={**os.environ, "PYTHONPATH": repo},
        check=True,
    )
    return out.stdout.strip() == b"True"


def test_library_udfs_import_the_package_on_the_worker(spark, monkeypatch):
    recorded = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    real_udf, real_map = similarity.pandas_udf, frame.mapInPandas

    def recording_udf(f, *rest):
        if isinstance(f, str):  # decorator form: pandas_udf("ddl")
            return lambda fn: recording_udf(fn, f)
        recorded.append(f)
        return real_udf(f, *rest)

    monkeypatch.setattr(similarity, "pandas_udf", recording_udf)
    monkeypatch.setattr(frame, "mapInPandas", lambda self, f, *a, **k: recorded.append(f) or real_map(self, f, *a, **k))
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    similarity.lsh_band_buckets(vecs, dim=2)
    similarity.cosine_udf()
    similarity._assign_udf(np.eye(2))
    similarity._probe_udf(np.eye(2), 1)
    components.contract_edges(spark.createDataFrame([(1, 2)], "src long, dst long"))
    funcs = recorded + [normalize._normalize_batch]
    assert len(funcs) == 6
    assert [_unpickling_imports_library(f) for f in funcs] == [True] * 6
    assert not _unpickling_imports_library(lambda s: s)  # a self-contained UDF does not
