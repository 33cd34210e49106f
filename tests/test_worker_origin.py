"""Where the Python workers import from.

Local ``get_spark`` sessions give their workers no archive on
``sys.path``: pyspark, py4j and this package come from directories, so
each task's ``importlib.invalidate_caches()`` has no zip to re-read
(``worker_daemon``).  They fork from a daemon that froze its objects
after importing pandas and pyarrow, so each task's ``gc.collect()``
skips them.  The second half pins the daemon's archive rule on temp
zips, without Spark."""

from __future__ import annotations

import json
import zipfile

import pyarrow as pa

from rca_pdf_extraction_pipeline_spark import worker_daemon


def test_workers_import_from_directories(spark):
    def origin(batches):
        import os
        import sys
        import zipimport

        import pyspark

        import rca_pdf_extraction_pipeline_spark as pkg

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "pyspark": [pyspark.__file__],
            "pyspark_is_file": [os.path.isfile(pyspark.__file__)],
            "zips": [json.dumps(zips)],
            "pkg_dir": [os.path.dirname(pkg.__file__)],
            "pkg_is_dir": [os.path.isdir(os.path.dirname(pkg.__file__))],
        })

    rows = (spark.range(0, 64, numPartitions=4)
            .mapInArrow(origin, "pyspark string, pyspark_is_file boolean, "
                        "zips string, pkg_dir string, pkg_is_dir boolean")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.pyspark_is_file, r.pyspark
        assert json.loads(r.zips) == []
        assert r.pkg_is_dir, r.pkg_dir


def test_workers_fork_from_a_frozen_daemon(spark):
    def frozen(batches):
        import gc

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"n": [gc.get_freeze_count()]})

    rows = (spark.range(0, 64, numPartitions=4)
            .mapInArrow(frozen, "n long").collect())
    assert len(rows) == 4
    assert all(r.n > 0 for r in rows), rows


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _installed(root, version: str | None):
    pkg = root / "pkg"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def test_archive_without_python_module_is_dropped(tmp_path):
    jar = _zip(tmp_path / "core.jar", {"META-INF/MANIFEST.MF": "x",
                                       "org/A.class": "x"})
    assert worker_daemon.redundant_archives([jar]) == [jar]


def test_zip_matching_installed_version_is_dropped(tmp_path):
    site = _installed(tmp_path / "site", "1.2.3")
    arc = _zip(tmp_path / "pkg.zip", {"pkg/__init__.py": "",
                                      "pkg/version.py": "__version__ = '1.2.3'\n",
                                      "pkg/tests/test_x.py": ""})
    assert worker_daemon.redundant_archives([arc, site]) == [arc]


def test_zip_with_other_version_is_kept(tmp_path):
    site = _installed(tmp_path / "site", "1.2.3")
    arc = _zip(tmp_path / "pkg.zip", {"pkg/__init__.py": "",
                                      "pkg/version.py": "__version__ = '1.2.4'\n"})
    assert worker_daemon.redundant_archives([arc, site]) == []


def test_zip_package_without_version_is_kept(tmp_path):
    site = _installed(tmp_path / "site", None)
    arc = _zip(tmp_path / "pkg.zip", {"pkg/__init__.py": "",
                                      "pkg/mod.py": ""})
    assert worker_daemon.redundant_archives([arc, site]) == []
