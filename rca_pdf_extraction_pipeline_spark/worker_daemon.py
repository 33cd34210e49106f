"""``pyspark.daemon`` with no redundant archive on ``sys.path``.

Local sessions (``session.get_spark``) start their Python workers through
this module.  The JVM puts ``pyspark.zip``, the py4j zip and the spark-core
jar ahead of site-packages on the workers' ``PYTHONPATH``, and every task
ends with ``importlib.invalidate_caches()``, which on Python 3.11 re-reads
the table of contents of each zip the worker imported from (0.23 s a
task on a 4-core host, docs/SCALE.md).  Before importing pyspark, the
daemon drops each archive that holds no Python module, or whose every
top-level package a directory on ``sys.path`` holds with the same
``version.py`` ``__version__``; the forked workers inherit the shorter
path.  Any other archive stays.

The daemon then imports pandas and pyarrow, which every ``mapInArrow``
task loads, and calls ``gc.freeze()`` before it forks.  Each task ends
with a full ``gc.collect()``; with the daemon's objects frozen it no
longer walks them, and a forked worker does not import pandas for
itself (docs/SCALE.md).
"""

from __future__ import annotations

import ast
import gc
import os
import sys
import zipfile
from pathlib import Path


def _version(source: bytes) -> str | None:
    """The ``__version__`` literal a ``version.py`` assigns, if any."""
    for node in ast.parse(source).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):  # __version__: str = "4.1.2"
            targets = [node.target]
        else:
            continue
        if any(getattr(t, "id", None) == "__version__" for t in targets) \
                and isinstance(node.value, ast.Constant):
            return node.value.value
    return None


def _installed_version(dirs: list[str], pkg: str) -> str | None:
    """The version of the copy of ``pkg`` that ``dirs`` resolve first."""
    for d in dirs:
        if os.path.isdir(os.path.join(d, pkg)):
            v = Path(d, pkg, "version.py")
            return _version(v.read_bytes()) if v.is_file() else None
    return None


def redundant_archives(path: list[str]) -> list[str]:
    """The archives on ``path`` whose code its directories already hold."""
    dirs = [d for d in path if os.path.isdir(d)]
    drop = []
    for arc in path:
        if not (os.path.isfile(arc) and zipfile.is_zipfile(arc)):
            continue
        with zipfile.ZipFile(arc) as z:
            names = set(z.namelist())
            modules = [n for n in names if n.endswith((".py", ".pyc"))]
            if any("/" not in m for m in modules):
                continue  # a top-level module carries no version to compare
            versions = {p: _version(z.read(f"{p}/version.py"))
                        if f"{p}/version.py" in names else None
                        for p in {m.split("/")[0] for m in modules}}
        # all() over no package: an archive without Python code goes
        if all(v is not None and v == _installed_version(dirs, p)
               for p, v in versions.items()):
            drop.append(arc)
    return drop


def main() -> None:
    drop = redundant_archives(sys.path)
    sys.path[:] = [p for p in sys.path if p not in drop]
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in drop):
            del sys.path_importer_cache[key]
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
