"""Python worker daemon for local-mode sessions: ``pyspark.daemon``, started warm.

``session.get_spark`` selects this module through Spark's
``spark.python.daemon.module``; the JVM runs it as
``python -m ed_twitter_spark.daemon pyspark.worker`` with Spark's archives
(``pyspark.zip``, ``py4j-*.zip``, the spark-core jar) first on the path.
Before it hands over to ``pyspark.daemon.manager`` it

* drops those archives from ``sys.path`` and ``sys.path_importer_cache`` when
  an unpacked pyspark and py4j of the same versions are importable without
  them: every task calls ``importlib.invalidate_caches()``, which makes each
  cached ``zipimporter`` re-read its archive's directory (about 27k entries
  per task);
* imports what every UDF task imports (the worker, the pandas serializers,
  numpy, pandas, pyarrow), so forked workers start warm and share those
  pages copy-on-write;
* freezes the heap (``gc.freeze``), so the ``gc.collect()`` a reused worker
  runs after each task skips every imported module.

If the versions differ, or an archive cannot be read, it runs
``pyspark.daemon`` exactly as Spark's default daemon would.
"""

from __future__ import annotations

import gc
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _is_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _archived_version(path: list[str], package: str) -> str | None:
    """``package``'s version in the first zip archive on ``path`` holding it."""
    member = f"{package}/version.py"
    for entry in (p for p in path if _is_archive(p) and p.endswith(".zip")):
        with zipfile.ZipFile(entry) as z:
            if member in z.namelist():
                return _version(z.read(member).decode("utf-8"))
    return None


def _unpacked_version(path: list[str], package: str) -> str | None:
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def unpacked_path(path: list[str]) -> list[str] | None:
    """``path`` without Spark's archives, or None when pyspark or py4j would
    then import a different version than the archives hold, or none at all."""
    kept = [p for p in path if not _is_archive(p)]
    try:
        for package in ("pyspark", "py4j"):
            unpacked = _unpacked_version(kept, package)
            archived = _archived_version(path, package)
            if unpacked is None or archived not in (None, unpacked):
                return None
    except (OSError, zipfile.BadZipFile):
        return None
    return kept


def main() -> None:
    kept = unpacked_path(sys.path)
    if kept is not None:
        dropped = [p for p in sys.path if p not in kept]
        sys.path[:] = kept
        for key in list(sys.path_importer_cache):
            if any(key == d or key.startswith(d + os.sep) for d in dropped):
                del sys.path_importer_cache[key]

        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark.sql.pandas.serializers  # noqa: F401
        import pyspark.worker  # noqa: F401

        gc.freeze()

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
