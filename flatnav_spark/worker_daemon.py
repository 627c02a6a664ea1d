"""Python worker daemon that imports pyspark from a directory install.

Spark starts its Python workers with ``pyspark.zip``, the py4j source zip
and the spark-core jar at the head of ``sys.path``. Every task then calls
``importlib.invalidate_caches()`` (pyspark.worker_util.setup_spark_files),
which makes each cached ``zipimporter`` re-read its archive directory:
~0.2 s per task on a 4-core host, more than most tasks' own work. When the
interpreter has the same pyspark version installed as a directory (the
driver's own pyspark, in local mode), this daemon drops Spark's archives
from the path before pyspark loads, then runs the stock
``pyspark.daemon.manager()``. Otherwise the path stays as Spark set it and
one line on stderr says why. Other zips (a ``--py-files`` engine zip) stay.

Enabled by ``session.get_spark`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m and m.group(1)


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith("-src.zip")))


def _dir_spec(name: str, path: list[str]):
    spec = PathFinder.find_spec(name, path)
    if spec is None or spec.origin is None or not os.path.isfile(spec.origin):
        return None
    return spec


def zip_free_path(path: list[str]) -> tuple[list[str], str | None]:
    """(new sys.path, None) without Spark's archives when the rest of
    ``path`` holds a directory pyspark of the zip's version and a py4j;
    else (``path`` unchanged, the reason)."""
    spark_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    if spark_zip is None:
        return path, "no pyspark.zip on sys.path"
    rest = [p for p in path if not _is_spark_archive(p)]
    pyspark_spec = _dir_spec("pyspark", rest)
    if pyspark_spec is None:
        return path, "no directory install of pyspark"
    if _dir_spec("py4j", rest) is None:
        return path, "no directory install of py4j"
    try:
        with zipfile.ZipFile(spark_zip) as z:
            zip_ver = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(pyspark_spec.origin), "version.py")) as f:
            dir_ver = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile) as e:
        return path, f"cannot read a pyspark version: {e!r}"
    if dir_ver is None or dir_ver != zip_ver:
        return path, f"directory pyspark {dir_ver} is not the zip's {zip_ver}"
    return rest, None


def main() -> None:
    path, reason = zip_free_path(sys.path)
    if reason is None:
        dropped = [p for p in sys.path if p not in path]
        sys.path[:] = path
        # the archives' importers, with those of namespace portions inside
        # them (the stdlib's Jython probe in pickle looks up the jar's org/)
        under = tuple(p + os.sep for p in dropped)
        for key in [k for k in sys.path_importer_cache
                    if k in dropped or k.startswith(under)]:
            del sys.path_importer_cache[key]
    else:
        print(f"flatnav_spark.worker_daemon: keeping Spark's sys.path: {reason}",
              file=sys.stderr)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
