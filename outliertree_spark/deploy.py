"""Ship this package to executors (the `spark-submit --py-files` path).

Arrow UDF closures reference module functions by name, so Python workers
must be able to import ``outliertree_spark``.  When the driver didn't launch
via ``spark-submit --py-files``, we zip the package once per process,
register it with ``addPyFile`` once per SparkContext, and delete the zip
when the interpreter exits (Spark keeps its own copy).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

_ATTR = "_outliertree_spark_pyfile"


def ensure_package_on_executors(spark) -> None:
    sc = spark.sparkContext
    if getattr(sc, _ATTR, False):
        return
    try:
        import outliertree_spark
        pkg_dir = os.path.dirname(os.path.abspath(outliertree_spark.__file__))
    except Exception:
        return
    zpath = os.path.join(tempfile.gettempdir(),
                         f"outliertree_spark_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join("outliertree_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        atexit.register(_remove, zpath)
    sc.addPyFile(zpath)
    setattr(sc, _ATTR, True)


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)
