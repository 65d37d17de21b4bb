"""Python-worker bootstrap: import the installed, bytecode-cached pyspark.

Spark starts every Python daemon, UDF worker and streaming-source runner
with ``$SPARK_HOME/python/lib/pyspark.zip`` first on ``sys.path``. The
zip holds no bytecode and zipimport writes none, so every fresh process
recompiles the pyspark modules it imports: importing the streaming-source
runner took 1.26-1.34 s from the zip and 0.26-0.32 s from the installed
package of the same version (4-core box, Spark 4.1.2).

``session.get_spark`` appends this directory to the workers'
``PYTHONPATH``, so their interpreter imports this module at start-up. It
drops the zip from ``sys.path`` only when the remaining path finds an
installed pyspark whose ``version.py`` is byte-identical to the zip's;
with another version, no zip on the path, or an unreadable zip it changes
nothing.
"""

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def drop_duplicate_pyspark_zip(path: list) -> None:
    """Remove from ``path`` each ``pyspark.zip`` whose pyspark the rest of
    ``path`` also provides, at the same version."""
    for entry in [p for p in path if os.path.basename(p) == "pyspark.zip"]:
        try:
            zipped = zipimport.zipimporter(entry).get_data("pyspark/version.py")
            rest = [p for p in path if p != entry]
            spec = PathFinder.find_spec("pyspark", rest)
            if spec is None or spec.origin is None:  # none, or a namespace dir
                continue
            pkg_dir = os.path.dirname(spec.origin)
            installed = spec.loader.get_data(os.path.join(pkg_dir, "version.py"))
        except (OSError, ImportError):
            continue
        if installed == zipped:
            path[:] = [p for p in path if p != entry]


if __name__ == "sitecustomize":
    drop_duplicate_pyspark_zip(sys.path)
