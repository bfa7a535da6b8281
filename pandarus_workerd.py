"""Python worker daemon for pandarus_spark sessions: the stock
``pyspark.daemon``, minus the archives on ``sys.path``.

Spark starts its Python daemon with ``pyspark.zip``, the py4j source zip
and the spark-core jar at the front of ``PYTHONPATH``.  That costs twice:

- the zip ships sources only (no ``.pyc``), so every daemon compiles
  pyspark afresh;
- every task runs ``setup_spark_files`` -> ``importlib.invalidate_caches()``,
  which makes each cached zipimporter re-read its archive's directory:
  0.11-0.14 s per task on a 4-core host, 0.0001 s with the same pyspark
  imported from site-packages.

When the pyspark installed in a directory on the path (site-packages)
has the same ``__version__`` as the one in the zip, :func:`strip_archives`
drops every ``.zip``/``.jar`` entry that ``PYTHONPATH`` put on
``sys.path``, and its cached importer, so workers import the installed
copy.  ``''``, the working directory and every ``PYTHONPATH`` directory
stay.  On a version mismatch, no installed pyspark, or any error,
``sys.path`` is left as it is.  Either way the stock
``pyspark.daemon.manager()`` runs.

Stdlib only, and outside the ``pandarus_spark`` package: that package
imports pyspark, which would load it from the zip before the check.
``session.build_session`` sets ``spark.python.daemon.module`` to this
module and puts this directory on the workers' ``PYTHONPATH``.
"""

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")
_VERSION = re.compile(r"""__version__\s*(?::[^=]*)?=\s*["']([^"']+)["']""")


def _version(text: str):
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zipped_version(archives):
    """``__version__`` of the first archive holding ``pyspark/version.py``."""
    for path in archives:
        with zipfile.ZipFile(path) as z:
            if "pyspark/version.py" in z.namelist():
                return _version(z.read("pyspark/version.py").decode())
    return None


def _installed_version(dirs):
    """``__version__`` of the pyspark package found on ``dirs``."""
    spec = PathFinder.find_spec("pyspark", dirs)
    if spec is None or not spec.submodule_search_locations:
        return None
    with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
        return _version(f.read())


def strip_archives() -> bool:
    """Drop the ``.zip``/``.jar`` entries that ``PYTHONPATH`` put on
    ``sys.path`` (and their ``sys.path_importer_cache`` importers) when
    the installed pyspark is the zipped one's version; return whether
    it did.  The interpreter's own entries (a stdlib zip) stay."""
    try:
        env = {os.path.abspath(p)
               for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p}
        archives = [p for p in sys.path
                    if p.lower().endswith(_ARCHIVES) and os.path.abspath(p) in env]
        kept = [p for p in sys.path if p not in archives]
        zipped = _zipped_version(archives)
        if zipped is None or _installed_version(kept) != zipped:
            return False
        stale = [key for key in sys.path_importer_cache
                 if any(key == a or key.startswith(a + os.sep) for a in archives)]
        sys.path[:] = kept
        for key in stale:
            del sys.path_importer_cache[key]
        return True
    except Exception as e:  # never block the daemon: stock workers still run
        print(f"pandarus_workerd: sys.path kept: {e!r}", file=sys.stderr)
        return False


if __name__ == "__main__":
    strip_archives()
    from pyspark.daemon import manager
    manager()
