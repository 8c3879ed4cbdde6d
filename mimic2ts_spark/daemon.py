"""The Python worker daemon of a `get_spark` session: PySpark's stock
`pyspark.daemon`, imported from the installed, compiled pyspark.

Spark puts its source-only `pyspark.zip` first on a worker's `sys.path`;
importing the daemon from it compiles every module on each start. When the
installed pyspark has the zip's version, the zip is moved just behind the
installed copy, so the daemon and the workers it forks load the same code
from bytecode. Otherwise `sys.path` is left as Spark set it.
"""

import runpy
import sys
from importlib.machinery import PathFinder


def _pyspark_version(entry: str) -> str | None:
    """`pyspark.__version__` as provided by one `sys.path` entry, read
    without importing pyspark; None when the entry has no pyspark."""
    package = PathFinder.find_spec("pyspark", [entry])
    if package is None or not package.submodule_search_locations:
        return None
    version = PathFinder.find_spec("pyspark.version", package.submodule_search_locations)
    if version is None:
        return None
    namespace: dict = {}
    exec(version.loader.get_data(version.origin), namespace)
    return namespace.get("__version__")


def search_path(path: list[str], version_of) -> list[str]:
    """`path` with the entry that provides pyspark now (Spark's zip) moved
    just behind the first non-zip entry that provides it, when `version_of`
    gives both the same version; otherwise `path` unchanged. Only where
    pyspark resolves changes: the entries between keep their order."""
    providers = [entry for entry in path if version_of(entry)]
    installed = next((e for e in providers if not e.endswith(".zip")), None)
    if installed is None or installed == providers[0]:
        return path
    if version_of(installed) != version_of(providers[0]):
        return path
    rest = [entry for entry in path if entry != providers[0]]
    at = rest.index(installed) + 1
    return [*rest[:at], providers[0], *rest[at:]]


if __name__ == "__main__":
    sys.path[:] = search_path(sys.path, _pyspark_version)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
