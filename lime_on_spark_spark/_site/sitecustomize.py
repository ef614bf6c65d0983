"""Worker start-up hook for sessions ``session.get_spark()`` builds.

``get_spark()`` appends this file's directory to the workers' PYTHONPATH,
so ``site`` runs it in every Python process the session starts (daemons,
data-source planners, streaming runners) before pyspark is imported. It
installs both ``_zipimport`` fixes, the compile cache included, then runs
any other ``sitecustomize`` further along ``sys.path``.

The engine package is not imported here: its ``__init__`` imports pyspark,
which must come after the cache is in place. ``_zipimport.py`` is loaded by
path under its package name, so the package's own import of it later finds
this instance.
"""

import os
import sys
from importlib.machinery import PathFinder
from importlib.util import module_from_spec, spec_from_file_location

_HERE = os.path.dirname(os.path.abspath(__file__))


def _install() -> None:
    name = "lime_on_spark_spark._zipimport"
    spec = spec_from_file_location(
        name, os.path.join(os.path.dirname(_HERE), "_zipimport.py")
    )
    module = sys.modules[name] = module_from_spec(spec)
    spec.loader.exec_module(module)
    module.install_compile_cache()


def _chain() -> None:
    entries = [os.path.abspath(p or os.curdir) for p in sys.path]
    if _HERE not in entries:
        return
    spec = PathFinder.find_spec(
        "sitecustomize", sys.path[entries.index(_HERE) + 1 :]
    )
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(module_from_spec(spec))


_install()
_chain()
