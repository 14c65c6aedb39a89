"""Start the stock ``pyspark.daemon`` on the unpacked pyspark.

Every Python task pays a fixed start-up cost before its first row:
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 that re-reads the
central directory of every ``zipimporter`` in
``sys.path_importer_cache``.  The JVM puts ``pyspark.zip``, the py4j
source zip and the Spark core jar first on the workers' PYTHONPATH, so
a worker carries 16 such importers (one per imported pyspark
subpackage) and re-reads ~27k zip entries per task: 0.15-0.26 CPU-s on
a 4-core x86 host, more than a small task's own work.

``session.get_spark`` points ``spark.python.daemon.module`` at this
module.  It drops from PYTHONPATH the archives that carry nothing but
``pyspark``/``py4j`` (the jar carries no Python at all), but only when
the remaining path resolves both to unpacked packages whose
``version.py`` is byte-identical to the archived one; otherwise
PYTHONPATH stays as the JVM set it.  Either way it then ``exec``s
``python -m pyspark.daemon`` with the original arguments, so the daemon
keeps this process's pid, pipes and environment and its forked workers
are the stock ones.

Only the standard library is imported here: the daemon's own imports
must happen after the exec, under the final PYTHONPATH.
"""

from __future__ import annotations

import os
import sys
import traceback
import zipfile
from importlib.machinery import PathFinder

DAEMON = "pyspark.daemon"
REPLACEABLE = frozenset({"pyspark", "py4j"})


def archive_modules(entry: str) -> set[str] | None:
    """Top-level module names a zip/jar PYTHONPATH entry carries as
    ``.py``/``.pyc`` files, or None when the entry is not an archive."""
    if not os.path.isfile(entry) or not zipfile.is_zipfile(entry):
        return None
    with zipfile.ZipFile(entry) as z:
        names = z.namelist()
    tops = {n.split("/", 1)[0] for n in names if n.endswith((".py", ".pyc"))}
    return {t.removesuffix(".pyc").removesuffix(".py") for t in tops}


def _unpacked_version(name: str, path: list[str]) -> bytes | None:
    """``<name>/version.py`` of the package ``path`` resolves ``name``
    to, or None when it resolves to nothing or to an archive."""
    spec = PathFinder.find_spec(name, path)
    locations = list(spec.submodule_search_locations or []) if spec else []
    if len(locations) != 1 or not os.path.isdir(locations[0]):
        return None
    try:
        with open(os.path.join(locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def slim_pythonpath(pythonpath: str, search_path: list[str]) -> str:
    """PYTHONPATH without its pyspark/py4j-only archives, or
    ``pythonpath`` unchanged when dropping them could change what
    ``pyspark`` or ``py4j`` import as.

    ``search_path`` is the interpreter's full module search path
    (``sys.path``), which the PYTHONPATH entries are part of; the rest
    of it decides where ``pyspark``/``py4j`` resolve once the archives
    are gone.  Archives that carry any other module are always kept."""
    entries = pythonpath.split(os.pathsep) if pythonpath else []
    drop, carried = [], []
    for entry in entries:
        mods = archive_modules(entry)
        if mods is not None and mods <= REPLACEABLE:
            drop.append(entry)
            carried += [(entry, m) for m in mods]
    if not drop:
        return pythonpath
    dropped = {os.path.abspath(e) for e in drop}
    rest = [p for p in search_path if os.path.abspath(p) not in dropped]
    for archive, name in carried:
        try:
            with zipfile.ZipFile(archive) as z:
                archived = z.read(f"{name}/version.py")
        except KeyError:
            return pythonpath
        if _unpacked_version(name, rest) != archived:
            return pythonpath
    return os.pathsep.join(e for e in entries if e not in drop)


def daemon_argv(orig_argv: list[str], argv: list[str]) -> list[str]:
    """The command line that started this module (``orig_argv``, with
    its interpreter options) with ``-m <this module>`` replaced by
    ``-m pyspark.daemon``; ``argv`` is ``sys.argv``."""
    head = orig_argv[:len(orig_argv) - len(argv)]
    if head and head[-1] == "-m":
        head = head[:-1]
    return [*head, "-m", DAEMON, *argv[1:]]


def main() -> None:
    pythonpath = os.environ.get("PYTHONPATH", "")
    try:
        slim = slim_pythonpath(pythonpath, sys.path)
    except Exception:  # noqa: BLE001 - the daemon must start: stock path
        traceback.print_exc()
        slim = pythonpath
    if slim:
        os.environ["PYTHONPATH"] = slim
    else:
        os.environ.pop("PYTHONPATH", None)
    os.execv(sys.executable, daemon_argv(sys.orig_argv, sys.argv))


if __name__ == "__main__":
    main()
