"""Keep every file a benchmark run writes inside the checkout.

The run's scratch lives under ``.perfbench/work`` at the checkout root
and is emptied before each run, so store sizes never count an earlier
run's versions.  Spark's local and temp directories, the JVMs' and Python's temp
directories, the warehouse and Derby files (through the working
directory) and the event log all point there.

The store-backed registry queries build their store paths from the
literal prefix ``/tmp/ubw_spark_``.  ``redirect_store_root`` rewrites
that prefix in the constants of the already-imported ``ubw_spark`` code
objects so the stores land in the run's scratch too.  Only the directory
changes; what the code computes and writes is untouched.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil
import sys
import tempfile
import types

STORE_PREFIX = "/tmp/ubw_spark_"


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare(root: str) -> dict[str, str]:
    """Empty the run's scratch, point temp directories into it and make
    it the working directory.  Returns the scratch paths."""
    work = os.path.join(root, ".perfbench", "work")
    if os.path.exists(work):
        shutil.rmtree(work)
    paths = {
        name: os.path.join(work, name)
        for name in ("cwd", "tmp", "local", "events", "stores", "trace")
    }
    for p in paths.values():
        os.makedirs(p)
    os.environ["TMPDIR"] = paths["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    # every JVM, the spark-submit launcher included: temp files here, no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.chdir(paths["cwd"])
    return paths


def _rewrite(code: types.CodeType, new_prefix: str) -> tuple[types.CodeType, int]:
    consts, hits = [], 0
    for c in code.co_consts:
        if isinstance(c, str) and c.startswith(STORE_PREFIX):
            c, hits = new_prefix + c[len(STORE_PREFIX):], hits + 1
        elif isinstance(c, types.CodeType):
            c, n = _rewrite(c, new_prefix)
            hits += n
        consts.append(c)
    return (code.replace(co_consts=tuple(consts)) if hits else code), hits


def redirect_store_root(store_dir: str, package: str = "ubw_spark") -> int:
    """Import every module of ``package`` and move the ``/tmp/ubw_spark_``
    store prefix in its functions' constants to ``store_dir``.  Returns
    the number of constants rewritten."""
    pkg = importlib.import_module(package)
    for info in pkgutil.walk_packages(pkg.__path__, package + "."):
        importlib.import_module(info.name)
    new_prefix = os.path.join(store_dir, "ubw_spark_")
    seen: set[int] = set()
    total = 0

    def visit(fn: types.FunctionType) -> None:
        nonlocal total
        if id(fn) in seen:
            return
        seen.add(id(fn))
        fn.__code__, n = _rewrite(fn.__code__, new_prefix)
        total += n

    for name, mod in list(sys.modules.items()):
        if not (name == package or name.startswith(package + ".")) or mod is None:
            continue
        for obj in vars(mod).values():
            if isinstance(obj, types.FunctionType):
                visit(obj)
            elif isinstance(obj, type) and obj.__module__ == name:
                for attr in vars(obj).values():
                    fn = getattr(attr, "__func__", attr)
                    if isinstance(fn, types.FunctionType):
                        visit(fn)
    return total
