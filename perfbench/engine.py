"""Load the engine from the checkout and drive its Spark session.

The engine keeps its scratch fixtures under a hard-coded absolute
scratch root: ``TMP_ROOT`` in its modules, a ``.tmp`` directory of the
checkout it was written in, also spelled out literally inside function
bodies at other sites (27 in all, plus the session's warehouse
directory). A benchmark checkout lives at another path, where that
root does not exist and must not be created: the benchmark reads and
writes only inside its own checkout. So it imports
``layer_apache_hive_spark`` through a loader that rewrites that root,
and the checkout path it lives in, in the module source before
compiling it. The files on disk are untouched, and the rewrite changes
string constants only. Rewritten code is compiled afresh in every
process (the whole package compiles in about 0.3 s) and never written
to the engine's ``__pycache__``.

The loader is configured through environment variables, so Spark's
Python workers (which inherit the environment and load
``perfbench/boot/sitecustomize.py`` through ``PYTHONPATH``) import the
same rewritten modules as the Spark driver process.
"""

from __future__ import annotations

import ast
import importlib.abc
import importlib.machinery
import importlib.util
import os
import shutil
import sys

PKG = "layer_apache_hive_spark"

ENV_ROOT = "PERFBENCH_ENGINE_ROOT"
ENV_TMP = "PERFBENCH_ENGINE_TMP"
ENV_HOME_TMP = "PERFBENCH_ENGINE_HOME_TMP"


class _RelocatingLoader(importlib.machinery.SourceFileLoader):
    """Compile an engine module from source with its path literals
    rewritten; no bytecode is read or written."""

    def __init__(self, fullname, path, subs):
        super().__init__(fullname, path)
        self._subs = subs

    def get_code(self, fullname):
        src = importlib.util.decode_source(self.get_data(self.path))
        for old, new in self._subs:
            src = src.replace(old, new)
        return compile(src, self.path, "exec", dont_inherit=True)


class _RelocatingFinder(importlib.abc.MetaPathFinder):
    def __init__(self, root: str, subs):
        self._root = root
        self._subs = subs

    def find_spec(self, fullname, path=None, target=None):
        if fullname != PKG and not fullname.startswith(PKG + "."):
            return None
        search = [self._root] if fullname == PKG else path
        spec = importlib.machinery.PathFinder.find_spec(fullname, search)
        if spec is None or not str(spec.origin).endswith(".py"):
            return spec
        return importlib.util.spec_from_file_location(
            fullname,
            spec.origin,
            loader=_RelocatingLoader(fullname, spec.origin, self._subs),
            submodule_search_locations=spec.submodule_search_locations,
        )


def engine_tmp_root(root: str) -> str | None:
    """The engine's hard-coded scratch root: the first module-level
    ``TMP_ROOT = "<absolute path>"`` in its sources, or None."""
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(root, PKG))):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if (isinstance(node, ast.Assign)
                        and any(getattr(t, "id", None) == "TMP_ROOT"
                                for t in node.targets)
                        and isinstance(node.value, ast.Constant)
                        and str(node.value.value).startswith("/")):
                    return node.value.value
    return None


def install(root: str, tmp_dir: str, data_dir: str) -> None:
    """Make ``import layer_apache_hive_spark`` load the checkout's
    engine with its scratch root at ``tmp_dir``, here and in every
    Python process Spark starts; ``data_dir`` becomes the engine's
    default input directory."""
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        raise SystemExit(f"perfbench: no engine package under {root}")
    os.environ[ENV_ROOT] = root
    os.environ[ENV_TMP] = tmp_dir
    os.environ[ENV_HOME_TMP] = engine_tmp_root(root) or ""
    os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
    boot = os.path.join(os.path.dirname(os.path.abspath(__file__)), "boot")
    os.environ["PYTHONPATH"] = os.pathsep.join([boot, root])
    install_from_env()


def _subs() -> list[tuple[str, str]]:
    """(old, new) literal rewrites: the scratch root first, then the
    home checkout it lives in (scripts the engine runs from there)."""
    home_tmp = os.environ[ENV_HOME_TMP]
    if not home_tmp:
        return []
    subs = [(home_tmp, os.environ[ENV_TMP])]
    if os.path.basename(home_tmp) == ".tmp":
        subs.append((os.path.dirname(home_tmp), os.environ[ENV_ROOT]))
    return subs


def install_from_env() -> None:
    root = os.environ.get(ENV_ROOT)
    if not root or any(isinstance(f, _RelocatingFinder) for f in sys.meta_path):
        return
    sys.meta_path.insert(0, _RelocatingFinder(root, _subs()))


def configure_env(build_dir: str, cores: int, driver_mem: str) -> None:
    """Environment for the engine's session factory and for Spark's
    JVM: fixed core count and heap, scratch space inside the
    checkout."""
    local = os.path.join(build_dir, "spark-local")
    jtmp = os.path.join(build_dir, "jvm-tmp")
    for d in (local, jtmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = jtmp
    # no hsperfdata file: HotSpot writes it to the system temp
    # directory whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(app_name: str):
    """Build the engine's session. The first call launches the JVM;
    later calls (after :func:`stop_session`) reuse it."""
    from layer_apache_hive_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext; the JVM stays up for the next session."""
    from pyspark.sql import SparkSession

    spark.stop()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown_jvm() -> None:
    """Stop any live context, close the py4j gateway and wait for the
    JVM process to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def noop_write(df) -> None:
    """Run the full plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
