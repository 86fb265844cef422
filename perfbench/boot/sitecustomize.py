"""Loaded at start-up by Spark's Python workers during a benchmark run
(``PYTHONPATH`` puts this directory first): installs the same engine
loader as the Spark driver process, so engine code running in a
worker sees the benchmark's scratch paths."""

try:
    from perfbench.engine import install_from_env

    install_from_env()
except ImportError:
    pass
