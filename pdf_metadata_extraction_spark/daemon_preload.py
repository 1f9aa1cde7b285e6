"""Python worker daemon with heavy imports preloaded (guide §4.5,
applied to interpreter state): the pyspark daemon forks one worker per
concurrent task, and each fork re-imports pandas/pyarrow/numpy on its
first Arrow batch (~1 s of pure import per worker, paid by the first
mapInPandas/pandas-UDF stage of a session — 32 workers on a 32-core
local box). Importing them ONCE in the daemon parent lets every fork
inherit the loaded modules copy-on-write instead.

Opt in with ``spark.python.daemon.module =
pdf_metadata_extraction_spark.daemon_preload``; ``session.get_spark``
sets it under a local master only (``extra_conf`` can set it for any
master). The module must be importable on every worker host — true
for local mode and for any cluster that ships the package."""

# EVERY preload import is individually guarded: a missing/broken
# library must degrade to the stock lazy-import behavior, never take
# the daemon (and with it every python stage of the session) down.
for _mod in (
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",  # the lazy half of arrow<->pandas
    "numpy",
    # the engine's own python kernels (segmenter, linker)
    "pdf_metadata_extraction_spark.plans.pipeline",
):
    try:
        __import__(_mod)
    except Exception:  # pragma: no cover - defensive only
        pass

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
