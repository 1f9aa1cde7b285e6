"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  (mega-domain skew is expected in Common-Crawl-style inputs; the
  reference has no analogue — SURVEY.md §4).
- Arrow on, bounded batch size: every Python kernel in this engine is a
  vectorized pandas UDF / mapInPandas / applyInPandas stage; per-row
  Python UDFs are banned (BASELINE.json input_hint).
- shuffle partitions default to cores locally; on a real cluster set
  ``spark.sql.shuffle.partitions`` ~ 2-3x total cores and rely on AQE
  coalescing.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

ARROW_BATCH = 10_000


def spark_conf(
    master: str, shuffle_partitions: int, extra_conf: dict | None = None
) -> dict[str, str]:
    """The session conf for ``master``; ``extra_conf`` overrides any key.

    The tmpfs shuffle dir and the preloading python daemon suit a
    single local box only, so they apply only when ``master`` is local.
    """
    local = master.startswith("local")
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # round 7 (guide §2.2/§9): with parallelismFirst at its true
        # default, AQE refuses to coalesce below defaultParallelism, so
        # a few-MB shuffle still fans out over every core and each
        # downstream stage pays per-task latency for ~empty tasks.
        # false = honor the advisory target instead: partition count is
        # derived from the actual shuffle BYTES at any scale (tiny
        # stage → 1 partition; 10 TB stage → tens of thousands).
        # Measured min-of-4 at sf0.1: uniform win or tie across 12
        # mixed queries (e.g. ce_quality_tiers 1.67→1.35, lang_id
        # 1.12→0.90, graph_hits 1.73→1.52), no regression.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # round 7 (guide §3.1/§9): let the planner pick shuffled-hash
        # over sort-merge when its size conditions hold — skips both
        # sides' sorts. Min-of-3 at sf0.1: asof_event_state 1.68→0.33,
        # minhash_dup_pairs 1.70→0.53, no query slower.
        "spark.sql.join.preferSortMergeJoin": "false",
    }
    if local:
        # round 7 (guide §4.5): fork python workers from a daemon that
        # has pandas/pyarrow/numpy ALREADY imported — each worker
        # otherwise re-imports them on its first Arrow batch (paid once
        # per worker per session, at every core in parallel). Workers
        # on other hosts may not have the package to import.
        conf["spark.python.daemon.module"] = (
            "pdf_metadata_extraction_spark.daemon_preload"
        )
    # round 7 (guide §2.1/§7.4): shuffle blocks live under
    # spark.local.dir; a local box's /tmp may sit on a shared virtual
    # disk whose stall phases inflate every shuffle-bearing query
    # 2-10x, so a local master spills to tmpfs (shuffles are MBs at
    # bench scale). A cluster keeps its own scratch disks unless
    # SPARK_GRAFT_LOCAL_DIR names one: shuffle data at 100 TB scale
    # exceeds RAM.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and local:
        local_dir = (
            "/dev/shm/spark_graft_local"
            if os.path.isdir("/dev/shm")
            else tempfile.gettempdir()
        )
    if local_dir is not None:
        conf["spark.local.dir"] = local_dir
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "pdf_metadata_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # make the package importable in python WORKER processes no matter
    # the launch cwd: the preloading daemon module is resolved by a
    # fresh `python -m` in each executor's daemon (children of the
    # JVM, which inherits this env)
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + (os.pathsep + _pp if _pp else "")
        )
    b = SparkSession.builder.appName(app_name).master(master)
    conf = spark_conf(master, shuffle_partitions or cpus, extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if master.startswith("local"):
        # round 7 (guide §4.5): eagerly spin up the python worker pool
        # and the Arrow serialization path at SESSION build — one
        # identity mapInPandas batch per core — instead of letting the
        # first real python stage of the session pay the daemon launch
        # + per-worker fork + Arrow init serially inside its own wall
        # time. One-time infrastructure init, same class as JVM startup.
        try:
            n = spark.sparkContext.defaultParallelism
            spark.range(n).repartition(n).mapInPandas(
                lambda it: it, "id long"
            ).count()
        except Exception:  # pragma: no cover - warmup must never fail a session
            pass
    return spark
