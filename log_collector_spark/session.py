"""SparkSession factory with the engine's required configuration.

Centralized so tests, bench, and the driver contract all run with identical
semantics-critical settings:

- ``spark.sql.session.timeZone=UTC`` — the grok kernel pins UTC for
  SimpleDateFormat parity; a mismatched session TZ breaks epoch-ms equality,
- AQE on (skew-join + coalesce) — the scale story for hot conversations,
- Arrow enabled with a sized record batch — the parse stage is a pandas UDF
  over Arrow batches (the analog of the reference's ``file.reader.batch.size``,
  collect.properties:7),
- Python workers start from :mod:`log_collector_spark.worker_daemon`, which
  spares each task a re-read of ``pyspark.zip``'s directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _quarter_of_ram() -> str:
    """A quarter of the host's MemTotal as a JVM size string (e.g. 4023m)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 4 // 1024}m"
    raise RuntimeError("no MemTotal in /proc/meminfo")


def get_spark(master: str | None = None,
              app_name: str = "log_collector_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    # host-derived defaults; SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY override
    cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                or len(os.sched_getaffinity(0)))
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or _quarter_of_ram()
    master = master or f"local[{cores}]"
    sp = shuffle_partitions or cores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "60000")
        # python-worker allocator hygiene: high-core-count local mode suffers
        # TLB-shootdown/sys-time storms when 32 workers madvise/munmap freed
        # Arrow buffers back every batch — keep arenas few and let the pool
        # hold pages (measured: sys% 45→25, run-to-run variance collapses)
        .config("spark.executorEnv.MALLOC_ARENA_MAX", "2")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        # the daemon is imported by name before any task adds its files, so
        # the package root goes on the workers' path whatever the cwd
        .config("spark.python.daemon.module",
                "log_collector_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        # generous broadcast threshold: all our dims are tiny
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        # progress bars interleave with bench.py's one-line JSON on stdout
        # and can split it mid-token for the driver's tail capture
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
