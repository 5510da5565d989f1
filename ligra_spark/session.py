"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would submit to a 1000-executor cluster via
``spark-submit``: AQE on (runtime re-plan + skew-join splitting +
partition coalescing), Arrow enabled for the vectorized kernels, and a
shuffle-partition count sized by the caller (tests use small counts,
bench uses the core count).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Let AQE re-plan after each shuffle: coalesce tiny partitions on
    # small frontiers, split skewed ones on hub vertices.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas/Arrow UDF kernels and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # JVM↔Python worker control plane over unix domain sockets
    # (Spark 4.1): every Python task pays a serialized per-task
    # handshake with its worker; over TCP+auth a no-op mapInArrow
    # stage measured 0.49/1.28 s at 32/128 tasks (vs 0.26 s for a
    # 128-task JVM-only stage), with UDS 0.41/1.0 s — ~20% off the
    # dispatch floor that bounds every Arrow-kernel query. Worker and
    # executor are host-local by construction (cluster or local), so
    # UDS applies unchanged at any scale.
    "spark.python.unix.domain.socket.enabled": "true",
    # Iterative algorithms re-broadcast small frontiers every round;
    # keep the threshold generous (frontiers are (id[,payload]) rows).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamps in tests regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # one BLAS/OMP thread per Python worker: Spark supplies the
    # process-level parallelism; nested BLAS threads oversubscribe and
    # corrupt scaling measurements
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # Arrow kernels allocate multi-MB numpy temporaries per batch.
    # glibc serves allocations above its mmap threshold with
    # mmap/munmap, so every such temp is fresh zero-faulted pages —
    # measured on the ANN kernel as the ENTIRE first-trial cliff
    # (24.8s cold vs 3.2s warm; every kernel phase uniformly ~6x
    # slower until glibc's dynamic threshold adapts). Pin the
    # threshold high so big temps come from the retained heap from
    # the first call; 128 MiB of retained arena per worker is cheap
    # next to the page-fault storm (24.8 -> 13.8s cold, 3.2 -> 2.1s
    # warm at bench scale).
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "134217728",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "134217728",
    "spark.ui.enabled": "false",
}

# Local mode runs executors inside the driver JVM: size the heap for
# (concurrent tasks × per-task working set). 8g starved 32 tasks into
# shuffle spills (measured: 32 cores slower than 8) and 48g did not, so
# a task slot gets 1.5 GiB of heap.
_HEAP_PER_SLOT_GB = 1.5
# What the host must keep beside the heap per task slot: one Python
# worker (numpy/pyarrow/pandas plus the 128 MiB malloc arena above) and
# the JVM's own off-heap share. A lazy -Xmx above the host's memory let
# G1 grow the driver until the kernel's OOM killer took it (16 GB host,
# local[8] tests).
_WORKER_RESERVE_GB = 1.0
_MIN_HEAP_GB = 1  # Spark's own default driver heap

# Commit AND pre-fault the whole heap at JVM start. Spark sets only
# -Xmx, so the heap grows lazily under load and the kernel zeroes each
# fresh page INSIDE G1 evacuation pauses — measured on this box as
# "GC" pauses of 2-11s that are >95% sys time (GC(44): User=9.6s
# Sys=222.5s Real=10.8s across 23 workers), 44.5s of pause per 88s
# PageRank run, and 14x per-iteration wall variance. With
# -Xms=-Xmx -XX:+AlwaysPreTouch the same run is 19.5s with 1.07s of
# total GC pause and flat iterations. The one-time pre-touch cost
# (~5-10s for 48g) lands at session start, outside any timed path —
# exactly where spark-submit clusters pay it too.
#
# Pre-faulting is an explicit opt-in (SPARK_GRAFT_PRETOUCH=1, set by
# bench.py): on a host with less free RAM than the configured heap an
# eager -Xms either fails JVM startup or thrashes pre-touching pages, so
# plain library callers keep the lazy -Xmx-only heap. Even when opted
# in, -Xms is clamped to the host's MemAvailable.
_PRETOUCH = "-XX:+AlwaysPreTouch"


def _mem_available_gb() -> int | None:
    """Host MemAvailable in whole GiB (Linux); None if unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return None


def _task_slots(master: str) -> int:
    """Concurrent tasks of ``master``: N for ``local[N]`` / ``local[N,F]``,
    1 for ``local``, else (``local[*]``, a cluster) the host's cores."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
    return int(m.group(1)) if m else os.cpu_count() or 1


def _driver_mem(
    master: str, avail_gb: int | None, override: str | None = None
) -> str:
    """``spark.driver.memory`` for a session on ``master``: ``override``
    (``SPARK_GRAFT_DRIVER_MEM``) if set, else the smaller of 1.5 GiB a
    task slot and the host's ``avail_gb`` (MemAvailable) less 1 GiB a
    slot for the Python workers; never below 1 GiB."""
    if override:
        return override
    slots = _task_slots(master)
    heap = _HEAP_PER_SLOT_GB * slots
    if avail_gb is not None:
        heap = min(heap, avail_gb - _WORKER_RESERVE_GB * slots)
    return f"{max(int(heap), _MIN_HEAP_GB)}g"


def _xms_for(driver_mem: str) -> str | None:
    """Clamped -Xms value, or None when the heap can't be expressed in
    GiB or the host has no headroom for an eager heap."""
    if not driver_mem.lower().endswith("g"):
        return None
    want = int(driver_mem[:-1])
    avail = _mem_available_gb()
    if avail is None:
        return driver_mem
    # leave ~10% headroom for Python workers / page cache
    usable = max(avail - max(avail // 10, 2), 0)
    if usable < 1:
        return None
    return f"{min(want, usable)}g"


def get_spark(
    app_name: str = "ligra_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); on a real cluster the caller passes master/conf via
    spark-submit and this function only applies the analytics defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.driver.memory"] = _driver_mem(
        master, _mem_available_gb(), os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Ship the package to Python workers (the `spark-submit --py-files
    # ligra_spark.zip` analog): module-level kernel functions (e.g. the
    # distributed transcript generator) pickle by REFERENCE, so worker
    # processes must be able to `import ligra_spark` even when the
    # driver script runs from an unrelated cwd.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = conf.get("spark.executorEnv.PYTHONPATH", "")
    conf["spark.executorEnv.PYTHONPATH"] = (
        f"{pkg_root}:{worker_pp}" if worker_pp else pkg_root
    )
    if extra_conf:
        conf.update(extra_conf)
    # heap pre-fault (see _PRETOUCH above): opt-in via env, clamped to
    # host MemAvailable; applied AFTER extra_conf so caller-supplied
    # extraJavaOptions are merged in, not clobbered
    if os.environ.get("SPARK_GRAFT_PRETOUCH") == "1":
        xms = _xms_for(conf["spark.driver.memory"])
        if xms is not None:
            jopts = f"-Xms{xms} {_PRETOUCH}"
            prev_jopts = conf.get("spark.driver.extraJavaOptions", "")
            conf["spark.driver.extraJavaOptions"] = (
                f"{jopts} {prev_jopts}".strip() if prev_jopts else jopts
            )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
