"""SparkSession factory with scale-oriented defaults.

Sized from the host for local[N] (cores from the CPU affinity mask, driver
heap from MemTotal; SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM override), and every
knob is the one you would also set on a 1000-executor cluster:

  * AQE on (runtime coalescing, skew-join splitting) — the LSH bucket join is
    the skew hotspot at 10^12 turns.
  * Arrow enabled for the few pandas UDF stages.
  * ANSI off for sketch_spark-owned sessions: WangHash / rolling hashes rely
    on two's-complement wraparound (identical bit pattern to the reference's
    uint64 arithmetic, hash.h:42-63). Driver-owned sessions may keep ANSI on;
    all `__spark_entry__.queries()` plans are overflow-free by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir(master: str) -> str | None:
    """Shuffle/spill directory.  On a real cluster each executor writes
    shuffle files to its OWN local disks (the cluster manager sets this);
    in this one-box sandbox every "executor" thread shares the single
    NVMe, which showed up as the dominant scaling bottleneck (the cands
    stage scaled 1.68x at 4x cores while pure-CPU stages scaled 2.4-3.6x,
    BENCH/BASELINE.md §3).  tmpfs models per-executor local disks; the
    corpus input still reads from the real filesystem.  Override with
    SPARK_GRAFT_LOCAL_DIR, or set it to "" to keep Spark's default.

    Only applied when the resolved master is local[*]: under a cluster
    manager (master="inherit" / spark-submit to a real cluster) shuffle
    spill can exceed free RAM, and tmpfs would OOM the host — leave
    spark.local.dir to the cluster manager there."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env is not None:
        return env or None
    if not master.startswith("local"):
        return None
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "sketch-spark-local")
    return None


def _meminfo_gb(key: str) -> int | None:
    """A /proc/meminfo field in whole GiB (None where there is none)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(f"{key}:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return None


def _host_cpus() -> int:
    """Cores this process may run on (what `nproc` reports)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """SPARK_DRIVER_MEM, else min(16g, 60% of MemTotal): the single local
    JVM holds driver and executors, so a fixed 16g default outgrew small
    hosts (a 15 GiB box was OOM-killed at 15.9 GB RSS) while the rest of
    the host still needs room for the Python workers."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total = _meminfo_gb("MemTotal")
    if total is None:
        return "16g"
    return f"{max(1, min(16, int(total * 0.6)))}g"


def _driver_java_opts(driver_mem: str) -> str | None:
    """Fixed, pre-touched heap: this sandbox's hypervisor populates fresh
    pages at ~200 MB/s (sys time ~2x user time, measured), so G1's
    uncommit/recommit cycles turn into multi-second kernel stalls
    mid-query.  Pinning Xms=Xmx and pre-touching moves the entire
    population cost to (untimed) startup — the steady state a
    long-running cluster executor lives in anyway.

    Guard (ADVICE r2): only pin when the host demonstrably has the
    memory — committing a 16 GiB heap at startup on a smaller box fails
    hard where a soft -Xmx degrades gracefully.  SPARK_GRAFT_PRETOUCH=0
    disables, =1 forces."""
    force = os.environ.get("SPARK_GRAFT_PRETOUCH")
    if force == "0":
        return None
    if force != "1":
        # a default heap cut below 16g by _driver_mem nearly fills its
        # host: never commit it up front
        if not os.environ.get("SPARK_DRIVER_MEM") and driver_mem != "16g":
            return None
        try:
            need_gb = int("".join(c for c in driver_mem if c.isdigit()))
            if not driver_mem.lower().endswith("g"):
                need_gb = -(-need_gb // 1024)  # treat as MiB
        except ValueError:
            return None
        avail = _meminfo_gb("MemAvailable")
        if avail is None or avail < need_gb + 4:
            return None
    return f"-Xms{driver_mem} -XX:+AlwaysPreTouch"


def get_spark(
    app_name: str = "sketch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    # master="inherit" leaves the master to the launcher (spark-submit
    # --master ...); anything else (or None) is set explicitly.
    master = master or f"local[{cpus}]"
    # shuffle partitions default: 2x cores locally; a real cluster would use
    # ~2-3x total executor cores (AQE coalesces down afterwards).
    if shuffle_partitions is None:
        n = int(cpus) if cpus.isdigit() else _host_cpus()
        shuffle_partitions = max(2 * n, 8)
    driver_mem = _driver_mem()

    b = SparkSession.builder.appName(app_name)
    if master != "inherit":
        b = b.master(master)
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    jopts = _driver_java_opts(driver_mem)
    if jopts:
        b = b.config("spark.driver.extraJavaOptions", jopts)
    ld = _local_dir(master)
    if ld:
        b = b.config("spark.local.dir", ld)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
