"""The pinned Spark environment every benchmark run uses.

Nothing is inherited from the caller's environment: the engine's
``SPARK_GRAFT_*`` knobs and Spark's own master/memory overrides are
removed before the package is imported, and every setting that steers a
measurement is passed explicitly and recorded in the run record.
All scratch output (Spark local dirs, JVM temp files, the warehouse,
the engine's query fixtures, the event log) goes under the run's work dir.
"""

from __future__ import annotations

import os
import tempfile

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = CORES
MAX_PARTITION_BYTES = str(128 * 1024 * 1024)

_DROPPED_ENV = ("SPARK_MASTER", "SPARK_DRIVER_MEMORY", "PYSPARK_SUBMIT_ARGS",
                "SPARK_CONF_DIR", "SPARK_LOCAL_DIRS")


def pin_environment(root: str, work: str) -> None:
    """Scrub inherited knobs and point temp output at ``work``.

    ``PYTHONPATH`` is set so Python workers (snapshot datasource reads,
    UDFs) can import the package from ``root`` whatever the caller's cwd."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key in _DROPPED_ENV:
            del os.environ[key]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def session_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.files.maxPartitionBytes": MAX_PARTITION_BYTES,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the status tracker backs per-span job counts; keep every job
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed heap and young-generation sizes, so the resident set follows
        # the program's live data rather than the collector's resizing
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Xmn512m -XX:+UseParallelGC "
            "-XX:-UseAdaptiveSizePolicy "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work}"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, event_log_dir: str | None = None):
    """``session.get_spark`` on ``local[CORES]`` with the pinned settings."""
    from web_analytics_on_aws_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=session_conf(work, event_log_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment_record(spark) -> dict:
    """What the run actually ran on, for the run record."""
    from web_analytics_on_aws_spark.sources import tables

    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes", "spark.sql.adaptive.enabled",
            "spark.eventLog.enabled")
    return {
        "nproc": os.cpu_count(),
        "cores": CORES,
        "conf": {k: conf.get(k) for k in keys},
        "spark_version": spark.version,
        "tables.INPUT_PARTITIONS": tables.INPUT_PARTITIONS,
        "tables.INPUT_SPLIT_MB": tables.INPUT_SPLIT_MB,
    }


def reset_peak_rss() -> bool:
    """Restart this process's VmHWM count from its current resident set
    (Linux /proc/self/clear_refs), so the peak read later leaves out what
    the harness allocated before. False where the kernel refuses."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        return False
    return True


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the driver
    JVM, from /proc. The JVM starts after ``reset_peak_rss``; both counts
    cover the program's calls, not the harness's input generation."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(str(jvm_pid))) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the driver JVM and its Python workers, with the
    children each has already reaped. Unlike wall time it leaves out the
    time the host gives to other guests (CPU steal)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])  # u/s time, reaped children's
    me = os.getpid()
    total = ticks[me]
    for pid in ticks:
        p = parent[pid]
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += ticks[pid]
    return total / tick


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_jvm() -> None:
    """Stop the driver JVM the session ran in and wait until it has exited.
    It exits when its stdin closes; its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
