"""The benchmark's pinned environment, set before Spark starts and
recorded with every result.

* cores: the CPUs this process may run on (``nproc``), passed to the
  engine as ``SPARK_GRAFT_CPUS`` instead of its ``local[32]`` default;
* driver memory: ``DRIVER_MEM``, well inside a 15 GB host (the engine's
  default is 24g);
* Spark local dirs, warehouse, checkpoints and temp files: one run
  directory inside the checkout, removed at exit;
* pyspark/Java versions and the md5 host calibration, as labels only.
"""

from __future__ import annotations

import os
import platform
import shlex
import tempfile

DRIVER_MEM = "2g"
#: A fixed heap with a fixed young generation: G1's adaptive sizing
#: otherwise moves the driver's resident set by +-20% from run to run.
#: No perf-data file: the JVM would write it under /tmp.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn768m -XX:-UsePerfData"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin(root: str, run_dir: str) -> dict:
    """Point every writable location of Spark and the engine at
    ``run_dir`` and size the session; must run before pyspark starts
    the JVM.  Returns the settings applied."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "tmp", "ckpt", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    n = cores()
    settings = {
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CKPT_DIR": dirs["ckpt"],
        "TMPDIR": dirs["tmp"],
        # Python workers and planner-side runners import the engine
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
            "--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']} {JVM_OPTS}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def record(spark, settings: dict) -> dict:
    """Labels stored with each result (not used to normalize it)."""
    import pyspark

    from bench import CALIB_REF_SEC, host_calibration_sec

    calib = host_calibration_sec()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cores": int(settings["SPARK_GRAFT_CPUS"]),
        "driver_mem": settings["SPARK_GRAFT_DRIVER_MEM"],
        "host_mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "md5_calibration_sec": round(calib, 4),
        "md5_calibration_ratio": round(calib / CALIB_REF_SEC, 3),
        "master": spark.sparkContext.master,
        "jvm_args": str(spark._jvm.java.lang.management.ManagementFactory
                        .getRuntimeMXBean().getInputArguments()),
    }


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set, so the
    peak read at the end leaves out what came before (input generation)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM of the driver JVM and of this Python process, in MB; the
    Python one counts from the last ``reset_peak_rss``."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm": _hwm_kb(jvm_pid) / 1024.0, "python": _hwm_kb("self") / 1024.0}


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"/proc/{pid}/status has no VmHWM")


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)

