"""Shared plumbing: where the benchmark runs, the Spark session it
measures, latency statistics and process memory."""

from __future__ import annotations

import math
import os
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
PACKAGE = "data_frame_demo_etl_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def import_program():
    """Import the engine from this checkout and nowhere else; raise
    ImportError when the checkout does not hold its source."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise ImportError(f"{PACKAGE} source not found under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import data_frame_demo_etl_spark as pkg

    if Path(pkg.__file__).resolve().parent != ROOT / PACKAGE:
        raise ImportError(f"{PACKAGE} resolved outside the checkout: {pkg.__file__}")
    return pkg


def confine_scratch(work: Path) -> None:
    """Point every temp and spill location of this process, its JVM and
    its Python workers inside ``work``."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # No JVM memory-maps its performance counters under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (str(ROOT), os.environ.get("PYTHONPATH"))))


def start_spark(work: Path, event_log: Path | None = None):
    """The engine's own session factory on ``local[nproc]``; only the
    scratch locations (and, when tracing, the event log) are set here."""
    from data_frame_demo_etl_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tail_rank(n: int) -> int | None:
    """The highest whole percentile with at least ten of ``n`` samples
    above it, or None when that percentile would sit below the median
    (fewer than twenty samples)."""
    if n < 20:
        return None
    return math.floor(100 * (n - 10) / n)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latency_summary(samples_s: list[float]) -> dict:
    """Median and tail of a latency sample in milliseconds, with the
    tail's percentile and the sample count. With fewer than twenty
    samples the tail is the maximum."""
    ms = [s * 1000 for s in samples_s]
    rank = tail_rank(len(ms))
    return {
        "p50_ms": statistics.median(ms),
        "tail_ms": percentile(ms, rank) if rank is not None else max(ms),
        "tail_pct": rank if rank is not None else 100,
        "samples": len(ms),
    }


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids() -> list[int]:
    """Java processes started by this process (the Spark driver JVM)."""
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = stat[stat.rindex(")") + 2 :].split()[1]
        if ppid == me and comm == "java":
            pids.append(int(entry))
    return pids


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM") + sum(_status_kb(p, "VmHWM") for p in jvm_pids())
    return kb / 1024


def jvm_gc_s(spark) -> float:
    """Cumulative garbage-collection time of the driver JVM."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
