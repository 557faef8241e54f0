"""Session lifetime, job groups, sinks and tallies shared by the
workloads, the layer probes and the self-test."""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from picoprobedataflow_spark.session import get_spark


def default_cores(limit: int) -> int:
    """The CPUs this process may use, at most ``limit``."""
    return min(limit, len(os.sched_getaffinity(0)))


def start_session(work: str, cores: int,
                  event_log_dir: str | None = None) -> SparkSession:
    """The product's session (``picoprobedataflow_spark.session``) on
    ``local[cores]``, with every scratch directory under ``work``.
    ``event_log_dir`` turns on Spark's event log there (uncompressed,
    one file); untraced sessions have none."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # inherited by the Python workers
    conf = {
        # no hsperfdata file in /tmp: the run writes only under work
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench",
                     master=f"local[{cores}]",
                     extra_conf=conf)


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait
    for it to exit (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    stop_session()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)


@contextmanager
def job_group(spark: SparkSession, name: str, tracing: bool):
    """Label every job started inside the block with ``name`` (traced
    runs only; untraced runs set nothing)."""
    if not tracing:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setJobGroup("idle", "idle")


def to_noop(df: DataFrame) -> None:
    """Materialize ``df`` without keeping or collecting it."""
    df.write.format("noop").mode("overwrite").save()


def clock() -> float:
    return time.perf_counter()


def local_path(path: str) -> str:
    """``file:/a/b`` or ``file:///a/b`` -> ``/a/b``."""
    return urlparse(path).path if path.startswith("file:") else path


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    ys = sorted(xs)
    return ys[max(0, math.ceil(q * len(ys)) - 1)]


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an exception or a
    failed output check. ``notes`` names each failure."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{name}: {why}" if why else name)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
