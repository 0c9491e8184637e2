"""Process set-up shared by every workload: the work directory, the
environment the Spark session starts from, and the per-run context."""

from __future__ import annotations

import os
import shlex
import shutil
import time
from dataclasses import dataclass, field

from perfbench.stats import Tally

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_HEAP = "1g"
YOUNG_GEN = "256m"


@dataclass
class Ctx:
    """One benchmark run: one workload, one seed, one process."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    t_start: float              # perf_counter() at process start
    work: str = ""
    spark: object = None
    tally: Tally = field(default_factory=Tally)
    notes: list[str] = field(default_factory=list)
    spans: object = None        # perfbench.spans.Spans of a traced run

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def event_log_dir(self) -> str:
        return self.path("eventlog")


def prepare_env(ctx: Ctx) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into this run's work directory inside the checkout, and make
    the checkout importable by the Python workers."""
    ctx.work = os.path.join(WORK_ROOT, f"{ctx.workload}-{os.getpid()}")
    shutil.rmtree(ctx.work, ignore_errors=True)
    tmp = ctx.path("tmp")
    for d in (tmp, ctx.path("local"), ctx.event_log_dir):
        os.makedirs(d, exist_ok=True)
    # half the cores run tasks; the other half is left to the driver's
    # Python, the Python workers and the JVM's compiler and collector
    # threads. On a shared 4-core host, local[4] runs 30-80 % slower
    # whenever neighbours are busy, local[2] far less.
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": ctx.path("local"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        # the launcher JVM spark-submit starts first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    # a fixed heap and young generation keep the JVM's resident peak from
    # following the collector's run-to-run resizing decisions; without
    # perf data the JVM writes nothing to the system temp directory
    java_opts = (f"-Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN} -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp}")
    args = ["--driver-java-options", java_opts,
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={ctx.path('warehouse')}",
            "--conf", "spark.sql.streaming.numRecentProgressUpdates=10000"]
    if ctx.trace:
        from perfbench.spans import event_log_conf
        args += event_log_conf(ctx.event_log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_spark(ctx: Ctx):
    """The engine's own session factory, plus the package zip its Python
    workers import."""
    from fictional_guacamole_spark.session import get_spark
    from fictional_guacamole_spark.tables import _ensure_pyfiles

    ctx.spark = get_spark(f"perfbench-{ctx.workload}")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    _ensure_pyfiles(ctx.spark)
    return ctx.spark


def cleanup(ctx: Ctx) -> None:
    if ctx.work:
        shutil.rmtree(ctx.work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)         # only when no other run uses it
    except OSError:
        pass


def since_start(ctx: Ctx) -> float:
    return time.perf_counter() - ctx.t_start
