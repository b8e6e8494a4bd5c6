"""Session set-up and the run loop shared by every workload."""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession

from annoy_spark.session import get_spark
from annoy_spark.sources.checkpoint import CheckpointStore

from probe import descendants


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Bench:
    """One run: work directory, session factory, operation counters."""

    root: Path            # the checkout; annoy_spark is imported from here
    work: Path            # scratch space inside the checkout
    trace: bool
    seconds: float
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "eventlog"):
            (self.work / d).mkdir(parents=True)
        # Python workers import annoy_spark from the checkout, and every
        # temporary file stays inside it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.root), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = str(self.work / "tmp")
        # no hsperfdata files in /tmp from spark-submit's launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus())

    def spark(self) -> SparkSession:
        conf = {
            # a fixed, pre-touched heap: the JVM's resident size then does
            # not depend on when its collector chose to grow the heap
            "spark.driver.memory": "2g",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        s = get_spark("perfbench", master=f"local[{n_cpus()}]",
                      shuffle_partitions=max(n_cpus(), 8), extra_conf=conf)
        s.sparkContext.setLogLevel("ERROR")
        return s

    def setups(self, warm_up, ready=None, n: int = 3):
        """Start the session ``n`` times (the first start launches the
        JVM; later ones stop the SparkContext and start a new one in it)
        and run ``warm_up(spark)`` after each. ``ready`` is called once,
        between the first start and its warm-up, to wait for the inputs
        generated meanwhile. Returns the last session and median times."""
        start, warm = [], []
        spark = None
        for i in range(n):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = self.spark()
            start.append(time.perf_counter() - t0)
            if i == 0 and ready is not None:
                ready()
            t1 = time.perf_counter()
            spark.sparkContext.setJobGroup("session", "session")
            warm_up(spark)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            warm.append(time.perf_counter() - t1)
        totals = [a + b for a, b in zip(start, warm)]
        self.phases["first_setup"] = round(totals[0], 2)
        return spark, {
            "setup_s": statistics.median(totals),
            "session.start_s": statistics.median(start),
            "session.warmup_s": statistics.median(warm),
        }

    def start(self, prepare, warm_up):
        """``prepare()`` (input generation) on a thread while the first
        session starts, then the set-ups."""
        err: list[BaseException] = []

        def target() -> None:
            try:
                prepare()
            except BaseException as e:  # re-raised on the main thread
                err.append(e)

        th = threading.Thread(target=target)
        th.start()

        def ready() -> None:
            th.join()
            if err:
                raise err[0]

        try:
            return self.setups(warm_up, ready)
        finally:
            th.join()

    @contextmanager
    def phase(self, name: str):
        """Wall time of one part of the run, reported as context."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(time.perf_counter() - t0, 2)

    def op(self, fn, *args):
        """Run one counted operation. ``fn`` raises on a failed output
        check; the failure is recorded and the run goes on."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - counted, reported, not fatal
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut down the Spark JVM this process launched and wait until it
    and the Python workers it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(os.getpid())
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while (any(os.path.exists(f"/proc/{p}") for p in pids)
           and time.monotonic() < deadline):
        time.sleep(0.1)


class CheckFailed(AssertionError):
    """An output check of the benchmark failed."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def dir_mb(path: str | Path) -> float:
    return sum(
        f.stat().st_size for f in Path(path).rglob("*") if f.is_file()
    ) / (1024.0 * 1024.0)


def checkpoint_io(spark, cfg, src, dst, stages) -> dict:
    """Re-persist each computed stage output under ``src`` through
    CheckpointStore: separates checkpoint write and read cost from the
    stage compute that a first write also runs."""
    a, b = CheckpointStore(str(src), cfg), CheckpointStore(str(dst), cfg)
    write_s = read_s = 0.0
    for s in stages:
        t0 = time.perf_counter()
        df = a.read(spark, s)
        df.count()
        t1 = time.perf_counter()
        b.write(s, df)
        write_s += time.perf_counter() - t1
        read_s += t1 - t0
    return {"checkpoint.write_s": write_s, "checkpoint.read_s": read_s,
            "checkpoint.bytes_written_mb": dir_mb(dst)}
