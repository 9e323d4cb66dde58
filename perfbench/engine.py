"""Session lifecycle and scratch containment for one benchmark run.

Every run gets a fresh driver JVM and SparkSession, as a nightly
``spark-submit`` or a new analyst session does, so seam builds,
first-run codegen and JVM warm-up are paid on every run. All scratch
space the engine can touch (``TMPDIR``, ``SPARK_LOCAL_DIRS``, the
stream checkpoint parent, ``java.io.tmpdir`` and the SQL warehouse) is
pointed at a per-run directory, measured, then deleted.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

# Created by the benchmark under the checkout root; listed in .gitignore.
RUN_ROOT = ".perfbench_run"


def cores() -> int:
    """``local[N]`` size: ``SPARK_GRAFT_CPUS`` (the driver contract) or
    the machine's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def tree_bytes(path: Path) -> int:
    """Allocated bytes under ``path`` (files and directories, as du)."""
    if not path.exists():
        return 0
    total = path.lstat().st_blocks * 512
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                total += os.lstat(os.path.join(root, name)).st_blocks * 512
            except FileNotFoundError:
                pass  # removed while walking (a finishing task)
    return total


def file_count(path: Path) -> int:
    return sum(len(files) for _, _, files in os.walk(path)) if path.exists() else 0


@dataclass(frozen=True)
class RunDirs:
    """Per-run directory layout under ``<checkout>/.perfbench_run/<pid>``."""

    root: Path

    @property
    def data(self) -> Path:  # generated inputs
        return self.root / "data"

    @property
    def out(self) -> Path:  # durable tables the nightly chain writes
        return self.root / "out"

    @property
    def scratch(self) -> tuple[Path, ...]:
        """tmp, Spark local dirs, stream checkpoints, SQL warehouse."""
        return tuple(self.root / d for d in ("tmp", "local", "ckpt", "warehouse"))

    @classmethod
    def create(cls, checkout: Path) -> RunDirs:
        dirs = cls(checkout / RUN_ROOT / str(os.getpid()))
        shutil.rmtree(dirs.root, ignore_errors=True)
        for d in (dirs.data, dirs.out, *dirs.scratch):
            d.mkdir(parents=True)
        tmp, local, ckpt, _ = dirs.scratch
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = str(ckpt)
        tempfile.tempdir = None  # re-read TMPDIR on the next mkdtemp
        return dirs

    def scratch_bytes(self) -> int:
        return sum(tree_bytes(d) for d in self.scratch)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = self.root.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


def _warm_up(spark) -> None:
    """First job, first Python worker and first JSON codegen, so they
    are billed to set-up instead of to whichever operation runs first."""
    spark.range(1).count()
    spark.range(100).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(10).selectExpr("from_json('{\"k\": 1}', 'k BIGINT') AS j").write.format(
        "noop"
    ).mode("overwrite").save()


def start_session(dirs: RunDirs, cpus: int):
    """Launch a fresh driver JVM and session; return (spark, setup_s)."""
    from airflow_baseball_spark.session import get_spark

    tmp, _, _, warehouse = dirs.scratch
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(warehouse),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    _warm_up(spark)
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM (VmHWM), in MB."""
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for driver JVM pid {pid}")


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so
    the next session starts cold and no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
