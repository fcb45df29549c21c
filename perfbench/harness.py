"""Process environment, Spark lifetime and the op recorder shared by
the workloads."""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer, jobs_and_tasks


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(root: str, work: str) -> None:
    """Everything the driver JVM and its Python workers inherit. Workers
    import ``lindel_spark`` through PYTHONPATH (without it a run from
    outside the repo root dies in the worker with ModuleNotFoundError);
    scratch space, the JVM's temp dir and Spark's local dirs all live
    in ``work``, inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def start_spark():
    """The library's own session factory, on local[nproc]."""
    from lindel_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Op:
    id: int
    kind: str
    seconds: float
    ok: bool
    error: str | None = None
    jobs: int = 0
    tasks: int = 0
    info: dict = field(default_factory=dict)


class OpLog:
    """Runs ops, times them, checks their results and keeps going when
    one fails. ``check(result)`` returns None when the result is right
    and an error message otherwise; it runs after the clock stops.
    ``info`` is kept by reference, so the caller can add to it after
    the op returns."""

    def __init__(self, spark, tracer: Tracer | None = None):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[Op] = []
        self.timed = True   # off during warm-up: ops run but are dropped
        self._next_id = 0

    def run(self, kind: str, fn, check=None, info=None):
        op_id = self._next_id
        self._next_id += 1
        group = f"perfbench-{op_id}"
        if self.tracer is not None:
            self.tracer.op = op_id
            self.spark.sparkContext.setJobGroup(group, kind)
        result = None
        error = None
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is recorded, the run goes on
            error = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        seconds = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.op = None
        if error is None and check is not None:
            try:
                error = check(result)
            except Exception as e:  # noqa: BLE001 - a crashing check fails the op
                error = f"check raised {type(e).__name__}: {e}"
        op = Op(op_id, kind, seconds, error is None, error,
                info=info if info is not None else {})
        if self.tracer is not None:
            sc = self.spark.sparkContext
            op.jobs, op.tasks = jobs_and_tasks(sc, group)
            sc.setLocalProperty("spark.jobGroup.id", None)
        if error is not None:
            print(f"[perfbench] op {op_id} {kind} FAILED: {error}",
                  file=sys.stderr)
        if self.timed or error is not None:
            self.ops.append(op)
        return result

    def of(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]

    def seconds(self, *kinds: str) -> list[float]:
        return [o.seconds for o in self.of(*kinds)]
