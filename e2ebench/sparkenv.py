"""The benchmark's Spark session: started through ``ocr_spark.session``
with every scratch path inside the run's work dir, and stopped together with
its JVM and Python workers."""

from __future__ import annotations

import os
import shlex
import time

from e2ebench import cpu

MASTER = "local[4]"
CORES = 4
DRIVER_MEM = "2g"


class SparkEnv:
    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None

    def start(self) -> float:
        """Start the session; return the seconds ``get_spark`` took."""
        tmp = os.path.join(self.work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        local = os.path.join(self.work_dir, "local")
        warehouse = os.path.join(self.work_dir, "warehouse")
        os.environ["TMPDIR"] = tmp
        os.environ["OCR_SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", f"spark.local.dir={local}",
            "--conf", f"spark.sql.warehouse.dir={warehouse}",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
            "pyspark-shell"])
        from ocr_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("e2ebench", master=MASTER)
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    def warm_workers(self) -> None:
        """Run a trivial ``mapInPandas`` until one Python worker per core
        has served a task."""
        import pandas as pd

        def pid_of_worker(batches):
            time.sleep(0.3)   # hold the core so each task gets its own worker
            for _ in batches:
                pass
            yield pd.DataFrame({"pid": [os.getpid()]})

        for _ in range(3):
            rows = (self.spark.range(0, CORES, numPartitions=CORES)
                    .mapInPandas(pid_of_worker, "pid long").collect())
            if len({r.pid for r in rows}) == CORES:
                return
        raise RuntimeError("could not get one Python worker per core")

    def stop(self, timeout_s: float = 60.0) -> list[cpu.Proc]:
        """Stop the session, its JVM and its Python workers; return any
        process of the tree as it was before the stop that is still alive
        after ``timeout_s``. The tree is taken first because a process whose
        parent has ended is re-parented out of it."""
        if self.spark is None:
            return []
        from pyspark import SparkContext
        tree = cpu.snapshot()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()     # the JVM exits when its stdin closes
                proc.wait(timeout=timeout_s)
            SparkContext._gateway = None
            SparkContext._jvm = None
        mine = os.getpid()
        return cpu.wait_gone([p for p in tree.values() if p.pid != mine],
                             timeout_s)
