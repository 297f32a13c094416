"""Session start, warm-up and a full stop of the Spark driver JVM.

Everything a run writes (Spark local dirs, JVM and Python temp files, the
warehouse dir) stays inside the run's work directory.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pandas as pd

from host import descendants, reap


def prepare_env(root: str, work: str, driver_mem_mb: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # pyspark's gateway handshake file goes here
    os.environ["CURATOR_SPARK_DRIVER_MEM"] = f"{driver_mem_mb}m"


def start(nproc: int, work: str):
    from curator_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            # no hsperfdata file: the JVM writes it to the system temp dir,
            # outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every job of a run in the status store for span counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warmup(spark, nproc: int) -> None:
    """One Arrow UDF task per core, run concurrently: brings up a Python
    worker on every core. The UDF is local to this call (pickled by
    value): a module-level UDF object binds to the first SparkContext it
    meets, and a restarted session would inherit that stale binding."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    def ident(x: pd.Series) -> pd.Series:
        return x

    udf = F.pandas_udf(ident, LongType())
    spark.range(0, nproc, 1, nproc).select(udf("id")).write.format("noop").mode(
        "overwrite"
    ).save()


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for the whole
    process tree (JVM, Python daemon and workers) to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = [proc.pid] + descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:  # the JVM may already be gone
            pass
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(pids)
