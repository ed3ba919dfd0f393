"""Start and stop the engine's Spark session with every file kept inside the
checkout, and the JVM gateway process waited for at the end."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start(cores: int, work_dir: str, app: str):
    """`session.get_spark` at local[cores]. Spark's scratch space, the JVM's
    temp dir and Python's TMPDIR all live in `work_dir`; Python workers
    import the package through PYTHONPATH, which the JVM inherits."""
    from osm_notes_ingestion_spark.session import get_spark

    local = os.path.join(work_dir, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return get_spark(
        cores,
        app,
        {
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "10000",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def shutdown(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for it to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
