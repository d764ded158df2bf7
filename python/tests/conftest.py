import glob
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.environ.get("GRAFT_REPO", os.path.dirname(os.path.dirname(HERE)))
GRAFT_PY = os.path.join(REPO, "python")
CLASSES = os.path.join(REPO, "target", "scala-2.13", "classes")
sys.path.insert(0, GRAFT_PY)
# Executor Python workers are forked with PYTHONPATH from the env, not the
# driver's sys.path: without this, cloudpickled functions that reference the
# graft package die with ModuleNotFoundError on the workers.
os.environ["PYTHONPATH"] = GRAFT_PY + (
    (":" + os.environ["PYTHONPATH"]) if os.environ.get("PYTHONPATH") else ""
)


def _compiled_classes_error():
    """Why the compiled Scala classes cannot back the tests, or None.

    Every pipeline/temporal/streaming wrapper runs the compiled Scala
    operator, so a missing class would fail each test with its own py4j
    error and a stale one would silently test old code. A source is
    stale when it is newer than both the newest class file and sbt's
    compile log: an incremental compile rewrites only the classes of the
    sources whose content changed, but it rewrites that log on every
    run, so a touched-but-unchanged source clears after `sbt compile`."""
    stats = os.path.join(CLASSES, "graft", "pipeline", "Stats.class")
    if not os.path.exists(stats):
        return f"{stats} is missing: run `sbt compile` first"
    compile_log = os.path.join(REPO, "target", "streams", "compile",
                               "compileIncremental", "_global", "streams",
                               "out")
    stamps = glob.glob(os.path.join(CLASSES, "**", "*.class"), recursive=True)
    stamps += [p for p in [compile_log] if os.path.exists(p)]
    compiled = max(os.path.getmtime(p) for p in stamps)
    sources = glob.glob(os.path.join(REPO, "src", "main", "scala", "**",
                                     "*.scala"), recursive=True)
    newest = max(sources, key=os.path.getmtime)
    if os.path.getmtime(newest) > compiled:
        return (f"{newest} is newer than the compiled classes under "
                f"{CLASSES}: run `sbt compile`")
    return None


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    err = _compiled_classes_error()
    if err:
        pytest.exit(err, returncode=1)
    classpath = ":".join(
        [
            CLASSES,
            "/opt/spark/jars/jts-core-1.20.0.jar",
        ]
    )
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("graft-pytest")
        .config("spark.driver.extraClassPath", classpath)
        .config("spark.executorEnv.PYTHONPATH", GRAFT_PY)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import graft

    graft.init(spark)
    yield spark
    spark.stop()
