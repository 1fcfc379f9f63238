import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tiff_to_geojson_csv_json_format_converter_spark.plans.session import get_spark

    s = get_spark(app_name="engine-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` calls ``fn()`` under a fresh Spark job group and
    returns ``(fn's result, the number of Spark jobs it ran)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"test-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, getattr(fn, "__name__", "call"))
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker learns of jobs from the listener bus: drain it
        # first, or a job the call ran may not be counted yet
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
