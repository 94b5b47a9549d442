import pytest

from crypto_data_ingestion_module_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def physical_plan(df) -> str:
    """Formatted physical plan string (for plan-shape assertions)."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted through a job
    group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
