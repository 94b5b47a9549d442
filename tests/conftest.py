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
