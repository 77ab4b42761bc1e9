import pytest

from scientific_papers_ocr_spark.session import build_session


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running end-to-end tests (spark-submit smoke)"
    )


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests",
        cores=4,
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
            # plan-shape tests match scan paths in explain output; untruncated
            # metadata keeps them independent of the checkout's path length
            "spark.sql.maxMetadataStringLength": "10000",
            # the session lives for the whole suite: with the 48g default
            # heap its JVM grew to 15 GB RSS on a 16 GB host and was
            # OOM-killed mid-suite
            "spark.driver.memory": "6g",
        },
    )
    yield s
    s.stop()
