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
            # the session lives for the whole suite: a fixed heap keeps its
            # footprint the same on every host
            "spark.driver.memory": "6g",
        },
    )
    yield s
    s.stop()


@pytest.fixture
def routed_calls(monkeypatch):
    """The conv_id set each ``documents.assemble_sorted`` call receives as
    ``routed`` (None when it routes nothing), in call order: a routed
    conversation leaves no other trace in the docs plan."""
    from scientific_papers_ocr_spark.operators import documents

    calls: list = []
    real = documents.assemble_sorted

    def spy(tagged, routed=None, *args, **kwargs):
        calls.append(None if routed is None else set(routed))
        return real(tagged, routed, *args, **kwargs)

    monkeypatch.setattr(documents, "assemble_sorted", spy)
    return calls
