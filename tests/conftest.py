import pytest


@pytest.fixture(scope="session")
def spark():
    from learn_to_compress_spark.sources.session import get_spark

    s = get_spark("local[4]", chunk_rows=2048, shuffle_partitions=8)
    yield s
    s.stop()
