import pytest


@pytest.fixture(scope="session")
def spark():
    from learn_to_compress_spark.sources.session import get_spark

    s = get_spark("local[4]", chunk_rows=2048, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def installed_model():
    """The race-pruning regressor installed in this process for one test."""
    from learn_to_compress_spark import learned

    with learned.var_regressor_installed(learned.var_regressor_params()):
        yield
