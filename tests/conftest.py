import pytest

from rdf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rdf_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture
def set_fastpath_cap(monkeypatch):
    """Setter for the one driver fast-path cap
    (``ops.fastpath.LOCAL_ROWS_MAX``), restored after the test: 0 pins
    every operator to its distributed path, None restores the default."""
    from rdf_spark.ops import fastpath

    default = fastpath.LOCAL_ROWS_MAX

    def set_cap(cap: int | None) -> None:
        monkeypatch.setattr(fastpath, "LOCAL_ROWS_MAX",
                            default if cap is None else cap)

    return set_cap


@pytest.fixture(params=["default", 0])
def fastpath_cap(request, set_fastpath_cap):
    """Runs a test once at the default cap (driver replicas) and once
    at cap 0 (distributed paths)."""
    if request.param != "default":
        set_fastpath_cap(request.param)
    return request.param
