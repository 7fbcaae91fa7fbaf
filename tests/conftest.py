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


@pytest.fixture
def new_sql_plans(spark):
    """``new(path=None)``: the physical plans of the session's SQL
    executions that ran since the previous call (the first call: since
    the test began); with ``path``, only those that read files under it.
    Execution ids grow by one per execution, so only new plans are
    fetched — the status store may hold hundreds of large ones."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    seen = last_id()

    def new(path: str | None = None) -> list[str]:
        nonlocal seen
        end = last_id()
        execs = [store.execution(i) for i in range(seen + 1, end + 1)]
        seen = end
        fresh = [e.get().physicalPlanDescription() for e in execs
                 if e.isDefined()]
        if path is None:
            return fresh
        return [p for p in fresh
                if any(ln.startswith("Location:") and path in ln
                       for ln in p.splitlines())]

    return new
