import pytest


@pytest.fixture(scope="session")
def spark():
    from extract_text_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def kernel_tasks(spark, monkeypatch):
    """Counts the extraction kernel's Python tasks while a test runs:
    ``(started, fed)`` accumulators — every kernel task, and those that
    received at least one row."""
    from extract_text_spark import pipeline

    sc = spark.sparkContext
    started, fed = sc.accumulator(0), sc.accumulator(0)
    kernel = pipeline._extract_batches

    # defined in the fixture so cloudpickle ships it by value
    def counting(batches):
        started.add(1)

        def tap():
            empty = True
            for b in batches:
                if empty and len(b):
                    fed.add(1)
                    empty = False
                yield b
        yield from kernel(tap())

    monkeypatch.setattr(pipeline, "_extract_batches", counting)
    return started, fed


@pytest.fixture
def sql_conf(spark):
    """Sets session SQL confs for one test and restores them after."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)
    yield set_
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
