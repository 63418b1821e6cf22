import pytest

from spectrify_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spectrify-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


class RegistryFrames:
    """Registry-key result frames, built once per session for the two
    whole-registry sweeps that only READ a frame: the column-name check
    in test_entry.py and the oracle sweep in test_oracle_parity.py.
    Building a key's frame runs its eager work (index builds, stream
    drains, publishes) — about two minutes for the whole registry at
    sf0.001 on 4 cores — and neither sweep needs a second build: the
    column check never executes the frame, so the oracle sweep is the
    first to run it.  ``keep`` holds a frame for a later consumer;
    ``take`` hands it over and drops the reference (or builds it, when
    running alone).  The plan gate (test_plans.py) still builds every
    frame itself."""

    def __init__(self, spark):
        import __spark_entry__ as entry_mod

        self._spark = spark
        self._queries = entry_mod.queries()
        self._frames: dict = {}

    def keep(self, name: str, sf: str):
        key = (name, sf)
        if key not in self._frames:
            self._frames[key] = self._queries[name](self._spark, sf)
        return self._frames[key]

    def take(self, name: str, sf: str):
        df = self._frames.pop((name, sf), None)
        if df is None:
            df = self._queries[name](self._spark, sf)
        return df


@pytest.fixture(scope="session")
def registry_frames(spark):
    return RegistryFrames(spark)


@pytest.fixture
def job_count(spark):
    """``job_count(fn)`` -> ``(fn(), number of Spark jobs fn started)``,
    counted through a job group once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job_count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
