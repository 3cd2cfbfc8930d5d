import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kairos_spark import configured_builder

# The reference's fixture anchor (helper_helper.py:11-12): 500000 h,
# 2027-01-15 08:00 UTC.
FIXTURE_ANCHOR = 500000 * 3600


@pytest.fixture(scope="session")
def spark():
    session = (
        configured_builder("kairos_spark-tests", cores=4)
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        # 6g: the suite runs 500+ tests against ONE JVM; iterative
        # operators cache intermediates and the old 4g ceiling let a
        # long run stop the SparkContext near the end of the suite
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    yield session


@pytest.fixture(autouse=True)
def _clear_spark_cache(request):
    """Evict persisted DataFrames after every test. The iterative graph
    operators now unpersist their own intermediates (round-6 ADVICE
    fix), but this stays as a backstop: across 500+ tests any leaked
    block accumulates until the shared test JVM's SparkContext dies
    mid-suite (observed pre-fix: everything after the property file
    failing with 'stopped SparkContext'). One cheap clearCache RPC per
    test keeps the session bounded regardless."""
    yield
    if "spark" in request.fixturenames:
        request.getfixturevalue("spark").catalog.clearCache()


@pytest.fixture(scope="module")
def fixture_clock():
    """Pin the clock kairos_spark reads (``insert``'s retention drop,
    default timestamps and ranges) to ``FIXTURE_ANCHOR`` for a module.
    Fixtures written near the anchor into a retention-bounded interval
    then stay stored whatever the wall clock reads. Module-scoped, so
    it also holds while module-scoped stores are filled."""
    from kairos_spark import timemath, timeseries

    clock = types.SimpleNamespace(time=lambda: float(FIXTURE_ANCHOR))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(timemath, "_time", clock)
        mp.setattr(timeseries, "_time", clock)
        yield clock
