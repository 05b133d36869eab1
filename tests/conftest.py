from __future__ import annotations

import pytest

from hjsonschema_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[N] over the host's usable cores, get_spark's default shuffle
    # partitions (see session.default_parallelism)
    s = get_spark(app_name="hjsonschema_spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
