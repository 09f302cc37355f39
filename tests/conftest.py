from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from session_graph_spark.session import get_spark

    # a bounded heap: get_spark's 16g default is sized for the sf1.0
    # bench corpus, and the test corpora need a fraction of it
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()
