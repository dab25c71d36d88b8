"""A lost Spark JVM costs one test, not the rest of the suite: the
``spark`` fixture probes its cached session before every test and starts
a new one when the JVM no longer answers."""

from __future__ import annotations

import conftest
from py4j.protocol import Py4JError


def test_new_session_after_the_jvm_halts(spark, request):
    try:
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().halt(1)
    except (Py4JError, OSError):  # the call cannot return: its JVM is gone
        pass
    fresh = conftest.live_spark(request.node.nodeid)
    assert fresh is not spark
    assert fresh.range(3).count() == 3
