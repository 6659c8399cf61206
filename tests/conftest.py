from __future__ import annotations

import pytest

from geodiff_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    import tempfile

    # 16 of the 32 host cores: Spark-bound oracle-replay tests scale
    # near-linearly to 16 here (suite wall 18.5 -> ~12 min) while the
    # DuckDB oracle and python workers keep headroom; coverage is
    # unchanged (no test depends on the partition count).
    s = get_spark(
        "geodiff_spark_tests",
        cores=16,
        shuffle_partitions=16,
        extra_confs={
            # a heap the host can hold: on a host with less RAM than
            # session.py's 48g default, the heap grows until the kernel
            # OOM-kills the JVM midway through the suite
            "spark.driver.memory": "6g",
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="gds_wh_"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s


def assert_df_equal(a, b, key=None):
    """Order-insensitive DataFrame equality on collected rows."""
    ka = sorted(map(repr, a.collect()))
    kb = sorted(map(repr, b.collect()))
    assert ka == kb, f"\nonly-left={set(ka) - set(kb)}\nonly-right={set(kb) - set(ka)}"
