"""Empty-input robustness: EVERY registered query must plan and execute
against empty (schema-identical) driver tables without raising — the
degenerate partition every 100 TB job eventually meets (an empty
source-day, a filter that matches nothing, a fresh table). Rows out
must be zero-or-small, never an exception.

(The media queries synthesize their own fixed-size input and are
expected to return their usual rows — the point is that nothing
CRASHES when the relational tables are empty.)"""

from __future__ import annotations

import pytest

from s1tiling_spark.sources.tables import TABLES
from tests.conftest import SF_DIR_ORACLE


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = spark.read.parquet(f"{SF_DIR_ORACLE}/{t}.parquet").schema
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            str(out / f"{t}.parquet")
        )
    return str(out)


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    import __spark_entry__ as e

    failures = []
    for name, fn in e.queries().items():
        try:
            fn(spark, empty_sf_dir).count()
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: {type(ex).__name__}: {ex}")
        finally:
            spark.catalog.clearCache()
    assert not failures, "\n".join(failures)
