"""Session confs fail loud: ``tune_session`` only sets confs a live
session accepts, and a query's declared conf overrides either apply or
raise."""

from __future__ import annotations

import pytest

from open_rust_timeseries_db_spark.queries.registry import REGISTRY, query
from open_rust_timeseries_db_spark.session import RUNTIME_CONFS, tune_session


def test_runtime_confs_are_modifiable(spark):
    static = [k for k in RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert not static, f"static confs belong on the builder: {static}"
    assert tune_session(spark) is spark


def test_unsettable_query_conf_raises_with_the_query_name(spark):
    # Running under the session's conf instead would still be checked
    # as this query.
    try:
        @query(
            "q_static_conf_probe",
            oracle=None,
            tags=("test",),
            session_confs={"spark.sql.warehouse.dir": "/tmp/elsewhere"},
        )
        def probe(spark, sf_dir):
            return spark.range(1)

        with pytest.raises(
            RuntimeError, match="q_static_conf_probe.*spark.sql.warehouse.dir"
        ):
            REGISTRY["q_static_conf_probe"].fn(spark, "/tmp/sfdir")
    finally:
        REGISTRY.pop("q_static_conf_probe", None)
