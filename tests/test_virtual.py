"""Virtual relations: built as plan-held rows, registered once per session."""

from __future__ import annotations

import pytest

import opteryx_spark as ox
from opteryx_spark import virtual
from opteryx_spark.cursor import _scala_seq
from tests.test_cursor_api import _jobs

_STATE = virtual.session_state_relations(
    {"lim": 3, "time_zone": "Europe/Paris"}, {"queries_executed": 7}, "ada", ["crew"]
)
RELATIONS = {**virtual.STATIC_RELATIONS, **_STATE}


def _leaves(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    return [leaf.getClass().getSimpleName() for leaf in _scala_seq(plan.collectLeaves())]


@pytest.mark.parametrize("name", sorted(RELATIONS))
def test_relation_is_a_local_relation_with_the_ddl_schema(spark, name):
    """Each relation has its DDL schema, the rows ``createDataFrame(list)``
    builds from the same rows, and a ``LocalRelation`` leaf."""
    from pyspark.sql.types import DataType

    rows, ddl = RELATIONS[name]
    df = virtual.local_relation(spark, rows, ddl)
    old = spark.createDataFrame(rows, ddl)
    assert df.schema == old.schema == DataType.fromDDL(ddl)
    assert df.collect() == old.collect()
    assert _leaves(df) == ["LocalRelation"]


@pytest.mark.parametrize("name", sorted(RELATIONS))
def test_registered_view_is_a_local_relation(spark, name):
    ox.connect(spark=spark)
    assert _leaves(spark.table(f"virtual_{name}")) == ["LocalRelation"]


def test_second_connect_starts_no_job(spark):
    """The virtual relations are registered once per session: a second
    connect reads no packaged parquet."""
    ox.connect(spark=spark)
    conns = []
    assert _jobs(spark, "second-connect", lambda: conns.append(ox.connect(spark=spark))) == 0
    assert conns[0].cursor().execute("SELECT COUNT(*) FROM $satellites").fetchall() == [(177,)]
