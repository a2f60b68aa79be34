"""The driver contract file: shape and a mimicked driver run."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_contract_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 85
    assert set(oracles) <= set(qs)
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and "SELECT" in sql.upper() for sql in oracles.values())


def test_registry_order_is_the_salted_rotation():
    """Oracle entries by md5(salt + name), then rows-only in registration
    order; the first 50 (the correctness window) stay inside the oracle-cost
    budget."""
    import hashlib

    from opteryx_spark.suite import _ROTATION_SALT, REGISTRY, load_all

    reg = load_all()
    oracled = sorted(
        (n for n, qd in REGISTRY.items() if qd.oracle),
        key=lambda n: hashlib.md5((_ROTATION_SALT + n).encode()).hexdigest(),
    )
    rows_only = [n for n, qd in REGISTRY.items() if not qd.oracle]
    assert list(reg) == oracled + rows_only
    assert sorted(reg) == sorted(REGISTRY)
    assert list(entrymod.oracle_sql()) == oracled
    assert sum(qd.oracle_cost_s for qd in list(reg.values())[:50]) <= 1200


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.schema.fields) >= 5


def test_mimic_driver_compare(spark, duck, sf_dir):
    """Exactly the driver's per-query flow for a sample of queries."""
    from tests._compare import compare

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ["tpch_q1_pricing_summary", "join_full_outer", "dedup_fingerprint"]:
        compare(qs[name](spark, sf_dir), duck, oracles[name], name)
