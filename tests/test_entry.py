"""Driver-contract smoke: entry() and a sample of queries at sf0.001."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_query_has_callable_and_oracle_keys_subset(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 30
    # the external gate attests only the FIRST 50 registrations; entries
    # 51+ silently get NO verdict (round-3 failure mode) — hard cap
    assert len(qs) <= 50, f"{len(qs)} queries registered; driver cap is 50"
    assert set(oracles) <= set(qs)
    # the vast majority must be oracle-checked, not rows-only
    assert len(oracles) >= 0.75 * len(qs)


def test_must_attest_queries_inside_driver_cap(spark):
    # round-2/3 red or dropped rows MUST hold a driver-attested slot
    first50 = list(entrymod.queries())[:50]
    for name in [
        "customer_metrics_rollup",
        "udf_sha256_lang",
        # r4 VERDICT Next #4: J2 must carry a driver verdict
        "theta_or_dim_join",
        # the two paths: CDC ingest and the identity pipeline
        "cdc_final_state",
        "customer360_pipeline",
    ]:
        assert name in first50, name


def test_local_gate_rejects_non_scalar_cells():
    """The driver's pandas canonicalizer crashes on array cells; the
    local gate must REFUSE them (str(v) green-lit driver-red rows in
    rounds 2 and 3) so roster projections serialize vectors instead."""
    import pandas as pd
    import pytest

    from tools.check_oracles import table_hash

    with pytest.raises(TypeError):
        table_hash(pd.DataFrame({"id": [1], "vec": [[1, 2, 3]]}))
    # scalars still hash fine
    assert table_hash(pd.DataFrame({"id": [1], "s": ["a"]}))


def test_roster_schemas_are_scalar_only(spark):
    """The external canonicalizer crashes on array/map/struct cells, so
    EVERY attested roster query must project scalars only (vectors
    serialize via array_join). Schema-only: builds each plan at sf0.001
    without executing it."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name, fn in entrymod.queries().items():
        schema = fn(spark, SF).schema
        for field in schema.fields:
            assert not isinstance(field.dataType, (ArrayType, MapType, StructType)), (
                f"{name}.{field.name} is {field.dataType.simpleString()}; "
                "serialize it (F.array_join / to_json) for the roster"
            )


def test_sample_queries_run_at_sf0001(spark):
    qs = entrymod.queries()
    for name in ["pricing_summary", "match_candidates", "golden_event_type", "cdc_final_state"]:
        df = qs[name](spark, SF)
        assert df.count() > 0, name
