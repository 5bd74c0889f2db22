"""Pin the single source of the plain-SQL queries.

A query built by ``io.sql_query`` runs its ``ORACLE`` text through
``spark.sql`` and has no DataFrame builder beside it. The committed set
below makes a silent revert to a builder, or a fork of the SQL text
between the Spark side and the oracle side, fail the suite.
"""

from __future__ import annotations

from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES

PLAIN_SQL = {
    "q02_metadata_lookup_join",
    "q03_top_orders_per_customer",
    "q04_semi_join_open_orders",
    "q05_anti_join_no_orders",
    "q08_priority_rollup",
    "q10_running_window",
    "q11_positional_pick",
    "q13_events_tumbling",
    "q40_nation_set_ops",
    "q46_events_session",
    "q49_promo_revenue",
    "q52_status_cube",
    "q53_approx_distinct",
    "q58_salted_agg",
    "q60_grouping_sets",
    "q67_acctbal_deciles",
    "q69_status_pivot",
    "q70_brand_argmax",
    "q72_status_unpivot",
    "q83_nation_presence",
    "q98_user_snapshot_diff",
    "q106_idle_rich_customers",
    "q116_cumulative_distinct",
    "q119_incremental_totals",
    "q120_monthly_momentum",
    "q121_cusum_changepoints",
}


def _plain_sql_entries() -> dict[str, str]:
    return {
        name: fn.sql_text
        for name, fn in QUERIES.items()
        if getattr(fn, "sql_text", None) is not None
    }


def test_plain_sql_set_is_committed():
    assert set(_plain_sql_entries()) == PLAIN_SQL


def test_plain_sql_queries_run_their_oracle_text(spark, sf_dir, monkeypatch):
    statements: dict[str, str] = {}
    real_sql = spark.sql

    for name, text in _plain_sql_entries().items():
        assert text is ORACLE[name], f"{name}: SQL text forked from ORACLE"

        def record(statement, *args, _name=name, **kwargs):
            statements[_name] = statement
            return real_sql(statement, *args, **kwargs)

        monkeypatch.setattr(spark, "sql", record)
        QUERIES[name](spark, sf_dir)
        escaped = ORACLE[name].replace("{", "{{").replace("}", "}}")
        assert escaped in statements[name], f"{name} did not run ORACLE text"
    assert set(statements) == PLAIN_SQL
