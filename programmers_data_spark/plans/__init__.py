"""Config-driven summary builds (EP3 parity).

The reference's closest thing to an engine is a dict-of-SQL "IR":
config files declaring main_sql + input/output count checks, executed
by RedshiftSummaryOperator as CTAS → validate → swap
(plugins/redshift_summary.py:18-33 config loading, :139-178 compose+
swap, :180-219 execute; configs airflow/dags/config/*.py).

Spark-native equivalent: ``SummaryConfig`` declares the same three
parts; ``build_summary_table`` runs the SQL against registered temp
views, gates on the checks, and swap-publishes parquet. Configs are
plain data (no eval()) — the query IR is Catalyst's logical plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..catalog import read_parquet, register_views
from ..publish import publish_swap
from ..quality import CountCheck, run_sql_checks


@dataclass(frozen=True)
class SummaryConfig:
    """Mirror of a config/*.py entry (e.g. mau_summary.py:1-28)."""

    table: str
    main_sql: str
    input_checks: list[tuple[str, CountCheck]] = field(default_factory=list)
    output_checks: list[CountCheck] = field(default_factory=list)


def build_summary_table(
    spark: SparkSession,
    sf_dir: str,
    config: SummaryConfig,
    out_dir: str,
) -> DataFrame:
    """Execute one summary config: register sources → input checks →
    main SQL → output checks → atomic swap publish → return result."""
    register_views(spark, sf_dir)
    if config.input_checks:
        run_sql_checks(spark, config.input_checks)
    result = spark.sql(config.main_sql)
    publish_swap(result, f"{out_dir}/{config.table}", checks=config.output_checks)
    return read_parquet(spark, f"{out_dir}/{config.table}")


# Reference-faithful configs mapped onto the fixtures (FIXTURES.md):
# thresholds scaled to the smallest test SF the driver uses.
MAU_SUMMARY = SummaryConfig(
    table="mau_summary",
    main_sql="""
        SELECT date_format(ts, 'yyyy-MM-dd') AS date,
               count(DISTINCT user_id) AS mau
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    input_checks=[
        ("SELECT count(1) FROM events", CountCheck("events>=1000", 1000, "ge")),
    ],
    output_checks=[CountCheck("mau_summary>=7", 7, "ge")],
)

CHANNEL_SUMMARY = SummaryConfig(
    table="channel_summary",
    main_sql="""
        SELECT DISTINCT user_id,
          first_value(event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
          ) AS first_channel,
          last_value(event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
          ) AS last_channel
        FROM events
    """,
    input_checks=[
        ("SELECT count(1) FROM events", CountCheck("events>=1000", 1000, "ge")),
    ],
    output_checks=[CountCheck("channel_summary>=7", 7, "ge")],
)

NPS_SUMMARY = SummaryConfig(
    table="nps_summary",
    main_sql="""
        SELECT date_format(ts, 'yyyy-MM-dd') AS date,
               floor(sum(CASE WHEN value >= 90 THEN 1
                              WHEN value <= 60 THEN -1 ELSE 0 END)
                     * 100.0 / count(1) * 100 + 0.5) / 100 AS nps
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    input_checks=[
        ("SELECT count(1) FROM events", CountCheck("events>=1000", 1000, "ge")),
    ],
    output_checks=[CountCheck("nps_summary>=12", 12, "ge")],
)

ALL_CONFIGS = (MAU_SUMMARY, CHANNEL_SUMMARY, NPS_SUMMARY)
