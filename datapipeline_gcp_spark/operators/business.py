"""Business-layer KPI aggregates A1-A5 (SURVEY.md §2.5): one function
per KPI over a weighted grain.

Each ``b_<name>(g)`` reproduces one reference business table exactly —
same group keys, same aggregate set, same output aliases:

- ``b_sales_kpi``           — ``b_sales_kpi.sql:2-14``
- ``b_performance_metrics`` — ``b_performance_metrics.sql:1-16`` (also
  inline at ``cloud_composer/datapipeline_gcp.py:119-135``)
- ``b_customer_retention``  — ``b_customer_retention.sql:2-13``
- ``b_profitability_kpi``   — ``b_profitability_kpi.sql:2-14``
- ``b_product_performance`` — ``b_product_performance.sql:2-18`` (inline
  ``datapipeline_gcp.py:137-154``; canonical ``b_`` name per SURVEY §1.5.3)

The grain ``g`` has the master's column names plus ``_n``, the number of
master rows a grain row stands for, and ``_q``, their unscaled quantity
sum (A4/A5 only). The pipeline's master is the ``_n = 1`` grain
(:func:`master_grain`; Catalyst folds the ``* 1``). The registry and the
``bench.py`` headline aggregate the TPC-H testdata at order grain:
lineitem contributes only multiplicity (and quantity), so it is
pre-counted per order key — ~4x fewer rows into every aggregate, and at
100 TB one bigint per order crosses the shuffle instead of the fan-out.

EXACTNESS, for arbitrary data: money sums are integer arithmetic on
unscaled longs (``determinism``), so SUM(u(x)) over n copies is
SUM(u(x) * n) bit for bit; COUNT(x) is the SUM of n over rows with x
non-null (x is order-level, so all n copies are NULL together); COUNT
(DISTINCT k) ignores multiplicity; duplicate order keys fan out, and
NULL join keys and orders without lineitems drop, identically on both
grains (inner equi-joins). The per-row product u(c) * _n stays a long
(|u| <= 1e10 for money <= 1e6, times <= 7 lineitems per order, << 2^63);
past that the product and the SUM raise ARITHMETIC_OVERFLOW under ANSI.

Build each repeated measure Column once per KPI and reuse it: the plan
is the same, and the driver builds half the expression trees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_gcp_spark.determinism import (
    money_total,
    money_unscaled,
    sql_davg,
    sql_dsum,
    sql_dsum_diff,
)
from datapipeline_gcp_spark.operators.master import MASTER_ORACLE
from datapipeline_gcp_spark.schemas import load_testdata


def _wsum(c: str) -> Column:
    """SUM(c) over the grain: SUM(u(c) * _n) rescaled to DOUBLE."""
    return money_total(F.sum(money_unscaled(c) * F.col("_n")))


def _wcount(c: str) -> Column:
    """COUNT(c) over the grain: total multiplicity of non-null c."""
    return F.sum(F.when(F.col(c).isNotNull(), F.col("_n")).otherwise(0))


def _wsum_diff(left: str, right: str) -> Column:
    """SUM(left - right) over the grain; a row's difference is NULL iff
    either side is, like the oracle's decimal subtraction."""
    return money_total(
        F.sum((money_unscaled(left) - money_unscaled(right)) * F.col("_n"))
    )


def _total_quantity() -> Column:
    """SUM(quantity) over the grain: the ``_q`` pre-sums rescaled to
    DOUBLE once per output group."""
    return money_total(F.sum(F.col("_q")))


def _country_date() -> list:
    # Built lazily — Column construction needs an active SparkContext.
    return [
        F.col("transaction_country").alias("country"),
        F.to_date("transaction_datetime").alias("date"),
    ]


# --- One function per KPI ----------------------------------------------------


def b_sales_kpi(g: DataFrame) -> DataFrame:
    """A1 — sales KPI by country and date (``b_sales_kpi.sql:2-14``)."""
    income = _wsum("income")
    return g.groupBy(*_country_date()).agg(
        F.countDistinct("transaction_id").alias("transaction_count"),
        income.alias("total_income"),
        (income / _wcount("income")).alias("average_income"),
        _wsum_diff("income", "campaign_cost").alias("total_profit"),
    )


def b_performance_metrics(g: DataFrame) -> DataFrame:
    """A2 — A1's aggregates + campaign-cost measures + the post-agg
    ratio SUM(income)/COUNT(DISTINCT transaction_id)
    (``b_performance_metrics.sql:1-16``)."""
    txns = F.countDistinct("transaction_id")
    income, cost = _wsum("income"), _wsum("campaign_cost")
    return g.groupBy(*_country_date()).agg(
        txns.alias("transaction_count"),
        income.alias("total_income"),
        cost.alias("total_campaign_cost"),
        (income / _wcount("income")).alias("average_income"),
        (cost / _wcount("campaign_cost")).alias("average_campaign_cost"),
        _wsum_diff("income", "campaign_cost").alias("total_profit"),
        (income / txns).alias("average_transaction_value"),
    )


def b_customer_retention(g: DataFrame) -> DataFrame:
    """A3 — conditional distinct counts (``b_customer_retention.sql:2-13``).

    COUNT(DISTINCT CASE WHEN p THEN customer_id END) counts distinct
    non-NULL customers with at least one p-true row in the group. Three
    of them would force Catalyst's Expand-x3 distinct rewrite; instead
    collapse to one row per (group, customer) carrying ANY-row flags,
    then count plainly. max(bool) skips NULL like the un-ELSE'd CASE
    (all-NULL predicate -> NULL -> not counted); a NULL customer stays a
    group key of the first phase, but count() skips it. Distinct counts
    need no multiplicity, so this KPI reads no ``_n``.
    """
    country, date = _country_date()
    per_customer = g.groupBy(country, date, F.col("customer_id")).agg(
        F.max(F.col("income") > 0).alias("_paying"),
        F.max(F.col("income") == 0).alias("_non_paying"),
    )
    return per_customer.groupBy("country", "date").agg(
        F.count("customer_id").alias("unique_customers"),
        F.count(F.when(F.col("_paying"), F.col("customer_id"))).alias(
            "paying_customers"
        ),
        F.count(
            F.when(F.col("_non_paying"), F.col("customer_id"))
        ).alias("non_paying_customers"),
    )


def b_profitability_kpi(g: DataFrame) -> DataFrame:
    """A4 — profitability by product and country, no date key
    (``b_profitability_kpi.sql:2-14``)."""
    income = _wsum("income")
    return g.groupBy(
        "product_id", F.col("transaction_country").alias("country")
    ).agg(
        _total_quantity().alias("total_quantity"),
        income.alias("total_income"),
        (income / _wcount("income")).alias("average_income"),
        _wsum_diff("income", "campaign_cost").alias("total_profit"),
    )


def b_product_performance(g: DataFrame) -> DataFrame:
    """A5 — product performance by product, country and date — the
    3-key grouping (``b_product_performance.sql:2-18``)."""
    txns = F.countDistinct("transaction_id")
    income = _wsum("income")
    return g.groupBy(
        "product_id",
        F.col("transaction_country").alias("country"),
        F.to_date("transaction_datetime").alias("date"),
    ).agg(
        txns.alias("transaction_count"),
        _total_quantity().alias("total_quantity"),
        income.alias("total_income"),
        (income / _wcount("income")).alias("average_income"),
        _wsum_diff("income", "campaign_cost").alias("total_profit"),
        (income / txns).alias("average_transaction_value"),
    )


# --- Pipeline: the master is the _n = 1 grain --------------------------------


def master_grain(master: DataFrame) -> DataFrame:
    """The materialized master as a grain: every row stands for itself
    (``_n = 1``) and ``_q`` is its unscaled quantity. KPIs that do not
    read ``_q`` prune it away."""
    return master.select(
        "*", F.lit(1).alias("_n"), money_unscaled("quantity").alias("_q")
    )


def _builder(kpi):
    def build(master: DataFrame) -> DataFrame:
        return kpi(master_grain(master))

    return build


#: The pipeline's business step: table name -> ``(master) -> DataFrame``.
BUILDERS = {
    kpi.__name__: _builder(kpi)
    for kpi in (
        b_sales_kpi,
        b_performance_metrics,
        b_customer_retention,
        b_profitability_kpi,
        b_product_performance,
    )
}

# --- Registry: the TPC-H testdata at order grain -----------------------------


def _order_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per orders-row x customer match having >=1 lineitem, with
    ``_n`` = the lineitem multiplicity of that row's order key."""
    t = load_testdata(spark, sf_dir, ("customer", "orders", "lineitem"))
    li_n = t["lineitem"].groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        t["orders"]
        .join(li_n, t["orders"].o_orderkey == li_n.l_orderkey, "inner")
        .join(
            t["customer"],
            t["orders"].o_custkey == t["customer"].c_custkey,
            "inner",
        )
        .select(
            F.col("o_orderkey").alias("transaction_id"),
            F.col("o_totalprice").alias("income"),
            F.col("c_acctbal").alias("campaign_cost"),
            F.col("c_mktsegment").alias("transaction_country"),
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderdate").alias("transaction_datetime"),
            F.col("_n"),
        )
    )


def _order_grain_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-free variant for queries whose aggregates are ALL
    COUNT(DISTINCT ...): distinct counting is invariant under fan-out,
    so the lineitem leg degrades to an existence check — a left-semi
    join, which needs neither the fan-out rows nor the count
    aggregation."""
    t = load_testdata(spark, sf_dir, ("customer", "orders", "lineitem"))
    return (
        t["orders"]
        .join(
            t["lineitem"],
            t["orders"].o_orderkey == t["lineitem"].l_orderkey,
            "left_semi",
        )
        .join(
            t["customer"],
            t["orders"].o_custkey == t["customer"].c_custkey,
            "inner",
        )
        .select(
            F.col("o_orderkey").alias("transaction_id"),
            F.col("o_totalprice").alias("income"),
            F.col("c_mktsegment").alias("transaction_country"),
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderdate").alias("transaction_datetime"),
        )
    )


def _retention_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata master has income = o_totalprice, which is never 0,
    so the retention query's income=0 branch would be vacuous. The
    fixture maps income to 0 for a deterministic 1/7th of transactions
    (o_orderkey % 7 = 0) so both CASE branches are exercised; the
    pipeline tests cover the literal >0/=0 semantics on generated
    fixtures with real zero incomes. The remap keys on transaction_id,
    which is order-level, so it commutes with the grain change."""
    return _order_grain_semi(spark, sf_dir).withColumn(
        "income",
        F.when(F.col("transaction_id") % 7 == 0, F.lit(0.0)).otherwise(
            F.col("income")
        ),
    )


def _orderpart_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(orders-row x part) grain for the product-keyed KPIs (A4/A5):
    lineitem pre-aggregated by (l_orderkey, l_partkey) into ``_n`` (row
    multiplicity) and ``_q`` (unscaled-long quantity sum), then joined
    to orders and customer. The pre-agg shuffles four longs instead of
    an 11-column partial-aggregate state, and collapses the lineitem
    grain BEFORE the joins. Quantity is the only lineitem-grain measure
    these KPIs touch, and it pre-sums exactly as unscaled longs.
    transaction_count must REMAIN a COUNT(DISTINCT o_orderkey) here —
    two identical-keyed orders rows (dupkeys variant has 150) land in
    the same group as two grain rows, and only distinct-counting
    collapses them the way the master does."""
    t = load_testdata(spark, sf_dir, ("customer", "orders", "lineitem"))
    # _q stays unscaled (quantity <= 50 -> per-order-part sums are
    # tiny); _total_quantity() rescales once per output group.
    li = t["lineitem"].groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(money_unscaled("l_quantity")).alias("_q"),
    )
    return (
        t["orders"]
        .join(li, t["orders"].o_orderkey == li.l_orderkey, "inner")
        .join(
            t["customer"],
            t["orders"].o_custkey == t["customer"].c_custkey,
            "inner",
        )
        .select(
            F.col("l_partkey").alias("product_id"),
            F.col("o_orderkey").alias("transaction_id"),
            F.col("o_totalprice").alias("income"),
            F.col("c_acctbal").alias("campaign_cost"),
            F.col("c_mktsegment").alias("transaction_country"),
            F.col("o_orderdate").alias("transaction_datetime"),
            F.col("_n"),
            F.col("_q"),
        )
    )


def _query(kpi, grain):
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return kpi(grain(spark, sf_dir))

    return query


QUERIES = {
    "b_sales_kpi": _query(b_sales_kpi, _order_grain),
    "b_performance_metrics": _query(b_performance_metrics, _order_grain),
    "b_customer_retention": _query(b_customer_retention, _retention_grain),
    "b_profitability_kpi": _query(b_profitability_kpi, _orderpart_grain),
    "b_product_performance": _query(b_product_performance, _orderpart_grain),
}

_RETENTION_MASTER_SQL = f"""
SELECT * REPLACE (
  CASE WHEN transaction_id % 7 = 0 THEN 0.0 ELSE income END AS income
) FROM ({MASTER_ORACLE})
"""


#: Oracle SQL per business table, templated on the master relation —
#: rendered against the testdata master for the driver, and against the
#: reference-shaped raw tables in the end-to-end pipeline tests.
ORACLE_TEMPLATES = {
    "b_sales_kpi": f"""
WITH m AS ({{master}})
SELECT
  transaction_country AS country,
  CAST(transaction_datetime AS DATE) AS date,
  COUNT(DISTINCT transaction_id) AS transaction_count,
  {sql_dsum('income')} AS total_income,
  {sql_davg('income')} AS average_income,
  {sql_dsum_diff('income', 'campaign_cost')} AS total_profit
FROM m
GROUP BY 1, 2
""",
    "b_performance_metrics": f"""
WITH m AS ({{master}})
SELECT
  transaction_country AS country,
  CAST(transaction_datetime AS DATE) AS date,
  COUNT(DISTINCT transaction_id) AS transaction_count,
  {sql_dsum('income')} AS total_income,
  {sql_dsum('campaign_cost')} AS total_campaign_cost,
  {sql_davg('income')} AS average_income,
  {sql_davg('campaign_cost')} AS average_campaign_cost,
  {sql_dsum_diff('income', 'campaign_cost')} AS total_profit,
  {sql_dsum('income')} / COUNT(DISTINCT transaction_id)
    AS average_transaction_value
FROM m
GROUP BY 1, 2
""",
    "b_customer_retention": f"""
WITH m AS ({{master}})
SELECT
  transaction_country AS country,
  CAST(transaction_datetime AS DATE) AS date,
  COUNT(DISTINCT customer_id) AS unique_customers,
  COUNT(DISTINCT CASE WHEN income > 0 THEN customer_id ELSE NULL END)
    AS paying_customers,
  COUNT(DISTINCT CASE WHEN income = 0 THEN customer_id ELSE NULL END)
    AS non_paying_customers
FROM m
GROUP BY 1, 2
""",
    "b_profitability_kpi": f"""
WITH m AS ({{master}})
SELECT
  product_id,
  transaction_country AS country,
  {sql_dsum('quantity')} AS total_quantity,
  {sql_dsum('income')} AS total_income,
  {sql_davg('income')} AS average_income,
  {sql_dsum_diff('income', 'campaign_cost')} AS total_profit
FROM m
GROUP BY 1, 2
""",
    "b_product_performance": f"""
WITH m AS ({{master}})
SELECT
  product_id,
  transaction_country AS country,
  CAST(transaction_datetime AS DATE) AS date,
  COUNT(DISTINCT transaction_id) AS transaction_count,
  {sql_dsum('quantity')} AS total_quantity,
  {sql_dsum('income')} AS total_income,
  {sql_davg('income')} AS average_income,
  {sql_dsum_diff('income', 'campaign_cost')} AS total_profit,
  {sql_dsum('income')} / COUNT(DISTINCT transaction_id)
    AS average_transaction_value
FROM m
GROUP BY 1, 2, 3
""",
}

#: Reference-shaped master join as ANSI SQL over the three raw tables —
#: the oracle counterpart of ``master.master_join``.
REFERENCE_MASTER_SQL = """
SELECT
  c.campaign_id,
  c.cost AS campaign_cost,
  t.transaction_id,
  t.income,
  t.country AS transaction_country,
  s.customer_id,
  s.product_id,
  s.quantity,
  s.price,
  s.category,
  t.date_time AS transaction_datetime
FROM r_campaigns AS c
JOIN r_transactions AS t
  ON c.country = t.country AND c.date_time = t.date_time
JOIN r_sales AS s
  ON t.transaction_id = s.transaction_id
"""


def oracle_for(name: str, master_sql: str) -> str:
    """Render a business table's oracle SQL against any master relation."""
    return ORACLE_TEMPLATES[name].format(master=master_sql)


ORACLES = {
    name: oracle_for(
        name,
        _RETENTION_MASTER_SQL if name == "b_customer_retention" else MASTER_ORACLE,
    )
    for name in ORACLE_TEMPLATES
}
