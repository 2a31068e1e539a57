"""Reference-shaped derived views over the driver fixtures (FIXTURES.md B).

The reference's three Postgres tables (constants.py:9-11) re-expressed over
the synthetic star schema:

- ``px_bars``  (src_spy_price_usd analog): daily OHLCV bars of
  ``orders.o_totalprice`` over ``o_orderdate``.
- ``fx_bars``  (src_usd_pln analog): daily OHLC bars of
  ``lineitem.l_discount`` over ``l_shipdate`` — lineitem, not events,
  because the events table's date domain (2024-01) does not overlap the
  orders domain (1995-2001); a same-key join would be vacuously empty.
- ``prd_converted`` (prd_spy_price_pln analog): inner join on date +
  half-even-rounded product (av_etl.py:187-193), written once in
  ``convert_bars`` for every pair of bar frames (fixture bars, the report's
  materialized bars, the ETL sink tables).

``src_px_usd``/``src_usd_fx`` expose the same frames under the verbatim
Alpha Vantage column names ("1. open" ... "5. volume", av_etl.py:76,121) to
prove quoted-identifier handling end-to-end (SURVEY.md section 1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import money_round
from ..operators.bars import ohlcv_bars
from ..sources import load

AV_NAMES = {
    "open": "1. open",
    "high": "2. high",
    "low": "3. low",
    "close": "4. close",
    "volume": "5. volume",
}


def px_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily price bars: date, open, high, low, close, volume."""
    return ohlcv_bars(
        load(spark, sf_dir, "orders"),
        ts_col="o_orderdate",
        value_col="o_totalprice",
        tiebreak_cols=["o_orderkey"],
    )


def fx_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily "FX" bars from lineitem discounts: date, open..close (no volume,
    mirroring the FX feed's shape, av_etl.py:121)."""
    return ohlcv_bars(
        load(spark, sf_dir, "lineitem"),
        ts_col="l_shipdate",
        value_col="l_discount",
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    ).drop("volume")


def convert_bars(px: DataFrame, fx: DataFrame) -> DataFrame:
    """The reference's derived table (av_etl.py:187-193) over any two bar
    frames keyed by ``date`` with a ``close`` column: rename the close
    columns, inner join on date (left+dropna ≡ inner, SURVEY.md J1/P7),
    converted price = bround(price * rate, 2).

    Columns: date, close_price_usd, close_rate, close_price_fx.
    """
    px = px.select("date", F.col("close").alias("close_price_usd"))
    fx = fx.select("date", F.col("close").alias("close_rate"))
    return px.join(fx, "date", "inner").withColumn(
        "close_price_fx", money_round(F.col("close_price_usd") * F.col("close_rate"), 2)
    )


def prd_converted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``convert_bars`` over the fixtures' price and FX bars.

    Scale: both sides are one-row-per-date aggregates of big fact tables —
    the join keys are low-cardinality and sorted; AQE picks broadcast for
    the smaller side. The shuffle happens in the bars aggregation (where it
    is map-side combined), never on the raw fact rows for the join.
    """
    return convert_bars(px_bars(spark, sf_dir), fx_bars(spark, sf_dir))


def src_px_usd(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = px_bars(spark, sf_dir)
    for clean, av in AV_NAMES.items():
        df = df.withColumnRenamed(clean, av)
    return df


def src_usd_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = fx_bars(spark, sf_dir)
    for clean, av in AV_NAMES.items():
        if clean != "volume":
            df = df.withColumnRenamed(clean, av)
    return df
