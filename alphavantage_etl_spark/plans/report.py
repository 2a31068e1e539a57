"""Report/analytics surface — the reference's ``visualize_data`` query layer
(data_viz.py:81-192) minus chart rendering.

The engine's responsibility ends at the frames (SURVEY.md section 3.3):
three DESC-ordered scans (data_viz.py:87-98) with six SMA windows over
them (:100-109, k ∈ {20, 90} from constants.py:17). The dual-axis
comparison pair (:143-161) and the first-N-column data tables (P2,
:185-188) are column slices of those scans, and like the reference this
engine takes them at the consumption edge: ``plans.render.render_report``
pulls the three frames with ``.toPandas()`` and slices them there, so the
report costs three driver edges. Any other plotting stack can consume the
frames the same way (the reference used plotly/datapane).

Scale: ``report_frames`` collects nothing, but it is not lazy. It
aggregates each bar series once, ``px_bars`` over ``orders`` and
``fx_bars`` over ``lineitem``, and materializes each with
``localCheckpoint(eager=True)``: one row per date (dates × symbols once a
symbol column exists), 2.4–2.5 k rows at sf0.1. The three frames are
lazy plans over those two materializations, so the report's driver edges
never re-read the fact tables. The checkpoint blocks are reclaimed by the
ContextCleaner once the returned frames are dropped (see
``operators.dedup.free_blocks``); ``persist()`` is not used because
CacheManager entries would outlive the report. The SMA windows are
global-order by design (one series); with a symbol column they become
``partitionBy(symbol)`` and parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.windows import sma
from .views import convert_bars, fx_bars, px_bars

SMA_WINDOWS = (20, 90)  # constants.py:17


def _with_smas(df: DataFrame, value_col: str) -> DataFrame:
    """The six apply sites of data_viz.py:100-109: SMA_k columns with the
    exclusive trailing frame and NULL-under-k pandas parity."""
    return df.select(
        "*",
        *[
            sma(value_col, k, order_col="date").alias(f"sma{k}")
            for k in SMA_WINDOWS
        ],
    )


def report_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The three frames the report consumes, keyed by block name:
    ``px`` / ``fx`` / ``converted``, full history, date DESC (the
    reference's scan order), with sma20/sma90 trend columns. The data
    tables and the comparison pair are sliced from these at the
    consumption edge (``plans.render.render_report``).

    Materializes the price and FX bars eagerly, once per call (see the
    module docstring); the returned frames read only those two.
    """
    px_b = px_bars(spark, sf_dir).localCheckpoint(eager=True)
    fx_b = fx_bars(spark, sf_dir).localCheckpoint(eager=True)
    return {
        "px": _with_smas(px_b, "close").orderBy(F.desc("date")),
        "fx": _with_smas(fx_b, "close").orderBy(F.desc("date")),
        "converted": _with_smas(
            convert_bars(px_b, fx_b), "close_price_fx"
        ).orderBy(F.desc("date")),
    }
