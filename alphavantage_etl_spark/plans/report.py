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

Scale: ``report_frames`` collects nothing. Its two bar series come from
``plans.views.snapshot_bars``, the cycle's one extract: ``px_bars`` over
``orders`` and ``fx_bars`` over ``lineitem``, each materialized with
``localCheckpoint(eager=True)``, one row per date (dates × symbols once a
symbol column exists), 2.4–2.5 k rows at sf0.1. After ``plans.etl.run_etl``
over the same unchanged snapshot the bars are reused and the call runs no
Spark job; on a miss (another snapshot, or a rewritten file) it builds
them itself. The three frames are lazy plans over those two
materializations, so the report's driver edges never re-read the fact
tables. ``persist()`` is not used because CacheManager entries would
serve a rewritten snapshot's old rows. The SMA windows are global-order
by design (one series); with a symbol column they become
``partitionBy(symbol)`` and parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.windows import sma
from .views import convert_bars, snapshot_bars

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

    The price and FX bars are the snapshot's shared materializations
    (``snapshot_bars``; see the module docstring); the returned frames
    read only those two.
    """
    px_b, fx_b = snapshot_bars(spark, sf_dir)
    return {
        "px": _with_smas(px_b, "close").orderBy(F.desc("date")),
        "fx": _with_smas(fx_b, "close").orderBy(F.desc("date")),
        "converted": _with_smas(
            convert_bars(px_b, fx_b), "close_price_fx"
        ).orderBy(F.desc("date")),
    }
