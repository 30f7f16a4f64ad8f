"""Golden end-to-end pipeline tests (SURVEY.md §5.3): CSV ingest →
preprocess → align → embed → cluster → representatives/outliers/trace,
plus the CSV sink round-trips (S1/S2/K1/K2)."""

from __future__ import annotations

import math
import shutil
import tempfile
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def csv_fixture(spark):
    """Deterministic ragged multi-process CSV (FIXTURES.md F1) with a
    couple of NULL values, written like the reference's upload file."""
    rng = np.random.default_rng(42)
    d = Path(tempfile.mkdtemp(prefix="the_framework_for_clustering_time_series_data_spark_csv_"))
    lines = ["P,V"]
    for sid in range(8):
        length = int(rng.integers(40, 80))
        for t in range(length):
            if sid == 3 and t == 5:
                lines.append(f"proc{sid},")  # null value → dropna path
            else:
                v = math.sin(t / 6 + sid) * (1 + sid % 3) + 0.05 * rng.standard_normal()
                lines.append(f"proc{sid},{v:.6f}")
    f = d / "input.csv"
    f.write_text("\n".join(lines))
    yield str(f)
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_end_to_end(spark, csv_fixture):
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark).load_csv(csv_fixture, value_col="V", process_col="P")
    pre = pipe.preprocess()
    # P1: the null row dropped
    assert pre.where(F.col("value").isNull()).count() == 0
    # P3/P4 invariants
    agg = pre.agg(F.min("min_max"), F.max("min_max"), F.avg("z_score")).collect()[0]
    assert agg[0] == pytest.approx(0.0) and agg[1] == pytest.approx(1.0)
    assert agg[2] == pytest.approx(0.0, abs=1e-9)

    aligned = pipe.align("truncation")
    lens = aligned.groupBy("series_id").count().select("count").distinct().collect()
    assert len(lens) == 1

    emb = pipe.embed("pca")
    assert emb.columns == ["series_id", "x", "y"]
    assert emb.count() == 8

    pred = pipe.cluster("kmeans", k=3)
    assert pred.select("prediction").distinct().count() == 3

    reps = pipe.representatives().collect()
    assert len(reps) == 3
    cents = {r["prediction"]: (r["cx"], r["cy"]) for r in pipe.centroids().collect()}
    # each representative is a real member whose distance matches its centroid
    emb_rows = {r["series_id"]: (r["x"], r["y"]) for r in emb.collect()}
    for r in reps:
        ex, ey = emb_rows[r["series_id"]]
        cx, cy = cents[r["prediction"]]
        assert r["dist"] == pytest.approx(math.hypot(ex - cx, ey - cy))

    # T3 trace: coordinates of a known point map back to its raw series
    sid0 = reps[0]["series_id"]
    raw_rows = pipe.trace(reps[0]["x"], reps[0]["y"]).collect()
    assert {r["series_id"] for r in raw_rows} == {sid0}


def _fitted(spark, csv_fixture, k=3):
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark).load_csv(csv_fixture, value_col="V", process_col="P")
    pipe.preprocess()
    pipe.align("truncation")
    pipe.embed("pca")
    pipe.cluster("kmeans", k=k)
    return pipe


def _assert_click_is_traceback_join(pipe, x, y, tol=1e-6):
    """A facade click returns exactly raw ⋈ trace.traceback(embedding);
    returns the clicked series ids."""
    from the_framework_for_clustering_time_series_data_spark.operators import trace

    ids = trace.traceback(pipe.embedding, x, y, tol).select("series_id")
    want = pipe.raw.join(ids, "series_id")
    got = pipe.trace(x, y, tol)
    assert got.columns == want.columns
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.collect()))
    return {r[0] for r in rows}


def test_trace_click_matches_traceback_join(spark, csv_fixture):
    pipe = _fitted(spark, csv_fixture)
    pts = [(r["series_id"], r["x"], r["y"]) for r in pipe.embedding.collect()]
    # hit: one plotted point
    sid, x, y = pts[0]
    assert _assert_click_is_traceback_join(pipe, x, y) == {sid}
    # miss: an empty frame
    assert _assert_click_is_traceback_join(pipe, 1e9, -1e9) == set()
    # two series within tol of one point: the closest pair on both axes
    (_, ax, ay), (_, bx, by) = min(
        ((p, q) for i, p in enumerate(pts) for q in pts[i + 1:]),
        key=lambda pq: max(abs(pq[0][1] - pq[1][1]), abs(pq[0][2] - pq[1][2])),
    )
    gap = max(abs(ax - bx), abs(ay - by))
    assert len(_assert_click_is_traceback_join(pipe, ax, ay, gap * 1.5)) >= 2
    # a point exactly tol away on an axis is outside: the test is strict
    assert len(_assert_click_is_traceback_join(pipe, ax, ay, gap)) == 1


def test_trace_click_is_one_job_without_broadcast(spark, csv_fixture):
    pipe = _fitted(spark, csv_fixture)
    (sid, x, y), (sid2, x2, y2) = [
        (r["series_id"], r["x"], r["y"]) for r in pipe.embedding.orderBy("series_id").take(2)
    ]
    pipe.trace(x, y).collect()  # the first click after embed() builds the point index
    sc = spark.sparkContext
    sc.setJobGroup("trace-click-test", "one facade click")
    try:
        click = pipe.trace(x2, y2)
        rows = click.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("trace-click-test")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["series_id"] for r in rows} == {sid2}
    assert len(jobs) == 1
    assert "BroadcastExchange" not in click._jdf.queryExecution().executedPlan().toString()


def test_refit_rebuilds_click_index_and_cluster_tab(spark, csv_fixture):
    from the_framework_for_clustering_time_series_data_spark.operators import trace

    def assert_tab_matches_operators():
        cents = trace.centroids(pipe.embedding, pipe.predictions)
        reps = trace.representatives(pipe.embedding, pipe.predictions)
        assert sorted(map(tuple, pipe.centroids().collect())) == sorted(map(tuple, cents.collect()))
        assert sorted(map(tuple, pipe.representatives().collect())) == sorted(map(tuple, reps.collect()))

    pipe = _fitted(spark, csv_fixture, k=3)
    cents, reps = pipe.centroids(), pipe.representatives()
    assert pipe.centroids() is cents and pipe.representatives() is reps  # memoized per fit
    assert cents.count() == 3 and reps.count() == 3
    assert_tab_matches_operators()

    pipe.cluster("kmeans", k=2)  # a new k: the tab is rebuilt
    assert pipe.centroids() is not cents and pipe.representatives() is not reps
    assert pipe.centroids().count() == 2 and pipe.representatives().count() == 2
    assert_tab_matches_operators()

    old = pipe.embedding.orderBy("series_id").first()
    _assert_click_is_traceback_join(pipe, old["x"], old["y"])  # builds the index
    pipe.align("padding")  # different coordinates for every series
    pipe.embed("pca")
    tab = pipe.centroids()
    pipe.cluster("kmeans", k=2)
    assert pipe.centroids() is not tab
    assert_tab_matches_operators()
    new = pipe.embedding.orderBy("series_id").first()
    assert (new["x"], new["y"]) != (old["x"], old["y"])
    assert _assert_click_is_traceback_join(pipe, new["x"], new["y"]) == {new["series_id"]}
    _assert_click_is_traceback_join(pipe, old["x"], old["y"])


def test_pipeline_sliding_window_path(spark, csv_fixture):
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark).load_csv(csv_fixture, value_col="V")  # no process col
    pipe.preprocess()
    aligned = pipe.align("sliding", window_size=16, shift_size=8)
    lens = aligned.groupBy("series_id").count().select("count").distinct().collect()
    assert [r["count"] for r in lens] == [16]


def test_pipeline_dbscan_outliers(spark):
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    rng = np.random.default_rng(5)
    rows = []
    for sid in range(30):
        for t in range(20):
            rows.append((sid, t, float(rng.standard_normal())))
    raw = spark.createDataFrame(rows, "series_id long, t long, value double")
    emb_rows = [(sid, float(sid % 3), float(sid % 3)) for sid in range(28)]
    emb_rows += [(28, 50.0, 50.0), (29, -60.0, 10.0)]  # far outliers
    pipe = TimeSeriesPipeline(spark).load_long(raw)
    pipe.embedding = spark.createDataFrame(emb_rows, "series_id long, x double, y double")
    pred = pipe.cluster("dbscan", eps=1.0, min_samples=3)
    out = pipe.outliers()
    assert {r["series_id"] for r in out.collect()} == {28, 29}
    assert out.count() == 2 * 20  # all raw rows of both outlier series


def test_csv_sink_roundtrip(spark, csv_fixture, tmp_path):
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark).load_csv(csv_fixture, value_col="V", process_col="P")
    pipe.preprocess()
    pipe.align("truncation")
    pipe.embed("pca")

    pre_dir = str(tmp_path / "pre_csv")
    emb_dir = str(tmp_path / "emb_csv")
    pipe.export_preprocess_csv(pre_dir)
    pipe.export_embedding_csv(emb_dir)

    pre_back = spark.read.option("header", True).csv(pre_dir)
    assert set(pre_back.columns) == {"process", "t", "value", "z_score", "min_max"}
    assert pre_back.count() == pipe.preprocess_table().count()

    emb_back = spark.read.option("header", True).csv(emb_dir)
    assert set(emb_back.columns) == {"Process", "X", "Y"}
    assert emb_back.count() == 8


def _write_minimal_xlsx(path, absolute_target=False):
    """A valid single-sheet xlsx built with the stdlib only: header
    (proc, v), three rows — shared strings for text, inline numbers.
    ``absolute_target`` emits the worksheet relationship as an OPC
    absolute part name ('/xl/worksheets/sheet1.xml'), which some
    writers produce."""
    import zipfile

    sheet = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>2</v></c><c r="B3"><v>2.5</v></c></row>'
        '<row r="4"><c r="A4" t="s"><v>3</v></c><c r="B4"><v>3</v></c></row>'
        "</sheetData></worksheet>"
    )
    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">'
        "<si><t>proc</t></si><si><t>v</t></si><si><t>a</t></si><si><t>b</t></si></sst>"
    )
    workbook = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        + ('Target="/xl/worksheets/sheet1.xml"/>' if absolute_target
           else 'Target="worksheets/sheet1.xml"/>')
        + '<Relationship Id="rId2" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_excel_source_reads_without_openpyxl(spark, tmp_path):
    """Excel ingest no longer needs openpyxl: the stdlib zip+XML
    fallback parses a valid upload-shaped xlsx; when openpyxl IS
    installed, the same file goes through pd.read_excel instead."""
    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import read_timeseries_excel

    p = tmp_path / "x.xlsx"
    _write_minimal_xlsx(str(p))
    out = read_timeseries_excel(spark, str(p), "v", "proc")
    rows = {(r["series_id"], r["t"]): r["value"] for r in out.collect()}
    assert rows == {("a", 0): 1.0, ("a", 1): 2.5, ("b", 0): 3.0}


def test_upload_payload_csv_roundtrip(spark):
    """S2 — the Dash-style base64 upload decode (reference
    parse_contents, app.py:1597-1650): a data-URI CSV payload becomes a
    wide DataFrame, previews as limit(5), and chains into the long-form
    series model."""
    import base64

    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import (
        read_uploaded_payload,
        to_long_form,
        upload_preview,
    )

    csv_text = "Process,V\n" + "".join(
        f"p{i % 2},{i}.5\n" for i in range(8)
    )
    contents = "data:text/csv;base64," + base64.b64encode(
        csv_text.encode()
    ).decode()
    wide = read_uploaded_payload(spark, contents, "upload.csv")
    assert wide.columns == ["Process", "V"] and wide.count() == 8
    assert upload_preview(wide).count() == 5
    long = to_long_form(wide, "V", "Process")
    rows = {(r["series_id"], r["t"]): r["value"] for r in long.collect()}
    assert rows[("p0", 0)] == 0.5 and rows[("p1", 3)] == 7.5


def test_upload_payload_xlsx_and_unknown(spark, tmp_path):
    """S2 xls branch — the same base64 payload path through the Excel
    parser (stdlib fallback when openpyxl is absent), plus the
    unsupported-extension contract."""
    import base64

    import pytest as _pytest

    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import read_uploaded_payload

    p = tmp_path / "u.xlsx"
    _write_minimal_xlsx(str(p))
    contents = (
        "data:application/vnd.ms-excel;base64,"
        + base64.b64encode(p.read_bytes()).decode()
    )
    wide = read_uploaded_payload(spark, contents, "upload.xlsx")
    got = sorted(map(tuple, wide.collect()))
    assert got == [("a", 1.0), ("a", 2.5), ("b", 3.0)]
    with _pytest.raises(ValueError, match="unsupported upload"):
        read_uploaded_payload(spark, contents, "upload.parquet")


def test_xlsx_stdlib_parser_direct(tmp_path):
    """The vendor-free parser itself, independent of openpyxl presence."""
    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import _read_xlsx_stdlib

    p = tmp_path / "y.xlsx"
    _write_minimal_xlsx(str(p))
    pdf = _read_xlsx_stdlib(str(p))
    assert list(pdf.columns) == ["proc", "v"]
    assert pdf["proc"].tolist() == ["a", "a", "b"]
    assert pdf["v"].tolist() == [1.0, 2.5, 3.0]


def test_xlsx_stdlib_parser_absolute_rel_target(tmp_path):
    """OPC-absolute worksheet targets ('/xl/worksheets/sheet1.xml')
    must normalize instead of double-prefixing to 'xl/xl/…'."""
    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import _read_xlsx_stdlib

    p = tmp_path / "abs.xlsx"
    _write_minimal_xlsx(str(p), absolute_target=True)
    pdf = _read_xlsx_stdlib(str(p))
    assert pdf["proc"].tolist() == ["a", "a", "b"]
    assert pdf["v"].tolist() == [1.0, 2.5, 3.0]


def test_to_long_form_orders_and_drops_nulls(spark):
    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import to_long_form

    raw = spark.createDataFrame(
        [("a", "1.0"), ("a", None), ("b", "3.5"), ("a", "2.0")],
        "proc string, v string",
    )
    out = to_long_form(raw, "v", "proc").collect()
    by_series = {}
    for r in out:
        by_series.setdefault(r["series_id"], []).append((r["t"], r["value"]))
    assert sorted(by_series["a"]) == [(0, 1.0), (1, 2.0)]
    assert by_series["b"] == [(0, 3.5)]


def test_csv_ingest_euc_kr_encoding(spark, tmp_path):
    """The reference reads euc-kr CSVs (app.py:159); Korean process
    names must round-trip through the encoding option into series
    ids."""
    from the_framework_for_clustering_time_series_data_spark.sources.csv_source import read_timeseries_csv

    p = tmp_path / "kr.csv"
    body = "공정,값\n라인1,1.5\n라인1,2.5\n라인2,3.5\n"
    p.write_bytes(body.encode("euc-kr"))
    df = read_timeseries_csv(spark, str(p), value_col="값", process_col="공정", encoding="euc-kr")
    rows = {(r["series_id"], r["t"]): r["value"] for r in df.collect()}
    assert rows == {("라인1", 0): 1.5, ("라인1", 1): 2.5, ("라인2", 0): 3.5}


def test_representative_series_plot_payload(spark):
    """T5 facade: one representative per cluster, its series LTTB-capped
    to max_points, every point carrying the cluster id."""
    from tests.conftest import SF_SMALL
    from the_framework_for_clustering_time_series_data_spark.pipeline import TimeSeriesPipeline

    pipe = TimeSeriesPipeline(spark)
    pipe.load_events(SF_SMALL)
    pipe.preprocess()
    pipe.align("truncation")
    pipe.embed("pca")
    pipe.cluster("kmeans", k=3)
    out = pipe.representative_series(max_points=12).collect()
    assert out, "no representative points"
    by_pred = {}
    for r in out:
        by_pred.setdefault(r["prediction"], set()).add(r["series_id"])
    assert len(by_pred) == 3                      # one group per cluster
    assert all(len(s) == 1 for s in by_pred.values())  # ONE series each
    from collections import Counter

    per_series = Counter(r["series_id"] for r in out)
    assert all(c <= 12 for c in per_series.values())   # render cap holds
