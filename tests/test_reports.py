"""Audit-report renderer tests: golden LaTeX structure, escaping, the
bounded-collect sink contract, figure-data export, and the matplotlib
stub gate — the report layer over the oracle-checked r1/r2/r4/t2
frames (reference: `stage0/_error_plot_helpers.py:694-1200`)."""

from __future__ import annotations

import os

import pytest

from trace_data_pipeline_spark.reports import latex


def test_escape_tex_specials():
    assert (
        latex.escape_tex(r"a&b_c%d$e#f{g}")
        == r"a\&b\_c\%d\$e\#f\{g\}"
    )
    assert latex.escape_tex("x\\y") == r"x\textbackslash{}y"
    assert latex.escape_tex("a~b^c") == (
        r"a\textasciitilde{}b\textasciicircum{}c"
    )


def test_removal_table_golden():
    rows = [
        {
            "stage": "price_positive",
            "rows_before": 10000,
            "rows_after": 9950,
            "removed": 50,
            "removed_frac": 0.005,
        },
        {
            "stage": "quantity_band",
            "rows_before": 9950,
            "rows_after": 9000,
            "removed": 950,
            "removed_frac": 0.095477,
        },
    ]
    tex = latex.removal_table(rows, "Screens", "tab:s")
    assert r"\begin{table}[!ht]" in tex and r"\end{table}" in tex
    assert r"\caption{Screens}" in tex and r"\label{tab:s}" in tex
    assert r"price\_positive & 10,000 & 9,950 & 50 & 0.500\% \\" in tex
    assert r"quantity\_band & 9,950 & 9,000 & 950 & 9.548\% \\" in tex
    assert tex.count(r" \\") >= 3  # header + 2 body rows


def test_removal_table_percent_convention():
    """t2 emits an already-scaled percent — pct_key must not re-scale."""
    rows = [
        {
            "stage": "overall",
            "n_before": 100,
            "n_after": 80,
            "n_removed": 20,
            "pct_of_start": 20.0,
        }
    ]
    tex = latex.removal_table(
        rows,
        "T2",
        "tab:t2",
        before_key="n_before",
        after_key="n_after",
        removed_key="n_removed",
        pct_key="pct_of_start",
    )
    assert r"overall & 100 & 80 & 20 & 20.000\% \\" in tex


def test_parameters_table_panels():
    tex = latex.parameters_table(
        {
            "Panel A: Toggles": [("apply_bounce_back", True)],
            "Panel B: Decimal-Shift": [("factor_set", "10,100,1000")],
        }
    )
    assert r"\multicolumn{2}{c}{\textbf{Panel A: Toggles}}" in tex
    # booleans render as the reference's \texttt{On}/\texttt{Off}
    # (_fmt_scalar_value; r15 parameter-formatter alignment)
    assert r"\texttt{apply\_bounce\_back} & \texttt{On} \\" in tex
    assert r"\texttt{factor\_set} & \texttt{10,100,1000} \\" in tex


def test_audit_report_table1_shows_p1_settings(tmp_path, monkeypatch):
    """Table 1 prints the switchboard the p1 stage-0 entry runs, not the
    Stage0Settings defaults, whose price screens no entry applies. The
    report builds Table 1 before any distributed work, so the stub
    stops it there and no Spark session is needed."""
    from dataclasses import asdict

    from trace_data_pipeline_spark.plans.settings import (
        P1_SETTINGS,
        Stage0Settings,
    )
    from trace_data_pipeline_spark.reports import write_audit_report

    class Captured(Exception):
        pass

    def capture(panels, *args, **kwargs):
        raise Captured(panels)

    monkeypatch.setattr(latex, "parameters_table", capture)
    with pytest.raises(Captured) as got:
        write_audit_report(None, "unused", str(tmp_path))
    shown = {k: v for pairs in got.value.args[0].values() for k, v in pairs}
    assert shown == asdict(P1_SETTINGS)
    assert shown != asdict(Stage0Settings())


def test_data_report_document_reproducible():
    t = latex.removal_table(
        [
            {
                "stage": "s",
                "rows_before": 1,
                "rows_after": 1,
                "removed": 0,
                "removed_frac": 0.0,
            }
        ],
        "C",
        "tab:c",
    )
    doc1 = latex.data_report([t], ["pages/series_7.png"])
    doc2 = latex.data_report([t], ["pages/series_7.png"])
    assert doc1 == doc2  # no injected timestamps by default
    assert doc1.startswith(r"\documentclass[11pt]{article}")
    assert doc1.rstrip().endswith(r"\end{document}")
    assert r"\includegraphics" in doc1 and "pages/series_7.png" in doc1
    assert r"\date" not in doc1
    assert r"\date{2026-01-01}" in latex.data_report([t], date="2026-01-01")


def test_collect_report_rows_bound(spark):
    from trace_data_pipeline_spark.reports import collect_report_rows

    small = spark.range(5)
    assert len(collect_report_rows(small)) == 5
    with pytest.raises(ValueError, match="sink bound"):
        collect_report_rows(spark.range(50), limit=10)


def test_render_figures_numpy_fallback_produces_decodable_pages(
    spark, tmp_path
):
    """Without matplotlib (this container), render_figures must still
    produce REAL pages via the pure-numpy rasterizer: one PNG per
    entity, decodable by the repo's own codec, at the declared
    dimensions, with all three panel elements actually drawn (raw
    series, corrected overlay, flagged X markers — asserted by their
    distinct colors appearing in the pixel buffer)."""
    import numpy as np

    from trace_data_pipeline_spark.datapipe.png import decode_png
    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.reports import rasterize, render_figures
    from trace_data_pipeline_spark.reports.render import write_figure_data

    try:
        import matplotlib  # noqa: F401

        pytest.skip("matplotlib installed; fallback path not reachable")
    except ImportError:
        pass

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    fig_dir = write_figure_data(
        get_catalog()["r4_flagged_series"].builder(spark, sf), str(tmp_path)
    )
    pages = render_figures(fig_dir, str(tmp_path / "pages"))
    n_entities = (
        get_catalog()["r4_flagged_series"]
        .builder(spark, sf)
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(pages) == n_entities > 0
    for page in pages:
        w, h, ch, buf = decode_png(open(page, "rb").read())
        assert (w, h, ch) == (1000, 400, 3)
        img = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, 3)
        # blank the legend RECTANGLE before searching: the legend draws
        # every series color unconditionally, so including it would
        # satisfy these assertions even if the series themselves
        # vanished (r11 ADVICE). A rectangle, not whole columns — real
        # flagged points near the series' right edge share the legend's
        # x-range (sf0.01 entities 6/11/73/88) and must keep counting.
        # The box comes from the renderer itself so a moved legend
        # can't silently re-open the vacuous-pass hole.
        y0, y1, x0, x1 = rasterize.legend_bbox(w, h)
        plot = img.copy()
        plot[y0:y1, x0:x1] = 255
        for color in (
            rasterize.COLOR_ALL,
            rasterize.COLOR_CORRECTED,
            rasterize.COLOR_FLAGGED,  # r4 is affected-only: every
            # entity has at least one flagged point by construction
            rasterize.AXIS,
        ):
            assert (plot == np.array(color)).all(axis=-1).any(), (
                f"{os.path.basename(page)}: color {color} never drawn "
                "in the plot area"
            )


def test_rasterize_text_and_degenerate_series(tmp_path):
    """Rasterizer corners: a flat one-point series must still render
    (padded y-range, centered x), and text outside the font charset
    must blank, not raise."""
    import numpy as np

    from trace_data_pipeline_spark.datapipe.png import decode_png
    from trace_data_pipeline_spark.reports import rasterize

    png = rasterize.render_series_page(
        [("2024-01-01", 100.0, 100.0, 1)], title="entity ~? 42"
    )
    w, h, ch, buf = decode_png(png)
    assert (w, h, ch) == (1000, 400, 3)
    img = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, 3)
    assert (img == np.array(rasterize.COLOR_FLAGGED)).all(axis=-1).any()
    # the title's in-charset characters drew SOMETHING in the title band
    assert (img[:30] != 255).any()
    # zero rows renders an empty panel (axes + legend, no ticks), not a
    # crash — the date-label lookup must not index into an empty list
    w0, h0, _, _ = decode_png(rasterize.render_series_page([], title="e"))
    assert (w0, h0) == (1000, 400)


def test_blit_text_clips_fully_offcanvas_cells():
    """Glyph cells entirely off-canvas left/top must be skipped: the
    pre-r12 clip produced a NEGATIVE slice stop there, which numpy
    wraps around into a near-full-width painted band (r11 ADVICE).
    Reachable in production via centered titles wider than the page."""
    import numpy as np

    from trace_data_pipeline_spark.reports import rasterize

    img = np.full((20, 20, 3), 255, dtype=np.uint8)
    # fully off-canvas: nothing may be painted at all
    rasterize.blit_text(img, -40, 5, "888", (0, 0, 0), scale=2)
    rasterize.blit_text(img, 5, -40, "888", (0, 0, 0), scale=2)
    assert (img == 255).all()
    # partially visible: pixels only where the glyph actually overlaps
    rasterize.blit_text(img, -4, 2, "8", (0, 0, 0))
    assert (img[:, 3:] == 255).all()  # right of the clipped glyph
    assert (img != 255).any()  # but the visible sliver did draw

    # end-to-end: an entity name long enough to center off-canvas must
    # not smear a band across the title row
    png = rasterize.render_series_page(
        [("2024-01-01", 1.0, 1.0, 0)], title="X" * 100
    )
    from trace_data_pipeline_spark.datapipe.png import decode_png

    w, h, _, buf = decode_png(png)
    page = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, 3)
    band = page[10:24]
    axis_frac = (
        (band == np.array(rasterize.AXIS)).all(axis=-1).mean()
    )
    assert axis_frac < 0.5, f"title band smeared ({axis_frac:.0%} axis-color)"


def test_xticks_render_dates():
    """The x-axis must label ticks with %Y-%m dates from the figure
    data (the reference's rank-spaced date axis,
    `stage0/_error_plot_helpers.py:102-123`), not row indices. The
    tick-label band is pinned pixel-exact against re-blitting the
    expected date strings at the renderer's own positions."""
    import numpy as np

    from trace_data_pipeline_spark.datapipe.png import decode_png
    from trace_data_pipeline_spark.reports import rasterize

    rows = [
        (f"2024-{m:02d}-15", 100.0 + i, 100.0 + i, 0)
        for i, m in enumerate(range(1, 10))
    ]
    png = rasterize.render_series_page(rows, title="13")
    w, h, _, buf = decode_png(png)
    img = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, 3)

    left, right, bottom = 70, w - 20, h - 45
    expected = np.full((h, w, 3), 255, dtype=np.uint8)
    for i in np.linspace(0, len(rows) - 1, 5):
        xi = int(round(left + (right - left) * int(i) / (len(rows) - 1)))
        label = rows[int(i)][0][:7]
        assert "-" in label and label.startswith("2024-")
        tw = rasterize.text_width(label)
        rasterize.blit_text(
            expected,
            max(0, min(xi - tw // 2, w - tw)),  # renderer's edge clamp
            bottom + 8,
            label,
            rasterize.AXIS,
        )
    band = slice(bottom + 8, bottom + 8 + 7)
    assert (img[band] == expected[band]).all()
    assert (img[band] != 255).any()  # the band really carries glyphs


def test_compose_pages_grid_and_padding():
    """compose_pages tiles panels row-major into 2-column grid pages
    (the reference's A4 multi-panel layout), padding the final page
    with background; mismatched panel shapes and per_page<1 raise."""
    import numpy as np

    from trace_data_pipeline_spark.reports import rasterize

    panels = [
        np.full((4, 6, 3), 10 * (i + 1), dtype=np.uint8) for i in range(5)
    ]
    pages = rasterize.compose_pages(panels, per_page=4)
    assert len(pages) == 2  # ceil(5/4)
    assert pages[0].shape == (8, 12, 3)  # 2 rows x 2 cols of 4x6
    # row-major placement
    assert (pages[0][:4, :6] == 10).all()
    assert (pages[0][:4, 6:] == 20).all()
    assert (pages[0][4:, :6] == 30).all()
    assert (pages[0][4:, 6:] == 40).all()
    # final page: one panel + background padding
    assert (pages[1][:4, :6] == 50).all()
    assert (pages[1][:4, 6:] == np.array(rasterize.BG)).all()
    # per_page=1 degenerates to one panel per page, single column
    ones = rasterize.compose_pages(panels, per_page=1)
    assert len(ones) == 5 and ones[0].shape == (4, 6, 3)
    with pytest.raises(ValueError, match="per_page"):
        rasterize.compose_pages(panels, per_page=0)
    with pytest.raises(ValueError, match="shape"):
        rasterize.compose_pages(
            [panels[0], np.zeros((2, 6, 3), dtype=np.uint8)]
        )
    assert rasterize.compose_pages([], per_page=4) == []


def test_render_figures_multi_panel_pages(spark, tmp_path):
    """per_page>1 composes entities into grid pages: page count is
    ceil(entities / per_page), each page decodes at the grid
    dimensions, and the panel content (flagged markers) survives the
    composition."""
    import numpy as np

    from trace_data_pipeline_spark.datapipe.png import decode_png
    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.reports import rasterize, render_figures
    from trace_data_pipeline_spark.reports.render import write_figure_data

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    frame = get_catalog()["r4_flagged_series"].builder(spark, sf)
    fig_dir = write_figure_data(frame, str(tmp_path))
    n_entities = frame.select("user_id").distinct().count()

    per_page = 4
    pages = render_figures(
        fig_dir, str(tmp_path / "pages"), per_page=per_page
    )
    assert len(pages) == -(-n_entities // per_page) > 0
    for page in pages:
        w, h, ch, buf = decode_png(open(page, "rb").read())
        assert (w, h, ch) == (2000, 800, 3)  # 2x2 grid of 1000x400
    first = np.frombuffer(
        bytes(decode_png(open(pages[0], "rb").read())[3]), dtype=np.uint8
    ).reshape(800, 2000, 3)
    assert (first == np.array(rasterize.COLOR_FLAGGED)).all(axis=-1).any()


@pytest.mark.slow
def test_write_audit_report_end_to_end(spark, tmp_path):
    """The full report sink at sf0.001: a parseable .tex with all
    three tables, figure data partitioned by entity, and counts that
    agree with the r1 frame it rendered."""
    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.reports import write_audit_report

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    manifest = write_audit_report(
        spark, sf, str(tmp_path / "report"), figures=True
    )
    tex = open(manifest["tex"], encoding="utf-8").read()
    for label in ("tab:screens", "tab:errors", "tab:stage1"):
        assert rf"\label{{{label}}}" in tex
    assert tex.count(r"\begin{table}") == 4  # parameters + 3 removal
    assert r"\label{tab:parameters}" in tex
    assert r"\texttt{apply\_decimal\_shift}" in tex
    assert r"\end{document}" in tex
    # the rendered screen counts must match the oracle-checked frame
    r1 = get_catalog()["r1_audit_report"].builder(spark, sf).collect()
    for row in r1:
        assert f"{row['rows_before']:,}" in tex
    # figure data: one partition dir per affected entity
    parts = [
        d
        for d in os.listdir(manifest["figure_data"])
        if d.startswith("user_id=")
    ]
    affected = (
        get_catalog()["r4_flagged_series"]
        .builder(spark, sf)
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(parts) == affected
    # figures=True renders one page per affected entity (in this
    # container via the numpy rasterizer) and the .tex references each
    assert len(manifest["pages"]) == affected > 0
    for p in manifest["pages"]:
        assert os.path.exists(p)
        assert os.path.relpath(p, str(tmp_path / "report")) in tex.replace(
            "\n", ""
        ) or os.path.basename(p) in tex
    # multi-panel composition (the reference's A4 grid figures): page
    # count is ceil(entities / per_page) and the .tex references each
    per_page = 4
    m2 = write_audit_report(
        spark,
        sf,
        str(tmp_path / "report4"),
        figures=True,
        figures_per_page=per_page,
    )
    assert len(m2["pages"]) == -(-affected // per_page)
    # figure_error_types gates the r4 DATA pass too (not just pages):
    # excluding 'decimal_shift' must leave no unsuffixed figure_data/
    # pages on disk or in the manifest, while the selected type exports
    m3 = write_audit_report(
        spark,
        sf,
        str(tmp_path / "report_bb_only"),
        figure_error_types=("bounce_back",),
    )
    assert "figure_data" not in m3 and "pages" not in m3
    assert os.path.isdir(m3["figure_data_bb"])
    assert not os.path.exists(tmp_path / "report_bb_only" / "figure_data")
    tex2 = open(m2["tex"], encoding="utf-8").read()
    for p in m2["pages"]:
        assert os.path.exists(p) and os.path.basename(p) in tex2


def test_render_figures_with_injected_backend(spark, tmp_path, monkeypatch):
    """Drive the real figure-rendering body (partition discovery, csv
    parse, per-entity grouping, page naming) with a minimal injected
    matplotlib, so the only un-executed path in reports/ is the
    third-party plotting calls themselves. The mock records what would
    be drawn; assertions check one page per entity and that flagged
    points surface as scatter markers."""
    import sys
    import types

    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.reports import render_figures
    from trace_data_pipeline_spark.reports.render import write_figure_data

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    fig_dir = write_figure_data(
        get_catalog()["r4_flagged_series"].builder(spark, sf), str(tmp_path)
    )

    drawn = []

    class _Axes:
        def plot(self, *a, **k):
            drawn.append(("plot", k.get("label")))

        def scatter(self, *a, **k):
            drawn.append(("scatter", k.get("label")))

        def set_title(self, t):
            drawn.append(("title", t))

        def legend(self):
            pass

    class _Fig:
        def savefig(self, path, **k):
            open(path, "wb").write(b"\x89PNG fake")

    plt = types.SimpleNamespace(
        subplots=lambda **k: (_Fig(), _Axes()), close=lambda f: None
    )
    monkeypatch.setitem(sys.modules, "matplotlib", types.ModuleType("matplotlib"))
    monkeypatch.setitem(sys.modules, "matplotlib.pyplot", plt)

    pages = render_figures(fig_dir, str(tmp_path / "pages"))
    n_entities = (
        get_catalog()["r4_flagged_series"]
        .builder(spark, sf)
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(pages) == n_entities
    assert all(os.path.exists(p) and p.endswith(".png") for p in pages)
    # every entity draws the All + Corrected series; every entity here
    # has at least one flag by construction (r4 is affected-only)
    assert drawn.count(("plot", "All")) == n_entities
    assert drawn.count(("plot", "Corrected")) == n_entities
    assert drawn.count(("scatter", "Flagged")) == n_entities


@pytest.mark.slow
def test_audit_report_all_three_panel_types(spark, tmp_path):
    """figure_error_types exports the reference's other two panel
    types (`make_panel(error_type='bounce_back'|'init_price')`,
    suffixed like its '_bb'/'_ie' filenames): one decodable page per
    affected entity per type, flag counts agreeing with the r2 audit
    chain the frames reuse, every page referenced by the .tex, and the
    default decimal-shift locations untouched."""
    import numpy as np

    from trace_data_pipeline_spark.datapipe.png import decode_png
    from trace_data_pipeline_spark.plans.errorcorrection import (
        flagged_series_frames,
    )
    from trace_data_pipeline_spark.reports import rasterize, write_audit_report

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    with pytest.raises(ValueError, match="unknown figure error types"):
        write_audit_report(
            spark, sf, str(tmp_path / "x"), figure_error_types=("nope",)
        )
    m = write_audit_report(
        spark,
        sf,
        str(tmp_path / "report"),
        figures=True,
        figure_error_types=("decimal_shift", "bounce_back", "init_price"),
    )
    tex = open(m["tex"], encoding="utf-8").read()
    frames = flagged_series_frames(spark, sf, ("bounce_back", "init_price"))
    for t, sfx in (("bounce_back", "bb"), ("init_price", "ie")):
        n_entities = frames[t].select("user_id").distinct().count()
        t_pages = m[f"pages_{sfx}"]
        assert len(t_pages) == n_entities > 0
        assert os.path.isdir(m[f"figure_data_{sfx}"])
        for p in t_pages:
            assert os.path.basename(p) in tex
        w, h, ch, buf = decode_png(open(t_pages[0], "rb").read())
        assert (w, h, ch) == (1000, 400, 3)
        img = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(h, w, 3)
        y0, y1, x0, x1 = rasterize.legend_bbox(w, h)
        plot = img.copy()
        plot[y0:y1, x0:x1] = 255
        # flagged markers really drew (every exported entity flags)
        assert (
            (plot == np.array(rasterize.COLOR_FLAGGED)).all(axis=-1).any()
        )
    # the default decimal-shift surface is unchanged by the extra types
    assert m["figure_data"].endswith("figure_data")
    assert m["pages"] and all("pages_" not in p for p in m["pages"])


def test_write_distressed_report_end_to_end(spark, tmp_path):
    """The stage-1 distressed report sink at sf0.001 (the reference's
    make_distressed_panel + build_distressed_summary_table +
    build_distressed_report_tex path): a parseable .tex whose summary
    counts agree with the oracle-checked w7 frame, figure data
    partitioned by FLAGGED entity only, and one rendered page per
    flagged entity."""
    from pyspark.sql import functions as F

    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.reports import write_distressed_report

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    manifest = write_distressed_report(
        spark, sf, str(tmp_path / "distressed"), figures=True
    )
    tex = open(manifest["tex"], encoding="utf-8").read()
    assert r"\label{tab:distressed_summary}" in tex
    assert r"\texttt{flag\_anomalous\_price}" in tex
    assert r"\end{document}" in tex

    # summary counts must agree with the oracle-checked w7 frame
    w7 = get_catalog()["w7_ultra_distressed"].builder(spark, sf)
    total = w7.count()
    flagged_rows = w7.filter(F.col("flag_refined_any") == 1).count()
    flagged_entities = (
        w7.filter(F.col("flag_refined_any") == 1)
        .select("user_id")
        .distinct()
        .count()
    )
    s = manifest["summary"]
    assert int(s["total_rows"]) == total
    assert int(s["flagged_rows"]) == flagged_rows
    assert int(s["flagged_entities"]) == flagged_entities
    assert f"{total:,}" in tex and f"{flagged_rows:,}" in tex

    # figure data: one partition dir per FLAGGED entity (r5 is the
    # flagged-entity series, the exact frame the reference plots)
    parts = [
        d
        for d in os.listdir(manifest["figure_data"])
        if d.startswith("user_id=")
    ]
    assert len(parts) == flagged_entities > 0
    assert len(manifest["pages"]) == flagged_entities
    for p in manifest["pages"]:
        assert os.path.exists(p)
        assert os.path.basename(p) in tex

    # multi-panel composition, like the reference's (4, 2) A4 grids
    m2 = write_distressed_report(
        spark,
        sf,
        str(tmp_path / "distressed8"),
        figures=True,
        figures_per_page=8,
    )
    assert len(m2["pages"]) == -(-flagged_entities // 8)


def test_write_quality_report_end_to_end(spark, tmp_path):
    """The stage-1 quality report (the reference's stage-1
    build_latex_document path): availability / descriptive /
    concentration / filter-record tables whose numbers agree with the
    oracle-checked frames, plus one rendered page per quality series."""
    from trace_data_pipeline_spark.plans import get_catalog
    from trace_data_pipeline_spark.reports import write_quality_report

    sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
    manifest = write_quality_report(
        spark, sf, str(tmp_path / "quality"), figures=True
    )
    tex = open(manifest["tex"], encoding="utf-8").read()
    for label in (
        "tab:data_availability", "tab:descriptive",
        "tab:concentration", "tab:stage1",
    ):
        assert rf"\label{{{label}}}" in tex
    assert r"\end{document}" in tex

    # availability panel A totals must equal the stage-1 frame row count
    from trace_data_pipeline_spark.plans.stage1 import build_stage1

    n = build_stage1(spark, sf).count()
    pa = dict(
        (v, (obs, pct))
        for v, obs, pct in manifest["availability"]["Panel A: All"]
    )
    assert pa["pr"][0] == n  # pr is never null in the final panel
    assert all(0.0 <= pct <= 100.0 for _, pct in pa.values())

    # descriptive numbers straight from the oracle-checked r2 frame
    r2 = get_catalog()["r2_descriptive_by_rating"].builder(spark, sf).collect()
    for row in r2[:3]:
        assert f"{float(row['mean']):.4f}" in tex

    # concentration fractions are valid and rendered as percents
    for cls, s in manifest["concentration"].items():
        assert 0.0 < s["top_10pct_share"] <= 1.0, cls
        assert f"{s['top_10pct_share'] * 100:.3f}" in tex

    # five quality series → five csv partitions and five pages
    parts = [
        d
        for d in os.listdir(manifest["figure_data"])
        if d.startswith("series=")
    ]
    expected = {
        "series=default_count", "series=default_pct", "series=hhi_IG",
        "series=hhi_NIG", "series=hhi_DEF", "series=weekly_price_def",
        "series=weekly_mktcap_def",
    }
    assert set(parts) <= expected and len(parts) >= 5
    assert len(manifest["pages"]) == len(parts)
    for p in manifest["pages"]:
        assert os.path.exists(p) and os.path.basename(p) in tex


def test_concentration_table_matches_reference():
    """make_concentration_table (`stage1/helper_functions.py:3599-3661`)
    vs the repo twin: identical %.3f cells for the same stats (the repo
    keeps fractions; the reference takes pre-scaled percents)."""
    import pathlib
    import re as _re

    ref_src = pathlib.Path(
        os.environ.get("TDP_REFERENCE_DIR", "/root/reference")
    ) / "stage1" / "helper_functions.py"
    if not ref_src.exists():
        pytest.skip("reference tree not available")
    import ast

    tree = ast.parse(ref_src.read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "make_concentration_table"
    )
    ns: dict = {}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), str(ref_src), "exec"), ns)

    from trace_data_pipeline_spark.reports.latex import concentration_table

    frac = {
        "IG": {"top_10pct_share": 0.412345, "top_25pct_share": 0.69,
               "frac_for_50pct": 0.0512, "frac_for_90pct": 0.2533},
        "NIG": {"top_10pct_share": 0.55, "top_25pct_share": 0.81,
                "frac_for_50pct": 0.031, "frac_for_90pct": 0.19},
        "DEF": {"top_10pct_share": 0.77, "top_25pct_share": 0.93,
                "frac_for_50pct": 0.012, "frac_for_90pct": 0.08},
    }
    to_ref = lambda s: {  # noqa: E731
        "top10_share": s["top_10pct_share"] * 100,
        "top25_share": s["top_25pct_share"] * 100,
        "pct_for_50": s["frac_for_50pct"] * 100,
        "pct_for_90": s["frac_for_90pct"] * 100,
    }
    ref = ns["make_concentration_table"](
        to_ref(frac["IG"]), to_ref(frac["NIG"]), to_ref(frac["DEF"]),
        "2002-07-01", "2024-12-31",
    )
    got = concentration_table(
        frac["IG"], frac["NIG"], frac["DEF"], "2002-07-01", "2024-12-31"
    )
    num = _re.compile(r"\d+\.\d{3}")
    assert num.findall(got) == num.findall(ref), (got, ref)


def test_concentration_table_zero_row_class(spark):
    """r14 ADVICE item 3: a rating class with ZERO rows in the report
    slice aggregates to an all-null concentration row (or none) — the
    quality report must render it as zeros, not raise TypeError on
    None * 100 inside concentration_table."""
    from pyspark.sql import functions as F

    from trace_data_pipeline_spark.operators.analytics import (
        concentration_metrics,
    )
    from trace_data_pipeline_spark.reports import latex
    from trace_data_pipeline_spark.reports.render import collect_report_rows

    vol = spark.createDataFrame(
        [("IG", "u1", 10.0), ("IG", "u2", 5.0), ("NIG", "u3", 2.0)],
        "rating_class string, user_id string, dvol double",
    )
    conc = {}
    for cls in ("IG", "NIG", "DEF"):  # DEF slice is empty
        cm = concentration_metrics(
            vol.filter(F.col("rating_class") == cls), "user_id", "dvol"
        )
        rows = collect_report_rows(cm)
        row = rows[0] if rows else {c: None for c in cm.columns}
        conc[cls] = {k: (0.0 if v is None else v) for k, v in row.items()}
    table = latex.concentration_table(
        conc["IG"], conc["NIG"], conc["DEF"], "2020-01-01", "2020-12-31"
    )
    assert "0.000" in table  # the DEF column rendered as zeros
    assert conc["IG"]["top_10pct_share"] > 0
