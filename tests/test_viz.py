"""Plot-artifact rendering on real (oracle-verified) query outputs.

PNG artifacts (reference parity: ``plot_threshold.py``,
``plot_feature_importance.py``) render through the dependency-free raster
encoder — verified here by decoding the emitted PNG (chunk CRCs,
dimensions, pixel colors) with the module's own minimal decoder, which
shares no code with the encoder's filter logic.
"""

from __future__ import annotations

import numpy as np

from pyspark_retention_pipeline_spark.registry import all_queries
from pyspark_retention_pipeline_spark.raster import Canvas, decode_png


def _has_color(img: np.ndarray, rgb: tuple[int, int, int]) -> bool:
    return bool((img == np.array(rgb, dtype=np.uint8)).all(axis=-1).any())


def test_threshold_curve_png_artifact(spark, sf_dir, tmp_path):
    from pyspark_retention_pipeline_spark.viz import render_threshold_curve

    rows = [r.asDict() for r in all_queries()["threshold_curve"](spark, sf_dir).collect()]
    best = max(rows, key=lambda r: (r["f1"], -r["t"]))["t"]
    out = str(tmp_path / "threshold_curve.png")
    written = render_threshold_curve(rows, out, best_threshold=best)
    img = decode_png(open(written, "rb").read())
    assert img.shape == (500, 700, 3)
    assert (img == 255).mean() > 0.5                      # mostly white bg
    assert _has_color(img, (31, 119, 180))                # f1 line
    assert _has_color(img, (255, 127, 14))                # precision line
    assert _has_color(img, (44, 160, 44))                 # recall line
    assert _has_color(img, (128, 128, 128))               # best-threshold dash
    assert _has_color(img, (0, 0, 0))                     # axes/text


def test_feature_importance_png_artifact(spark, sf_dir, tmp_path):
    from pyspark_retention_pipeline_spark.ml import coefficients_frame, train_churn_model
    from pyspark_retention_pipeline_spark.operators.retention import churn_feature_frame
    from pyspark_retention_pipeline_spark.viz import render_feature_importance

    model = train_churn_model(churn_feature_frame(spark, sf_dir))
    rows = [r.asDict() for r in coefficients_frame(spark, model).collect()]
    out = str(tmp_path / "feature_importance.png")
    written = render_feature_importance(rows, out)
    img = decode_png(open(written, "rb").read())
    assert img.shape == (500, 700, 3)
    has_pos = any(r["coefficient"] >= 0 for r in rows)
    has_neg = any(r["coefficient"] < 0 for r in rows)
    if has_pos:
        assert _has_color(img, (214, 39, 40))             # red = risk up
    if has_neg:
        assert _has_color(img, (31, 119, 180))            # blue = risk down
    # Sign layout: red only right of center, blue only left.
    mid = 350
    red = (img == np.array([214, 39, 40], dtype=np.uint8)).all(axis=-1)
    blue = (img == np.array([31, 119, 180], dtype=np.uint8)).all(axis=-1)
    if has_pos:
        assert not red[:, :mid].any()
    if has_neg:
        assert not blue[:, mid + 1 :].any()


def test_feature_importance_empty_rows(tmp_path):
    """An empty coefficient list renders an empty chart instead of raising
    ValueError from max() on an empty generator (round-2 advisor finding)."""
    from pyspark_retention_pipeline_spark.viz import feature_importance_png

    png = feature_importance_png([], str(tmp_path / "fi.png"))
    assert decode_png(open(png, "rb").read()).shape == (500, 700, 3)


def test_raster_primitives_roundtrip(tmp_path):
    """Encoder/decoder round-trip: exact pixel recovery of rect, line, and
    text marks (the decoder validates every chunk CRC on the way)."""
    c = Canvas(64, 48)
    c.fill_rect(4, 4, 10, 6, (10, 20, 30))
    c.line(0, 47, 63, 47, (200, 0, 0))
    c.line(0, 0, 63, 0, (0, 0, 200), dash=(3, 2))
    c.text(2, 20, "AB 1.5", (0, 0, 0))
    img = decode_png(c.to_png_bytes())
    assert img.shape == (48, 64, 3)
    assert (img[5, 5] == (10, 20, 30)).all()
    assert (img[47, 30] == (200, 0, 0)).all()
    solid_bottom = (img[47] == (200, 0, 0)).all(axis=-1).sum()
    dashed_top = (img[0] == (0, 0, 200)).all(axis=-1).sum()
    assert solid_bottom == 64 and 0 < dashed_top < 64     # dash gaps real
    assert (img == 0).all(axis=-1).any()                   # text pixels exist


def test_raster_text_anchors():
    c = Canvas(100, 20)
    c.text(50, 5, "III", (0, 0, 0), anchor="middle")
    img = c.buf
    black_cols = np.where((img == 0).all(axis=-1).any(axis=0))[0]
    # "III" is 17px wide; centered on x=50 -> roughly symmetric around it.
    assert abs((black_cols.min() + black_cols.max()) / 2 - 50) <= 2
