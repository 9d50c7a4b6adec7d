"""Plot-artifact rendering: threshold-optimization curve and sign-aware
feature-importance bars (reference parity for ``pipeline/plot_threshold.py:63-83``
and ``pipeline/plot_feature_importance.py:20-60``).

Charts render to PNG through the dependency-free raster encoder
(:mod:`.raster` — stdlib zlib/struct + numpy, built-in 5×7 font): a polyline
curve with a best-threshold marker, and signed horizontal bars. The DATA
inputs are the oracle-verified ``threshold_curve`` query and
``ml.coefficients_frame`` — rendering consumes their bounded outputs (101
rows / one row per feature), never raw data.
"""

from __future__ import annotations

from collections.abc import Sequence

_W, _H, _PAD = 700, 500, 55


def _sx(t: float) -> float:
    return _PAD + t * (_W - 2 * _PAD)


def _sy(v: float) -> float:
    return (_H - _PAD) - v * (_H - 2 * _PAD)


_BLUE = (31, 119, 180)
_ORANGE = (255, 127, 14)
_GREEN = (44, 160, 44)
_RED = (214, 39, 40)
_GRAY = (128, 128, 128)
_BLACK = (0, 0, 0)


def threshold_curve_png(
    rows: Sequence[dict], out_path: str, best_threshold: float | None = None
) -> str:
    """Precision/recall/F1 vs threshold as a PNG. ``rows`` are the collected
    dicts of the ``threshold_curve`` query (columns t, precision, recall,
    f1); 101 rows — a bounded artifact sink."""
    from .raster import Canvas

    rows = sorted(rows, key=lambda r: r["t"])
    c = Canvas(_W, _H)
    c.line(_PAD, _H - _PAD, _W - _PAD, _H - _PAD, _BLACK)  # x axis
    c.line(_PAD, _PAD, _PAD, _H - _PAD, _BLACK)            # y axis
    c.text(_W // 2, 12, "Threshold Optimization Curve", anchor="middle")
    c.text(_W // 2, _H - 18, "Threshold", anchor="middle")
    colors = {"f1": _BLUE, "precision": _ORANGE, "recall": _GREEN}
    for i, (metric, color) in enumerate(colors.items()):
        pts = [(_sx(r["t"]), _sy(r[metric])) for r in rows]
        c.polyline(pts, color, width=2)
        c.text(_W - _PAD - 100, _PAD + 16 * i, metric, color)
    if best_threshold is not None:
        x = _sx(best_threshold)
        c.line(x, _PAD, x, _H - _PAD, _GRAY, dash=(6, 4))
        c.text(x + 4, _PAD + 6, f"best = {best_threshold:.2f}", _GRAY)
    return c.write_png(out_path)


def feature_importance_png(rows: Sequence[dict], out_path: str) -> str:
    """Sign-aware horizontal coefficient bars as a PNG (positive right/red
    = churn risk up, negative left/blue = churn risk down — the reference's
    color semantics). ``rows`` come from ``ml.coefficients_frame`` (one per
    feature, already ranked by |coefficient|)."""
    from .raster import Canvas

    rows = list(rows)
    # default=0.0 so an empty model (no features) renders an empty chart
    # instead of raising ValueError from max() on an empty generator.
    max_abs = max((abs(r["coefficient"]) for r in rows), default=0.0) or 1.0
    mid_x = _W / 2
    bar_h = (_H - 2 * _PAD) / max(len(rows), 1)
    c = Canvas(_W, _H)
    c.text(_W // 2, 12, "Feature Importance (signed)", anchor="middle")
    c.line(mid_x, _PAD, mid_x, _H - _PAD, _BLACK)
    for i, r in enumerate(rows):
        coef = r["coefficient"]
        w = abs(coef) / max_abs * (_W / 2 - _PAD - 10)
        y = _PAD + i * bar_h + 2
        color = _RED if coef >= 0 else _BLUE
        x = mid_x if coef >= 0 else mid_x - w
        c.fill_rect(x, y, w, bar_h - 6, color)
        label = f"{r['feature']} ({coef:+.3f})"
        tx = mid_x + w + 6 if coef >= 0 else mid_x - w - 6
        anchor = "start" if coef >= 0 else "end"
        c.text(tx, y + bar_h / 2 - 4, label, _BLACK, anchor=anchor)
    return c.write_png(out_path)


def render_threshold_curve(rows: Sequence[dict], out_path: str, best_threshold=None) -> str:
    return threshold_curve_png(rows, out_path, best_threshold)


def render_feature_importance(rows: Sequence[dict], out_path: str) -> str:
    return feature_importance_png(rows, out_path)
