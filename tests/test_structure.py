"""Layout rules checked on the package source alone (no Spark session)."""

from __future__ import annotations

import ast
import pathlib

import legend_community_delta_spark

_PKG = pathlib.Path(legend_community_delta_spark.__file__).parent


def test_store_footer_layout_has_one_home():
    """Only the footer helpers in ``functions/__init__.py`` know where a
    store keeps its footer; every operator goes through them."""
    home = _PKG / "functions" / "__init__.py"
    assert "__meta" in home.read_text()
    offenders = [str(p.relative_to(_PKG)) for p in _PKG.rglob("*.py")
                 if p != home and "__meta" in p.read_text()]
    assert offenders == []


def _fn(call: ast.Call) -> str | None:
    return getattr(call.func, "attr", getattr(call.func, "id", None))


def _calls(path: pathlib.Path, match) -> list[str]:
    """The top-level function holding each call in *path* that *match*
    accepts, one entry per call."""
    return [getattr(top, "name", "<module>")
            for top in ast.parse(path.read_text()).body
            for node in ast.walk(top)
            if isinstance(node, ast.Call) and match(node)]


def _is_cover(call: ast.Call) -> bool:
    """``filter(units, (t, i) -> ~exists(starts, ...))``: drop every
    unit some flagged window covers."""
    pred = call.args[1] if len(call.args) == 2 else None
    return (_fn(call) == "filter" and isinstance(pred, ast.Lambda)
            and isinstance(pred.body, ast.UnaryOp)
            and isinstance(pred.body.op, ast.Invert)
            and isinstance(pred.body.operand, ast.Call)
            and _fn(pred.body.operand) == "exists")


def test_text_overlap_kernels_have_one_home():
    """The exact n-gram verify (``array_intersect`` over hashed-gram
    arrays) lives only in ``dedup._verify`` and the span cover removal
    only in ``spans._cleaned``; every operator goes through them."""
    dedup = _PKG / "operators" / "dedup.py"
    assert _calls(dedup, lambda c: _fn(c) == "array_intersect") == [
        "_verify"]
    covers = [(p.relative_to(_PKG).as_posix(), name)
              for p in sorted(_PKG.rglob("*.py"))
              for name in _calls(p, _is_cover)]
    assert covers == [("operators/spans.py", "_cleaned")]


def test_vector_search_kernels_have_one_home():
    """The seeded LSH plane draw lives only in ``vectors.hyperplanes``
    (the demo oracle keeps its own draw as an independent reference) and
    the centroid argmax only in ``similarity._cell_col``."""
    draws = [(p.relative_to(_PKG).as_posix(), name)
             for p in sorted(_PKG.rglob("*.py"))
             for name in _calls(p, lambda c: _fn(c) == "gauss")]
    assert draws == [("demo.py", "_embedding_dedup_oracle"),
                     ("functions/vectors.py", "hyperplanes")]
    similarity = _PKG / "operators" / "similarity.py"
    assert _calls(similarity, lambda c: _fn(c) == "array_max") == [
        "_cell_col"]
