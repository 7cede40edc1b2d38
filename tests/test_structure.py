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


def _holders(path: pathlib.Path, match) -> list[str]:
    """Dotted name of the innermost class/function holding each node of
    *path* that *match* accepts; a module-level constant is named by its
    assignment target.  Docstrings are not searched."""
    found: list[str] = []

    def visit(node: ast.AST, scope: list[str]) -> None:
        body = getattr(node, "body", None)
        docstring = (body[0].value if isinstance(body, list) and body
                     and isinstance(body[0], ast.Expr)
                     and isinstance(body[0].value, ast.Constant) else None)
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, ast.FunctionDef)):
                visit(child, scope + [child.name])
            elif isinstance(child, ast.Assign) and not scope:
                visit(child, [getattr(child.targets[0], "id", "<module>")])
            elif isinstance(child, ast.Expr) and child.value is docstring:
                continue
            else:
                if match(child):
                    found.append(".".join(scope) or "<module>")
                visit(child, scope)

    visit(ast.parse(path.read_text()), [])
    return found


def _package_holders(match) -> set[tuple[str, str]]:
    return {(p.relative_to(_PKG).as_posix(), name)
            for p in sorted(_PKG.rglob("*.py"))
            for name in _holders(p, match)}


def test_legend_compile_decisions_have_one_home():
    """The expectation rules are written once, in ``expectations.py``, for
    both the DQ layer and the mapping query (the demo's DuckDB oracle keeps
    its own rule name as an independent reference); the supertype walk
    lives only in ``LegendModel._inherited``; aggregates render only in
    ``plans/compiler.py``; the reverse type map lives only in ``codegen``."""
    rules = ("is mandatory", "has invalid size", "not allowed value")
    assert _package_holders(
        lambda n: isinstance(n, ast.Constant) and isinstance(n.value, str)
        and any(r in n.value for r in rules)) == {
            ("expectations.py", "_field_rules"),
            ("demo.py", "_ORACLE_DQ_LINEITEM")}
    assert _package_holders(
        lambda n: isinstance(n, (ast.For, ast.comprehension))
        and isinstance(n.iter, ast.Attribute)
        and n.iter.attr == "super_types") == {
            ("model/loader.py", "LegendModel._inherited")}
    texts = {p.relative_to(_PKG).as_posix(): p.read_text()
             for p in _PKG.rglob("*.py")}
    assert [f for f, t in texts.items() if "stddev_pop" in t] == [
        "plans/compiler.py"]
    assert [f for f, t in texts.items() if "SPARK_TO_PURE" in t] == []
