"""Layout rules checked on the package source alone (no Spark session)."""

from __future__ import annotations

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
