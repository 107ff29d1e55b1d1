"""Generated documents stay in step with their generators."""

from __future__ import annotations

import os


def test_queries_md_matches_its_generator(monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(root)
    from tools.gen_queries_md import DOC, render

    with open(DOC) as f:
        assert f.read() == render(), "run python tools/gen_queries_md.py"
