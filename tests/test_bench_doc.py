"""tools/scaling.py rewrites only its own marked section of BENCH.md."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "scaling.py")


def _scaling():
    spec = importlib.util.spec_from_file_location("scaling_tool", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scaling_merges_only_its_section():
    sc = _scaling()
    doc = "# BENCH\n\n## Other study\n\nkept\n"
    once = sc.merge_section(doc, "## Scaling\n\nrun 1\n")
    assert once.startswith(doc.rstrip()) and "run 1" in once
    twice = sc.merge_section(once + "\n## Later study\n\nalso kept\n",
                             "## Scaling\n\nrun 2\n")
    assert "run 1" not in twice and "run 2" in twice
    assert "## Other study\n\nkept" in twice
    assert twice.endswith("## Later study\n\nalso kept\n")
    assert twice.count(sc.SECTION_BEGIN) == twice.count(sc.SECTION_END) == 1
