"""Guard against unreached helpers: every top-level ``def`` / ``class`` in
``geo_raster_spark/`` must be named somewhere outside its own definition —
in the package, the tests, the tools, the benchmark or a root-level script.
Pure ``ast`` + token scan, no Spark."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "geo_raster_spark"


def test_every_top_level_name_is_reached():
    files = [p for d in ("geo_raster_spark", "tests", "tools", "perfbench")
             for p in (ROOT / d).rglob("*.py")] + sorted(ROOT.glob("*.py"))
    texts = {p: p.read_text() for p in files}
    tokens = Counter()
    for t in texts.values():
        tokens.update(re.findall(r"\w+", t))
    unreached = []
    for p in files:
        if PKG not in p.parents:
            continue
        lines = texts[p].splitlines()
        for node in ast.parse(texts[p]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            own = re.findall(r"\w+", "\n".join(
                lines[node.lineno - 1:node.end_lineno])).count(node.name)
            if tokens[node.name] <= own:
                unreached.append(f"{p.relative_to(ROOT)}:{node.name}")
    assert not unreached, unreached
