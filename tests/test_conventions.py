"""Package-wide code conventions the verdicts have ratcheted in."""

import re
from pathlib import Path

PKG = Path(__file__).parent.parent / "clickhouse_datafusion_spark"


def test_no_blanket_except_pass():
    """r13 (VERDICT task 5): the seam convention is narrow exception
    classes + a recorded or propagated error; a blanket
    ``except Exception: pass`` silently eats genuine failures. The
    last one (the JVM active-session pin) was narrowed to the Connect
    no-JVM shape — keep the package at zero."""
    pat = re.compile(r"except\s+Exception\s*(?:as\s+\w+\s*)?:\s*\n\s*pass\b")
    offenders = [str(p) for p in sorted(PKG.rglob("*.py"))
                 if pat.search(p.read_text())]
    assert not offenders, offenders


def test_result_frames_built_from_arrow():
    """The engine builds every result frame it makes itself (INSERT
    counts, client probes, DDL results, streamed ships that fit) through
    ``sink.arrow_frame``, from Arrow: Spark plans that as a
    LocalTableScan. ``createDataFrame`` over a Python list, tuple or
    ``.collect()`` result makes a pickled Python RDD instead, and
    collecting it starts Python workers — so in ``engine.py`` and
    ``sink.py`` only the helper may call ``createDataFrame``."""
    import ast

    offenders = []
    for name in ("engine.py", "sink.py"):
        tree = ast.parse((PKG / name).read_text())
        allowed = {n for f in ast.walk(tree)
                   if isinstance(f, ast.FunctionDef) and f.name == "arrow_frame"
                   for n in ast.walk(f)}
        offenders += [f"{name}:{n.lineno}" for n in ast.walk(tree)
                      if isinstance(n, ast.Call)
                      and isinstance(n.func, ast.Attribute)
                      and n.func.attr == "createDataFrame"
                      and n not in allowed]
    assert not offenders, offenders
