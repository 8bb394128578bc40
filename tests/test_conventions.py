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
    ``sink.py`` only the helper may call ``createDataFrame``.

    The helper's frame serves ``toPandas()`` from the Arrow it sent the
    JVM, so it must hold exactly that table: only ``arrow_frame`` may
    construct the held-Arrow frame class, and only ``sink.py`` may
    define the ``_collect_as_arrow`` hook."""
    import ast

    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        name = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        allowed = {n for f in ast.walk(tree)
                   if isinstance(f, ast.FunctionDef) and f.name == "arrow_frame"
                   and name == "sink.py"
                   for n in ast.walk(f)}
        offenders += [f"{name}:{n.lineno}" for n in ast.walk(tree)
                      if isinstance(n, ast.Call) and n not in allowed
                      and ((isinstance(n.func, ast.Attribute)
                            and n.func.attr == "createDataFrame"
                            and name in ("engine.py", "sink.py"))
                           or "_HeldArrowFrame" in ast.unparse(n.func))]
        offenders += [f"{name}:{n.lineno}" for n in ast.walk(tree)
                      if isinstance(n, ast.FunctionDef)
                      and n.name == "_collect_as_arrow"
                      and name != "sink.py"]
    assert not offenders, offenders


# The statement regexes engine.py keeps, each with why the one parse
# (engine._run_parsed) cannot route that form: Spark's parser rejects it,
# or it belongs to a family Spark parses only in part, or it is a text
# lowering that runs before the parse. A statement kind Spark parses is
# dispatched from its plan and must not come back as a regex here.
_KEPT_ENGINE_REGEXES = {
    "_EXPLAIN_ANALYZE_RE": "Spark's parser rejects EXPLAIN ANALYZE",
    "_OPTIMIZE_RE": "Spark's parser rejects OPTIMIZE TABLE",
    "_ALTER_MUT_RE": "Spark's parser rejects ALTER TABLE … UPDATE/DELETE",
    "_RENAME_RE": "Spark's parser rejects RENAME TABLE",
    "_EXISTS_RE": "Spark's parser rejects EXISTS [TABLE] t",
    "_CREATE_MV_RE": "the materialized-view family stays together: "
                     "CREATE MATERIALIZED VIEW parses, the rest does not",
    "_REFRESH_MV_RE": "Spark's parser rejects REFRESH MATERIALIZED VIEW",
    "_DROP_MV_RE": "Spark's parser rejects DROP MATERIALIZED VIEW",
    "_SHOW_MV_RE": "Spark's parser rejects SHOW MATERIALIZED VIEWS",
    "_REMOTE_CREATE_RE": "a remote CREATE TABLE's column list is in the "
                         "remote dialect, which Spark's parser rejects",
    "_DIALECT_RE": "text lowering: Spark's parser rejects PREWHERE, "
                   "WITH TOTALS, FORMAT, GLOBAL and FINAL",
    "_SAMPLE_RE": "text lowering: Spark's parser rejects FROM t SAMPLE f",
}

# The regexes remote_engine.py keeps, each with why it is not a lexer of
# Spark SQL text: those rewrites walk functions/rewrite.tokenize.
_KEPT_REMOTE_REGEXES = {
    "_IDENT_TOKEN_RE": "the read-only gate's own lexer reads the REMOTE "
                       "dialect, in which a backslash is not an escape, "
                       "after it has stripped literals and comments",
    "_SQL_IDENT_RE": "validates one caller-supplied identifier — a table "
                     "or log name on the wire, a clickhouse_tail option — "
                     "not SQL text",
}

# one statement per kept statement form, each rejected by Spark's parser
_REJECTED_FORMS = {
    "_EXPLAIN_ANALYZE_RE": "EXPLAIN ANALYZE SELECT 1",
    "_OPTIMIZE_RE": "OPTIMIZE TABLE t FINAL",
    "_ALTER_MUT_RE": "ALTER TABLE t DELETE WHERE 1",
    "_RENAME_RE": "RENAME TABLE a TO b",
    "_EXISTS_RE": "EXISTS TABLE t",
    "_REFRESH_MV_RE": "REFRESH MATERIALIZED VIEW mv",
    "_DROP_MV_RE": "DROP MATERIALIZED VIEW IF EXISTS mv",
    "_SHOW_MV_RE": "SHOW MATERIALIZED VIEWS",
    "_REMOTE_CREATE_RE": "CREATE TABLE remote.t (a VARCHAR)",
    "_DIALECT_RE": "SELECT a FROM t PREWHERE a > 1",
    "_SAMPLE_RE": "SELECT a FROM t SAMPLE 0.1",
}


def _compiled(tree) -> list:
    """The ``name = re.compile(...)`` assignments of a module's AST."""
    import ast

    return [n for n in ast.walk(tree) if isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Call)
            and isinstance(n.value.func, ast.Attribute)
            and n.value.func.attr == "compile"]


def _compiled_names(named) -> set:
    import ast

    return {t.id for n in named for t in n.targets
            if isinstance(t, ast.Name)}


def test_engine_regexes_are_the_kept_set():
    """``engine.py`` compiles exactly the kept regexes and spells no
    other pattern inline: no statement kind Spark's parser accepts goes
    back to lexical routing."""
    import ast

    tree = ast.parse((PKG / "engine.py").read_text())
    named = _compiled(tree)
    assert _compiled_names(named) == set(_KEPT_ENGINE_REGEXES)
    assert all(_KEPT_ENGINE_REGEXES.values())
    # nor inline: no ``re.*`` call spells its pattern in place, and no
    # call at all takes a pattern anchored at the statement's start
    kept = {id(n.value) for n in named}
    inline = []
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call) and n.args) or id(n) in kept:
            continue
        arg = n.args[0]
        if isinstance(arg, ast.JoinedStr):
            arg = arg.values[0] if arg.values else None
        if not (isinstance(arg, ast.Constant) and isinstance(arg.value, str)):
            continue
        on_re = (isinstance(n.func, ast.Attribute)
                 and isinstance(n.func.value, ast.Name)
                 and n.func.value.id == "re")
        if on_re or arg.value.startswith(("^", r"\A")):
            inline.append((n.lineno, ast.unparse(n.func)))
    assert inline == []


def test_kept_statement_forms_are_rejected_by_spark(spark):
    """Each kept statement form matches its regex and is one Spark's
    parser rejects — the reason it cannot route from the parse."""
    from clickhouse_datafusion_spark import engine

    parser = spark._jsparkSession.sessionState().sqlParser()
    for name, stmt in _REJECTED_FORMS.items():
        rx = getattr(engine, name, None) or getattr(
            engine.ClickHouseSparkEngine, name)
        assert rx.search(stmt), name
        try:
            parser.parsePlan(stmt)
        except Exception:
            continue
        raise AssertionError(f"{name}: Spark parses {stmt!r}")


def test_remote_engine_regexes_are_the_kept_set():
    """``sources/remote_engine.py`` compiles exactly the kept regexes:
    its Spark-SQL rewrites (qualifier stripping, explicit null ordering,
    the lexical refusals) read ``rewrite.tokenize``'s tokens."""
    import ast

    tree = ast.parse((PKG / "sources" / "remote_engine.py").read_text())
    assert _compiled_names(_compiled(tree)) == set(_KEPT_REMOTE_REGEXES)
    assert all(_KEPT_REMOTE_REGEXES.values())


def test_no_regex_lexes_sql_string_literals():
    """No pattern in the package matches a single-quoted SQL string
    (``'(?:[^']…``): such a regex misreads ``\\'`` escapes, double-quoted
    spans and comments; ``functions/rewrite.tokenize`` is the one lexer
    of Spark SQL text."""
    import ast

    offenders = [f"{p.relative_to(PKG)}:{n.lineno}"
                 for p in sorted(PKG.rglob("*.py"))
                 for n in ast.walk(ast.parse(p.read_text()))
                 if isinstance(n, ast.Constant) and isinstance(n.value, str)
                 and "'(?:[^']" in n.value]
    assert offenders == []


def test_engine_write_width_comes_from_plans_explain():
    """Every partition width ``engine.py`` sets on a DataFrame
    (``.coalesce(n)``, ``.repartition(n)``) calls a ``plans.explain``
    rule, and ``write_concurrency`` reaches it only as an argument of
    that call, so the write width has one policy: ``write_concurrency``
    is the cap the rule takes, never the width itself. ``F.coalesce``
    (the column function) is not a width."""
    import ast

    tree = ast.parse((PKG / "engine.py").read_text())
    rules = {a.asname or a.name for n in ast.walk(tree)
             if isinstance(n, ast.ImportFrom)
             and n.module == "clickhouse_datafusion_spark.plans.explain"
             for a in n.names}
    widths = [n for n in ast.walk(tree) if isinstance(n, ast.Call)
              and isinstance(n.func, ast.Attribute)
              and n.func.attr in ("coalesce", "repartition")
              and not (isinstance(n.func.value, ast.Name)
                       and n.func.value.id == "F")]

    def is_rule(node):
        return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id in rules)

    def bare_wc(node):
        """``write_concurrency`` read outside a rule call."""
        if is_rule(node):
            return False
        if isinstance(node, ast.Attribute) and node.attr == "write_concurrency":
            return True
        return any(bare_wc(k) for k in ast.iter_child_nodes(node))

    offenders = [f"engine.py:{n.lineno}" for n in widths
                 if not (n.args and any(map(is_rule, ast.walk(n.args[0]))))
                 or bare_wc(n.args[0])]
    assert widths and offenders == []


def test_one_client_for_the_wire():
    """``sources/wire.py`` is the one module that frames the ingest
    server's Arrow wire: every other module connects, frames a header
    and reads a status byte through it. So no other module opens a
    ``socket.create_connection``, encodes or decodes a frame integer
    (``to_bytes``/``from_bytes``), or writes or compares a status or
    gate byte literal (0x00, 0x01, 0x10, 0x11)."""
    import ast

    status = {b"\x00", b"\x01", b"\x10", b"\x11"}

    def literals(node):
        return [n for n in ast.walk(node) if isinstance(n, ast.Constant)
                and n.value in status]

    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        name = str(path.relative_to(PKG))
        if name == "sources/wire.py":
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            call = (ast.unparse(n.func) if isinstance(n, ast.Call) else "")
            if (call.endswith(("create_connection", ".to_bytes",
                               ".from_bytes"))
                    or (isinstance(n, ast.Compare) and literals(n))
                    or (call.endswith(".write") and literals(n))):
                offenders.append(f"{name}:{n.lineno}")
    assert offenders == []
