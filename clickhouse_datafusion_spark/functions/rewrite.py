r"""SQL-string rewriter for the ClickHouse function surface.

The reference's headline feature is calling any ClickHouse function from SQL
via wrapper UDFs (reference src/udfs/clickhouse.rs, src/udfs/eval.rs,
src/udfs/apply.rs; SURVEY §2.7):

- ``clickhouse(expr, 'Type')`` (aliases ``ch``, ``clickhouse_udf``,
  ``clickhouse_pushdown[_udf]``): *expr* may use backticked ClickHouse names
  (``\`base64Encode\`(name)``) and higher-order forms with ``$x``/``$y``
  placeholders (``\`arrayMap\`($x, concat($x, '_sfx'), names)``).
- ``clickhouse_eval('raw ClickHouse syntax', 'Type')``: the first arg is a
  *string* of ClickHouse SQL.
- ``lambda(...)`` / ``apply(...)`` (+ ``clickhouse_apply/_lambda/_map/_fmap/
  _hof``): transparent wrappers around a higher-order expression.

In the reference these are planning-only markers that route the expression to
a remote ClickHouse server.  Here there is no remote server: the engine IS the
executor, so each call *lowers to a native Spark expression* plus an explicit
``CAST`` to the declared type — done as a pre-parse rewrite of the SQL text
(the Spark analog of the reference running its pushdown analyzer before
TypeCoercion, src/context.rs:104-116, so declared types win).

The rewriter also strips the virtual catalog prefix from 3-part table names
(``clickhouse.db.t`` → ``db.t``), mirroring the reference's
catalog-stripping before unparse (src/analyzer/function_pushdown.rs:460-473).

Implementation is a hand-rolled SQL tokenizer + recursive descent over
balanced parens — no regexes over raw SQL, so strings/comments/nesting are
safe.
"""

from __future__ import annotations

from dataclasses import dataclass

from clickhouse_datafusion_spark.dialect import ch_type_to_spark_ddl
from clickhouse_datafusion_spark.functions.registry import (
    GENERATOR_TRANSLATORS,
    HOF_TRANSLATORS,
    SCALAR_TRANSLATORS,
    UnknownClickHouseFunction,
)

ENTRY_NAMES = {"clickhouse", "ch", "clickhouse_udf", "clickhouse_pushdown",
               "clickhouse_pushdown_udf"}
EVAL_NAMES = {"clickhouse_eval", "ch_eval"}
WRAPPER_NAMES = {"lambda", "apply", "clickhouse_apply", "clickhouse_lambda",
                 "clickhouse_map", "clickhouse_fmap", "clickhouse_hof"}


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

WS, STR, BTICK, QIDENT, DOLLAR, WORD, NUM, PUNCT = (
    "WS", "STR", "BTICK", "QIDENT", "DOLLAR", "WORD", "NUM", "PUNCT")


@dataclass
class Tok:
    kind: str
    text: str


class SqlRewriteError(ValueError):
    pass


def tokenize(sql: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            toks.append(Tok(WS, sql[i:j])); i = j
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            j = n if j == -1 else j
            toks.append(Tok(WS, sql[i:j])); i = j
        elif c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            if j == -1:
                raise SqlRewriteError("unterminated block comment")
            toks.append(Tok(WS, sql[i:j + 2])); i = j + 2
        elif c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            if j >= n:
                raise SqlRewriteError("unterminated string literal")
            toks.append(Tok(STR, sql[i:j + 1])); i = j + 1
        elif c == "`":
            j = i + 1
            while j < n and sql[j] != "`":
                j += 1
            if j >= n:
                raise SqlRewriteError("unterminated backtick identifier")
            toks.append(Tok(BTICK, sql[i:j + 1])); i = j + 1
        elif c == '"':
            j = i + 1
            while j < n and sql[j] != '"':
                j += 1
            if j >= n:
                raise SqlRewriteError("unterminated quoted identifier")
            toks.append(Tok(QIDENT, sql[i:j + 1])); i = j + 1
        elif c == "$":
            j = i + 1
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            toks.append(Tok(DOLLAR, sql[i:j])); i = j
        elif c.isdigit() or (c == "." and i + 1 < n and sql[i + 1].isdigit()):
            j = i
            while j < n and (sql[j].isalnum() or sql[j] in "._"):
                # stop a number at a second dot that begins an identifier? numbers
                # in SQL are [0-9]+(.[0-9]+)?([eE][+-]?[0-9]+)? — the simple scan
                # is fine because we never *interpret* numbers.
                j += 1
            toks.append(Tok(NUM, sql[i:j])); i = j
        elif c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            toks.append(Tok(WORD, sql[i:j])); i = j
        else:
            toks.append(Tok(PUNCT, c)); i = i + 1
    return toks


def is_comment(tok: Tok) -> bool:
    """A ``--`` or ``/* */`` comment (the tokenizer emits both as WS)."""
    return tok.kind == WS and tok.text.startswith(("--", "/*"))


def rewrite_name_chains(sql: str, fn) -> str:
    """Rewrite the dotted name chains of ``sql``: ``WORD``/``BTICK`` parts
    joined by ``.``. String literals, double-quoted spans and comments
    are never parts, so they pass through byte-identical.

    ``fn(parts, kw, nxt)`` sees a chain's unquoted, lower-cased parts,
    the lower-cased one-word chain just before it (``kw``, e.g.
    ``"from"``; None when something else precedes it) and the first
    token after it that is not whitespace or a comment (``nxt``; None at
    the end). It returns None to keep the chain, or ``(k, text)`` to
    replace the chain's first ``k`` parts, and the dot after them, with
    ``text``; comments between those parts stay."""
    toks = tokenize(sql)
    out: list[str] = []
    i, kw = 0, None
    while i < len(toks):
        if toks[i].kind not in (WORD, BTICK):
            out.append(toks[i].text)
            if toks[i].kind != WS:
                kw = None
            i += 1
            continue
        at = [i]
        j = _skip_ws(toks, i + 1)
        while j < len(toks) and toks[j].kind == PUNCT and toks[j].text == ".":
            k = _skip_ws(toks, j + 1)
            if k == len(toks) or toks[k].kind not in (WORD, BTICK):
                break
            at.append(k)
            j = _skip_ws(toks, k + 1)
        end = at[-1] + 1
        parts = [toks[p].text.strip("`").lower() for p in at]
        nxt = toks[j] if j < len(toks) else None
        hit = fn(parts, kw, nxt)
        if hit is not None:
            k, text = hit
            cut = at[k] if k < len(at) else end
            out.append(text)
            out += [t.text for t in toks[i:cut] if is_comment(t)]
            i = cut
        out += [t.text for t in toks[i:end]]
        kw = parts[0] if len(at) == 1 and toks[at[0]].kind == WORD else None
        i = end
    return "".join(out)


def _skip_ws(toks: list[Tok], i: int) -> int:
    while i < len(toks) and toks[i].kind == WS:
        i += 1
    return i


def next_sig(toks: list[Tok], i: int) -> int:
    """The index of the first non-whitespace token after ``toks[i]``."""
    return _skip_ws(toks, i + 1)


def prev_sig(toks: list[Tok], i: int) -> int:
    """The index of the last non-whitespace token before ``toks[i]``, or
    -1."""
    i -= 1
    while i >= 0 and toks[i].kind == WS:
        i -= 1
    return i


def word_at(toks: list[Tok], i: int):
    """The upper-cased word at ``toks[i]``, else False."""
    return i < len(toks) and toks[i].kind == WORD and toks[i].text.upper()


def _parse_call_args(toks: list[Tok], i: int) -> tuple[list[list[Tok]], int]:
    """``i`` points at '('.  Returns (top-level comma-split args, index past ')')."""
    assert toks[i].text == "("
    depth, j = 0, i
    args: list[list[Tok]] = []
    cur: list[Tok] = []
    while j < len(toks):
        t = toks[j]
        if t.kind == PUNCT and t.text == "(":
            depth += 1
            if depth > 1:
                cur.append(t)
        elif t.kind == PUNCT and t.text == ")":
            depth -= 1
            if depth == 0:
                if cur or args:
                    args.append(cur)
                return args, j + 1
            cur.append(t)
        elif t.kind == PUNCT and t.text == "," and depth == 1:
            args.append(cur)
            cur = []
        else:
            if depth >= 1:
                cur.append(t)
        j += 1
    raise SqlRewriteError("unbalanced parentheses in function call")


def _strip_outer_ws(ts: list[Tok]) -> list[Tok]:
    a, b = 0, len(ts)
    while a < b and ts[a].kind == WS:
        a += 1
    while b > a and ts[b - 1].kind == WS:
        b -= 1
    return ts[a:b]


def _str_value(tok: Tok) -> str:
    return tok.text[1:-1].replace("''", "'").replace("\\'", "'")


@dataclass
class _ChResult:
    """Result of translating the inner expression of a clickhouse() call."""
    sql: str
    generator: str | None = None      # spark generator fn name (e.g. 'explode')
    generator_arg: str | None = None  # its argument SQL


# --------------------------------------------------------------------------
# Rewriter
# --------------------------------------------------------------------------

def _emit_tokens(toks: list[Tok], cast: str) -> str:
    """Rewrite a token run in *normal SQL* context."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == WORD:
            low = t.text.lower()
            nxt = _skip_ws(toks, i + 1)
            starts_call = nxt < len(toks) and toks[nxt].kind == PUNCT and toks[nxt].text == "("
            if starts_call and low in ENTRY_NAMES:
                sql, i = _rewrite_ch_call(toks, nxt, cast)
                out.append(sql)
                continue
            if starts_call and low in EVAL_NAMES:
                sql, i = _rewrite_eval_call(toks, nxt, cast)
                out.append(sql)
                continue
            if starts_call and low in WRAPPER_NAMES and _contains_dollar(toks, nxt):
                # standalone apply/lambda(...) without a clickhouse() wrapper:
                # translate in ch-context, no cast.
                args, j = _parse_call_args(toks, nxt)
                if len(args) != 1:
                    raise SqlRewriteError(f"{t.text}() wrapper takes one expression")
                res = _translate_ch_expr(_strip_outer_ws(args[0]), cast)
                out.append(_finish_ch(res, None, cast))
                i = j
                continue
            out.append(t.text)
            i += 1
        else:
            out.append(t.text)
            i += 1
    return "".join(out)


def _contains_dollar(toks: list[Tok], open_paren: int) -> bool:
    depth = 0
    for t in toks[open_paren:]:
        if t.kind == PUNCT and t.text == "(":
            depth += 1
        elif t.kind == PUNCT and t.text == ")":
            depth -= 1
            if depth == 0:
                return False
        elif t.kind == DOLLAR:
            return True
    return False


def _rewrite_ch_call(toks: list[Tok], open_paren: int,
                     cast: str) -> tuple[str, int]:
    args, j = _parse_call_args(toks, open_paren)
    if len(args) != 2:
        raise SqlRewriteError(
            f"clickhouse() takes (expr, 'Type'); got {len(args)} args")
    type_toks = _strip_outer_ws(args[1])
    if len(type_toks) != 1 or type_toks[0].kind != STR:
        raise SqlRewriteError("clickhouse() second argument must be a 'Type' string")
    ddl = ch_type_to_spark_ddl(_str_value(type_toks[0]))
    res = _translate_ch_expr(_strip_outer_ws(args[0]), cast)
    return _finish_ch(res, ddl, cast), j


def _rewrite_eval_call(toks: list[Tok], open_paren: int,
                       cast: str) -> tuple[str, int]:
    args, j = _parse_call_args(toks, open_paren)
    if len(args) != 2:
        raise SqlRewriteError("clickhouse_eval() takes ('raw expr', 'Type')")
    raw_toks = _strip_outer_ws(args[0])
    type_toks = _strip_outer_ws(args[1])
    if (len(raw_toks) != 1 or raw_toks[0].kind != STR
            or len(type_toks) != 1 or type_toks[0].kind != STR):
        raise SqlRewriteError(
            "clickhouse_eval() arguments must be string literals")
    inner = tokenize(_str_value(raw_toks[0]))
    ddl = ch_type_to_spark_ddl(_str_value(type_toks[0]))
    res = _translate_ch_expr(_strip_outer_ws(inner), cast)
    return _finish_ch(res, ddl, cast), j


def _finish_ch(res: _ChResult, ddl: str | None, cast: str) -> str:
    """``cast`` is ``CAST``, or ``TRY_CAST`` in coercion mode."""
    if res.generator is not None:
        if ddl is None:
            return f"{res.generator}({res.generator_arg})"
        # CAST must wrap the generator's *argument*: declared 'Utf8' is the
        # element type produced per row (reference: arrayJoin returns rows of T).
        return f"{res.generator}({cast}({res.generator_arg} AS ARRAY<{ddl}>))"
    if ddl is None:
        return f"({res.sql})"
    return f"{cast}(({res.sql}) AS {ddl})"


def _translate_ch_expr(toks: list[Tok], cast: str) -> _ChResult:
    """Translate a ClickHouse expression (inside clickhouse()/eval) to Spark SQL."""
    toks = _strip_outer_ws(toks)
    # Detect top-level generator call: `arrayJoin`(x) / arrayJoin(x)
    if toks and toks[0].kind in (WORD, BTICK):
        name = toks[0].text.strip("`")
        nxt = _skip_ws(toks, 1)
        if (name.lower() in GENERATOR_TRANSLATORS and nxt < len(toks)
                and toks[nxt].kind == PUNCT and toks[nxt].text == "("):
            args, j = _parse_call_args(toks, nxt)
            if j == len(toks) and len(args) == 1:
                arg_sql = _ch_emit(_strip_outer_ws(args[0]), cast)
                return _ChResult("", GENERATOR_TRANSLATORS[name.lower()], arg_sql)
    return _ChResult(_ch_emit(toks, cast))


def _ch_emit(toks: list[Tok], cast: str) -> str:
    """Emit Spark SQL for a ch-context token run (recursive)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind in (WORD, BTICK):
            name = t.text.strip("`") if t.kind == BTICK else t.text
            low = name.lower()
            nxt = _skip_ws(toks, i + 1)
            starts_call = (nxt < len(toks) and toks[nxt].kind == PUNCT
                           and toks[nxt].text == "(")
            if starts_call:
                if low in WRAPPER_NAMES:
                    args, j = _parse_call_args(toks, nxt)
                    if len(args) != 1:
                        raise SqlRewriteError(f"{name}() wrapper takes one expression")
                    out.append(_ch_emit(_strip_outer_ws(args[0]), cast))
                    i = j
                    continue
                if low in ENTRY_NAMES:  # nested clickhouse(expr,'T')
                    sql, i = _rewrite_ch_call(toks, nxt, cast)
                    out.append(sql)
                    continue
                if low in EVAL_NAMES:
                    sql, i = _rewrite_eval_call(toks, nxt, cast)
                    out.append(sql)
                    continue
                if low in HOF_TRANSLATORS:
                    args, j = _parse_call_args(toks, nxt)
                    out.append(_translate_hof(name, args, cast))
                    i = j
                    continue
                if low in GENERATOR_TRANSLATORS:
                    args, j = _parse_call_args(toks, nxt)
                    if len(args) != 1:
                        raise SqlRewriteError(f"{name}() takes one array argument")
                    arg_sql = _ch_emit(_strip_outer_ws(args[0]), cast)
                    out.append(f"{GENERATOR_TRANSLATORS[low]}({arg_sql})")
                    i = j
                    continue
                if low in SCALAR_TRANSLATORS:
                    args, j = _parse_call_args(toks, nxt)
                    arg_sqls = [_ch_emit(_strip_outer_ws(a), cast)
                                for a in args]
                    out.append(SCALAR_TRANSLATORS[low](arg_sqls))
                    i = j
                    continue
                if t.kind == BTICK:
                    # Backticked = explicitly ClickHouse-namespaced; unknown → error
                    # (eager analog of PlaceholderUDF, src/udfs/placeholder.rs).
                    raise UnknownClickHouseFunction(name)
                # plain unknown word + '(': assume a Spark-resolvable function;
                # translate its arguments and keep the name.
                args, j = _parse_call_args(toks, nxt)
                arg_sqls = [_ch_emit(_strip_outer_ws(a), cast)
                            for a in args]
                out.append(f"{name}({', '.join(arg_sqls)})")
                i = j
                continue
            # not a call: identifier — strip catalog prefix like normal context
            out.append(t.text)
            i += 1
        elif t.kind == DOLLAR:
            out.append(t.text[1:])  # $x → x (Spark lambda variable)
            i += 1
        else:
            out.append(t.text)
            i += 1
    return "".join(out)


def _translate_hof(name: str, args: list[list[Tok]], cast: str) -> str:
    """``arrayMap($x[, $y], body, arr1[, arr2])`` → Spark HOF SQL."""
    args = [_strip_outer_ws(a) for a in args]
    placeholders: list[str] = []
    k = 0
    while k < len(args) and len(args[k]) == 1 and args[k][0].kind == DOLLAR:
        placeholders.append(args[k][0].text[1:])
        k += 1
    if not placeholders:
        raise SqlRewriteError(
            f"{name}() needs leading $placeholder arguments, e.g. "
            f"{name}($x, body, array_col)")
    if len(args) - k < 1 + len(placeholders):
        raise SqlRewriteError(
            f"{name}() needs a body and {len(placeholders)} array argument(s)")
    body = _ch_emit(args[k], cast)
    arrays = [_ch_emit(a, cast) for a in args[k + 1:]]
    if len(arrays) != len(placeholders):
        raise SqlRewriteError(
            f"{name}(): {len(placeholders)} placeholder(s) but {len(arrays)} array(s)")
    return HOF_TRANSLATORS[name.lower()](placeholders, body, arrays)


# --------------------------------------------------------------------------
# Public API
# --------------------------------------------------------------------------

def rewrite_sql(sql: str, catalog_names: set[str] | None = None,
                coercion: bool = False) -> str:
    """Rewrite ClickHouse-surface SQL into plain Spark SQL.

    - lowers ``clickhouse()/ch()/clickhouse_eval()/apply()/lambda()`` calls
      into native Spark expressions with explicit ``CAST`` to declared types;
    - strips virtual catalog prefixes from 3-part names (one pass over
      the name chains, :func:`rewrite_name_chains`);
    - ``coercion=True`` emits ``TRY_CAST`` instead of ``CAST`` for declared
      types: mismatched values become NULL instead of erroring — the analog
      of the reference's opt-in per-batch schema coercion
      (src/stream.rs:45-78, enabled via ClickHouseBuilder::with_coercion,
      src/builders.rs:128-135).
    """
    names = {n.lower() for n in (catalog_names or {"clickhouse"})}

    def strip_catalog(parts, _kw, _nxt):
        return (1, "") if len(parts) > 2 and parts[0] in names else None

    sql = rewrite_name_chains(sql, strip_catalog)
    return _emit_tokens(tokenize(sql), "TRY_CAST" if coercion else "CAST")
