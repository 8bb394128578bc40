"""ClickHouse external-dictionary surface: ``dictGet`` /
``dictGetOrDefault`` / ``dictHas``.

ClickHouse dictionaries are in-memory key→attributes lookup tables
hydrated from an external source; queries call ``dictGet('dict',
'attr', key)`` instead of writing the join. The Spark-native analog
keeps that calling convention while staying entirely JVM-side: a
registered dictionary compiles into a ``map(k1, v1, ...)`` LITERAL at
SQL-rewrite time, so ``dictGet`` becomes ``element_at(map_literal,
key)`` — whole-stage-codegen'd, no Python, no shuffle, and Catalyst
folds the constant map once per query.

Scale contract: the literal form is for DICTIONARY-sized relations
(ClickHouse's own sweet spot — countries, currencies, enum decodes;
``MAX_ENTRIES`` guards the SQL text from blowing up). A lookup table
beyond that is not a dictionary, it is a dimension — use a broadcast
join (``F.broadcast(dim)``), which is the identical physical plan with
the build side shipped once per executor instead of inlined in every
query text.
"""

from __future__ import annotations

from clickhouse_datafusion_spark.fragments import sql_lit

_DICTIONARIES: dict[str, dict] = {}

MAX_ENTRIES = 10_000


class UnknownDictionary(ValueError):
    def __init__(self, name: str):
        super().__init__(
            f"unknown dictionary {name!r}; registered: "
            + (", ".join(sorted(_DICTIONARIES)) or "(none)"))


def register_dictionary(name: str, rows: dict, defaults: dict | None = None,
                        replace: bool = True) -> None:
    """Register ``{key: {attr: value}}`` under ``name``.

    ``defaults`` supplies the per-attribute value returned for missing
    keys (ClickHouse returns the attribute's configured default, not
    NULL); attributes without one fall back to NULL.
    """
    if not replace and name in _DICTIONARIES:
        raise ValueError(f"dictionary {name!r} already registered")
    if len(rows) > MAX_ENTRIES:
        raise ValueError(
            f"dictionary {name!r} has {len(rows)} entries (> {MAX_ENTRIES}); "
            "that is a dimension table, not a dictionary — broadcast-join it")
    attrs: dict[str, dict] = {}
    for key, kv in rows.items():
        for attr, value in kv.items():
            attrs.setdefault(attr, {})[key] = value
    _DICTIONARIES[name] = {"attrs": attrs, "defaults": dict(defaults or {})}


def drop_dictionary(name: str) -> None:
    _DICTIONARIES.pop(name, None)


def _unquote(frag: str, what: str) -> str:
    frag = frag.strip()
    if len(frag) >= 2 and frag[0] == "'" and frag[-1] == "'":
        return frag[1:-1].replace("''", "'")
    raise ValueError(
        f"dictGet {what} must be a string literal, got: {frag!r}")


def _lookup(name_frag: str, attr_frag: str):
    name = _unquote(name_frag, "dictionary name")
    attr = _unquote(attr_frag, "attribute name")
    d = _DICTIONARIES.get(name)
    if d is None:
        raise UnknownDictionary(name)
    if attr not in d["attrs"]:
        raise ValueError(
            f"dictionary {name!r} has no attribute {attr!r}; attributes: "
            + ", ".join(sorted(d["attrs"])))
    return d["attrs"][attr], d["defaults"].get(attr)


def _map_literal(kv: dict) -> str:
    items = sorted(kv.items(), key=lambda x: str(x[0]))
    pairs = ", ".join(f"{sql_lit(k)}, {sql_lit(v)}" for k, v in items)
    return f"map({pairs})"


def dict_get(args: list[str]) -> str:
    """dictGet('name', 'attr', key) → element_at over the map literal,
    falling back to the attribute's registered default."""
    kv, default = _lookup(args[0], args[1])
    expr = f"element_at({_map_literal(kv)}, {args[2]})"
    if default is not None:
        expr = f"coalesce({expr}, {sql_lit(default)})"
    return expr


def dict_get_or_default(args: list[str]) -> str:
    """dictGetOrDefault('name', 'attr', key, default_expr)."""
    kv, _ = _lookup(args[0], args[1])
    return (f"coalesce(element_at({_map_literal(kv)}, {args[2]}), "
            f"{args[3]})")


def dict_has(args: list[str]) -> str:
    """dictHas('name', key) — key present under ANY attribute."""
    name = _unquote(args[0], "dictionary name")
    d = _DICTIONARIES.get(name)
    if d is None:
        raise UnknownDictionary(name)
    keys: set = set()
    for kv in d["attrs"].values():
        keys.update(kv)
    arr = ", ".join(sql_lit(k) for k in sorted(keys, key=str))
    return f"(array_contains(array({arr}), {args[1]}))"
