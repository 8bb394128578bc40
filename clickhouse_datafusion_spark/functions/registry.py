"""ClickHouse → Spark SQL scalar-function translation registry.

Every ClickHouse function exercised by the reference's tests/README resolves
here (reference README.md:178-222, tests/e2e.rs passim, src/udfs/eval.rs:478):
``exp abs pow mod upper lower concat length toString sigmoid base64Encode
splitByChar arrayJoin arrayMap arrayFilter arrayExists`` — plus a broad set of
common ClickHouse names so user queries keep working.

Each non-higher-order entry is ``fn(args: list[str]) -> str`` taking
already-translated argument SQL fragments and returning a Spark SQL fragment.
Higher-order functions (lambda forms) are listed in :data:`HOF_TRANSLATORS`
and handled by the rewriter, which parses ``$x`` placeholders.

Unknown names raise :class:`UnknownClickHouseFunction` at rewrite time with
the supported-name list — the eager analog of the reference's
``PlaceholderUDF`` fallback (src/udfs/placeholder.rs:22-74): the reference
defers the error to the remote server; we have no remote server, so we error
at analysis with a clear message.
"""

from __future__ import annotations

from collections.abc import Callable

Translator = Callable[[list[str]], str]


class UnknownClickHouseFunction(ValueError):
    """A ClickHouse function name with no Spark translation."""

    def __init__(self, name: str):
        super().__init__(
            f"unknown ClickHouse function {name!r}; supported: "
            + ", ".join(sorted(set(SCALAR_TRANSLATORS) | HOF_NAMES)))
        self.name = name


def _passthrough(spark_name: str) -> Translator:
    return lambda args: f"{spark_name}({', '.join(args)})"


def _binop(op: str) -> Translator:
    return lambda args: f"(({args[0]}) {op} ({args[1]}))"


def _cast_to(ddl: str) -> Translator:
    return lambda args: f"CAST({args[0]} AS {ddl})"


def _sigmoid(args: list[str]) -> str:
    return f"(1.0 / (1.0 + exp(-({args[0]}))))"


def _split_by_char(args: list[str]) -> str:
    # splitByChar(sep, s) → split(s, quoted-literal-sep). ClickHouse requires a
    # constant single-char separator; Spark split takes a regex, so escape it.
    sep, s = args[0], args[1]
    if sep.startswith("'") and sep.endswith("'"):
        lit = sep[1:-1]
        escaped = "".join("\\\\" + c if c in r".^$*+?()[]{}|\\" else c for c in lit)
        return f"split({s}, '{escaped}', -1)"
    # Non-literal separator: quote regex metachars at runtime via literal escape.
    return f"split({s}, concat('\\\\Q', {sep}, '\\\\E'), -1)"


def _modulo(args: list[str]) -> str:
    # ClickHouse mod/% keeps the dividend's sign — same as Spark's MOD.
    return f"(({args[0]}) % ({args[1]}))"


def _truncate(args: list[str]) -> str:
    # ClickHouse trunc(x[, n]) truncates toward zero (Spark's `trunc` is
    # date-only). sign-aware floor of the scaled value.
    x = args[0]
    if len(args) == 1:
        return f"(sign({x}) * floor(abs({x})))"
    n = args[1]
    return (f"(sign({x}) * floor(abs({x}) * power(10, {n})) / power(10, {n}))")


def _multi_if(args: list[str]) -> str:
    # multiIf(c1, v1, c2, v2, ..., else) → CASE WHEN chain.
    if len(args) % 2 == 0 or len(args) < 3:
        raise ValueError("multiIf needs odd number of args: cond,val,...,else")
    parts = ["CASE"]
    for i in range(0, len(args) - 1, 2):
        parts.append(f"WHEN ({args[i]}) THEN ({args[i + 1]})")
    parts.append(f"ELSE ({args[-1]}) END")
    return " ".join(parts)


def _array_literal(args: list[str]) -> str:
    return f"array({', '.join(args)})"


def _count_substrings(args: list[str]) -> str:
    # countSubstrings(haystack, needle): occurrences of a literal needle.
    h, n = args[0], args[1]
    return (f"(CASE WHEN length({n}) = 0 THEN 0 ELSE "
            f"CAST((length({h}) - length(replace({h}, {n}, ''))) / length({n}) AS BIGINT) END)")


def _url_part(part: str) -> Translator:
    # ClickHouse URL functions return '' (never NULL) when the part is
    # absent or the URL is unparseable; Spark's parse_url returns NULL.
    return lambda a: f"coalesce(try_parse_url({a[0]}, '{part}'), '')"


def _age(args: list[str]) -> str:
    # age('unit', d1, d2): the unit is a rewrite-time string literal →
    # Spark's timestampdiff, which has CH age()'s complete-units contract.
    unit = args[0].strip().strip("'\"").upper()
    allowed = {"YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
               "HOUR", "MINUTE", "SECOND"}
    if unit not in allowed:
        raise ValueError(f"age: unsupported unit {unit!r}; "
                         f"supported: {sorted(allowed)}")
    return f"timestampdiff({unit}, {args[1]}, {args[2]})"


def _date_name(args: list[str]) -> str:
    # dateName('part', d): part dispatched at rewrite time.
    part = args[0].strip().strip("'\"").lower()
    d = args[1]
    forms = {
        "year": f"CAST(year({d}) AS STRING)",
        "quarter": f"CAST(quarter({d}) AS STRING)",
        "month": f"date_format({d}, 'MMMM')",
        "week": f"CAST(weekofyear({d}) AS STRING)",
        "dayofyear": f"CAST(dayofyear({d}) AS STRING)",
        "day": f"CAST(dayofmonth({d}) AS STRING)",
        "weekday": f"date_format({d}, 'EEEE')",
        "hour": f"CAST(hour({d}) AS STRING)",
        "minute": f"CAST(minute({d}) AS STRING)",
        "second": f"CAST(second({d}) AS STRING)",
    }
    if part not in forms:
        raise ValueError(f"dateName: unsupported part {part!r}; "
                         f"supported: {sorted(forms)}")
    return forms[part]


def _transform_map(args: list[str]) -> str:
    # transform(x, [from...], [to...], default) — CH's literal value remap.
    # 3-arg form returns x itself when unmatched (arrays must then have
    # x's type). Compiles to a map literal lookup — pure codegen.
    if len(args) == 4:
        x, src, dst, dflt = args
    elif len(args) == 3:
        x, src, dst = args
        dflt = x
    else:
        raise ValueError("transform takes (x, from_array, to_array[, default])")
    return f"coalesce(element_at(map_from_arrays({src}, {dst}), {x}), {dflt})"


def _haversine(args: list[str]) -> str:
    # greatCircleDistance(lon1, lat1, lon2, lat2) → meters. Spherical
    # haversine with R = 6371 km; CH's geoDistance applies an ellipsoid
    # correction (documented divergence ≤ 0.5%).
    lon1, lat1, lon2, lat2 = args
    return (f"(2 * 6371000.0 * asin(sqrt("
            f"power(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"power(sin(radians(({lon2}) - ({lon1})) / 2), 2))))")


def _bit_test_fold(op: str) -> Translator:
    # bitTestAll/bitTestAny(n, p1, p2, ...): fold over literal/expr
    # positions at rewrite time — stays a flat codegen boolean chain.
    def tr(args: list[str]) -> str:
        n = args[0]
        tests = [f"((({n}) >> ({p})) & 1) = 1" for p in args[1:]]
        return "(" + f" {op} ".join(tests) + ")"
    return tr


def _array_reduce(args: list[str]) -> str:
    # arrayReduce('agg', arr): the aggregate NAME is a rewrite-time string
    # literal, so dispatch happens during translation and the output is a
    # plain codegen expression — no dynamic aggregation machinery needed.
    # (CH src/udfs: the reference routes these to native CH; here each
    # supported aggregate has a direct Spark array form.)
    agg = args[0].strip().strip("'\"").lower()
    if len(args) != 2:
        raise ValueError("arrayReduce takes ('agg', array)")
    arr = args[1]
    # ANSI-safety + exactness (r5 ADVICE):
    # - sum seeds the accumulator with the FIRST ELEMENT and folds the rest,
    #   so the accumulator keeps the array's own element type — bigint
    #   arrays (ids/hashes) sum exactly instead of losing bits above 2^53
    #   in a DOUBLE accumulator; float arrays still sum as double. Empty
    #   array -> 0 (CH semantics). Divergences (COVERAGE.md): CH widens
    #   Int32 sums to Int64 — here an int-typed array keeps its type, so a
    #   >2^31 sum of an array<int> errors under ANSI instead of widening;
    #   DECIMAL-element arrays do not analyze (Spark decimal addition
    #   grows precision, so no fold can keep the accumulator type) — wrap
    #   elements in toFloat64() first.
    # - avg uses try_divide: empty array -> NULL (CH returns nan; under
    #   Spark ANSI a plain divide would abort the whole query).
    # - any/anyLast use try_element_at: empty array -> NULL (plain
    #   element_at throws INVALID_ARRAY_INDEX under ANSI).
    # - NULL handling (r6 ADVICE): CH's sum/avg SKIP NULL elements
    #   ([5, NULL] -> 5), so both fold over filter(arr, x IS NOT NULL);
    #   avg's denominator is the non-null count (CH aggregate semantics).
    #   A NULL input ARRAY returns NULL (not a silent 0 — the pre-r7
    #   coalesce masked it); an all-NULL/empty array sums to 0 (the sum
    #   of nothing) and avgs to NULL.
    nn = f"filter({arr}, x -> x IS NOT NULL)"
    sum_form = (f"(CASE WHEN ({arr}) IS NULL THEN NULL "
                f"ELSE coalesce(aggregate("
                f"slice({nn}, 2, greatest(size({nn}) - 1, 0)), "
                f"try_element_at({nn}, 1), (acc, x) -> acc + x), 0) END)")
    avg_form = (f"try_divide(aggregate({nn}, CAST(0 AS DOUBLE), "
                f"(acc, x) -> acc + x), size({nn}))")
    forms = {
        "sum": sum_form,
        "min": f"array_min({arr})",
        "max": f"array_max({arr})",
        "count": f"size({arr})",
        "avg": avg_form,
        "uniq": f"size(array_distinct({arr}))",
        "uniqexact": f"size(array_distinct({arr}))",
        "any": f"try_element_at({arr}, 1)",
        "anylast": f"try_element_at({arr}, -1)",
    }
    if agg not in forms:
        raise ValueError(
            f"arrayReduce: unsupported aggregate {agg!r}; "
            f"supported: {sorted(forms)}")
    return forms[agg]


SCALAR_TRANSLATORS: dict[str, Translator] = {
    "arrayreduce": _array_reduce,
    # --- math -----------------------------------------------------------
    "exp": _passthrough("exp"),
    "abs": _passthrough("abs"),
    "pow": _passthrough("power"),
    "power": _passthrough("power"),
    "mod": _modulo,
    "modulo": _modulo,
    "intdiv": lambda a: f"CAST(floor(({a[0]}) / ({a[1]})) AS BIGINT)",
    "intdivorzero": lambda a: (f"(CASE WHEN ({a[1]}) = 0 THEN 0 "
                               f"ELSE CAST(floor(({a[0]}) / ({a[1]})) AS BIGINT) END)"),
    "plus": _binop("+"),
    "minus": _binop("-"),
    "multiply": _binop("*"),
    "divide": _binop("/"),
    "negate": lambda a: f"(-({a[0]}))",
    "sqrt": _passthrough("sqrt"),
    "cbrt": _passthrough("cbrt"),
    "ln": _passthrough("ln"),
    "log": _passthrough("ln"),        # ClickHouse log == natural log
    "log2": _passthrough("log2"),
    "log10": _passthrough("log10"),
    "log1p": _passthrough("log1p"),
    "expm1": _passthrough("expm1"),
    "exp2": lambda a: f"power(2, {a[0]})",
    "exp10": lambda a: f"power(10, {a[0]})",
    "sigmoid": _sigmoid,
    "round": _passthrough("round"),
    "floor": _passthrough("floor"),
    "ceil": _passthrough("ceil"),
    "ceiling": _passthrough("ceil"),
    "trunc": lambda a: _truncate(a),
    "truncate": lambda a: _truncate(a),
    "sign": _passthrough("sign"),
    "sin": _passthrough("sin"),
    "cos": _passthrough("cos"),
    "tan": _passthrough("tan"),
    "asin": _passthrough("asin"),
    "acos": _passthrough("acos"),
    "atan": _passthrough("atan"),
    "atan2": _passthrough("atan2"),
    "sinh": _passthrough("sinh"),
    "cosh": _passthrough("cosh"),
    "tanh": _passthrough("tanh"),
    "pi": _passthrough("pi"),
    "e": lambda a: "exp(1)",
    "greatest": _passthrough("greatest"),
    "least": _passthrough("least"),
    "rand": _passthrough("rand"),
    "randcanonical": _passthrough("rand"),
    # --- comparison / conditional --------------------------------------
    "if": lambda a: f"(CASE WHEN ({a[0]}) THEN ({a[1]}) ELSE ({a[2]}) END)",
    "multiif": _multi_if,
    "coalesce": _passthrough("coalesce"),
    "ifnull": _passthrough("ifnull"),
    "nullif": _passthrough("nullif"),
    "isnull": lambda a: f"(({a[0]}) IS NULL)",
    "isnotnull": lambda a: f"(({a[0]}) IS NOT NULL)",
    "assumenotnull": lambda a: a[0],
    "equals": _binop("="),
    "notequals": _binop("<>"),
    "greater": _binop(">"),
    "greaterorequals": _binop(">="),
    "less": _binop("<"),
    "lessorequals": _binop("<="),
    "and": _binop("AND"),
    "or": _binop("OR"),
    "not": lambda a: f"(NOT ({a[0]}))",
    # --- strings --------------------------------------------------------
    "upper": _passthrough("upper"),
    "ucase": _passthrough("upper"),
    "upperutf8": _passthrough("upper"),
    "lower": _passthrough("lower"),
    "lcase": _passthrough("lower"),
    "lowerutf8": _passthrough("lower"),
    "concat": _passthrough("concat"),
    "concatwithseparator": lambda a: f"concat_ws({', '.join(a)})",
    "length": _passthrough("length"),
    "lengthutf8": _passthrough("length"),
    "char_length": _passthrough("char_length"),
    "character_length": _passthrough("char_length"),
    "empty": lambda a: f"(length({a[0]}) = 0)",
    "notempty": lambda a: f"(length({a[0]}) > 0)",
    "tostring": _cast_to("STRING"),
    "substring": _passthrough("substring"),
    "substr": _passthrough("substring"),
    "left": _passthrough("left"),
    "right": _passthrough("right"),
    "trim": _passthrough("trim"),
    "trimleft": _passthrough("ltrim"),
    "trimright": _passthrough("rtrim"),
    "trimboth": _passthrough("trim"),
    "reverse": _passthrough("reverse"),
    "reverseutf8": _passthrough("reverse"),
    "repeat": _passthrough("repeat"),
    "leftpad": _passthrough("lpad"),
    "lpad": _passthrough("lpad"),
    "rightpad": _passthrough("rpad"),
    "rpad": _passthrough("rpad"),
    "replaceall": lambda a: f"replace({a[0]}, {a[1]}, {a[2]})",
    "replaceone": lambda a: (f"(CASE WHEN instr({a[0]}, {a[1]}) > 0 THEN "
                             f"concat(substring({a[0]}, 1, instr({a[0]}, {a[1]}) - 1), {a[2]}, "
                             f"substring({a[0]}, instr({a[0]}, {a[1]}) + length({a[1]}))) "
                             f"ELSE {a[0]} END)"),
    "replaceregexpall": lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})",
    "position": lambda a: f"instr({a[0]}, {a[1]})",
    "locate": lambda a: f"instr({a[0]}, {a[1]})",
    "positioncaseinsensitive": lambda a: f"instr(lower({a[0]}), lower({a[1]}))",
    "match": lambda a: f"(({a[0]}) RLIKE ({a[1]}))",
    "like": _binop("LIKE"),
    "notlike": lambda a: f"(NOT (({a[0]}) LIKE ({a[1]})))",
    "ilike": lambda a: f"(lower({a[0]}) LIKE lower({a[1]}))",
    "extract": lambda a: f"regexp_extract({a[0]}, {a[1]}, 0)",
    "extractall": lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)",
    "startswith": _passthrough("startswith"),
    "endswith": _passthrough("endswith"),
    "countsubstrings": _count_substrings,
    "base64encode": lambda a: f"base64(CAST({a[0]} AS BINARY))",
    "base64decode": lambda a: f"CAST(unbase64({a[0]}) AS STRING)",
    "hex": _passthrough("hex"),
    "unhex": _passthrough("unhex"),
    "md5": lambda a: f"md5(CAST({a[0]} AS BINARY))",
    "sha256": lambda a: f"sha2(CAST({a[0]} AS BINARY), 256)",
    "siphash64": lambda a: f"xxhash64({', '.join(a)})",  # stable 64-bit hash stand-in
    "cityhash64": lambda a: f"xxhash64({', '.join(a)})",
    "xxhash64": _passthrough("xxhash64"),
    "splitbychar": _split_by_char,
    "splitbystring": lambda a: _split_by_char(a),
    "format": _passthrough("format_string"),
    "tolowcardinality": lambda a: a[0],
    # --- type conversion ------------------------------------------------
    "toint8": _cast_to("TINYINT"),
    "toint16": _cast_to("SMALLINT"),
    "toint32": _cast_to("INT"),
    "toint64": _cast_to("BIGINT"),
    "touint8": _cast_to("SMALLINT"),
    "touint16": _cast_to("INT"),
    "touint32": _cast_to("BIGINT"),
    "touint64": _cast_to("BIGINT"),
    "tofloat32": _cast_to("FLOAT"),
    "tofloat64": _cast_to("DOUBLE"),
    "todate": _cast_to("DATE"),
    "todatetime": _cast_to("TIMESTAMP"),
    "todecimal64": lambda a: f"CAST({a[0]} AS DECIMAL(18, {a[1] if len(a) > 1 else 4}))",
    # --- date/time ------------------------------------------------------
    "now": _passthrough("current_timestamp"),
    "today": _passthrough("current_date"),
    "toyear": _passthrough("year"),
    "tomonth": _passthrough("month"),
    "todayofmonth": _passthrough("dayofmonth"),
    "todayofweek": _passthrough("dayofweek"),
    "todayofyear": _passthrough("dayofyear"),
    "tohour": _passthrough("hour"),
    "tominute": _passthrough("minute"),
    "tosecond": _passthrough("second"),
    "tostartofmonth": lambda a: f"trunc({a[0]}, 'MM')",
    "tostartofyear": lambda a: f"trunc({a[0]}, 'YYYY')",
    "tostartofday": lambda a: f"date_trunc('DAY', {a[0]})",
    "tostartofhour": lambda a: f"date_trunc('HOUR', {a[0]})",
    "tostartofminute": lambda a: f"date_trunc('MINUTE', {a[0]})",
    "tounixtimestamp": lambda a: f"unix_timestamp({a[0]})",
    "fromunixtimestamp": lambda a: f"from_unixtime({a[0]})",
    "adddays": lambda a: f"date_add({a[0]}, {a[1]})",
    "subtractdays": lambda a: f"date_sub({a[0]}, {a[1]})",
    "datediff": lambda a: f"datediff({a[2]}, {a[1]})" if len(a) == 3 else f"datediff({a[0]}, {a[1]})",
    "formatdatetime": lambda a: f"date_format({a[0]}, {a[1]})",
    # --- arrays (non-lambda) -------------------------------------------
    "array": _array_literal,
    "arrayconcat": _passthrough("concat"),
    "arraylength": _passthrough("size"),
    "arrayelement": lambda a: f"element_at({a[0]}, {a[1]})",
    "has": lambda a: f"array_contains({a[0]}, {a[1]})",
    "indexof": lambda a: f"array_position({a[0]}, {a[1]})",
    "arraydistinct": _passthrough("array_distinct"),
    "arrayuniq": lambda a: f"size(array_distinct({a[0]}))",
    "arraysort": _passthrough("array_sort"),
    "arrayreversesort": lambda a: f"reverse(array_sort({a[0]}))",
    "arrayreverse": _passthrough("reverse"),
    "arrayslice": lambda a: f"slice({', '.join(a)})",
    "arraypushback": lambda a: f"concat({a[0]}, array({a[1]}))",
    "arraypushfront": lambda a: f"concat(array({a[1]}), {a[0]})",
    "arraypopback": lambda a: f"slice({a[0]}, 1, size({a[0]}) - 1)",
    "arraypopfront": lambda a: f"slice({a[0]}, 2, size({a[0]}) - 1)",
    "arrayflatten": _passthrough("flatten"),
    "flatten": _passthrough("flatten"),
    "arrayzip": _passthrough("arrays_zip"),
    "arrayintersect": _passthrough("array_intersect"),
    "arrayunion": _passthrough("array_union"),
    # array arithmetic (CH semantics: arrayDifference keeps a leading 0,
    # arrayCompact removes CONSECUTIVE duplicates only; cumsum
    # accumulates as BIGINT —
    # the integer-array case CH users actually hit)
    "arraydifference": lambda a: (
        f"transform({a[0]}, (x, i) -> CASE WHEN i = 0 THEN x - x "
        f"ELSE x - element_at({a[0]}, i) END)"),
    "arraycumsum": lambda a: (
        f"transform({a[0]}, (x, i) -> aggregate(slice({a[0]}, 1, i + 1), "
        f"CAST(0 AS BIGINT), (acc, y) -> acc + y))"),
    "arraycompact": lambda a: (
        f"filter({a[0]}, (x, i) -> i = 0 "
        f"OR NOT (x <=> element_at({a[0]}, i)))"),
    # JSON extraction: CH JSONExtract*(json, 'key') / the legacy
    # visitParam/simpleJSON spellings — all route through
    # get_json_object with a $.key path and an explicit cast
    "jsonextractstring": lambda a: _json_path(a),
    "jsonextractraw": lambda a: _json_path(a),
    "jsonextractint": lambda a: f"CAST({_json_path(a)} AS BIGINT)",
    "jsonextractfloat": lambda a: f"CAST({_json_path(a)} AS DOUBLE)",
    "jsonextractbool": lambda a: f"CAST({_json_path(a)} AS BOOLEAN)",
    "jsonhas": lambda a: f"({_json_path(a)} IS NOT NULL)",
    "jsonlength": lambda a: f"json_array_length({a[0]})",
    "visitparamextractstring": lambda a: _json_path(a),
    "simplejsonextractstring": lambda a: _json_path(a),
    # dates: toStartOfWeek keeps CH's default mode-0 SUNDAY start
    # (Spark's date_trunc('WEEK') is Monday — that would silently shift
    # six days of every week)
    "toquarter": _passthrough("quarter"),
    "toisoweek": _passthrough("weekofyear"),
    "tostartofweek": lambda a: (
        f"date_sub(CAST({a[0]} AS DATE), dayofweek({a[0]}) - 1)"),
    "datetrunc": lambda a: f"CAST(date_trunc({a[0]}, {a[1]}) AS DATE)",
    "addmonths": _passthrough("add_months"),
    "subtractmonths": lambda a: f"add_months({a[0]}, -({a[1]}))",
    "addhours": lambda a: (
        f"({a[0]} + make_interval(0, 0, 0, 0, {a[1]}, 0, 0))"),
    "addminutes": lambda a: (
        f"({a[0]} + make_interval(0, 0, 0, 0, 0, {a[1]}, 0))"),
    "addseconds": lambda a: (
        f"({a[0]} + make_interval(0, 0, 0, 0, 0, 0, {a[1]}))"),
    # string distance / phonetics (fuzzy-matching surface)
    "soundex": _passthrough("soundex"),
    "editdistance": _passthrough("levenshtein"),
    "levenshteindistance": _passthrough("levenshtein"),
    # array membership
    "hasall": lambda a: f"forall({a[1]}, x -> array_contains({a[0]}, x))",
    "hasany": lambda a: f"arrays_overlap({a[0]}, {a[1]})",
    "multisearchany": lambda a: (
        f"exists({a[1]}, n -> contains({a[0]}, n))"),
    "splitbywhitespace": lambda a: (
        f"split(trim({a[0]}), '\\\\s+')"),
    # bit ops
    "bitand": _binop("&"),
    "bitor": _binop("|"),
    "bitxor": _binop("^"),
    "bitnot": lambda a: f"(~({a[0]}))",
    "bitshiftleft": lambda a: f"shiftleft({a[0]}, {a[1]})",
    "bitshiftright": lambda a: f"shiftright({a[0]}, {a[1]})",
    "bitcount": _passthrough("bit_count"),
    "arraystringconcat": lambda a: "array_join({}, {})".format(
        a[0], a[1] if len(a) > 1 else "''"),
    "arraymin": _passthrough("array_min"),
    "arraymax": _passthrough("array_max"),
    "arrayavg": lambda a: (f"(aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x) "
                           f"/ size({a[0]}))"),
    "emptyarraystring": lambda a: "CAST(array() AS ARRAY<STRING>)",
    "range": _passthrough("sequence"),
    "arrayenumerate": lambda a: f"sequence(1, size({a[0]}))",
    "tuple": lambda a: f"struct({', '.join(a)})",
    # --- aggregates usable inside ch() in agg position ------------------
    "uniq": lambda a: f"approx_count_distinct({', '.join(a)})",
    # the CH uniq* sketch family all land on Spark's HLL++ — the sketch
    # parameters differ (documented divergence), the contract (approx
    # distinct count) is the same
    "uniqcombined": lambda a: f"approx_count_distinct({', '.join(a)})",
    "uniqcombined64": lambda a: f"approx_count_distinct({', '.join(a)})",
    "uniqhll12": lambda a: f"approx_count_distinct({', '.join(a)})",
    "uniqtheta": lambda a: f"approx_count_distinct({', '.join(a)})",
    "quantiletdigest": lambda a: (
        f"percentile_approx({a[1]}, {a[0]})" if len(a) == 2
        else f"percentile_approx({a[0]}, 0.5)"),
    "quantiletiming": lambda a: (
        f"percentile_approx({a[1]}, {a[0]})" if len(a) == 2
        else f"percentile_approx({a[0]}, 0.5)"),
    "quantileexact": lambda a: (
        f"percentile({a[1]}, {a[0]})" if len(a) == 2
        else f"percentile({a[0]}, 0.5)"),
    "uniqexact": lambda a: f"count(DISTINCT {', '.join(a)})",
    "avgif": lambda a: f"avg(CASE WHEN ({a[1]}) THEN ({a[0]}) END)",
    "sumif": lambda a: f"sum(CASE WHEN ({a[1]}) THEN ({a[0]}) END)",
    "countif": lambda a: f"count(CASE WHEN ({a[0]}) THEN 1 END)",
    "quantile": lambda a: f"percentile_approx({a[1]}, {a[0]})" if len(a) == 2 else f"percentile_approx({a[0]}, 0.5)",
    "median": lambda a: f"percentile_approx({a[0]}, 0.5)",
    "any": _passthrough("first"),
    "anylast": _passthrough("last"),
    "argmax": lambda a: f"max_by({a[0]}, {a[1]})",
    "argmin": lambda a: f"min_by({a[0]}, {a[1]})",
    "grouparray": lambda a: f"collect_list({a[0]})",
    "groupuniqarray": lambda a: f"collect_set({a[0]})",
    "minif": lambda a: f"min(CASE WHEN ({a[1]}) THEN {a[0]} END)",
    "maxif": lambda a: f"max(CASE WHEN ({a[1]}) THEN {a[0]} END)",
    "retention": lambda a: _retention(a),
    # external-dictionary surface (functions/dictionaries.py): the name
    # and attribute must be string literals; the registered dictionary
    # compiles into a constant map lookup
    "dictget": lambda a: _dictionaries().dict_get(a),
    "dictgetordefault": lambda a: _dictionaries().dict_get_or_default(a),
    "dicthas": lambda a: _dictionaries().dict_has(a),
    # --- URL family (r5g) ------------------------------------------------
    # CH semantics: '' on unparseable input, never NULL (see _url_part).
    "protocol": _url_part("PROTOCOL"),
    "domain": _url_part("HOST"),
    "path": _url_part("PATH"),
    "querystring": _url_part("QUERY"),
    "fragment": _url_part("REF"),
    "netloc": _url_part("AUTHORITY"),
    "domainwithoutwww": lambda a: (
        f"coalesce(regexp_replace(try_parse_url({a[0]}, 'HOST'), "
        f"'^www\\\\.', ''), '')"),
    "topleveldomain": lambda a: (
        f"coalesce(regexp_extract(try_parse_url({a[0]}, 'HOST'), "
        f"'\\\\.([^.]+)$', 1), '')"),
    # CH resolves against a full public-suffix list; this keeps the common
    # two-level suffixes (documented divergence for exotic ccTLD suffixes)
    "firstsignificantsubdomain": lambda a: (
        f"coalesce(CASE WHEN element_at(split(try_parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -2) IN ('com', 'net', 'org', 'co', 'edu', 'gov', "
        f"'mil', 'ac') THEN element_at(split(try_parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -3) ELSE element_at(split(try_parse_url({a[0]}, 'HOST'), "
        f"'\\\\.'), -2) END, '')"),
    "pathfull": lambda a: (
        f"concat(coalesce(try_parse_url({a[0]}, 'PATH'), ''), "
        f"CASE WHEN try_parse_url({a[0]}, 'QUERY') IS NOT NULL THEN "
        f"concat('?', try_parse_url({a[0]}, 'QUERY')) ELSE '' END)"),
    "extracturlparameter": lambda a: (
        f"coalesce(try_parse_url({a[0]}, 'QUERY', {a[1]}), '')"),
    "cutquerystring": lambda a: (
        f"regexp_replace({a[0]}, '\\\\?[^#]*', '')"),
    "cutfragment": lambda a: f"regexp_replace({a[0]}, '#.*$', '')",
    "cutquerystringandfragment": lambda a: (
        f"regexp_replace({a[0]}, '[?#].*$', '')"),
    "cutwww": lambda a: (
        f"regexp_replace({a[0]}, '^(([a-zA-Z][a-zA-Z0-9+.-]*://)?)www\\\\.', "
        f"'$1')"),
    "port": lambda a: (
        f"coalesce(try_cast(regexp_extract(try_parse_url({a[0]}, 'AUTHORITY'), "
        f"':([0-9]+)$', 1) AS INT), 0)"),
    # --- IPv4 family (r5g) ----------------------------------------------
    "ipv4stringtonum": lambda a: (
        f"aggregate(split({a[0]}, '\\\\.'), CAST(0 AS BIGINT), "
        f"(acc, x) -> acc * 256 + CAST(x AS BIGINT))"),
    "toipv4": lambda a: (
        f"aggregate(split({a[0]}, '\\\\.'), CAST(0 AS BIGINT), "
        f"(acc, x) -> acc * 256 + CAST(x AS BIGINT))"),
    "ipv4numtostring": lambda a: (
        f"concat_ws('.', CAST((({a[0]}) >> 24) & 255 AS STRING), "
        f"CAST((({a[0]}) >> 16) & 255 AS STRING), "
        f"CAST((({a[0]}) >> 8) & 255 AS STRING), "
        f"CAST(({a[0]}) & 255 AS STRING))"),
    "isipv4string": lambda a: (
        f"({a[0]} RLIKE '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\\\.)"
        f"{{3}}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$')"),
    # --- geo (r5g) --------------------------------------------------------
    "greatcircledistance": _haversine,
    "geodistance": _haversine,
    # --- date/time extras (r5g) ------------------------------------------
    "tostartofquarter": lambda a: f"trunc({a[0]}, 'QUARTER')",
    "tomonday": lambda a: (
        f"date_sub(CAST({a[0]} AS DATE), (dayofweek({a[0]}) + 5) % 7)"),
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    "addweeks": lambda a: f"date_add({a[0]}, 7 * ({a[1]}))",
    "subtractweeks": lambda a: f"date_sub({a[0]}, 7 * ({a[1]}))",
    "addyears": lambda a: f"add_months({a[0]}, 12 * ({a[1]}))",
    "subtractyears": lambda a: f"add_months({a[0]}, -12 * ({a[1]}))",
    "toyyyymm": lambda a: f"(year({a[0]}) * 100 + month({a[0]}))",
    "toyyyymmdd": lambda a: (
        f"(year({a[0]}) * 10000 + month({a[0]}) * 100 + dayofmonth({a[0]}))"),
    "monthname": lambda a: f"date_format({a[0]}, 'MMMM')",
    "datename": _date_name,
    "age": _age,
    "timeslot": lambda a: (
        f"CAST(from_unixtime(floor(unix_timestamp({a[0]}) / 1800) * 1800) "
        f"AS TIMESTAMP)"),
    "tostartoffiveminutes": lambda a: (
        f"CAST(from_unixtime(floor(unix_timestamp({a[0]}) / 300) * 300) "
        f"AS TIMESTAMP)"),
    "tostartoffifteenminutes": lambda a: (
        f"CAST(from_unixtime(floor(unix_timestamp({a[0]}) / 900) * 900) "
        f"AS TIMESTAMP)"),
    # --- value remap / bit tests / rounding (r5g) -------------------------
    "transform": _transform_map,
    "bittest": lambda a: f"((({a[0]}) >> ({a[1]})) & 1)",
    "bittestall": _bit_test_fold("AND"),
    "bittestany": _bit_test_fold("OR"),
    "roundtoexp2": lambda a: (
        f"(CASE WHEN ({a[0]}) < 1 THEN 0 ELSE "
        f"CAST(power(2, floor(log2({a[0]}))) AS BIGINT) END)"),
    "rounddown": lambda a: (
        f"coalesce(array_max(filter({a[1]}, e -> e <= ({a[0]}))), "
        f"element_at({a[1]}, 1))"),
    # --- map functions (r5g) ----------------------------------------------
    "map": lambda a: f"map({', '.join(a)})",
    "mapkeys": _passthrough("map_keys"),
    "mapvalues": _passthrough("map_values"),
    "mapcontains": lambda a: f"array_contains(map_keys({a[0]}), {a[1]})",
    "mapfromarrays": _passthrough("map_from_arrays"),
    # --- math / float classification extras (r5g) --------------------------
    "degrees": _passthrough("degrees"),
    "radians": _passthrough("radians"),
    "hypot": _passthrough("hypot"),
    "intexp2": lambda a: f"CAST(power(2, {a[0]}) AS BIGINT)",
    "intexp10": lambda a: f"CAST(power(10, {a[0]}) AS BIGINT)",
    "isnan": lambda a: f"isnan({a[0]})",
    "isinfinite": lambda a: (
        f"(abs(CAST({a[0]} AS DOUBLE)) = double('Infinity'))"),
    "isfinite": lambda a: (
        f"(NOT isnan({a[0]}) AND "
        f"abs(CAST({a[0]} AS DOUBLE)) <> double('Infinity'))"),
    "ifnotfinite": lambda a: (
        f"(CASE WHEN isnan({a[0]}) OR abs(CAST({a[0]} AS DOUBLE)) = "
        f"double('Infinity') THEN ({a[1]}) ELSE ({a[0]}) END)"),
    # --- string extras (r5g) -----------------------------------------------
    "substringutf8": lambda a: f"substring({', '.join(a)})",
    "positionutf8": lambda a: f"locate({a[1]}, {a[0]})",
    "concatassumeinjective": lambda a: f"concat({', '.join(a)})",
    # CH tokens(): split on runs of non-alphanumeric; trailing/leading
    # separators must not produce empty tokens
    "tokens": lambda a: (
        f"filter(split({a[0]}, '[^a-zA-Z0-9_]+'), x -> x <> '')"),
    # Spark string columns are validated UTF-8 at ingest → identity
    "tovalidutf8": lambda a: a[0],
}


def _dictionaries():
    from clickhouse_datafusion_spark.functions import dictionaries
    return dictionaries


def _json_path(args: list[str]) -> str:
    """CH JSONExtract key args → a get_json_object $.path. A literal
    key inlines into the path; a computed key concatenates at runtime."""
    j, key = args[0], args[1]
    if key.startswith("'") and key.endswith("'"):
        return f"get_json_object({j}, '$.{key[1:-1]}')"
    return f"get_json_object({j}, concat('$.', {key}))"


def _retention(conds: list[str]) -> str:
    """ClickHouse ``retention(cond1, ...)`` → INT array aggregate:
    r1 = cond1 ever held; r_i = cond1 AND cond_i both held (every later
    flag gated on the anchor) — the expression form of
    ``operators.funnel.retention``, usable inside any GROUP BY."""
    anchor = f"max(CASE WHEN ({conds[0]}) THEN 1 ELSE 0 END)"
    parts = [anchor] + [
        f"({anchor}) * max(CASE WHEN ({c}) THEN 1 ELSE 0 END)"
        for c in conds[1:]]
    return "array(" + ", ".join(parts) + ")"


# Higher-order (lambda) functions: handled by the rewriter, which parses
# `$x [, $y]` placeholders, a body expression, then one array arg per
# placeholder (reference src/udfs/apply.rs:26-283 syntax).
# Value: fn(placeholders: list[str], body_sql: str, arrays: list[str]) -> str.
def _hof_array_map(ph: list[str], body: str, arrays: list[str]) -> str:
    if len(ph) == 1:
        return f"transform({arrays[0]}, {ph[0]} -> {body})"
    if len(ph) == 2:
        return f"zip_with({arrays[0]}, {arrays[1]}, ({ph[0]}, {ph[1]}) -> {body})"
    raise ValueError("arrayMap supports 1 or 2 lambda parameters")


def _hof_single(spark_name: str):
    def tr(ph: list[str], body: str, arrays: list[str]) -> str:
        if len(ph) != 1:
            raise ValueError(f"{spark_name} takes exactly one lambda parameter")
        return f"{spark_name}({arrays[0]}, {ph[0]} -> {body})"
    return tr


def _hof_array_first(ph: list[str], body: str, arrays: list[str]) -> str:
    return f"element_at(filter({arrays[0]}, {ph[0]} -> {body}), 1)"


def _hof_array_count(ph: list[str], body: str, arrays: list[str]) -> str:
    return f"size(filter({arrays[0]}, {ph[0]} -> {body}))"


def _hof_array_sum(ph: list[str], body: str, arrays: list[str]) -> str:
    return (f"aggregate({arrays[0]}, CAST(0 AS DOUBLE), "
            f"(acc, {ph[0]}) -> acc + ({body}))")


def _hof_array_sort_by(ph: list[str], body: str, arrays: list[str]) -> str:
    inner = f"transform({arrays[0]}, {ph[0]} -> struct(({body}) AS k, {ph[0]} AS v))"
    return f"transform(array_sort({inner}), s -> s.v)"


HOF_TRANSLATORS = {
    "arraymap": _hof_array_map,
    "arrayfilter": _hof_single("filter"),
    "arrayexists": _hof_single("exists"),
    "arrayall": _hof_single("forall"),
    "arrayfirst": _hof_array_first,
    "arraycount": _hof_array_count,
    "arraysum": _hof_array_sum,
    "arraysortby": _hof_array_sort_by,
}
HOF_NAMES = set(HOF_TRANSLATORS)

# Functions that expand rows (generators). `CAST` must wrap their *argument*,
# not the call itself (Spark requires generators at the top of a projection).
GENERATOR_TRANSLATORS = {
    "arrayjoin": "explode",
}
