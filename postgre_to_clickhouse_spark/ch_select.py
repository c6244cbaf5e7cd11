"""ClickHouse SELECT-dialect front end (r9, SURVEY A22+/B surface).

The reference's user-facing query language IS ClickHouse SQL — its
README's operational surface is plain SELECTs against a ClickHouse
24.3 server (`/root/reference/README.md:216-243`,
`docker-compose.yml:157`). The battery re-expresses those semantics
query-by-query as DataFrame programs; THIS module closes the loop for
a user who wants to keep their CH SQL text: a hand-rolled parser for a
practical CH SELECT subset that compiles to a Spark plan, mapping

- CH-only clauses to the engine's operators: ``FINAL`` →
  :func:`cdc.dedup.latest`, ``SAMPLE f [OFFSET o]`` →
  :func:`operators.sampling.sample_consistent`, ``PREWHERE`` → an
  ordinary filter (Catalyst pushes it into the scan — the PREWHERE
  intent, see PARITY B2), ``LIMIT n BY cols`` → a window band filter
  (and ``SELECT DISTINCT ON (cols)`` → ``LIMIT 1 BY`` — CH's own
  documented equivalence, same ORDER BY determinism demand),
  ``GROUP BY ... WITH TOTALS`` → grouping sets ``((keys...), ())``;
- CH function names to Spark SQL builtins (``toStartOfHour`` →
  ``date_trunc``, ``uniqExact`` → ``COUNT(DISTINCT ..)``, ``argMax``
  → ``max_by``, the ``-If`` combinator family → ``CASE WHEN`` wrapped
  aggregates, parameterized ``quantile(q)(x)`` → ``percentile``, ...);
- everything else (standard SQL expressions, CASE, CAST, IN, LIKE,
  operators) passes through verbatim to Spark's parser.

A ``WITH`` prologue is supported in BOTH ClickHouse forms: CTEs
(``WITH name AS (SELECT ...)`` — each compiles recursively and becomes
a resolvable table for later CTEs and the main query) and CH scalar
aliases (``WITH expr AS name`` — textual substitution, the CH
semantics).

``JOIN`` (r10, VERDICT r9 #3): the FROM body accepts a join chain —
``FROM t1 [FINAL] [SAMPLE f] [AS a1] [INNER|LEFT [OUTER]|RIGHT
[OUTER]|FULL [OUTER]|CROSS|[LEFT] SEMI|[LEFT] ANTI] JOIN t2 [AS a2]
(ON cond | USING (c1, ...))`` — each side resolves like a standalone
FROM (base table or CTE; FINAL/SAMPLE apply per-side), and the chain
compiles to standard Spark SQL joins, so broadcast/AQE planning is
Catalyst's. CH's ``GLOBAL`` prefix (a distributed-execution hint) and
``ALL`` (the default multiplicity, = SQL semantics) are accepted and
dropped. ``ANY [INNER|LEFT] JOIN`` (r10) matches each left row with AT
MOST ONE right row: CH picks an arbitrary duplicate, this engine the
minimum struct of the right's non-key columns — a deterministic
instance of that contract (one partial-aggregable groupBy that doubles
as the join-side shuffle). ``ANY RIGHT JOIN`` (r12) is the mirror —
the LEFT side dedups per key (single-join FROM; chain via CTEs).
``ANY FULL`` (both-side dedup varies across CH versions) REFUSES
loudly. ``PASTE JOIN`` (r13, CH 23.11+ positional gluing) is
supported for ORDERED-SUBQUERY sides — each side declares a top-level
ORDER BY and rows zip by global row index under it via
:func:`operators.zip_join.paste_join` (distributed banded numbering,
no single-partition window); unordered PASTE refuses (CH leaves it
nondeterministic; this engine won't guess). ``ASOF
[LEFT] JOIN`` compiles to :func:`operators.asof.asof_join` (the
one-shuffle union+window operator) for the declared subset of one
equality key + one inequality (or ``USING (key, time)``); plain ASOF
is INNER per CH, the inequality operator maps to
direction/strictness, and right-side columns surface unsuffixed
unless they collide with a left column. The standalone ``[LEFT]
ARRAY JOIN item [AS alias], ...`` clause compiles to one explode /
explode_outer with CH's replace-vs-alias and lockstep-zip rules (see
:func:`_compile_array_join`).

``ORDER BY x WITH FILL [FROM a] [TO b] [STEP s]`` (r10, VERDICT r9
#5; r13: MULTIPLE trailing fill keys when every one carries explicit
integer FROM/TO — the cartesian grid): fills missing integer values
of the sort key on a dense
grid — CH semantics: bounds default to the result's min/max (TO is
exclusive when given), filled rows carry TYPE DEFAULTS (0 for numeric,
'' for string — not NULL) in the non-key columns, and LIMIT applies
after filling. Wired to the same grid pattern as the
``timeseries_gap_fill`` operators (tierb4.py). ``STEP INTERVAL n
unit`` fills a date/timestamp key on a calendar grid (default bounds
only), and ``INTERPOLATE (col, ...)`` carries the previous real row's
value onto filled rows (LOCF — the bare-column CH form; the ``AS
expr`` recurrence refuses). Declared subset: ascending, one ORDER BY
item.

Predicate subqueries — ``IN (SELECT ...)``, ``EXISTS (...)``, scalar
``(SELECT ...)`` — pass through to Spark's parser with CH function
names mapped inside them; context tables and CTEs register as temp
views under their own names so the subqueries resolve. ``GLOBAL IN``
(the distributed-execution hint) drops like ``GLOBAL JOIN``. Catalyst
plans these as semi/anti joins or one-row broadcasts.

``UNION ALL`` / ``UNION DISTINCT`` (r10): depth-0 unions split into
arms, each arm compiles as its own full SELECT (CH binds ORDER
BY/LIMIT per arm), and the results combine POSITIONALLY with the
first arm's column names — the CH rule. Bare ``UNION`` refuses loudly
(CH itself errors without ``union_default_mode``). Mixed modes fold
left-associatively, the standard-SQL reading. ``EXCEPT`` /
``INTERSECT`` (r10) follow the CH FILTER semantics by default — a
left row survives EXCEPT iff it appears nowhere in the right side
(all its duplicates kept) and INTERSECT iff it appears at least once
— compiled as null-safe anti/semi joins, NOT bag arithmetic; the
``DISTINCT`` modifier selects the standard-SQL set forms. Chains must
stay one op kind (operator precedence differs across engines —
refused, parenthesize via CTEs), and ``SELECT * EXCEPT (cols)``
column exclusion still passes through. A named ``WINDOW w AS (...)``
clause passes through (both dialects support it; specs go through the
function mapper), and a trailing ``FORMAT name`` parses and drops —
output serialization is presentation-layer.

Inline FROM-subqueries (r10): ``FROM (SELECT ...) [AS alias]``
compiles recursively like a CTE body; FINAL/SAMPLE decorate base
tables only (the CH grammar's rule too).

Window functions (r10): standard ``fn(...) OVER (PARTITION BY ...
ORDER BY ... [ROWS|RANGE BETWEEN ...])`` passes through to Spark's
parser (identical semantics), with the expression rewriter applied
inside the window body. CH's frame-relative ``lagInFrame`` /
``leadInFrame`` map to Spark's ``lag``/``lead`` exactly when the
frame makes them equivalent — ``lagInFrame`` needs a frame starting
at ``UNBOUNDED PRECEDING`` (the CH default frame qualifies),
``leadInFrame`` needs one ending at ``UNBOUNDED FOLLOWING`` — and
refuse loudly otherwise; the frame clause is stripped (Spark's
lag/lead reject explicit frames because their semantics never
depended on one).

Scope is otherwise DECLARED, and violations are LOUD (`ChSqlError`),
never silent misreadings: the ``-State/-Merge`` combinator family
covers count/sum/avg/min/max/uniq/uniqExact/quantile/topK (the
AggregatingMergeTree MV pattern — r11/r12; other sketch states refuse
with a pointer to the native MV sinks), ``SETTINGS`` parsed and
dropped (CH
settings are performance knobs; none of them changes result
semantics for the supported clause subset). Everything compiled here
is a declarative single SELECT (or a positional union of them), so
the 100 TB posture is inherited from the plan Catalyst builds — the
front end adds zero runtime of its own.
"""

from __future__ import annotations

import re
import uuid
from collections import ChainMap
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from postgre_to_clickhouse_spark import catalog

__all__ = ["ChSqlError", "ChContext", "ch_select"]


class ChSqlError(ValueError):
    """A CH construct outside the declared subset (or malformed SQL).
    Raised eagerly at parse time — the refuse-loudly convention."""


# ---------------------------------------------------------------------------
# tokenizer
_TOKEN = re.compile(
    r"""
      (?P<ws>\s+|--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^'\\]|\\.|'')*')
    | (?P<num>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*|`[^`]+`)
    | (?P<op><=|>=|!=|==|<>|\|\||->)
    | (?P<punct>.)
    """,
    re.X | re.S,
)


def _tokenize(sql: str) -> list[str]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN.match(sql, pos)
        if not m:  # pragma: no cover — the punct catch-all matches any char
            raise ChSqlError(f"cannot tokenize at: {sql[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup != "ws":
            out.append(m.group())
    return out


_KEYWORDS = {
    "SELECT", "DISTINCT", "FROM", "FINAL", "SAMPLE", "PREWHERE", "WHERE",
    "GROUP", "BY", "WITH", "TOTALS", "ROLLUP", "CUBE", "HAVING", "ORDER",
    "LIMIT", "OFFSET", "SETTINGS", "AS", "AND", "OR", "NOT", "IN", "IS",
    "NULL", "LIKE", "RLIKE", "ILIKE", "BETWEEN", "CASE", "WHEN", "THEN",
    "ELSE", "END", "INTERVAL", "TRUE", "FALSE", "EXISTS", "ASC", "DESC",
    "NULLS", "FIRST", "LAST", "UNION", "JOIN", "ON", "USING", "ALL", "ANY",
}
# keywords that may legitimately precede '(' without being a function
_CALL_EXEMPT = {"IN", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "EXISTS"}


def _is_ident(t: str) -> bool:
    return bool(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*|`[^`]+`", t))


def _kw(t: str) -> str:
    return t.upper() if _is_ident(t) else t


# ---------------------------------------------------------------------------
# CH -> Spark function mapping. Each entry: callable(args) -> SQL text
# (args already rewritten). Unknown plain functions pass through
# verbatim (Spark's parser validates them); unknown PARAMETERIZED
# functions fail loudly — that syntax exists only in CH.
def _trunc(unit):
    return lambda a: f"date_trunc('{unit}', {a[0]})"


def _rename(name):
    return lambda a: f"{name}({', '.join(a)})"


def _cast(t):
    return lambda a: f"cast({a[0]} as {t})"


def _epoch_bucket(x: str, seconds: int) -> str:
    """Epoch-aligned fixed-width time bucket — CH's alignment rule for
    sub-day intervals (toStartOfFiveMinutes & co., toStartOfInterval)."""
    return (
        f"timestamp_seconds(floor(unix_timestamp({x}) / {seconds})"
        f" * {seconds})"
    )


_INTERVAL_SECONDS = {
    "SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400,
}


def _start_of_interval(a: list[str]) -> str:
    """CH ``toStartOfInterval(ts, INTERVAL n unit)`` — the dashboard
    bucketing workhorse. Sub-day units (and DAY) align to the Unix
    epoch, CH's own rule; calendar units (WEEK/MONTH/QUARTER/YEAR)
    support n = 1 only, where the bucket IS the date_trunc — multiples
    of variable-width units have engine-specific origins and refuse
    loudly."""
    if len(a) != 2:
        raise ChSqlError("toStartOfInterval takes (ts, INTERVAL n unit)")
    m = re.fullmatch(r"(?i)\s*INTERVAL\s+(\d+)\s+([A-Za-z]+)\s*", a[1])
    if not m:
        raise ChSqlError(
            f"toStartOfInterval needs an INTERVAL n unit literal, got {a[1]!r}"
        )
    n, unit = int(m.group(1)), m.group(2).upper()
    if n < 1:
        raise ChSqlError("toStartOfInterval needs a positive interval")
    if unit in _INTERVAL_SECONDS:
        return _epoch_bucket(a[0], n * _INTERVAL_SECONDS[unit])
    if unit in ("WEEK", "MONTH", "QUARTER", "YEAR"):
        if n != 1:
            raise ChSqlError(
                f"toStartOfInterval over {n} {unit}S has an engine-specific "
                "origin — only single calendar units are in the subset"
            )
        return f"date_trunc('{unit}', {a[0]})"
    raise ChSqlError(f"unsupported toStartOfInterval unit {unit!r}")


def _multi_if(a):
    if len(a) < 3 or len(a) % 2 == 0:
        raise ChSqlError("multiIf needs cond,val pairs + else")
    parts = ["CASE"]
    for i in range(0, len(a) - 1, 2):
        parts.append(f"WHEN {a[i]} THEN {a[i+1]}")
    parts.append(f"ELSE {a[-1]} END")
    return " ".join(parts)


def _split_by_char(a):
    m = re.fullmatch(r"'(.)'", a[0])
    if not m:
        raise ChSqlError("splitByChar: first arg must be a 1-char literal")
    return f"split({a[1]}, '{re.escape(m.group(1))}')"


_FN: dict = {
    # date & time
    "toDate": lambda a: f"to_date({a[0]})",
    # CH toDateTime: numeric arg = epoch SECONDS truncated to whole
    # seconds (DateTime is second-precision — the reference MV's
    # `toDateTime(updated_at / 1000000)` µs cast, README.md:226);
    # string arg = datetime parse. try_cast dispatches: numerics (and
    # timestamps, which truncate to seconds like CH DateTime) take the
    # truncating branch, non-numeric strings fall through to the parse.
    "toDateTime": lambda a: (
        f"coalesce(timestamp_seconds(cast(floor(try_cast({a[0]} as double))"
        f" as bigint)), cast({a[0]} as timestamp))"
    ),
    "toStartOfMinute": _trunc("MINUTE"),
    "toStartOfHour": _trunc("HOUR"),
    "toStartOfDay": _trunc("DAY"),
    "toStartOfMonth": _trunc("MONTH"),
    "toStartOfQuarter": _trunc("QUARTER"),
    "toStartOfYear": _trunc("YEAR"),
    "toMonday": _trunc("WEEK"),
    "toHour": _rename("hour"),
    "toMinute": _rename("minute"),
    "toSecond": _rename("second"),
    "toYear": _rename("year"),
    "toMonth": _rename("month"),
    "toDayOfMonth": _rename("day"),
    "toDayOfWeek": lambda a: f"((dayofweek({a[0]}) + 5) % 7 + 1)",  # Mon=1..Sun=7
    "toYYYYMM": lambda a: f"(year({a[0]}) * 100 + month({a[0]}))",
    "toUnixTimestamp": _rename("unix_timestamp"),
    "today": lambda a: "current_date()",
    "now": lambda a: "current_timestamp()",
    "yesterday": lambda a: "date_sub(current_date(), 1)",
    "toQuarter": _rename("quarter"),
    "toDayOfYear": _rename("dayofyear"),
    # fixed epoch-aligned buckets (CH aligns these to the Unix epoch)
    "toStartOfFiveMinutes": lambda a: _epoch_bucket(a[0], 300),
    "toStartOfTenMinutes": lambda a: _epoch_bucket(a[0], 600),
    "toStartOfFifteenMinutes": lambda a: _epoch_bucket(a[0], 900),
    "toStartOfInterval": lambda a: _start_of_interval(a),
    "addDays": _rename("date_add"),
    "subtractDays": _rename("date_sub"),
    "dateDiff": _rename("datediff"),  # CH 3-arg (unit,a,b) != Spark 2-arg; Spark validates arity
    # type conversion (CH unsigned widths map to the signed Spark type
    # one step wider where needed; exact-width parity is documented)
    "toString": _cast("string"),
    "toInt8": _cast("tinyint"),
    "toInt16": _cast("smallint"),
    "toInt32": _cast("int"),
    "toInt64": _cast("bigint"),
    "toUInt8": _cast("smallint"),
    "toUInt16": _cast("int"),
    "toUInt32": _cast("bigint"),
    "toUInt64": _cast("bigint"),
    "toFloat32": _cast("float"),
    "toFloat64": _cast("double"),
    # CH toDecimalN(x, scale): precision is fixed per width (9/18/38)
    "toDecimal32": lambda a: f"cast({a[0]} as decimal(9, {a[1]}))",
    "toDecimal64": lambda a: f"cast({a[0]} as decimal(18, {a[1]}))",
    "toDecimal128": lambda a: f"cast({a[0]} as decimal(38, {a[1]}))",
    # conditionals
    "if": _rename("if"),
    "multiIf": _multi_if,
    "ifNull": _rename("nvl"),
    "nullIf": _rename("nullif"),
    "assumeNotNull": lambda a: a[0],
    "coalesce": _rename("coalesce"),
    # strings
    "position": lambda a: f"instr({a[0]}, {a[1]})",
    "positionCaseInsensitive": lambda a: f"instr(lower({a[0]}), lower({a[1]}))",
    "splitByChar": _split_by_char,
    "startsWith": _rename("startswith"),
    "endsWith": _rename("endswith"),
    "lowerUTF8": _rename("lower"),
    "upperUTF8": _rename("upper"),
    "lengthUTF8": _rename("length"),
    "substringUTF8": _rename("substring"),
    "trimBoth": _rename("trim"),
    "empty": lambda a: f"(coalesce(length({a[0]}), 0) = 0)",
    "notEmpty": lambda a: f"(coalesce(length({a[0]}), 0) > 0)",
    "extractAll": lambda a: f"regexp_extract_all({a[0]}, {a[1]}, 0)",
    "match": _rename("rlike"),
    "replaceAll": _rename("replace"),
    "replaceRegexpAll": _rename("regexp_replace"),
    "concatWithSeparator": _rename("concat_ws"),
    "leftPad": _rename("lpad"),
    "rightPad": _rename("rpad"),
    # math
    "intDiv": lambda a: f"({a[0]} div {a[1]})",
    "modulo": lambda a: f"({a[0]} % {a[1]})",
    "plus": lambda a: f"({a[0]} + {a[1]})",
    "minus": lambda a: f"({a[0]} - {a[1]})",
    "multiply": lambda a: f"({a[0]} * {a[1]})",
    "divide": lambda a: f"({a[0]} / {a[1]})",
    "negate": lambda a: f"(- {a[0]})",
    # arrays (CH higher-order functions put the lambda FIRST)
    "has": _rename("array_contains"),
    "indexOf": _rename("array_position"),  # both return 0 when absent
    "arrayConcat": _rename("concat"),
    "arrayDistinct": _rename("array_distinct"),
    "arraySort": lambda a: f"sort_array({a[0]})",
    # CH arrayStringConcat(arr[, sep]) — sep defaults to '' like CH
    "arrayStringConcat": lambda a: (
        f"array_join({a[0]}, {a[1] if len(a) > 1 else chr(39) * 2})"
    ),
    "arrayReverseSort": lambda a: f"sort_array({a[0]}, false)",
    "arrayFilter": lambda a: f"filter({a[1]}, {a[0]})",
    "arrayMap": lambda a: f"transform({a[1]}, {a[0]})",
    "arrayExists": lambda a: f"exists({a[1]}, {a[0]})",
    "arrayAll": lambda a: f"forall({a[1]}, {a[0]})",
    "arraySum": lambda a: (
        f"aggregate({a[0]}, cast(0.0 as double), (acc, x) -> acc + x)"
    ),
    "arraySlice": _rename("slice"),
    "arrayElement": _rename("element_at"),  # both 1-based, negative = from end
    "arrayEnumerate": lambda a: f"sequence(1, size({a[0]}))",  # CH [1..len]
    "arrayJoin": _rename("explode"),  # valid in SELECT; Spark rejects elsewhere
    # aggregates
    "count": lambda a: f"count({', '.join(a) if a else '*'})",  # CH count()
    "any": _rename("any_value"),
    "anyLast": _rename("last"),
    "argMin": _rename("min_by"),
    "argMax": _rename("max_by"),
    "uniq": _rename("approx_count_distinct"),
    "uniqExact": lambda a: f"count(DISTINCT {', '.join(a)})",
    "groupArray": _rename("collect_list"),
    "groupUniqArray": _rename("collect_set"),
    "median": _rename("median"),
    "medianExact": _rename("median"),
    "stddevPop": _rename("stddev_pop"),
    "stddevSamp": _rename("stddev_samp"),
    "varPop": _rename("var_pop"),
    "varSamp": _rename("var_samp"),
    "covarPop": _rename("covar_pop"),
    "covarSamp": _rename("covar_samp"),
    # compensated sum -> this engine's exact-decimal sum. ENVELOPE
    # (documented, ADVICE r9): exact within |x| < 1e19 at 6dp — values
    # beyond either bound lose to the decimal(25,6) cast (|x| >= 1e19
    # casts NULL under ANSI-off and would drop from the sum), so the
    # mapping refuses nothing but is declared for the 6dp/1e19 range
    # the fixtures and CH DECIMAL defaults live in; sub-1e-6 precision
    # rounds. CH sumKahan is float64 compensated summation — inside
    # the envelope the decimal sum is strictly stronger (exact).
    "sumKahan": lambda a: (
        f"cast(sum(cast({a[0]} as decimal(25,6))) as double)"
    ),
}

_PARAM_FN: dict = {
    # r12: plain topK(k)(x) — CH's array of the k most-frequent values.
    # A direct aggregate sees every row of its group, so unlike the
    # capped partial states the result is EXACT at any cardinality
    # (count desc, item asc tie — the repo-wide deterministic order).
    "topK": lambda p, a: _topk_direct_sql(
        _one_arg("topK", a), _pos_int_param("topK", p)),
    "quantile": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileExact": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantileExactWeighted": lambda p, a: f"percentile({a[0]}, {p[0]}, {a[1]})",
    "quantiles": lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))",
    "quantilesExact": lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))",
}

# aggregates whose -If combinator is supported: base -> needs value arg
_IF_BASES = {
    "count", "sum", "avg", "min", "max", "any", "anyLast", "uniq",
    "uniqExact", "groupArray", "median",
}

_BARE_MAP = {"==": "=", "<>": "!="}


# ---------------------------------------------------------------------------
# expression rewriting (recursive descent over the token list)
def _rewrite(tokens: list[str], i: int, stop: tuple[str, ...]) -> tuple[str, int]:
    """Rewrite tokens[i:] until a top-level token in ``stop`` (or end);
    returns (text, index-of-stop-token)."""
    parts: list[str] = []
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t in stop:
            break
        if t in ("lagInFrame", "leadInFrame") and i + 1 < n and tokens[i + 1] == "(":
            text, i = _frame_nav(tokens, i)
            parts.append(text)
            continue
        # CH `GLOBAL IN` / `GLOBAL NOT IN`: GLOBAL is a distributed-
        # execution hint (broadcast the set), semantics = IN — drop it
        if (
            _is_ident(t) and _kw(t) == "GLOBAL" and i + 1 < n
            and _is_ident(tokens[i + 1]) and _kw(tokens[i + 1]) in ("IN", "NOT")
        ):
            i += 1
            continue
        if (
            _is_ident(t)
            and _kw(t) not in _CALL_EXEMPT
            and i + 1 < n
            and tokens[i + 1] == "("
        ):
            text, i = _call(tokens, i)
            parts.append(text)
            continue
        if t == "(":
            inner, i = _paren(tokens, i + 1)
            parts.append(f"({inner})")
            continue
        if t == ")":
            raise ChSqlError("unbalanced ')'")
        parts.append(_BARE_MAP.get(t, t))
        i += 1
    return " ".join(parts), i


def _paren(tokens, i):
    """Contents of a paren group starting after '(' — comma-joined
    (covers grouping AND the IN (v1, v2, ...) list)."""
    items = []
    while True:
        text, i = _rewrite(tokens, i, (",", ")"))
        items.append(text)
        if i >= len(tokens):
            raise ChSqlError("unbalanced '('")
        if tokens[i] == ")":
            return ", ".join(items), i + 1
        i += 1  # skip ','


def _args(tokens, i):
    """Argument list starting after '(' — returns ([arg texts], index
    past ')')."""
    if i < len(tokens) and tokens[i] == ")":
        return [], i + 1
    out = []
    while True:
        text, i = _rewrite(tokens, i, (",", ")"))
        out.append(text)
        if i >= len(tokens):
            raise ChSqlError("unbalanced '(' in call")
        if tokens[i] == ")":
            return out, i + 1
        i += 1


def _call(tokens, i):
    name = tokens[i]
    args, j = _args(tokens, i + 2)
    if j < len(tokens) and tokens[j] == "(":  # parameterized: name(p)(args)
        params, j = _args(tokens, j + 1)
        fn = _PARAM_FN.get(name) or _PARAM_STATE_MERGE.get(name)
        if fn is None:
            raise ChSqlError(
                f"parameterized function {name!r} is outside the supported "
                "subset (quantile/topK -State/-Merge are mapped; other "
                "sketch states live in operators.sketch and the MV sinks)"
            )
        return fn(args, params), j
    return _apply(name, args), j


def _frame_nav(tokens, i):
    """CH ``lagInFrame``/``leadInFrame`` → Spark ``lag``/``lead``, valid
    exactly when the window frame makes them equivalent. The CH pair is
    frame-RELATIVE; Spark's lag/lead are partition-relative (and reject
    explicit frames). ``lagInFrame`` looks backward, so any frame
    starting at ``UNBOUNDED PRECEDING`` — including CH's default frame —
    contains every row it can reach; ``leadInFrame`` looks forward, so
    the frame must END at ``UNBOUNDED FOLLOWING`` (with the default
    frame leadInFrame returns the default value — a different result,
    refused loudly). The frame clause is stripped from the emitted
    OVER; the rest of the window body goes through the expression
    rewriter like any other."""
    name = tokens[i]
    args, j = _args(tokens, i + 2)
    if not (
        j + 1 < len(tokens)
        and _is_ident(tokens[j]) and _kw(tokens[j]) == "OVER"
        and tokens[j + 1] == "("
    ):
        raise ChSqlError(f"{name} is a window function — OVER (...) required")
    # collect the raw OVER body (depth-balanced)
    body, depth, k = [], 1, j + 2
    while k < len(tokens):
        t = tokens[k]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                break
        body.append(t)
        k += 1
    if depth != 0:
        raise ChSqlError("unbalanced '(' in OVER")
    # split off a trailing depth-0 ROWS|RANGE frame clause
    frame, d = None, 0
    for m, t in enumerate(body):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and _is_ident(t) and _kw(t) in ("ROWS", "RANGE"):
            frame, body = [_kw(x) if _is_ident(x) else x for x in body[m:]], body[:m]
            break
    if name == "lagInFrame":
        ok = frame is None or (
            len(frame) >= 4 and frame[1] == "BETWEEN"
            and frame[2:4] == ["UNBOUNDED", "PRECEDING"]
        )
    else:
        ok = frame is not None and frame[-2:] == ["UNBOUNDED", "FOLLOWING"]
    if not ok:
        raise ChSqlError(
            f"{name} with frame {' '.join(frame or ['<default>'])!r} has no "
            "lag/lead equivalent — lagInFrame needs a frame starting at "
            "UNBOUNDED PRECEDING (or the default), leadInFrame one ending "
            "at UNBOUNDED FOLLOWING"
        )
    spec = _rewrite_all(body)
    fn = "lag" if name == "lagInFrame" else "lead"
    return f"{fn}({', '.join(args)}) OVER ({spec})", k + 1


def _apply(name: str, args: list[str]) -> str:
    if name in _FN:
        try:
            return _FN[name](args)
        except IndexError:
            raise ChSqlError(f"wrong argument count for {name}({len(args)} args)")
    if name.endswith("If") and name[:-2] in _IF_BASES:
        base, cond = name[:-2], args[-1]
        vals = args[:-1]
        if base == "count":
            if vals:
                raise ChSqlError("countIf takes exactly one condition")
            return f"count(CASE WHEN {cond} THEN 1 END)"
        if len(vals) != 1:
            raise ChSqlError(f"{name} needs (value, condition)")
        return _apply(base, [f"CASE WHEN {cond} THEN {vals[0]} END"])
    # -OrNull combinator: CH returns NULL instead of the aggregate's
    # empty-set default (sum→0, min/max/avg→engine default). Spark's
    # natural aggregates ALREADY return NULL over an empty/all-null
    # input — the OrNull semantics — so the suffix strips to the base
    # mapping. (Corollary caveat, documented here: plain CH `sum` over
    # a ZERO-ROW global aggregate returns 0 while this engine returns
    # NULL — the OrNull reading; grouped aggregates never hit the case
    # because empty groups don't exist.)
    if name.endswith("OrNull") and name[:-6] in _IF_BASES:
        base = name[:-6]
        if base in ("count", "uniq", "uniqExact"):
            # count-family returns 0 (not NULL) on empty in both engines
            return f"nullif({_apply(base, args)}, 0)"
        return _apply(base, args)
    if name in _STATE_MERGE:
        return _STATE_MERGE[name](args)
    if re.search(r"(State|Merge)$", name):
        raise ChSqlError(
            f"{name!r}: only the count/sum/avg/min/max/uniq/uniqExact/"
            "quantile/quantileExact -State/-Merge combinators (plus the "
            "parameterized topKState(k)/topKMerge(k)) are mapped — the "
            "AggregatingMergeTree MV pattern (r11/r12); other states are "
            "outside the subset"
        )
    return f"{name}({', '.join(args)})"  # standard SQL — Spark validates


# r11 (VERDICT r10 missing #3): the canonical AggregatingMergeTree MV
# combinators. A `fnState` call produces a MERGEABLE state column and
# `fnMerge` folds state columns back (exact decimal(30,6) sums so
# merge order can never perturb a result; avg as a (sum, count) struct; uniq as a
# Datasketches HLL sketch — hll_union_agg is per-register max, so
# replays and re-merges are idempotent). Sum/avg states are CLOSED
# under merge (the merge casts back to the state type) so a merged
# state can be re-stored in the same AggregateFunction column —
# parquet parts stay bit-compatible across merge generations, the
# ch_ddl type map's contract.
_STATE_SUM_T = "decimal(30,6)"
_HLL_LG_K = 12


def _one_arg(name, args):
    if len(args) != 1:
        raise ChSqlError(f"{name} takes exactly one argument")
    return args[0]


_STATE_MERGE = {
    "countState": lambda a: f"count({a[0] if a else '1'})",
    "sumState": lambda a:
        f"sum(cast({_one_arg('sumState', a)} as {_STATE_SUM_T}))",
    "avgState": lambda a: (
        f"named_struct('s', sum(cast({_one_arg('avgState', a)} as "
        f"{_STATE_SUM_T})), 'c', count({a[0]}))"
    ),
    "minState": lambda a: f"min({_one_arg('minState', a)})",
    "maxState": lambda a: f"max({_one_arg('maxState', a)})",
    "uniqState": lambda a:
        f"hll_sketch_agg({_one_arg('uniqState', a)}, {_HLL_LG_K})",
    # uniqExact's state is the distinct-value set itself (CH's is a
    # hash set — both O(distinct values) per group); merge = distinct
    # of the union, finalize = cardinality. Exact at any scale, unlike
    # the sketched uniqState.
    "uniqExactState": lambda a:
        f"collect_set({_one_arg('uniqExactState', a)})",
    "uniqExactMerge": lambda a: (
        f"size(array_distinct(flatten(collect_list("
        f"{_one_arg('uniqExactMerge', a)}))))"
    ),
    "countMerge": lambda a: f"sum({_one_arg('countMerge', a)})",
    "sumMerge": lambda a:
        f"cast(sum({_one_arg('sumMerge', a)}) as {_STATE_SUM_T})",
    "avgMerge": lambda a: (
        f"cast(sum({_one_arg('avgMerge', a)}.s) / sum({a[0]}.c) as double)"
    ),
    "minMerge": lambda a: f"min({_one_arg('minMerge', a)})",
    "maxMerge": lambda a: f"max({_one_arg('maxMerge', a)})",
    "uniqMerge": lambda a: (
        f"cast(hll_sketch_estimate(hll_union_agg("
        f"{_one_arg('uniqMerge', a)})) as bigint)"
    ),
}


# r12 (VERDICT r11 #3): quantile and topK join the -State/-Merge
# family, closing the AggregatingMergeTree pattern for the two
# remaining CH-idiomatic aggregates. Representations (pure-SQL
# aggregate expressions, so they compile inside a verbatim -State MV
# SELECT):
#
# * quantileState(x) → sorted ``array<struct<v double, w bigint>>`` —
#   a weighted value histogram with unit weights (NULL inputs skipped,
#   like CH). This is EXACTLY ClickHouse ``quantileExactState``'s
#   bound: CH's exact state stores every value, O(rows) per group; the
#   GK-bounded variant lives in operators/sketch.py. Closed under
#   merge: concatenating state arrays IS a valid state.
# * quantileMerge(q)(s) → flatten + sort all states once, then the
#   exact-weighted finalize rule (the smallest v whose cumulative
#   weight reaches q·W — the quantileExactWeighted rule; every output is
#   a RAW input value, no interpolation). Computed entirely JVM-side
#   with nested higher-order functions; the collect_list/sum
#   aggregates sit OUTSIDE every lambda (Spark rejects aggregates
#   inside lambda bodies), bound to lambda vars via the
#   transform-over-singleton-array trick. Empty state → NULL (the
#   engine's documented OrNull reading of empty aggregates).
# * topKState(k)(x) → ``struct<tk array<struct<item string,
#   ub bigint>>, d bigint>`` — the SpaceSaving-style capped summary:
#   the ≤k heaviest items with upper-bound counts plus the error floor
#   d (largest dropped mass; 0 in the exact regime where per-group
#   distinct ≤ k). Item counts are computed
#   per-distinct-item with filter/size over the collected list —
#   O(distinct × rows) comparisons per group, all inside whole-stage
#   codegen, no array re-copying.
# * topKMerge(k)(s) → the conservative composition (D = Σ dᵢ; merged
#   ub = D + Σ (ubᵢ − dᵢ) over summaries containing the item),
#   finalized to CH's topK output: the array of the k heaviest items
#   (ub desc, item asc — deterministic tie, the repo-wide convention). Exact whenever every input state has d = 0.
def _q_state_sql(x: str) -> str:
    return (
        f"sort_array(collect_list(CASE WHEN ({x}) IS NOT NULL THEN "
        f"named_struct('v', cast({x} as double), "
        f"'w', cast(1 as bigint)) END))"
    )


def _q_merge_sql(s: str, q: str) -> str:
    scan = (
        "aggregate(ca, named_struct('cum', cast(0 as bigint), "
        "'val', cast(null as double)), "
        "(acc, e) -> IF(acc.val IS NOT NULL, acc, "
        "IF(cast(acc.cum + e.w as double) >= cast(tw as double) * ({q}), "
        "named_struct('cum', acc.cum + e.w, 'val', e.v), "
        "named_struct('cum', acc.cum + e.w, "
        "'val', cast(null as double)))), acc -> acc.val)"
    ).format(q=q)
    return (
        f"transform(array(sort_array(flatten(collect_list({s})))), "
        f"ca -> transform(array(aggregate(ca, cast(0 as bigint), "
        f"(a, e) -> a + e.w)), tw -> {scan})[0])[0]"
    )


def _topk_state_sql(x: str, k: int) -> str:
    hist = (
        "transform(array_distinct(cl), it -> named_struct('item', it, "
        "'ub', cast(size(filter(cl, e -> e = it)) as bigint)))"
    )
    srt = (
        f"sort_array(transform({hist}, h -> named_struct("
        f"'nub', -h.ub, 'item', h.item, 'ub', h.ub)))"
    )
    return (
        f"transform(array(collect_list(cast({x} as string))), "
        f"cl -> transform(array({srt}), hs -> named_struct("
        f"'tk', transform(slice(hs, 1, {k}), "
        f"e -> named_struct('item', e.item, 'ub', e.ub)), "
        f"'d', IF(size(hs) > {k}, element_at(hs, {k + 1}).ub, "
        f"cast(0 as bigint))))[0])[0]"
    )


def _topk_merge_core(s: str, k: int, fin: str) -> str:
    """Shared conservative composition; ``fin`` renders the re-capped
    sorted histogram ``hs`` (with outer struct var ``t`` in scope)."""
    flat = (
        f"flatten(collect_list(transform(({s}).tk, e -> named_struct("
        f"'item', e.item, 'adj', e.ub - ({s}).d))))"
    )
    per_item = (
        "transform(array_distinct(transform(t.fl, e -> e.item)), "
        "it -> named_struct('item', it, 'ub', t.dd + "
        "aggregate(filter(t.fl, e -> e.item = it), cast(0 as bigint), "
        "(a, e) -> a + e.adj)))"
    )
    srt = (
        f"sort_array(transform({per_item}, h -> named_struct("
        f"'nub', -h.ub, 'item', h.item, 'ub', h.ub)))"
    )
    return (
        f"transform(array(named_struct('fl', {flat}, "
        f"'dd', cast(sum(({s}).d) as bigint))), "
        f"t -> transform(array({srt}), hs -> {fin})[0])[0]"
    )


def _topk_merge_sql(s: str, k: int) -> str:
    return _topk_merge_core(
        s, k, f"transform(slice(hs, 1, {k}), e -> e.item)"
    )


def _topk_direct_sql(x: str, k: int) -> str:
    """Plain ``topK(k)(x)``: the state builder's exact histogram over
    the WHOLE group (nothing is dropped before the final slice), so
    the answer is exact at any cardinality — capping only loses
    information across partial states, which a direct aggregate never
    has."""
    hist = (
        "transform(array_distinct(cl), it -> named_struct('item', it, "
        "'ub', cast(size(filter(cl, e -> e = it)) as bigint)))"
    )
    srt = (
        f"sort_array(transform({hist}, h -> named_struct("
        f"'nub', -h.ub, 'item', h.item)))"
    )
    return (
        f"transform(array(collect_list(cast({x} as string))), "
        f"cl -> transform(slice({srt}, 1, {k}), e -> e.item))[0]"
    )


def _topk_fold_sql(s: str, k: int) -> str:
    """State→state topK merge (ch_ddl's OPTIMIZE FINAL fold): same
    conservative composition, re-capped to ``k`` and emitted as a
    struct state — closed under merge, so the folded part stays
    re-mergeable (the AggregatingMergeTree contract). The new error
    floor is max(ΣD, largest evicted ub)."""
    fin = (
        f"named_struct('tk', transform(slice(hs, 1, {k}), "
        f"e -> named_struct('item', e.item, 'ub', e.ub)), "
        f"'d', greatest(t.dd, IF(size(hs) > {k}, "
        f"element_at(hs, {k + 1}).ub, cast(0 as bigint))))"
    )
    return _topk_merge_core(s, k, fin)


def _pos_int_param(name: str, p: list[str]) -> int:
    if len(p) != 1 or not p[0].isdigit() or int(p[0]) < 1:
        raise ChSqlError(f"{name} needs one positive integer parameter")
    return int(p[0])


def _q_param(name: str, p: list[str]) -> str:
    try:
        q = float(p[0]) if len(p) == 1 else None
    except ValueError:
        q = None
    if q is None or not (0.0 <= q <= 1.0):
        raise ChSqlError(f"{name} needs one quantile level in [0, 1]")
    return p[0]


_STATE_MERGE.update({
    # parameter-free forms: CH stores the level in the TYPE, so the
    # state itself is level-free; a paramless quantileMerge finalizes
    # at the median (CH's own default level)
    "quantileState": lambda a: _q_state_sql(_one_arg("quantileState", a)),
    "quantileExactState": lambda a:
        _q_state_sql(_one_arg("quantileExactState", a)),
    "quantileMerge": lambda a:
        _q_merge_sql(_one_arg("quantileMerge", a), "0.5"),
    "quantileExactMerge": lambda a:
        _q_merge_sql(_one_arg("quantileExactMerge", a), "0.5"),
})

_PARAM_STATE_MERGE = {
    # quantile levels parameterize the FINALIZE only — the state is
    # the value histogram either way, so quantileState(0.9)(x) and
    # quantileState(x) produce identical (mergeable) states, like CH
    "quantileState": lambda p, a:
        _q_state_sql(_one_arg("quantileState", a)),
    "quantileExactState": lambda p, a:
        _q_state_sql(_one_arg("quantileExactState", a)),
    "quantileMerge": lambda p, a: _q_merge_sql(
        _one_arg("quantileMerge", a), _q_param("quantileMerge", p)),
    "quantileExactMerge": lambda p, a: _q_merge_sql(
        _one_arg("quantileExactMerge", a),
        _q_param("quantileExactMerge", p)),
    "topKState": lambda p, a: _topk_state_sql(
        _one_arg("topKState", a), _pos_int_param("topKState", p)),
    "topKMerge": lambda p, a: _topk_merge_sql(
        _one_arg("topKMerge", a), _pos_int_param("topKMerge", p)),
}


# ---------------------------------------------------------------------------
# clause parsing
# SAMPLE/FINAL/OFFSET are NOT clause starts: SAMPLE f [OFFSET o] and
# FINAL live inside the FROM body, LIMIT n [OFFSET m] inside LIMIT's.
_CLAUSE_STARTS = {
    "FROM", "PREWHERE", "WHERE", "GROUP", "HAVING", "WINDOW", "ORDER",
    "LIMIT", "SETTINGS", "UNION", "FORMAT",
}
# NOTE: EXCEPT/INTERSECT are NOT clause starts — _split_setops consumes
# them before _parse, and the expression-level `* EXCEPT (cols)` form
# must stay inside the SELECT list.


def _top_level_splits(tokens: list[str]) -> list[tuple[str, int]]:
    """(clause keyword, index) at depth 0, in order. Only the FIRST
    depth-0 ``FROM`` is a clause start — a later one belongs to
    ``WITH FILL FROM ...`` inside the ORDER BY body (every other
    expression-level FROM, e.g. ``extract(x FROM y)``, sits at
    depth > 0)."""
    out, depth, seen_from = [], 0, False
    for i, t in enumerate(tokens):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _is_ident(t) and _kw(t) in _CLAUSE_STARTS:
            if _kw(t) == "FROM":
                if seen_from:
                    continue
                seen_from = True
            out.append((_kw(t), i))
    return out


def _split_setops(tokens: list[str]) -> list[tuple[str | None, list[str]]]:
    """Split a statement on depth-0 set-operation boundaries — ``UNION
    ALL|DISTINCT``, ``EXCEPT [ALL|DISTINCT]``, ``INTERSECT
    [ALL|DISTINCT]`` — into (op-tag, arm-tokens) pairs, op-tag = e.g.
    ``UNION ALL`` for the op BEFORE the arm (None for the first). Bare
    ``UNION`` refuses loudly (CH itself errors without
    ``union_default_mode``); bare EXCEPT/INTERSECT default to the CH
    filter semantics (tagged ALL). A boundary only counts when a
    SELECT follows — so the CH/Spark column-exclusion form ``SELECT *
    EXCEPT (c1, ...)`` passes through untouched. Chains must stay one
    op kind: SQL gives INTERSECT higher precedence than UNION/EXCEPT,
    and a silent left-fold would misread mixed chains — refused.
    A fully parenthesized arm ``(SELECT ...)`` unwraps."""

    def _next_is_select(j: int) -> tuple[str | None, int]:
        # returns (mode-or-None, index-after-mode) when a SELECT arm
        # follows tokens[j:] (skipping one optional ALL/DISTINCT and
        # any '(' wrappers); (None, -1) otherwise
        mode = None
        if j < len(tokens) and _is_ident(tokens[j]) and _kw(tokens[j]) in ("ALL", "DISTINCT"):
            mode = _kw(tokens[j])
            j += 1
        k = j
        while k < len(tokens) and tokens[k] == "(":
            k += 1
        if k < len(tokens) and _is_ident(tokens[k]) and _kw(tokens[k]) in ("SELECT", "WITH"):
            return mode, j
        return None, -1

    arms: list[tuple[str | None, list[str]]] = []
    cur: list[str] = []
    tag: str | None = None
    depth = 0
    i, n = 0, len(tokens)
    while i < n:
        t = tokens[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _is_ident(t) and _kw(t) in ("UNION", "EXCEPT", "INTERSECT"):
            op = _kw(t)
            mode, nxt = _next_is_select(i + 1)
            if nxt < 0:
                if op == "UNION":
                    raise ChSqlError("UNION must be followed by a SELECT arm")
                cur.append(t)  # `* EXCEPT (cols)` — not a set op
                i += 1
                continue
            if op == "UNION" and mode is None:
                raise ChSqlError(
                    "bare UNION is ambiguous (CH errors without "
                    "union_default_mode) — write UNION ALL or UNION DISTINCT"
                )
            arms.append((tag, cur))
            cur, tag = [], f"{op} {mode or 'ALL'}"
            i = nxt
            continue
        cur.append(t)
        i += 1
    arms.append((tag, cur))
    kinds = {t.split()[0] for t, _ in arms if t}
    if len(kinds) > 1:
        raise ChSqlError(
            f"mixed set operations {sorted(kinds)} in one statement are "
            "outside the subset (operator precedence differs across "
            "engines) — parenthesize via CTEs"
        )
    out = []
    for m, arm in arms:
        while (
            len(arm) >= 2 and arm[0] == "(" and arm[-1] == ")"
            and _balanced_wrap(arm)
        ):
            arm = arm[1:-1]
        if not arm:
            raise ChSqlError("empty set-operation arm")
        out.append((m, arm))
    return out


def _balanced_wrap(arm: list[str]) -> bool:
    """True when arm[0]'s '(' matches arm[-1]'s ')'."""
    depth = 0
    for i, t in enumerate(arm):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                return i == len(arm) - 1
    return False


def _split_commas(tokens: list[str]) -> list[list[str]]:
    out, cur, depth = [], [], 0
    for t in tokens:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if t == "," and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        out.append(cur)
    return out


def _rewrite_all(tokens: list[str]) -> str:
    text, i = _rewrite(tokens, 0, ())
    if i != len(tokens):
        raise ChSqlError(f"trailing tokens: {tokens[i:]}")
    return text


class _TableRef:
    """One side of the FROM body: base table / CTE name or an inline
    subquery's tokens, with the per-side CH decorations."""

    def __init__(self, name: str, alias: str | None = None,
                 subquery: list[str] | None = None):
        self.name = name
        self.alias = alias
        self.subquery = subquery
        self.final = False
        self.sample: tuple[float, float] | None = None
        # ("numbers", [n] | [offset, n]) — CH table functions (r11)
        self.table_fn: tuple[str, list[int]] | None = None


class _Join:
    def __init__(self, jtype: str, ref: _TableRef,
                 on: str | None, using: list[str] | None,
                 on_raw: list[str] | None = None,
                 any_dedup: bool = False,
                 any_side: str = "right"):
        # 'INNER'|'LEFT'|'RIGHT'|'FULL'|'CROSS'|'LEFT SEMI'|'LEFT ANTI'
        # |'ASOF'|'ASOF LEFT'
        self.jtype = jtype
        self.ref = ref
        self.on = on
        self.using = using
        self.on_raw = on_raw  # raw ON tokens (ASOF/ANY parse structurally)
        self.any_dedup = any_dedup  # ANY join: dedup one side per key
        self.any_side = any_side  # 'right' (ANY [INNER|LEFT]) | 'left' (ANY RIGHT)


class _Fill:
    """ORDER BY <key> WITH FILL [FROM a] [TO b] [STEP s | STEP INTERVAL
    n unit] [INTERPOLATE (col, ...)] — grid spec (CH: TO exclusive,
    bounds default to result min/max). ``unit`` is None for integer
    grids; INTERVAL steps need a date/timestamp key and default bounds.
    ``interpolate`` columns carry the previous real row's value on
    filled rows (LOCF — the bare-column CH form; ``AS expr`` refuses)."""

    def __init__(self, key: str, frm: int | None, to: int | None, step: int,
                 unit: str | None = None,
                 interpolate: list[str] | None = None,
                 group_keys: list[str] | None = None,
                 lead_fills: list["_Fill"] | None = None):
        self.key = key
        self.frm = frm
        self.to = to
        self.step = step
        self.unit = unit
        self.interpolate = interpolate or []
        # leading plain ORDER BY keys (r11): the grid is built and
        # filled PER group-key tuple — `ORDER BY user, day WITH FILL`
        self.group_keys = group_keys or []
        # ADDITIONAL fill keys before this (the last) one (r13):
        # `ORDER BY a WITH FILL FROM .. TO .., b WITH FILL FROM .. TO ..`
        # fills the cartesian grid — the multi-key subset requires
        # explicit integer FROM/TO on EVERY fill key (checked at parse)
        self.lead_fills = lead_fills or []

    def render_tail(self) -> str:
        """The WITH FILL modifier text after the key — ONE renderer
        shared by the EXPLAIN AST and EXPLAIN SYNTAX walkers (review
        fix: they each hand-rendered it and could drift)."""
        spec = " WITH FILL"
        if self.frm is not None:
            spec += f" FROM {self.frm}"
        if self.to is not None:
            spec += f" TO {self.to}"
        spec += (f" STEP INTERVAL {self.step} {self.unit}" if self.unit
                 else f" STEP {self.step}")
        return spec


class _Parsed:
    select: list[tuple[str, str | None]]  # (expr text, alias)
    distinct = False
    from_ref: _TableRef
    joins: list[_Join]
    prewhere: str | None = None
    where: str | None = None
    group_by: list[str]
    group_mod: str | None = None  # 'ROLLUP' | 'CUBE' | 'TOTALS'
    having: str | None = None
    order_by: list[str]
    windows: list[tuple[str, str]]  # named WINDOW clause: (name, spec)
    array_join: tuple[bool, list] | None = None  # (left, [(expr, alias, simple)])
    fill: _Fill | None = None
    limit: int | None = None
    offset: int | None = None
    limit_by: tuple[int, list[str]] | None = None
    limit_ties: int | None = None  # LIMIT n WITH TIES (r13)
    settings: dict[str, str] | None = None  # SETTINGS k = v, ... (r16)


def _parse_with(tokens: list[str]):
    """Split a leading ``WITH`` prologue into CTEs (``name AS
    (SELECT ...)``) and CH scalar aliases (``expr AS name``), returning
    (ctes, scalars, main-query tokens). Items are comma-separated at
    depth 0; the prologue ends at the depth-0 SELECT of the main
    query."""
    ctes: list[tuple[str, list[str]]] = []
    scalars: list[tuple[str, list[str]]] = []
    i, n = 1, len(tokens)
    while i < n:
        item, depth = [], 0
        while i < n:
            t = tokens[i]
            if depth == 0 and t == ",":
                i += 1
                break
            if depth == 0 and _is_ident(t) and _kw(t) == "SELECT" and item:
                break
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            item.append(t)
            i += 1
        if (
            len(item) >= 5
            and _is_ident(item[0])
            and _kw(item[1]) == "AS"
            and item[2] == "("
            and item[-1] == ")"
            and _kw(item[3]) in ("SELECT", "WITH")
        ):
            ctes.append((item[0], item[3:-1]))
        elif len(item) >= 3 and _kw(item[-2]) == "AS" and _is_ident(item[-1]):
            scalars.append((item[-1], item[:-2]))
        else:
            raise ChSqlError(
                f"unsupported WITH item {' '.join(item[:8])!r}...: expected "
                "`name AS (SELECT ...)` or the CH scalar form `expr AS name`"
            )
        if i < n and _is_ident(tokens[i]) and _kw(tokens[i]) == "SELECT":
            return ctes, scalars, tokens[i:]
    raise ChSqlError("WITH prologue never reached a SELECT")


def _substitute(tokens: list[str], name: str, expr: list[str]) -> list[str]:
    """CH scalar-alias semantics: every bare use of ``name`` in the
    main query stands for ``(expr)``."""
    out: list[str] = []
    for i, t in enumerate(tokens):
        # not the alias being (re)defined by `... AS name`
        if t == name and not (i > 0 and _kw(tokens[i - 1]) == "AS"):
            out += ["(", *expr, ")"]
        else:
            out.append(t)
    return out


# modifier words that may precede JOIN (scanned backwards from it)
_JOIN_MODS = {
    "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "OUTER", "GLOBAL", "ALL",
    "ANY", "ASOF", "PASTE", "SEMI", "ANTI", "ARRAY",
}
_JOIN_TYPES = {
    "": "INNER", "INNER": "INNER",
    "LEFT": "LEFT", "LEFT OUTER": "LEFT",
    "RIGHT": "RIGHT", "RIGHT OUTER": "RIGHT",
    "FULL": "FULL", "FULL OUTER": "FULL",
    "CROSS": "CROSS",
    "SEMI": "LEFT SEMI", "LEFT SEMI": "LEFT SEMI",
    "ANTI": "LEFT ANTI", "LEFT ANTI": "LEFT ANTI",
}


def _subquery_order(ref: _TableRef, what: str) -> list[tuple[str, bool]]:
    """The [(col, ascending)] order a PASTE JOIN side declares: the
    side must be a subquery with a TOP-LEVEL ``ORDER BY`` over plain
    output columns (optionally ASC/DESC). Anything else refuses with
    the subset's requirement spelled out."""
    if ref.subquery is None:
        raise ChSqlError(
            f"{what} must be an ordered subquery — PASTE JOIN matches "
            "rows by position, which is only meaningful under an "
            "explicit ORDER BY (wrap the table: (SELECT ... FROM t "
            "ORDER BY k))"
        )
    toks = ref.subquery
    depth, at = 0, None
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif (depth == 0 and _is_ident(t) and _kw(t) == "ORDER"
                and i + 1 < len(toks) and _kw(toks[i + 1]) == "BY"):
            at = i
    if at is None:
        raise ChSqlError(
            f"{what} needs a top-level ORDER BY — PASTE JOIN without "
            "one is nondeterministic (CH leaves it undefined; this "
            "engine refuses instead)"
        )
    body = toks[at + 2:]
    depth, end = 0, len(body)
    for i, t in enumerate(body):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _is_ident(t) and _kw(t) in ("LIMIT",
                                                        "SETTINGS"):
            end = i
            break
    out: list[tuple[str, bool]] = []
    for item in _split_commas(body[:end]):
        if len(item) == 1 and _is_ident(item[0]):
            out.append((item[0], True))
        elif (len(item) == 2 and _is_ident(item[0])
                and _kw(item[1]) in ("ASC", "DESC")):
            out.append((item[0], _kw(item[1]) == "ASC"))
        else:
            raise ChSqlError(
                f"{what}'s ORDER BY supports plain output columns "
                f"[ASC|DESC] for the positional zip, got "
                f"{' '.join(item)!r}"
            )
    if not out:
        raise ChSqlError(f"{what}'s ORDER BY is empty")
    return out


def _parse_table_ref(toks: list[str]) -> _TableRef:
    """``name [FINAL] [SAMPLE f [OFFSET o]] [[AS] alias]`` or an inline
    subquery ``(SELECT ...) [[AS] alias]`` — one side of the FROM
    body."""
    if toks and toks[0] == "(":
        depth, close = 0, None
        for i, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        if close is None:
            raise ChSqlError("unbalanced '(' in FROM")
        inner = toks[1:close]
        if not inner or _kw(inner[0]) not in ("SELECT", "WITH"):
            raise ChSqlError("FROM (...) must wrap a SELECT")
        ref = _TableRef("__subquery", subquery=inner)
        rest = toks[close + 1:]
        if rest and _kw(rest[0]) in ("FINAL", "SAMPLE"):
            raise ChSqlError(
                f"{_kw(rest[0])} decorates base tables, not subqueries "
                "(the CH grammar's rule too)"
            )
    elif (_is_ident(toks[0]) and _kw(toks[0]) == "NUMBERS"
          and len(toks) > 1 and toks[1] == "("):
        # CH table function numbers(N) / numbers(offset, N): one
        # `number` column — maps straight to spark.range (a leaf the
        # planner parallelizes; no data scanned)
        try:
            close = toks.index(")")
        except ValueError:
            raise ChSqlError("unbalanced '(' in numbers(...)") from None
        args = [t for t in toks[2:close] if t != ","]
        if not 1 <= len(args) <= 2 or not all(a.isdigit() for a in args):
            raise ChSqlError(
                "numbers(N) / numbers(offset, N) take integer literals"
            )
        ref = _TableRef("numbers")
        ref.table_fn = ("numbers", [int(a) for a in args])
        rest = toks[close + 1:]
        if rest and _kw(rest[0]) in ("FINAL", "SAMPLE"):
            raise ChSqlError(
                f"{_kw(rest[0])} decorates base tables, not table "
                "functions"
            )
    elif not toks or not _is_ident(toks[0]) or _kw(toks[0]) in _CLAUSE_STARTS:
        raise ChSqlError(
            f"FROM must name a table, CTE or (SELECT ...); got "
            f"{toks[:1] or 'nothing'}"
        )
    else:
        ref = _TableRef(toks[0].split(".")[-1])  # db.table -> table
        rest = toks[1:]
    if rest and _kw(rest[0]) == "FINAL":
        ref.final = True
        rest = rest[1:]
    if rest and _kw(rest[0]) == "SAMPLE":
        if len(rest) < 2:
            raise ChSqlError("SAMPLE needs a fraction")
        try:
            frac = float(rest[1])
        except ValueError:
            raise ChSqlError(f"SAMPLE fraction {rest[1]!r} must be numeric in (0,1)")
        if not 0 < frac < 1:
            raise ChSqlError("only fractional SAMPLE f in (0,1) is supported")
        off = 0.0
        rest = rest[2:]
        if rest and _kw(rest[0]) == "OFFSET":
            off = float(rest[1])
            rest = rest[2:]
        ref.sample = (frac, off)
    if rest and _kw(rest[0]) == "AS":
        rest = rest[1:]
        if not rest or not _is_ident(rest[0]):
            raise ChSqlError("AS must be followed by an alias")
    if rest and _is_ident(rest[0]) and _kw(rest[0]) not in _JOIN_MODS | {"JOIN"}:
        ref.alias = rest[0]
        rest = rest[1:]
    if rest:
        raise ChSqlError(f"unexpected tokens after FROM table: {rest}")
    return ref


def _parse_from_body(
    body: list[str],
) -> tuple[_TableRef, list[_Join], tuple[bool, list] | None]:
    """The FROM body: a table ref followed by a (possibly empty) join
    chain OR one CH ``[LEFT] ARRAY JOIN item [AS alias], ...`` clause.
    Join boundaries are depth-0 ``JOIN`` tokens with their backward run
    of modifier words.

    Comma cross-join sugar (r16, ADVICE r15): ``FROM t1, t2 [, ...]``
    is the classic comma list — CH compiles it to CROSS JOIN and lets
    WHERE do the filtering. Depth-0 commas BEFORE the first depth-0
    JOIN token rewrite to ``CROSS JOIN`` here, so derived tables
    participate too (``FROM (SELECT 1) d, t``); commas after a JOIN
    belong to ARRAY JOIN item lists and stay."""
    rewritten, depth = [], 0
    seen_join = False
    for t in body:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _is_ident(t) and _kw(t) == "JOIN":
            seen_join = True
        if t == "," and depth == 0 and not seen_join:
            rewritten.extend(["CROSS", "JOIN"])
        else:
            rewritten.append(t)
    body = rewritten
    starts, depth = [], 0
    for i, t in enumerate(body):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _is_ident(t) and _kw(t) == "JOIN":
            s = i
            while s > 0 and _is_ident(body[s - 1]) and _kw(body[s - 1]) in _JOIN_MODS:
                s -= 1
            starts.append((s, i))
    if starts and any(
        _kw(t) == "ARRAY" for s, j in starts for t in body[s:j]
    ):
        if len(starts) != 1:
            raise ChSqlError(
                "ARRAY JOIN must be the only join in the FROM body"
            )
        s, j = starts[0]
        mods = {_kw(t) for t in body[s:j]}
        if mods - {"ARRAY", "LEFT"}:
            raise ChSqlError(
                f"ARRAY JOIN combines only with LEFT, not {sorted(mods - {'ARRAY', 'LEFT'})}"
            )
        first = _parse_table_ref(body[:s])
        items = []
        for item in _split_commas(body[j + 1:]):
            alias = None
            if len(item) >= 3 and _kw(item[-2]) == "AS" and _is_ident(item[-1]):
                alias = item[-1]
                item = item[:-2]
            if not item:
                raise ChSqlError("empty ARRAY JOIN item")
            simple = len(item) == 1 and _is_ident(item[0])
            if alias is None and not simple:
                raise ChSqlError(
                    "ARRAY JOIN expressions need AS aliases (CH requires "
                    f"them too): {' '.join(item)!r}"
                )
            items.append((_rewrite_all(item), alias, simple))
        return first, [], ("LEFT" in mods, items)
    first = _parse_table_ref(body[: starts[0][0]] if starts else body)
    joins: list[_Join] = []
    for k, (s, j) in enumerate(starts):
        mods = [_kw(t) for t in body[s:j]]
        # GLOBAL is a CH distributed-execution hint; ALL is the default
        # multiplicity (= SQL join semantics) — both drop.
        mods = [m for m in mods if m not in ("GLOBAL", "ALL")]
        any_dedup = "ANY" in mods
        any_side = "right"
        if any_dedup:
            mods = [m for m in mods if m != "ANY"]
            if mods == ["RIGHT"]:
                # r12: ANY RIGHT JOIN — at most one LEFT row per right
                # row, i.e. the LEFT side dedups per join key
                any_side = "left"
            elif mods in (["FULL"], ["FULL", "OUTER"]):
                # r16 (VERDICT r15 #7): ANY FULL JOIN — BOTH sides
                # dedup per join key (each to its deterministic
                # min-struct row), then FULL OUTER join: the
                # deterministic instance of CH's documented
                # any_join_distinct_right_table_keys=1 variant (the
                # ONLY mode in which CH itself serves ANY FULL — the
                # compile refuses an explicit =0 pin, CH's own
                # "ANY FULL JOINs are disabled" behavior).
                any_side = "both"
                mods = ["FULL"]
            elif mods not in ([], ["INNER"], ["LEFT"]):
                raise ChSqlError(
                    "ANY JOIN is supported as ANY [INNER|LEFT|RIGHT|"
                    "FULL] JOIN — anything else is outside the subset"
                )
        if "PASTE" in mods:
            # r13: CH 23.11+ PASTE JOIN — positional row gluing. This
            # engine's subset requires BOTH sides be ordered
            # subqueries (checked at compile); the zip is by global
            # row index under those orders (operators/zip_join.py).
            if any_dedup or set(mods) - {"PASTE"}:
                raise ChSqlError(
                    "PASTE JOIN combines with no other join modifiers"
                )
            jtype = "PASTE"
        elif "ASOF" in mods:
            extra = set(mods) - {"ASOF", "LEFT"}
            if extra or any_dedup:
                raise ChSqlError(
                    f"ASOF JOIN combines only with LEFT, not "
                    f"{sorted(extra) + (['ANY'] if any_dedup else [])}"
                )
            jtype = "ASOF LEFT" if "LEFT" in mods else "ASOF"
        else:
            key = " ".join(mods)
            jtype = _JOIN_TYPES.get(key)
            if jtype is None:
                raise ChSqlError(f"unsupported join type {key + ' JOIN'!r}")
        seg_end = starts[k + 1][0] if k + 1 < len(starts) else len(body)
        seg = body[j + 1 : seg_end]
        # locate depth-0 ON / USING
        cond_at, cond_kw, d = None, None, 0
        for i, t in enumerate(seg):
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            elif d == 0 and _is_ident(t) and _kw(t) in ("ON", "USING"):
                cond_at, cond_kw = i, _kw(t)
                break
        on = using = on_raw = None
        if cond_at is None:
            if jtype not in ("CROSS", "PASTE"):
                raise ChSqlError(f"{jtype} JOIN requires ON or USING")
            ref = _parse_table_ref(seg)
        else:
            if jtype == "PASTE":
                raise ChSqlError(
                    "PASTE JOIN matches rows by POSITION — it takes no "
                    "ON/USING condition (the CH grammar's rule too)"
                )
            ref = _parse_table_ref(seg[:cond_at])
            cond = seg[cond_at + 1 :]
            if cond_kw == "ON":
                if jtype == "CROSS":
                    raise ChSqlError("CROSS JOIN takes no ON condition")
                if jtype.startswith("ASOF") or any_dedup:
                    on_raw = cond  # parsed structurally at compile time
                if not jtype.startswith("ASOF"):
                    on = _rewrite_all(cond)
                    if not on:
                        raise ChSqlError("empty ON condition")
            else:
                if cond and cond[0] == "(":
                    if cond[-1] != ")":
                        raise ChSqlError("unbalanced USING (...)")
                    cond = cond[1:-1]
                using = [t for t in cond if t != ","]
                if not using or not all(_is_ident(t) for t in using):
                    raise ChSqlError(f"USING needs a column list, got {cond}")
        joins.append(_Join(jtype, ref, on, using, on_raw, any_dedup,
                           any_side))
    return first, joins, None


def _parse(tokens: list[str]) -> _Parsed:
    if not tokens or _kw(tokens[0]) != "SELECT":
        raise ChSqlError("only SELECT statements are supported")
    p = _Parsed()
    p.select, p.group_by, p.order_by, p.joins = [], [], [], []
    p.windows = []
    splits = _top_level_splits(tokens)
    for kw, _ in splits:
        if kw == "UNION":  # arms are split in _compile before _parse
            raise ChSqlError("internal: UNION reached _parse")
    bounds = splits + [("", len(tokens))]

    def clause(kw):
        for k, (name, start) in enumerate(bounds[:-1]):
            if name == kw:
                return tokens[start:bounds[k + 1][1]]
        return None

    # SELECT list runs to the first clause keyword
    first = bounds[0][1] if splits else len(tokens)
    sel = tokens[1:first]
    distinct_on: list[str] | None = None
    if sel and _kw(sel[0]) == "DISTINCT":
        if len(sel) > 2 and _kw(sel[1]) == "ON" and sel[2] == "(":
            # CH: SELECT DISTINCT ON (c1, c2) ... keeps the first row
            # per key group — by CH's own documentation equivalent to
            # LIMIT 1 BY (c1, c2); compiled through the same window
            # band filter, with the same ORDER BY determinism demand.
            depth, close = 0, None
            for i in range(2, len(sel)):
                if sel[i] == "(":
                    depth += 1
                elif sel[i] == ")":
                    depth -= 1
                    if depth == 0:
                        close = i
                        break
            if close is None:
                raise ChSqlError("unbalanced DISTINCT ON (...)")
            distinct_on = [_rewrite_all(it) for it in _split_commas(sel[3:close])]
            if not distinct_on:
                raise ChSqlError("empty DISTINCT ON column list")
            sel = sel[close + 1:]
        else:
            p.distinct = True
            sel = sel[1:]
    if not sel:
        raise ChSqlError("empty SELECT list")
    for item in _split_commas(sel):
        alias = None
        if len(item) >= 3 and _kw(item[-2]) == "AS" and _is_ident(item[-1]):
            alias = item[-1]
            item = item[:-2]
        if len(item) == 1 and item[0] == "*":
            p.select.append(("*", None))
            continue
        p.select.append((_rewrite_all(item), alias))

    frm = clause("FROM")
    if frm is None:
        raise ChSqlError("FROM is required")
    p.from_ref, p.joins, p.array_join = _parse_from_body(frm[1:])

    pre = clause("PREWHERE")
    if pre is not None:
        p.prewhere = _rewrite_all(pre[1:])
    wh = clause("WHERE")
    if wh is not None:
        p.where = _rewrite_all(wh[1:])

    gb = clause("GROUP")
    if gb is not None:
        if len(gb) < 2 or _kw(gb[1]) != "BY":
            raise ChSqlError("GROUP must be followed by BY")
        body = gb[2:]
        # trailing WITH ROLLUP / WITH CUBE / WITH TOTALS
        if len(body) >= 2 and _kw(body[-2]) == "WITH" and _kw(body[-1]) in (
            "ROLLUP", "CUBE", "TOTALS",
        ):
            p.group_mod = _kw(body[-1])
            body = body[:-2]
        p.group_by = [_rewrite_all(it) for it in _split_commas(body)]
        if not p.group_by:
            raise ChSqlError("empty GROUP BY")

    hv = clause("HAVING")
    if hv is not None:
        p.having = _rewrite_all(hv[1:])

    wd = clause("WINDOW")
    if wd is not None:
        # WINDOW name AS (spec), ... — both CH and Spark support the
        # named-window clause; specs go through the expression rewriter
        # (CH fns inside PARTITION BY/ORDER BY get mapped), names pass
        # through to `OVER name` references verbatim.
        for item in _split_commas(wd[1:]):
            if (
                len(item) < 4 or not _is_ident(item[0])
                or _kw(item[1]) != "AS" or item[2] != "(" or item[-1] != ")"
            ):
                raise ChSqlError(
                    f"WINDOW clause items are `name AS (spec)`: "
                    f"{' '.join(item[:6])!r}"
                )
            p.windows.append((item[0], _rewrite_all(item[3:-1])))

    ob = clause("ORDER")
    if ob is not None:
        if len(ob) < 2 or _kw(ob[1]) != "BY":
            raise ChSqlError("ORDER must be followed by BY")
        items = _split_commas(ob[2:])
        plain_prefix: list[str] | None = []
        fills: list[_Fill] = []
        for idx, it in enumerate(items):
            # WITH FILL [FROM a] [TO b] [STEP s] — depth-0 scan
            fill_at, d = None, 0
            for i, t in enumerate(it):
                if t == "(":
                    d += 1
                elif t == ")":
                    d -= 1
                elif (
                    d == 0 and _is_ident(t) and _kw(t) == "WITH"
                    and i + 1 < len(it) and _kw(it[i + 1]) == "FILL"
                ):
                    fill_at = i
                    break
            if fill_at is not None:
                # r11 multi-key form: leading PLAIN (ascending) keys
                # group the grid — `ORDER BY g1, ..., gk, f WITH FILL`
                # fills f's range WITHIN each g-tuple (the CH
                # within-group filling; with explicit FROM/TO both
                # engines produce the full per-group range, without
                # bounds the per-group min/max). r13: MULTIPLE fill
                # keys are supported when EVERY fill key carries
                # explicit integer FROM and TO — the fill target is
                # then the unambiguous cartesian grid (assembled after
                # the loop); default-bounds multi-key fill stays
                # outside the subset (its per-prefix bound semantics
                # are underdetermined).
                if plain_prefix is None:
                    raise ChSqlError(
                        "ORDER BY keys before WITH FILL must be plain "
                        "ascending columns (no DESC/NULLS modifiers) — "
                        "they group the fill grid"
                    )
                spec, it = it[fill_at + 2:], it[:fill_at]
                if it and _kw(it[-1]) == "DESC":
                    raise ChSqlError("WITH FILL is supported ascending only")
                if it and _kw(it[-1]) == "ASC":
                    it = it[:-1]
                vals = {"FROM": None, "TO": None, "STEP": 1}
                unit, interp = None, []
                j = 0
                while j < len(spec):
                    kw2 = _kw(spec[j])
                    if kw2 == "INTERPOLATE":
                        if j + 1 >= len(spec) or spec[j + 1] != "(":
                            raise ChSqlError("INTERPOLATE needs (col, ...)")
                        d2, j2 = 1, j + 2
                        body = []
                        while j2 < len(spec) and d2 > 0:
                            if spec[j2] == "(":
                                d2 += 1
                            elif spec[j2] == ")":
                                d2 -= 1
                                if d2 == 0:
                                    break
                            body.append(spec[j2])
                            j2 += 1
                        if d2 != 0:
                            raise ChSqlError("unbalanced '(' in INTERPOLATE")
                        for item2 in _split_commas(body):
                            if len(item2) != 1 or not _is_ident(item2[0]):
                                raise ChSqlError(
                                    "INTERPOLATE supports bare columns "
                                    "(previous-value carry / LOCF) — the "
                                    "`col AS expr` recurrence is outside "
                                    f"the subset: {' '.join(item2)!r}"
                                )
                            interp.append(item2[0])
                        j = j2 + 1
                        continue
                    if (
                        kw2 == "STEP" and j + 1 < len(spec)
                        and _is_ident(spec[j + 1]) and _kw(spec[j + 1]) == "INTERVAL"
                    ):
                        if j + 3 >= len(spec):
                            raise ChSqlError("STEP INTERVAL needs `n unit`")
                        try:
                            vals["STEP"] = int(spec[j + 2])
                        except ValueError:
                            raise ChSqlError(
                                f"STEP INTERVAL count must be an integer "
                                f"literal, got {spec[j + 2]!r}"
                            )
                        unit = _kw(spec[j + 3])
                        if unit not in (
                            "SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
                            "MONTH", "QUARTER", "YEAR",
                        ):
                            raise ChSqlError(f"unsupported INTERVAL unit {unit!r}")
                        j += 4
                        continue
                    neg = j + 1 < len(spec) and spec[j + 1] == "-"
                    vi = j + (2 if neg else 1)
                    if kw2 not in vals or vi >= len(spec):
                        raise ChSqlError(f"unsupported WITH FILL spec: {spec}")
                    try:
                        v = int(spec[vi])
                    except ValueError:
                        raise ChSqlError(
                            f"WITH FILL {kw2} must be an integer literal "
                            f"(got {spec[vi]!r}) — the declared subset is "
                            "integer grids and default-bounds INTERVAL grids"
                        )
                    vals[kw2] = -v if neg else v
                    j = vi + 1
                if vals["STEP"] is None or vals["STEP"] < 1:
                    raise ChSqlError("WITH FILL STEP must be a positive integer")
                if unit is not None and (vals["FROM"] is not None or vals["TO"] is not None):
                    raise ChSqlError(
                        "WITH FILL ... STEP INTERVAL supports default bounds "
                        "only (the result's min/max)"
                    )
                f = _Fill(_rewrite_all(it), vals["FROM"], vals["TO"],
                          vals["STEP"], unit, interp,
                          group_keys=list(plain_prefix))
                fills.append(f)
                p.order_by.append(f.key)
                continue
            if fills:
                raise ChSqlError(
                    "plain ORDER BY keys cannot follow WITH FILL keys — "
                    "fill keys must be the trailing items (the grid "
                    "would be ambiguous otherwise)"
                )
            tail = []
            while it and _kw(it[-1]) in ("ASC", "DESC", "NULLS", "FIRST", "LAST"):
                tail.insert(0, _kw(it[-1]))
                it = it[:-1]
            txt = _rewrite_all(it)
            if plain_prefix is not None and tail in ([], ["ASC"]):
                plain_prefix.append(txt)
            else:
                plain_prefix = None
            p.order_by.append((txt + (" " + " ".join(tail) if tail else "")).strip())
        if fills:
            # assemble: last fill carries the lead fills. The
            # multi-key subset (r13): every fill key except... — in
            # fact EVERY key including the last needs explicit integer
            # FROM/TO, so the cartesian grid is literal and
            # unambiguous; single-key fill keeps the r10/r11 default-
            # bounds behavior. INTERPOLATE attaches to the last item
            # only (the CH grammar position).
            for lf in fills[:-1]:
                if lf.interpolate:
                    raise ChSqlError(
                        "INTERPOLATE attaches to the LAST WITH FILL "
                        "item only (the CH grammar)"
                    )
            if len(fills) > 1:
                for lf in fills:
                    if (lf.unit is not None or lf.frm is None
                            or lf.to is None):
                        raise ChSqlError(
                            "multi-key WITH FILL needs explicit integer "
                            "FROM and TO on every fill key (default "
                            "bounds / STEP INTERVAL are single-key "
                            "forms) — the cartesian grid must be "
                            "unambiguous"
                        )
            p.fill = fills[-1]
            p.fill.lead_fills = fills[:-1]

    # every LIMIT clause, in order (LIMIT k BY cols may precede the
    # final row LIMIT — two separate clauses in the CH grammar)
    for k, (name, start) in enumerate(bounds[:-1]):
        if name != "LIMIT":
            continue
        body = tokens[start + 1:bounds[k + 1][1]]
        if len(body) >= 3 and _kw(body[1]) == "BY":
            if p.limit_by is not None:
                raise ChSqlError("multiple LIMIT ... BY clauses")
            n = int(body[0])
            cols = [_rewrite_all(it) for it in _split_commas(body[2:])]
            p.limit_by = (n, cols)
        elif len(body) >= 3 and _kw(body[1]) == "OFFSET":
            p.limit, p.offset = int(body[0]), int(body[2])
        elif len(body) == 1:
            p.limit = int(body[0])
        elif (len(body) == 3 and _kw(body[1]) == "WITH"
                and _kw(body[2]) == "TIES"):
            # r13: LIMIT n WITH TIES — rows tying with the n-th row on
            # the ORDER BY key are kept too (compiled at the end)
            p.limit_ties = int(body[0])
        elif len(body) == 3 and body[1] == ",":
            p.offset, p.limit = int(body[0]), int(body[2])  # CH LIMIT m, n
        else:
            raise ChSqlError(f"unsupported LIMIT form: {body}")

    st = clause("SETTINGS")
    if st is not None:
        # performance knobs — captured (r16) so the few settings with
        # SEMANTIC weight (any_join_distinct_right_table_keys) can
        # gate compilation; everything else is accepted and ignored
        p.settings = {}
        for item in _split_commas(st[1:]):
            # value may be several tokens (the tokenizer splits a
            # negative number into '-', '1' — r16 review: refusing
            # those would regress clauses r15 accepted-and-ignored)
            if len(item) >= 3 and item[1] == "=" and _is_ident(item[0]):
                p.settings[_kw(item[0]).lower()] = \
                    "".join(item[2:]).strip("'")
            elif item:
                raise ChSqlError(
                    f"SETTINGS items are `name = value`: {' '.join(item)!r}")
    fmt = clause("FORMAT")
    if fmt is not None:
        # FORMAT names an output SERIALIZATION (Pretty, JSONEachRow, …)
        # — presentation-layer only; the result DataFrame is the data.
        if len(fmt) != 2 or not _is_ident(fmt[1]):
            raise ChSqlError(f"FORMAT takes one format name: {fmt[1:]}")

    if distinct_on is not None:
        if p.limit_by is not None:
            raise ChSqlError("DISTINCT ON combined with LIMIT BY is ambiguous")
        p.limit_by = (1, distinct_on)
    return p


# ---------------------------------------------------------------------------
class _FixtureTables(Mapping):
    """Read-only ``name -> DataFrame`` over ``catalog.TABLES`` that
    loads a table on its first lookup, so a statement pays only for the
    tables it names. Membership, iteration and length answer from the
    name list without loading anything."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark, self._sf_dir = spark, sf_dir
        self._loaded: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._loaded:  # catalog.load raises KeyError if unknown
            self._loaded[name] = catalog.load(self._spark, self._sf_dir, name)
        return self._loaded[name]

    def __contains__(self, name) -> bool:
        return name in catalog.TABLES

    def __iter__(self):
        return iter(catalog.TABLES)

    def __len__(self) -> int:
        return len(catalog.TABLES)


class ChContext:
    """Name resolution + per-table CH metadata the clauses need:
    ``final_specs[t] = (entity_key_cols, version_cols)`` enables
    ``FINAL``; ``sample_keys[t]`` (the CH ``SAMPLE BY`` column) enables
    ``SAMPLE``. Tables without the metadata still run plain SELECTs."""

    def __init__(
        self,
        tables: Mapping[str, DataFrame],
        final_specs: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] | None = None,
        sample_keys: dict[str, str] | None = None,
        sample_seed: str = "sample-v1",
    ):
        self.tables = tables
        self.final_specs = final_specs or {}
        self.sample_keys = sample_keys or {}
        self.sample_seed = sample_seed

    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "ChContext":
        """The test-fixture context: every TESTDATA table, loaded on its
        first reference, with the natural SAMPLE BY keys."""
        from postgre_to_clickhouse_spark.session import configure

        configure(spark)
        return cls(
            _FixtureTables(spark, sf_dir),
            sample_keys={"events": "user_id", "documents": "doc_id",
                         "customer": "c_custkey"},
        )


def ch_select(spark: SparkSession, sql: str, ctx: ChContext) -> DataFrame:
    """Compile one ClickHouse-dialect SELECT (with an optional WITH
    prologue of CTEs and/or CH scalar aliases) to a Spark DataFrame.

    Namespace caveat: when the statement contains a predicate subquery
    (``IN (SELECT ...)``, ``EXISTS (...)``, scalar ``(SELECT ...)``),
    compiling registers every ``ctx.tables`` entry (and every CTE) as
    a session temp view UNDER ITS BARE NAME so Spark's parser can
    resolve the subquery — replacing any same-name temp view the
    caller had registered, and leaving the views registered after the
    call. Registering reads every entry, so a lazily loaded context
    (:meth:`ChContext.from_sf_dir`) loads all its tables for such a
    statement — cheap, since :func:`catalog.load` only looks the schema
    up. Statements without predicate subqueries register nothing under
    a table's name and load only the tables they name.

    The uuid-named views compiling registers for its FROM sources are
    dropped again once the statement's frame is analysed: the frame
    keeps their plans, so a long-running server's session does not
    grow a view per statement.
    """
    views: list[tuple[SparkSession, str]] = []
    try:
        return _compile(spark, _tokenize(sql.strip().rstrip(";")), ctx, views)
    finally:
        for session, name in views:
            session.catalog.dropTempView(name)


def _temp_view(df: DataFrame, views: list, prefix: str = "__ch_src") -> str:
    """Register ``df`` as a temp view under a fresh name in its own
    session, and note it in ``views`` for :func:`ch_select` to drop."""
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(name)
    views.append((df.sparkSession, name))
    return name


def _compile(spark: SparkSession, tokens: list[str], ctx: ChContext,
             views: list) -> DataFrame:
    if tokens and _kw(tokens[0]) == "WITH":
        ctes, scalars, tokens = _parse_with(tokens)
        for name, sel_toks in ctes:
            # each CTE compiles through the same pipeline and becomes a
            # resolvable table for the ones after it and the main query
            # layered over (not copied from) the context's tables, so a
            # lazily loaded context stays lazy
            ctx = ChContext(
                ChainMap({name: _compile(spark, sel_toks, ctx, views)},
                         ctx.tables),
                ctx.final_specs, ctx.sample_keys, ctx.sample_seed,
            )
        for name, expr_toks in scalars:
            tokens = _substitute(tokens, name, expr_toks)

    # Predicate subqueries — IN (SELECT ...), EXISTS (...), scalar
    # (SELECT ...) — pass through to Spark's parser with CH functions
    # mapped by the expression rewriter; they resolve table names
    # against the session catalog, so every context table (and every
    # compiled CTE, added to ctx above) registers as a temp view under
    # its own name. Catalyst plans them as semi/anti joins or one-row
    # broadcasts — no front-end runtime. Registration happens ONLY
    # when the statement actually contains a predicate subquery (a
    # `( SELECT` not opening a FROM/JOIN derived table) — otherwise
    # compiling would silently clobber same-name temp views in the
    # caller's session for no benefit (see the ch_select docstring
    # for the remaining namespace-takeover caveat).
    if any(
        t == "(" and i + 1 < len(tokens) and _kw(tokens[i + 1]) == "SELECT"
        and (i == 0 or _kw(tokens[i - 1]) not in ("FROM", "JOIN"))
        for i, t in enumerate(tokens)
    ):
        for _name, _df in ctx.tables.items():
            _df.createOrReplaceTempView(_name)

    arms = _split_setops(tokens)
    if len(arms) > 1:
        out = None
        for tag, arm in arms:
            df = _compile(spark, arm, ctx, views)
            if out is None:
                out = df
                continue
            if len(df.columns) != len(out.columns):
                raise ChSqlError(
                    f"set-operation arms have {len(out.columns)} vs "
                    f"{len(df.columns)} columns"
                )
            # CH matches set-op columns by POSITION, names from arm 1
            df = df.toDF(*out.columns)
            op, mode = tag.split()
            if op == "UNION":
                out = out.union(df)
                if mode == "DISTINCT":
                    out = out.distinct()
            elif mode == "DISTINCT":  # standard-SQL set semantics
                out = out.subtract(df) if op == "EXCEPT" else out.intersect(df)
            else:
                # CH default EXCEPT/INTERSECT are FILTER semantics, not
                # bag arithmetic: a left row survives EXCEPT iff it
                # appears nowhere in the right side (ALL its duplicates
                # kept), and survives INTERSECT iff it appears at least
                # once — a null-safe anti/semi join, NOT Spark's
                # exceptAll/intersectAll (which subtract/min counts).
                cond = None
                for c1, c2 in zip(out.columns, df.columns):
                    eq = out[c1].eqNullSafe(df[c2])
                    cond = eq if cond is None else cond & eq
                how = "left_anti" if op == "EXCEPT" else "left_semi"
                out = out.join(df, cond, how)
        return out

    p = _parse(tokens)

    def _resolve(ref: _TableRef) -> DataFrame:
        if ref.subquery is not None:
            return _compile(spark, ref.subquery, ctx, views)
        if ref.table_fn is not None:
            _fn, args = ref.table_fn
            off, n = (0, args[0]) if len(args) == 1 else (args[0], args[1])
            return spark.range(off, off + n).toDF("number")
        if ref.name not in ctx.tables:
            raise ChSqlError(f"unknown table {ref.name!r}")
        df = ctx.tables[ref.name]
        if ref.final:
            spec = ctx.final_specs.get(ref.name)
            if spec is None:
                raise ChSqlError(
                    f"FINAL needs a (entity_key, version_cols) spec for "
                    f"{ref.name!r} in ChContext.final_specs"
                )
            from postgre_to_clickhouse_spark.cdc import latest

            df = latest(df, spec[0], spec[1])
        if ref.sample is not None:
            key = ctx.sample_keys.get(ref.name)
            if key is None:
                raise ChSqlError(
                    f"SAMPLE needs a sample key for {ref.name!r} in "
                    "ChContext.sample_keys (the CH `SAMPLE BY` column)"
                )
            from postgre_to_clickhouse_spark.operators.sampling import (
                sample_consistent,
            )

            df = sample_consistent(df, ref.sample[0], key, offset=ref.sample[1],
                                   seed=ctx.sample_seed)
        return df

    def _register(ref: _TableRef) -> str:
        return f"{_temp_view(_resolve(ref), views)} AS {ref.alias or ref.name}"

    if p.array_join is not None:
        # PREWHERE runs at storage level in CH — BEFORE the ARRAY JOIN
        # — so a PREWHERE over a bare-column item would see the ARRAY
        # while this engine's post-explode filter sees the ELEMENT
        # under the same name: refuse that narrow divergence loudly.
        # (Predicates over untouched columns commute with the explode
        # — Catalyst pushes them below the generate — so plain
        # PREWHERE stays supported.)
        if p.prewhere:
            for etext, alias, _simple in p.array_join[1]:
                col = etext if alias is None else None
                if col and re.search(rf"\b{re.escape(col)}\b", p.prewhere):
                    raise ChSqlError(
                        f"PREWHERE references {col!r}, which ARRAY JOIN "
                        "replaces with its element — CH evaluates PREWHERE "
                        "before ARRAY JOIN; alias the item (ARRAY JOIN "
                        f"{col} AS x) or move the predicate to WHERE "
                        "semantics explicitly"
                    )
        exploded = _compile_array_join(_resolve(p.from_ref), *p.array_join)
        view = _temp_view(exploded, views)
        from_text = f"{view} AS {p.from_ref.alias or p.from_ref.name}"
    elif any(jn.jtype.startswith("ASOF") for jn in p.joins):
        if len(p.joins) != 1:
            raise ChSqlError("ASOF JOIN must be the only join in the FROM body")
        jn = p.joins[0]
        la = p.from_ref.alias or p.from_ref.name
        ra = jn.ref.alias or jn.ref.name
        joined, rename = _compile_asof(
            _resolve(p.from_ref), _resolve(jn.ref), la, ra, jn
        )
        from_text = _temp_view(joined, views)
        # the joined frame is flat — remap alias-qualified refs in every
        # compiled expression to the flat (possibly suffixed) names.
        # The remap must not reach inside string/backtick literals
        # (alias `e` + literal 'e.g' would otherwise rewrite the
        # LITERAL), so the text is split on quoted spans first and the
        # substitution applies to code segments only.
        qual = re.compile(
            rf"\b({re.escape(la)}|{re.escape(ra)})\.([A-Za-z_][A-Za-z0-9_]*)"
        )
        quoted = re.compile(r"('(?:[^']|'')*'|`[^`]*`)")

        def _fix(txt):
            if not txt:
                return txt
            parts = quoted.split(txt)
            return "".join(
                p if i % 2 else
                qual.sub(lambda m: rename.get(m.group(0), m.group(2)), p)
                for i, p in enumerate(parts)
            )

        p.select = [(_fix(e), a) for e, a in p.select]
        p.prewhere, p.where, p.having = _fix(p.prewhere), _fix(p.where), _fix(p.having)
        p.group_by = [_fix(g) for g in p.group_by]
        p.order_by = [_fix(o) for o in p.order_by]
        if p.limit_by is not None:
            p.limit_by = (p.limit_by[0], [_fix(c) for c in p.limit_by[1]])
        if p.fill is not None:
            p.fill.key = _fix(p.fill.key)
    elif any(jn.jtype == "PASTE" for jn in p.joins):
        # r13: PASTE JOIN — positional gluing under each side's OWN
        # declared order. Subset: the single join of the FROM body,
        # both sides subqueries carrying a top-level ORDER BY of plain
        # output columns (CH's PASTE over unordered inputs is
        # nondeterministic; this engine refuses instead). The zip is
        # operators/zip_join.paste_join — a distributed global row
        # index per side (range-partition + per-partition numbering +
        # broadcast offsets), never a single-partition window.
        if len(p.joins) != 1:
            raise ChSqlError(
                "PASTE JOIN must be the only join in the FROM body")
        from postgre_to_clickhouse_spark.operators.zip_join import paste_join

        jn = p.joins[0]
        lorder = _subquery_order(p.from_ref, "PASTE JOIN's left side")
        rorder = _subquery_order(jn.ref, "PASTE JOIN's right side")
        try:
            joined = paste_join(
                _resolve(p.from_ref), _resolve(jn.ref), lorder, rorder)
        except ValueError as e:
            raise ChSqlError(str(e)) from None
        from_text = _temp_view(joined, views)
    else:
        left_any = [jn for jn in p.joins
                    if jn.any_dedup and jn.any_side in ("left", "both")]
        if left_any:
            # ANY RIGHT JOIN (r12): the LEFT side dedups per join key
            # — the mirror of the right-dedup below. ANY FULL (r16)
            # dedups BOTH sides (this branch + the right-dedup below).
            # Restricted to a single-join FROM: in a longer chain "the
            # left side" is an intermediate join result, whose dedup
            # would need a materialization this front end deliberately
            # avoids.
            if len(p.joins) != 1:
                raise ChSqlError(
                    "ANY RIGHT/FULL JOIN is supported as the single "
                    "join of the FROM clause — chain further joins "
                    "via a CTE"
                )
            jn = p.joins[0]
            if jn.any_side == "both" and (p.settings or {}).get(
                    "any_join_distinct_right_table_keys") == "0":
                raise ChSqlError(
                    "ANY FULL JOIN is served only in its deterministic "
                    "any_join_distinct_right_table_keys=1 variant "
                    "(both sides dedup per key); with the setting "
                    "pinned to 0 ClickHouse itself disables ANY FULL — "
                    "drop the pin or use FULL JOIN"
                )
            ldf = _resolve(p.from_ref)
            la = p.from_ref.alias or p.from_ref.name
            keys = _any_side_keys(jn, ldf, la)
            view = _temp_view(_any_dedup_frame(ldf, keys), views)
            from_text = f"{view} AS {la}"
        else:
            from_text = _register(p.from_ref)
        for jn in p.joins:
            if jn.any_dedup and jn.any_side in ("right", "both"):
                rdf = _resolve(jn.ref)
                keys = _any_right_keys(jn, rdf)
                view = _temp_view(_any_dedup_frame(rdf, keys), views)
                seg = f"{view} AS {jn.ref.alias or jn.ref.name}"
            else:
                seg = _register(jn.ref)
            from_text += f" {jn.jtype} JOIN {seg}"
            if jn.on:
                from_text += f" ON {jn.on}"
            elif jn.using:
                from_text += f" USING ({', '.join(jn.using)})"
    cols = ", ".join(
        e + (f" AS {a}" if a else "") for e, a in p.select
    )
    sel = f"SELECT {'DISTINCT ' if p.distinct else ''}{cols} FROM {from_text}"
    conds = [c for c in (p.prewhere, p.where) if c]
    if conds:
        sel += " WHERE " + " AND ".join(f"({c})" for c in conds)
    if p.group_by:
        keys = ", ".join(p.group_by)
        if p.group_mod == "TOTALS":
            # CH WITH TOTALS = the full grouping plus one all-groups row
            # (keys NULL in the DataFrame shape) — grouping sets
            sel += f" GROUP BY {keys} GROUPING SETS (({keys}), ())"
        elif p.group_mod in ("ROLLUP", "CUBE"):
            sel += f" GROUP BY {keys} WITH {p.group_mod}"
        else:
            sel += f" GROUP BY {keys}"
    if p.having:
        if p.group_mod == "TOTALS":
            # CH default totals_mode = 'before_having': the totals row is
            # computed over ALL rows and is never filtered by HAVING. The
            # grouping-sets totals row already aggregates all source rows;
            # exempt it from the predicate via the grouping() indicator.
            sel += f" HAVING grouping({p.group_by[0]}) = 1 OR ({p.having})"
        else:
            sel += f" HAVING {p.having}"
    if p.windows:
        sel += " WINDOW " + ", ".join(
            f"{name} AS ({spec})" for name, spec in p.windows
        )
    if p.order_by:
        sel += " ORDER BY " + ", ".join(p.order_by)

    if p.limit_by is not None:
        if not p.order_by:
            raise ChSqlError(
                "LIMIT n BY requires ORDER BY (CH leaves unordered "
                "LIMIT BY nondeterministic; this engine refuses instead)"
            )
        n, bycols = p.limit_by
        # an ORDER BY / BY term the SELECT list does not output (CH
        # takes `SELECT k ... ORDER BY k, off DESC LIMIT 1 BY k`) rides
        # through the projection as a hidden column for the window
        inner_df = spark.sql(sel)
        outs = inner_df.columns
        terms = [re.sub(r"( (ASC|DESC|NULLS|FIRST|LAST))+$", "", o) for o in p.order_by]
        hidden = {t: f"__ch_lb{i}" for i, t in enumerate(dict.fromkeys(terms + bycols))
                  if not t.isdigit() and t.strip("`").lower() not in map(str.lower, outs)}
        if hidden:
            head = f"SELECT {'DISTINCT ' if p.distinct else ''}{cols}"
            extra = "".join(f", {t} AS {a}" for t, a in hidden.items())
            inner_df = spark.sql(head + extra + sel[len(head):])
        inner = _temp_view(inner_df, views, "__ch_lb")
        keep = ", ".join(f"`{c}`" for c in outs)
        part = ", ".join(hidden.get(b, b) for b in bycols)
        order = ", ".join(hidden.get(t, t) + o[len(t):] for o, t in zip(p.order_by, terms))
        sel = (
            f"SELECT {keep} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {part} ORDER BY {order}) AS __ch_rn FROM {inner}) "
            f"WHERE __ch_rn <= {n} ORDER BY {order}"
        )
    if p.limit_ties is not None:
        # r13: CH `LIMIT n WITH TIES` — keep every row whose ORDER BY
        # key ties with the n-th row's. r13 s3 (review): the original
        # rank()-over-global-order compile moved the ENTIRE pre-limit
        # result through one window partition; this shape is fully
        # distributed instead — TakeOrdered(n) finds the top-n, one
        # more TakeOrdered(1) extracts the n-th row's key tuple, and a
        # broadcast of that single row filters the result with a
        # direction-aware lexicographic comparison.
        if p.limit is not None or p.offset or p.limit_by is not None \
                or p.fill is not None:
            raise ChSqlError(
                "LIMIT n WITH TIES combines only with ORDER BY in this "
                "subset (no second LIMIT/OFFSET/LIMIT BY/WITH FILL)"
            )
        if not p.order_by:
            raise ChSqlError(
                "LIMIT WITH TIES requires ORDER BY — ties are defined "
                "by the sort key (CH's rule too)"
            )
        from pyspark.sql import functions as F

        if p.limit_ties == 0:
            # CH: LIMIT 0 is zero rows; without this the empty
            # threshold frame would read as "fewer rows than n" and
            # admit EVERYTHING (review fix)
            return spark.sql(sel).limit(0)
        items: list[tuple[str, bool]] = []
        for o in p.order_by:
            toks = o.split()
            if len(toks) >= 2 and toks[-1].upper() in ("FIRST", "LAST") \
                    and toks[-2].upper() == "NULLS":
                raise ChSqlError(
                    "LIMIT WITH TIES with explicit NULLS FIRST/LAST is "
                    "outside the subset — drop the modifier (engine "
                    "defaults apply) or use a rank() window explicitly"
                )
            desc = False
            if toks and toks[-1].upper() in ("ASC", "DESC"):
                desc = toks[-1].upper() == "DESC"
                toks = toks[:-1]
            items.append((" ".join(toks), desc))
        work = spark.sql(sel)
        keep = list(work.columns)
        keys: list[tuple[str, bool]] = []
        for i, (etext, desc) in enumerate(items):
            kc = f"__ch_lt_k{i}"
            if etext.isdigit():
                # positional ORDER BY (the SQL path resolves ordinals;
                # F.expr would read the literal constant and make
                # EVERY row tie — review fix)
                pos = int(etext)
                if not 1 <= pos <= len(keep):
                    raise ChSqlError(
                        f"ORDER BY position {pos} is out of range "
                        f"(1..{len(keep)})"
                    )
                work = work.withColumn(kc, F.col(keep[pos - 1]))
            else:
                work = work.withColumn(kc, F.expr(etext))
            keys.append((kc, desc))
        order_cols = [F.col(k).desc() if d else F.col(k).asc()
                      for k, d in keys]
        # the reverse of (ASC, nulls first) is (DESC, nulls last) and
        # vice versa — Spark's own defaults, so a plain swap inverts
        inv_cols = [F.col(k).asc() if d else F.col(k).desc()
                    for k, d in keys]
        nth = (
            work.orderBy(*order_cols).limit(p.limit_ties)
            .orderBy(*inv_cols).limit(1)
            .select(
                *[F.col(k).alias(f"__ch_lt_t{i}")
                  for i, (k, _d) in enumerate(keys)],
                F.lit(1).alias("__ch_lt_hit"),
            )
        )
        joined = work.withColumn("__ch_lt_one", F.lit(1)).join(
            F.broadcast(nth.withColumn("__ch_lt_one", F.lit(1))),
            on="__ch_lt_one", how="left",
        )
        # lexicographic "row position <= threshold position" under
        # Spark's null ordering (ASC nulls first / DESC nulls last)
        le = None
        for i in range(len(keys) - 1, -1, -1):
            k, d = keys[i]
            kc, tc = F.col(k), F.col(f"__ch_lt_t{i}")
            if d:
                lt = (tc.isNull() & kc.isNotNull()) | (kc > tc)
            else:
                lt = (kc.isNull() & tc.isNotNull()) | (kc < tc)
            eq = kc.eqNullSafe(tc)
            le = (lt | eq) if le is None else (lt | (eq & le))
        cond = F.col("__ch_lt_hit").isNull() | F.coalesce(
            le, F.lit(False))
        return (
            joined.filter(cond)
            .orderBy(*order_cols)
            .select(*keep)
        )
    if p.fill is not None:
        if p.limit_by is not None:
            raise ChSqlError("WITH FILL combined with LIMIT BY is outside the subset")
        out = _apply_fill(spark.sql(sel), p.fill)
        if p.offset:
            out = out.offset(p.offset)
        if p.limit is not None:
            out = out.limit(p.limit)
        return out
    if p.limit is not None:
        sel += f" LIMIT {p.limit}"
    if p.offset:
        sel += f" OFFSET {p.offset}"
    return spark.sql(sel)


def _any_right_keys(jn: _Join, rdf) -> list[str]:
    return _any_side_keys(jn, rdf, jn.ref.alias or jn.ref.name)


def _any_side_keys(jn: _Join, sdf, ra: str) -> list[str]:
    """The join-key columns OWNED BY one side of an ANY join — from
    USING, or from an ON conjunction of plain equalities where each
    term relates that side (alias-qualified as ``ra``, or an
    unqualified name the side's frame owns) to the other. Anything
    fancier refuses loudly. ``ra`` is the owning side's alias, ``sdf``
    its frame — the right table for ANY [INNER|LEFT], the LEFT table
    for ANY RIGHT (r12)."""
    rdf = sdf
    if jn.using is not None:
        return list(jn.using)
    conjs, cur, depth = [], [], 0
    for t in jn.on_raw or []:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and _is_ident(t) and _kw(t) == "AND":
            conjs.append(cur)
            cur = []
        else:
            cur.append(t)
    conjs.append(cur)
    keys = []
    for c in conjs:
        if len(c) != 3 or c[1] not in ("=", "=="):
            raise ChSqlError(
                "ANY JOIN ON supports conjunctions of `col = col` "
                f"equalities: got {' '.join(c)!r}"
            )
        right = []
        for tok in (c[0], c[2]):
            if not _is_ident(tok):
                raise ChSqlError(
                    f"ANY JOIN ON terms must be plain columns, got {tok!r}"
                )
            if "." in tok:
                q, col = tok.split(".", 1)
                if q == ra:
                    right.append(col)
            elif tok in rdf.columns:
                right.append(tok)
        if len(right) != 1:
            raise ChSqlError(
                "each ANY JOIN equality must relate the right table to "
                f"the left side unambiguously — qualify columns: "
                f"{' '.join(c)!r}"
            )
        keys.append(right[0])
    return keys


def _any_dedup_frame(rdf, keys: list[str]):
    """CH ``ANY JOIN``: at most one right row matches each left row. CH
    picks an ARBITRARY one of the key's duplicates; this engine picks
    the minimum struct of the non-key columns — a deterministic,
    replayable instance of that contract (documented divergence: stable
    instead of arbitrary). One partial-aggregable groupBy on the join
    key — the dedup shuffle doubles as the join-side shuffle."""
    from pyspark.sql import functions as F

    missing = [k for k in keys if k not in rdf.columns]
    if missing:
        raise ChSqlError(f"ANY JOIN key(s) {missing} not in the right table")
    others = [c for c in rdf.columns if c not in keys]
    if not others:
        return rdf.dropDuplicates(keys)
    agg = rdf.groupBy(*keys).agg(
        F.min(F.struct(*[F.col(c).alias(c) for c in others])).alias("__any")
    )
    return agg.select(*keys, *[F.col("__any")[c].alias(c) for c in others])


def _compile_array_join(df, left: bool, items: list):
    """CH ``[LEFT] ARRAY JOIN item [AS alias], ...``: one output row per
    array element — a bare column item REPLACES that column with its
    element (the CH rule; the array itself disappears), an aliased item
    keeps the source and adds the element under the alias. Multiple
    items iterate in LOCKSTEP (CH zip semantics, not a cross product) —
    unequal sizes raise at runtime like CH errors (``assert_true``
    forced through the kept filter); arrays that are NULL on a row are
    exempt from the size check. ``LEFT ARRAY JOIN`` keeps empty/NULL-
    array rows with a NULL element (the Nullable-element reading of
    CH's default-value rule). Compiles to one generate (explode /
    explode_outer) — map-side, no shuffle, the same operator the native
    arrayJoin() path uses."""
    from pyspark.sql import functions as F

    tmp = df
    names = []
    for i, (etext, _alias, _simple) in enumerate(items):
        nm = f"__aj_{i}"
        tmp = tmp.withColumn(nm, F.expr(etext))
        names.append(nm)
    gen = F.explode_outer if left else F.explode
    if len(names) == 1:
        tmp = tmp.withColumn("__aj_e", gen(F.col(names[0])))
        elems = [F.col("__aj_e")]
    else:
        eq = None
        for a, b in zip(names, names[1:]):
            # NULL-array rows are exempt EXPLICITLY — relying on
            # size(NULL) == NULL would flip under legacy (non-ANSI)
            # sizeOfNull=-1, where size(NULL) is -1 and the coalesce
            # never fires, turning the exemption into a spurious raise.
            c = F.when(
                F.col(a).isNull() | F.col(b).isNull(), F.lit(True)
            ).otherwise(F.size(F.col(a)) == F.size(F.col(b)))
            eq = c if eq is None else eq & c
        tmp = tmp.where(
            F.assert_true(
                eq, F.lit("ARRAY JOIN arrays must have equal sizes")
            ).isNull()
        )
        tmp = tmp.withColumn(
            "__aj_e", gen(F.arrays_zip(*[F.col(n) for n in names]))
        )
        elems = [F.col("__aj_e").getField(n) for n in names]

    replace = {
        etext: elem
        for (etext, alias, simple), elem in zip(items, elems)
        if alias is None
    }
    added = [
        (alias, elem)
        for (etext, alias, simple), elem in zip(items, elems)
        if alias is not None
    ]
    for alias, _ in added:
        if alias in df.columns:
            raise ChSqlError(
                f"ARRAY JOIN alias {alias!r} collides with a source column"
            )
    out_cols = [
        replace[c].alias(c) if c in replace else F.col(c)
        for c in df.columns
    ]
    out_cols += [elem.alias(alias) for alias, elem in added]
    return tmp.select(*out_cols)


_FLIP_OP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def _compile_asof(left_df, right_df, la: str, ra: str, jn: _Join):
    """Compile a CH ``ASOF [LEFT] JOIN`` to :func:`operators.asof
    .asof_join` (the one-shuffle union+window operator — no range-join
    blowup at any scale). Supported subset, refused loudly otherwise:
    exactly one equality key + one inequality (CH requires exactly one
    inequality; the operator takes one key column), or ``USING (key,
    time)`` (CH USING implies ``>=``). The inequality direction maps
    per CH: ``left >= right`` → backward match (nearest earlier-or-
    equal), ``>`` strict, ``<=``/``<`` forward. Plain ``ASOF JOIN`` is
    INNER (unmatched left rows drop, the CH default); ``ASOF LEFT``
    keeps them with NULLs. Right columns surface under their own names
    unless they collide with a left column, in which case they keep
    the operator's ``_asof`` suffix; returns (joined frame, {qualified
    name → flat name} map for expression rewriting). Equal-time ties
    among duplicate right rows are engine-specific in CH too — dedup
    the right side first (``cdc.latest``) for determinism."""
    from pyspark.sql import functions as F

    if jn.using is not None:
        if len(jn.using) != 2:
            raise ChSqlError(
                "ASOF JOIN USING supports exactly (key, time) — more "
                "equality keys are outside the subset (concatenate them "
                "into one key column)"
            )
        lk = rk = jn.using[0]
        lt, rt, iop = jn.using[1], jn.using[1], ">="
    else:
        conjs, cur, depth = [], [], 0
        for t in jn.on_raw or []:
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            if depth == 0 and _is_ident(t) and _kw(t) == "AND":
                conjs.append(cur)
                cur = []
            else:
                cur.append(t)
        conjs.append(cur)

        def side_of(tok):
            if not _is_ident(tok):
                raise ChSqlError(
                    f"ASOF ON terms must be plain columns, got {tok!r}"
                )
            if "." in tok:
                q, c = tok.split(".", 1)
                if q == la:
                    return "L", c
                if q == ra:
                    return "R", c
                raise ChSqlError(f"unknown alias {q!r} in ASOF ON")
            inl, inr = tok in left_df.columns, tok in right_df.columns
            if inl and inr:
                raise ChSqlError(f"ambiguous column {tok!r} in ASOF ON — qualify it")
            if inl:
                return "L", tok
            if inr:
                return "R", tok
            raise ChSqlError(f"unknown column {tok!r} in ASOF ON")

        eqs, ineqs = [], []
        for c in conjs:
            if len(c) != 3 or c[1] not in ("=", "==", ">=", "<=", ">", "<"):
                raise ChSqlError(
                    "ASOF ON supports conjunctions of `col = col` plus one "
                    f"`col >=|>|<=|< col`: got {' '.join(c)!r}"
                )
            (eqs if c[1] in ("=", "==") else ineqs).append(c)
        if len(eqs) != 1 or len(ineqs) != 1:
            raise ChSqlError(
                "ASOF ON needs exactly one equality and one inequality "
                f"(got {len(eqs)} and {len(ineqs)})"
            )
        (s1, c1), (s2, c2) = side_of(eqs[0][0]), side_of(eqs[0][2])
        if s1 == s2:
            raise ChSqlError("ASOF equality must relate the two sides")
        lk, rk = (c1, c2) if s1 == "L" else (c2, c1)
        (t1s, t1), iop, (t2s, t2) = side_of(ineqs[0][0]), ineqs[0][1], side_of(ineqs[0][2])
        if t1s == t2s:
            raise ChSqlError("ASOF inequality must relate the two sides")
        if t1s == "R":  # normalize to `left <op> right`
            iop, t1, t2 = _FLIP_OP[iop], t2, t1
        lt, rt = t1, t2

    from postgre_to_clickhouse_spark.operators.asof import asof_join

    dim_cols = list(right_df.columns)
    out = asof_join(
        left_df,
        right_df,
        fact_time=lt,
        dim_time=rt,
        dim_cols=dim_cols,
        on_left=lk,
        on_right=rk,
        direction="backward" if iop in (">=", ">") else "forward",
        strict=iop in (">", "<"),
    )
    if jn.jtype == "ASOF":  # CH plain ASOF JOIN is INNER
        out = out.where(F.col(rt + "_asof").isNotNull())
    rename = {f"{la}.{c}": c for c in left_df.columns}
    for c in dim_cols:
        flat = c + "_asof" if c in left_df.columns else c
        if flat != c + "_asof":
            out = out.withColumnRenamed(c + "_asof", flat)
        rename[f"{ra}.{c}"] = flat
    return out, rename


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _apply_fill(out: DataFrame, fill: _Fill) -> DataFrame:
    """CH ``WITH FILL`` semantics on an integer (or, with ``STEP
    INTERVAL``, date/timestamp) sort key: keep every result row, insert
    one row per missing grid value (FROM..TO-1 by STEP; bounds default
    to the result's min/max), filled columns carry type defaults (0 /
    '' — CH fills column defaults, not NULL) except ``INTERPOLATE``
    columns which carry the previous real row's value (LOCF), and the
    output is re-sorted on the key. One extra 1-row bounds aggregate +
    a broadcast-sized grid anti-join — the timeseries_gap_fill grid
    pattern, fine at any scale because the grid is bounded by the value
    range, not the data. The INTERPOLATE pass is one global ordered
    window over the FILLED RESULT — the same final single-stream pass
    CH itself performs on the sorted output, bounded by the grid, never
    by the corpus."""
    from pyspark.sql import functions as F

    if fill.key not in out.columns:
        raise ChSqlError(
            f"WITH FILL key {fill.key!r} must be a selected column or alias"
        )
    for g in fill.group_keys:
        if g not in out.columns:
            raise ChSqlError(
                f"WITH FILL group key {g!r} must be a selected column "
                "or alias"
            )
    gks = fill.group_keys
    dtypes = dict(out.dtypes)
    fill_keys = [lf.key for lf in fill.lead_fills] + [fill.key]
    for c in fill.interpolate:
        if c not in out.columns:
            raise ChSqlError(f"INTERPOLATE column {c!r} is not selected")
        if c in fill_keys or c in gks:
            raise ChSqlError("INTERPOLATE of a fill/group key is meaningless")
    if fill.lead_fills:
        # r13 multi-key cartesian grid — every fill key carries
        # explicit integer FROM/TO (parse-guaranteed), so the grid is
        # a LITERAL cross product attached to each group tuple:
        # grid size = Π range sizes, bounded by the declared ranges,
        # never by the data. Same anti-join + defaults + LOCF pass.
        all_fills = fill.lead_fills + [fill]
        for f2 in all_fills:
            if f2.key not in out.columns:
                raise ChSqlError(
                    f"WITH FILL key {f2.key!r} must be a selected "
                    "column or alias"
                )
            if dtypes[f2.key] not in _INT_TYPES:
                raise ChSqlError(
                    f"multi-key WITH FILL needs integer sort keys "
                    f"(got {dtypes[f2.key]} for {f2.key!r})"
                )
            if f2.to <= f2.frm:
                raise ChSqlError(
                    f"WITH FILL range for {f2.key!r} is empty (TO <= FROM)")
        if gks:
            grid = out.select(*gks).distinct()
        else:
            grid = out.sparkSession.range(1).drop("id")
        for i, f2 in enumerate(all_fills):
            grid = grid.select(
                "*",
                F.explode(
                    F.sequence(F.lit(f2.frm).cast("bigint"),
                               F.lit(f2.to - 1).cast("bigint"),
                               F.lit(f2.step).cast("bigint"))
                ).alias(f"__mf{i}"),
            )
        grid = grid.select(
            *gks,
            *[F.col(f"__mf{i}").cast(dtypes[f2.key]).alias(f2.key)
              for i, f2 in enumerate(all_fills)],
        )
        return _fill_union(out, grid, fill, dtypes)
    if fill.unit is not None:
        if dtypes[fill.key] not in ("date", "timestamp", "timestamp_ntz"):
            raise ChSqlError(
                "STEP INTERVAL needs a date/timestamp sort key "
                f"(got {dtypes[fill.key]})"
            )
        bounds = out.groupBy(*gks).agg(
            F.min(fill.key).alias("__mn"), F.max(fill.key).alias("__mx"))
        step_expr = F.expr(f"interval {fill.step} {fill.unit.lower()}")
        grid = bounds.select(
            *gks,
            F.explode(
                F.when(
                    F.col("__mn") <= F.col("__mx"),
                    F.sequence(F.col("__mn"), F.col("__mx"), step_expr),
                ).otherwise(F.array().cast(f"array<{dtypes[fill.key]}>"))
            ).alias(fill.key),
        )
        return _fill_union(out, grid, fill, dtypes)
    if dtypes[fill.key] not in _INT_TYPES:
        raise ChSqlError(
            f"WITH FILL needs an integer sort key (got {dtypes[fill.key]}) "
            "— use STEP INTERVAL for date/timestamp keys"
        )
    if fill.frm is not None and fill.to is not None and fill.to <= fill.frm:
        raise ChSqlError("WITH FILL range is empty (TO <= FROM)")
    start = (F.lit(fill.frm) if fill.frm is not None else F.min(F.col(fill.key))).cast("bigint")
    stop = (F.lit(fill.to - 1) if fill.to is not None else F.max(F.col(fill.key))).cast("bigint")
    # group keys make this a PER-GROUP grid (one bounds row per group —
    # explicit FROM/TO apply to every group, default bounds are the
    # group's own min/max, the CH within-group filling); no group keys
    # degenerate to the 1-row global bounds aggregate as before
    bounds = out.groupBy(*gks).agg(start.alias("__mn"), stop.alias("__mx"))
    grid = bounds.select(
        *gks,
        F.explode(
            # CASE guards the one-sided-bounds edge where the range is
            # empty (sequence() raises on stop < start with step > 0)
            F.when(
                F.col("__mn") <= F.col("__mx"),
                F.sequence(F.col("__mn"), F.col("__mx"), F.lit(fill.step)),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("__g"),
    ).select(*gks, F.col("__g").cast(dtypes[fill.key]).alias(fill.key))
    return _fill_union(out, grid, fill, dtypes)

def _fill_default(t: str):
    from pyspark.sql import functions as F

    if t in _INT_TYPES or t in ("float", "double") or t.startswith("decimal"):
        return F.lit(0).cast(t)
    if t == "string":
        return F.lit("")
    if t == "boolean":
        return F.lit(False)
    return F.lit(None).cast(t)


def _fill_union(out: DataFrame, grid: DataFrame, fill: _Fill,
                dtypes: dict) -> DataFrame:
    """Union the real rows with grid rows for the missing key values,
    apply LOCF to INTERPOLATE columns, re-sort on the key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # The anti-join's right side is a DISTINCT of the result's keys —
    # partial-aggregable map-side, and bounded above by the grid's own
    # cardinality within the fill range — with NO broadcast hint: AQE
    # broadcasts it when small and falls back to a shuffle join when a
    # large ungrouped result would make a forced broadcast OOM. (The
    # grid side is the provably-bounded one, but Spark's broadcast
    # anti-join requires the RIGHT side in memory.)
    jks = (fill.group_keys + [lf.key for lf in fill.lead_fills]
           + [fill.key])
    filler = grid.join(out.select(*jks).distinct(), jks, "left_anti").select(
        *[
            F.col(c) if c in jks
            else _fill_default(dtypes[c]).alias(c)
            for c in out.columns
        ]
    )
    if not fill.interpolate:
        return out.unionByName(filler).orderBy(*jks)
    u = out.withColumn("__ch_fill", F.lit(False)).unionByName(
        filler.withColumn("__ch_fill", F.lit(True))
    )
    # carry the previous REAL row's value onto FILLED rows only: real
    # rows keep their values verbatim (CH never rewrites source rows),
    # and the carried value is the last real row's value INCLUDING a
    # genuine NULL (CH's bare-column INTERPOLATE copies the previous
    # row's value, whatever it is) — hence the struct wrapper, which
    # stays non-null for real rows even when the field is NULL. A
    # leading run with no prior real row takes the type default (the
    # CH behavior). Global ordered window — see the docstring.
    # one global ordered stream over (group keys, fill key) — the CH
    # INTERPOLATE pass carries across group boundaries too (it runs
    # over the final sorted output), and the input is grid-bounded
    w = Window.orderBy(*jks).rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    for c in fill.interpolate:
        carried = F.last(
            F.when(~F.col("__ch_fill"), F.struct(F.col(c).alias("v"))),
            ignorenulls=True,
        ).over(w)
        u = u.withColumn(
            c,
            F.when(
                F.col("__ch_fill"),
                F.when(carried.isNotNull(), carried["v"])
                .otherwise(_fill_default(dtypes[c])),
            ).otherwise(F.col(c)),
        )
    return u.drop("__ch_fill").orderBy(*jks)


# -- EXPLAIN AST / EXPLAIN SYNTAX (r13) ---------------------------------
# ClickHouse's EXPLAIN AST prints its parser's node tree and EXPLAIN
# SYNTAX prints the query after syntax-level rewrites. The honest
# analogues for THIS engine: the front end's OWN parse tree (in CH's
# indented one-node-per-line layout; node labels reflect this
# grammar's structures, not CH's internal parser classes) and the
# canonical statement after the dialect's expression rewrites (the
# Spark-SQL-facing text the compiler actually emits). Both are pure
# parse-time walks — nothing executes.

def explain_ast(sql: str) -> list[str]:
    """One indented node per line, CH ``EXPLAIN AST`` shaped.
    Expression leaves show the REWRITTEN text (the tokenizer pass
    rewrites CH function spellings in place)."""
    lines: list[str] = []
    _ast_statement(_tokenize(sql), lines, 0)
    return lines


def explain_syntax(sql: str) -> list[str]:
    """The statement re-rendered canonically after the dialect's
    expression rewrites — CH ``EXPLAIN SYNTAX`` shaped (one clause
    per line)."""
    return _syntax_statement(_tokenize(sql), indent=0)


def _ast(lines: list[str], depth: int, text: str) -> None:
    lines.append(" " * depth + text)


def _ast_statement(tokens: list[str], lines: list[str], depth: int) -> None:
    if tokens and _kw(tokens[0]) == "WITH":
        ctes, scalars, tokens = _parse_with(tokens)
        _ast(lines, depth, f"WithClause (children {len(ctes) + len(scalars)})")
        for name, sel in ctes:
            _ast(lines, depth + 1, f"CommonTableExpression {name}")
            _ast_statement(sel, lines, depth + 2)
        for name, expr in scalars:
            _ast(lines, depth + 1,
                 f"ScalarAlias {name} = {_rewrite_all(expr)}")
    arms = _split_setops(tokens)
    if len(arms) > 1:
        _ast(lines, depth, f"SelectWithUnionQuery (children {len(arms)})")
        for tag, arm in arms:
            if tag is not None:
                _ast(lines, depth + 1, f"SetOperation {tag}")
            _ast_statement(arm, lines, depth + 1)
        return
    _ast_select(_parse(tokens), lines, depth)


def _ast_table_ref(ref: "_TableRef", lines: list[str], depth: int) -> None:
    if ref.subquery is not None:
        label = "Subquery" + (f" AS {ref.alias}" if ref.alias else "")
        _ast(lines, depth, label)
        _ast_statement(ref.subquery, lines, depth + 1)
        return
    if ref.table_fn is not None:
        fn, args = ref.table_fn
        _ast(lines, depth,
             f"TableFunction {fn}({', '.join(str(a) for a in args)})")
        return
    bits = [f"TableIdentifier {ref.name}"]
    if ref.alias:
        bits.append(f"AS {ref.alias}")
    if ref.final:
        bits.append("FINAL")
    if ref.sample is not None:
        bits.append(f"SAMPLE {ref.sample[0]} OFFSET {ref.sample[1]}")
    _ast(lines, depth, " ".join(bits))


def _ast_select(p: "_Parsed", lines: list[str], depth: int) -> None:
    _ast(lines, depth, "SelectQuery" + (" DISTINCT" if p.distinct else ""))
    d = depth + 1
    _ast(lines, d, f"ExpressionList (select {len(p.select)})")
    for expr, alias in p.select:
        _ast(lines, d + 1, expr + (f" AS {alias}" if alias else ""))
    _ast(lines, d, "TablesInSelectQuery")
    _ast_table_ref(p.from_ref, lines, d + 1)
    if p.array_join is not None:
        left, items = p.array_join
        _ast(lines, d + 1, ("LEFT " if left else "") + "ArrayJoin")
        for etext, alias, _simple in items:
            _ast(lines, d + 2, etext + (f" AS {alias}" if alias else ""))
    for jn in p.joins:
        label = f"TableJoin {jn.jtype}"
        if jn.any_dedup:
            label += f" (ANY, dedup side={jn.any_side})"
        _ast(lines, d + 1, label)
        _ast_table_ref(jn.ref, lines, d + 2)
        if jn.using is not None:
            _ast(lines, d + 2, f"Using ({', '.join(jn.using)})")
        elif jn.on is not None:
            _ast(lines, d + 2, f"On {jn.on}")
        elif jn.on_raw is not None:
            _ast(lines, d + 2, f"On {' '.join(jn.on_raw)}")
    if p.prewhere is not None:
        _ast(lines, d, "Prewhere")
        _ast(lines, d + 1, p.prewhere)
    if p.where is not None:
        _ast(lines, d, "Where")
        _ast(lines, d + 1, p.where)
    if p.group_by or p.group_mod:
        mod = f" WITH {p.group_mod}" if p.group_mod else ""
        _ast(lines, d, f"GroupBy{mod} (children {len(p.group_by)})")
        for g in p.group_by:
            _ast(lines, d + 1, g)
    if p.having is not None:
        _ast(lines, d, "Having")
        _ast(lines, d + 1, p.having)
    for name, spec in p.windows:
        _ast(lines, d, f"WindowDefinition {name} AS ({spec})")
    if p.order_by or p.fill is not None:
        n = len(p.order_by)
        _ast(lines, d, f"OrderBy (children {n})")
        for o in p.order_by:
            _ast(lines, d + 1, o)
        if p.fill is not None:
            for f in [*p.fill.lead_fills, p.fill]:
                # render_tail starts with " WITH FILL"; the AST node
                # label already says WithFill
                tail = f.render_tail().removeprefix(" WITH FILL")
                _ast(lines, d + 1, f"WithFill {f.key}{tail}")
            if p.fill.interpolate:
                _ast(lines, d + 1,
                     f"Interpolate ({', '.join(p.fill.interpolate)})")
    if p.limit_by is not None:
        nn, cols = p.limit_by
        _ast(lines, d, f"LimitBy {nn} BY ({', '.join(cols)})")
    if p.limit_ties is not None:
        _ast(lines, d, f"Limit {p.limit_ties} WITH TIES")
    elif p.limit is not None or p.offset:
        bits = []
        if p.limit is not None:
            bits.append(f"Limit {p.limit}")
        if p.offset:
            bits.append(f"Offset {p.offset}")
        _ast(lines, d, " ".join(bits))


def _syntax_statement(tokens: list[str], indent: int) -> list[str]:
    pad = " " * indent
    lines: list[str] = []
    if tokens and _kw(tokens[0]) == "WITH":
        ctes, scalars, tokens = _parse_with(tokens)
        items: list[str] = []
        for name, sel in ctes:
            body = _syntax_statement(sel, indent + 4)
            items.append(f"{pad}  {name} AS (\n" + "\n".join(body)
                         + f"\n{pad}  )")
        for name, expr in scalars:
            items.append(f"{pad}  {_rewrite_all(expr)} AS {name}")
        lines.append(f"{pad}WITH")
        lines.append(",\n".join(items))
    arms = _split_setops(tokens)
    if len(arms) > 1:
        for tag, arm in arms:
            if tag is not None:
                lines.append(pad + tag)
            lines.extend(_syntax_statement(arm, indent))
        return lines
    return lines + _syntax_select(_parse(tokens), indent)


def _syntax_ref(ref: "_TableRef", indent: int) -> str:
    pad = " " * indent
    if ref.subquery is not None:
        inner = "\n".join(_syntax_statement(ref.subquery, indent + 2))
        out = f"(\n{inner}\n{pad})"
    elif ref.table_fn is not None:
        fn, args = ref.table_fn
        out = f"{fn}({', '.join(str(a) for a in args)})"
    else:
        out = ref.name
    if ref.alias:
        out += f" AS {ref.alias}"
    if ref.final:
        out += " FINAL"
    if ref.sample is not None:
        out += f" SAMPLE {ref.sample[0]} OFFSET {ref.sample[1]}"
    return out


def _syntax_select(p: "_Parsed", indent: int) -> list[str]:
    pad = " " * indent
    lines = [pad + "SELECT" + (" DISTINCT" if p.distinct else "")]
    lines.append(",\n".join(
        f"{pad}  {expr}" + (f" AS {alias}" if alias else "")
        for expr, alias in p.select
    ))
    lines.append(f"{pad}FROM {_syntax_ref(p.from_ref, indent)}")
    if p.array_join is not None:
        left, items = p.array_join
        kw = "LEFT ARRAY JOIN" if left else "ARRAY JOIN"
        rendered = ", ".join(
            etext + (f" AS {alias}" if alias else "")
            for etext, alias, _simple in items
        )
        lines.append(f"{pad}{kw} {rendered}")
    for jn in p.joins:
        head = f"{pad}{jn.jtype} JOIN {_syntax_ref(jn.ref, indent)}"
        if jn.using is not None:
            head += f" USING ({', '.join(jn.using)})"
        elif jn.on is not None:
            head += f" ON {jn.on}"
        elif jn.on_raw is not None:
            head += f" ON {' '.join(jn.on_raw)}"
        lines.append(head)
    if p.prewhere is not None:
        lines.append(f"{pad}PREWHERE {p.prewhere}")
    if p.where is not None:
        lines.append(f"{pad}WHERE {p.where}")
    if p.group_by or p.group_mod:
        g = f"{pad}GROUP BY {', '.join(p.group_by)}"
        if p.group_mod:
            g += f" WITH {p.group_mod}"
        lines.append(g)
    if p.having is not None:
        lines.append(f"{pad}HAVING {p.having}")
    if p.windows:
        lines.append(f"{pad}WINDOW " + ", ".join(
            f"{name} AS ({spec})" for name, spec in p.windows))
    if p.order_by:
        # WITH FILL modifiers are part of the statement's semantics —
        # re-attach each fill key's spec so the rendering stays a
        # reparseable fixed point (the fill keys sit in p.order_by,
        # their specs in p.fill)
        fills = {f.key: f for f in
                 ([*p.fill.lead_fills, p.fill] if p.fill else [])}

        def _with_fill(o: str) -> str:
            f = fills.get(o)
            return o if f is None else o + f.render_tail()

        rendered = ", ".join(_with_fill(o) for o in p.order_by)
        if p.fill is not None and p.fill.interpolate:
            rendered += (" INTERPOLATE ("
                         + ", ".join(p.fill.interpolate) + ")")
        lines.append(f"{pad}ORDER BY {rendered}")
    if p.limit_by is not None:
        nn, cols = p.limit_by
        lines.append(f"{pad}LIMIT {nn} BY {', '.join(cols)}")
    if p.limit_ties is not None:
        lines.append(f"{pad}LIMIT {p.limit_ties} WITH TIES")
    else:
        if p.limit is not None:
            lines.append(f"{pad}LIMIT {p.limit}")
        if p.offset:
            lines.append(f"{pad}OFFSET {p.offset}")
    return lines


def collect_bounded(df: DataFrame, max_rows: int) -> list:
    """The wire endpoints' shared result guard: materialize at most
    ``max_rows`` rows (a ``limit(max+1)`` probe, never a full
    collect) or refuse loudly. One definition so the bound semantics
    cannot drift between HTTP / native / MySQL serializers."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ChSqlError(
            f"result exceeds max_result_rows={max_rows} — add a LIMIT "
            "(the endpoint materializes what it returns, like CH's own "
            "max_result_rows guard)"
        )
    return rows
