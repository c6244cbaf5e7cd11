"""ClickHouse CREATE-dialect front end (SURVEY A22; the reference's
own DDL, ``/root/reference/README.md:163-230``).

The reference provisions its pipeline with three verbatim CH DDL
statements: the final table (``CREATE TABLE shop.users ... ENGINE =
ReplacingMergeTree ORDER BY (user_id, updated_at)``), the Kafka source
table (``ENGINE = Kafka SETTINGS kafka_broker_list = ...``), and the
materialized view wiring them together. This module parses that DDL —
unchanged — into the engine's objects:

- ``CREATE DATABASE`` → a namespace (recorded; Spark databases are
  created lazily by the caller if wanted);
- ``CREATE TABLE ... ENGINE = MergeTree/ReplacingMergeTree`` → a
  :class:`ChTableSpec`: a Spark ``StructType`` (CH→Spark type map
  below), the ORDER BY sort key, and the engine's dedup semantics —
  ReplacingMergeTree collapses sort-key duplicates within each
  inserted block, the last row winning ties (A19), and an explicit
  version column (``ReplacingMergeTree(ver)``) additionally enables ``FINAL`` via
  ``cdc.latest`` (A20);
- ``CREATE TABLE ... ENGINE = Kafka SETTINGS ...`` → a source
  declaration: topic/broker/group/format captured for
  ``streaming.kafka.read_cdc_topic`` (gated here: no broker in the
  test container — the parse and the wiring are what this module
  owns);
- ``CREATE MATERIALIZED VIEW v TO target (cols) AS SELECT ...`` → the
  verbatim SELECT body compiled by :mod:`ch_select` when applied, plus
  a declared-schema conformance step (CH coerces inserted blocks to
  the target table's types; ``conform`` mirrors that cast);
  :meth:`ChDdlCatalog.kafka_sink` runs every view reading a Kafka
  table over each streamed block and inserts the results (the CDC
  ingest path of both ``streaming.pipeline`` pipelines);
- ``CREATE VIEW v AS SELECT ...`` (r14) → the ordinary View engine: a
  stored query expanded at READ time (views on views compose, cycles
  refuse loudly at read; DROP VIEW / DROP TABLE both detach it, and
  SHOW/DESCRIBE/EXISTS/system.tables answer like a CH server).

Type map (CH → Spark): UInt8→smallint, UInt16→int, UInt32/UInt64→
bigint (UInt64 values above 2^63-1 are outside the declared envelope —
refused nowhere because Kafka offsets/IDs never reach it; documented
here), Int8..Int64 → tinyint..bigint, Float32/64 → float/double,
String/FixedString(n)/UUID → string, Date→date, DateTime/DateTime64(p)
→ timestamp, Decimal(p,s) → decimal(p,s), Bool → boolean,
Enum8/Enum16(...) → string, Array(T) → array<T>, LowCardinality(T) →
T (an encoding hint, not a type), Nullable(T) → nullable T. Column
``DEFAULT expr`` clauses are supported (r11): materialized for
inserted blocks that omit the column and, after a metadata-only
``ALTER TABLE ADD COLUMN``, at read time for parts older than the
column — see :meth:`ChTableSpec.conform` / :meth:`read_conform` and
:meth:`ChDdlCatalog._alter_column`. ``MATERIALIZED expr`` (compute at
insert, stored, never user-insertable) and ``ALIAS expr`` (compute at
read, never stored) are supported since r12 on MergeTree /
ReplacingMergeTree with an explicit declared type; ``SELECT *`` shows
them (the CH ``asterisk_include_materialized_columns`` /
``asterisk_include_alias_columns`` = 1 posture, documented at
:class:`ChTableSpec`). ``COMMENT '...'`` (metadata: DESCRIBE /
system.columns), ``CODEC(...)`` (recorded verbatim and round-tripped
— a physical-layout hint with no result semantics here: parquet
encoding is this engine's storage codec, documented not silently
dropped) and column-level ``TTL col + INTERVAL n unit`` (expired
values reset to the column DEFAULT or NULL on MATERIALIZE TTL via the
zone-map-pruned update_where — the CH column-TTL contract) are
supported since r13. Unknown engines and unknown clauses refuse
loudly (`ChSqlError`) — the refuse-don't-misread convention of
ch_select.
"""

from __future__ import annotations

import os
import threading

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgre_to_clickhouse_spark.ch_select import (
    ChContext,
    ChSqlError,
    _is_ident,
    _kw,
    _rewrite_all,
    _split_commas,
    _tokenize,
    ch_select,
)

__all__ = ["ChTableSpec", "ChMvSpec", "ChDdlCatalog", "KAFKA_VIRTUAL"]

# Kafka metadata column of a decoded batch -> the Kafka engine's virtual
# column an MV over a Kafka table reads it as
KAFKA_VIRTUAL = {"kafka_offset": "_offset", "kafka_timestamp": "_timestamp",
                 "kafka_partition": "_partition"}


_SIMPLE_TYPES = {
    "UINT8": T.ShortType(),
    "UINT16": T.IntegerType(),
    "UINT32": T.LongType(),
    "UINT64": T.LongType(),
    "INT8": T.ByteType(),
    "INT16": T.ShortType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT32": T.FloatType(),
    "FLOAT64": T.DoubleType(),
    "STRING": T.StringType(),
    "UUID": T.StringType(),
    "DATE": T.DateType(),
    "DATE32": T.DateType(),
    "DATETIME": T.TimestampType(),
    "BOOL": T.BooleanType(),
    "BOOLEAN": T.BooleanType(),
}


def _render_toks(toks: list[str]) -> str:
    """Canonical text for a verbatim token run (r13: CODEC bodies) —
    round-trips through the tokenizer: no space around parens, a space
    after commas, a space between word tokens."""
    out: list[str] = []
    for t in toks:
        if t == "(":
            out.append("(")
        elif t == ")":
            out.append(")")
        elif t == ",":
            out.append(", ")
        else:
            if out and out[-1] not in ("(", ", ") and not out[-1].endswith(" "):
                out.append(" ")
            out.append(t)
    return "".join(out).strip()


def _unquote_str(tok: str) -> str:
    """A tokenizer string literal → its value (strip quotes, undo the
    ``''`` and backslash escapes the token regex admits)."""
    body = tok[1:-1]
    out, i = [], 0
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            out.append(body[i + 1])
            i += 2
        elif ch == "'" and i + 1 < len(body) and body[i + 1] == "'":
            out.append("'")
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _table_refs(sql: str) -> set[str]:
    """Bare names in TABLE-REFERENCE position — after FROM / JOIN /
    IN, plus comma continuations of a FROM list. Token-based, so a
    view's own name inside a string literal or as a SELECT alias
    (``SELECT sum(x) AS totals`` in view ``totals``) never counts as
    a reference — CH allows such views (ADVICE r14). ``ARRAY JOIN``
    operands are expressions, not tables, and are skipped. A
    parenthesized derived table in FROM position suspends the FROM
    list only until its matching ``)`` (ADVICE r15): in
    ``FROM (SELECT 1) t, myview`` the comma continuation still
    counts, so ``myview`` expands."""
    try:
        toks = _tokenize(sql)
    except ChSqlError:
        return set()
    out: set[str] = set()
    in_from = False
    depth = 0
    # depths at which an open paren interrupted an active FROM list;
    # the matching close paren restores in_from (stack: FROM-position
    # subqueries nest, e.g. FROM (SELECT x FROM (SELECT 1) u) t, v).
    restore_at: list[int] = []
    for i, t in enumerate(toks):
        up = _kw(t)
        if t == "(":
            if in_from:
                restore_at.append(depth)
            depth += 1
            in_from = False
        elif t == ")":
            depth -= 1
            if restore_at and restore_at[-1] == depth:
                restore_at.pop()
                in_from = True
            else:
                # a ')' that closes anything OTHER than a FROM-position
                # subquery (e.g. a scalar subquery in the SELECT list
                # whose inner FROM set in_from) must NOT leave in_from
                # dangling — `SELECT (SELECT max(x) FROM t) AS m, v
                # FROM base` would otherwise misread `, v` as a
                # FROM-list continuation (r16 review)
                in_from = False
        elif up in ("WHERE", "PREWHERE", "GROUP", "ORDER",
                    "LIMIT", "HAVING", "SETTINGS", "FORMAT",
                    "WINDOW", "QUALIFY", "SAMPLE", "ON",
                    "USING", "SELECT"):
            in_from = False
        elif up in ("FROM", "JOIN") or (up == "IN" and in_from is False):
            if up == "JOIN" and i and _kw(toks[i - 1]) == "ARRAY":
                continue
            nxt = toks[i + 1] if i + 1 < len(toks) else ""
            if _is_ident(nxt) and _kw(nxt) not in ("SELECT",):
                out.add(nxt.strip("`").split(".")[-1])
            in_from = up == "FROM"
        elif t == "," and in_from:
            nxt = toks[i + 1] if i + 1 < len(toks) else ""
            if _is_ident(nxt):
                out.add(nxt.strip("`").split(".")[-1])
    return out


def _split_column_clauses(
    full_item: list[str],
) -> tuple[list[str], str | None, str | None,
           tuple[str, int, str] | None]:
    """Split one column definition's tokens into (base, codec_text,
    comment, column_ttl) — the base is the ``name Type [kind expr]``
    prefix, the rest the trailing CODEC(...) / COMMENT '...' /
    TTL col + INTERVAL n unit clauses (any order, each at most once —
    CH's own grammar). Shared by the CREATE parser and ALTER ADD
    COLUMN (r13)."""
    depth = 0
    clause_at: list[tuple[int, str]] = []
    for ci, t in enumerate(full_item[1:], 1):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif (depth == 0 and _is_ident(t)
                and _kw(t) in ("CODEC", "TTL", "COMMENT")):
            clause_at.append((ci, _kw(t)))
    base = full_item[:clause_at[0][0]] if clause_at else full_item
    codec: str | None = None
    comment: str | None = None
    cttl: tuple[str, int, str] | None = None
    seen: set[str] = set()
    for ji, (start, cname) in enumerate(clause_at):
        end = (clause_at[ji + 1][0] if ji + 1 < len(clause_at)
               else len(full_item))
        seg = full_item[start + 1:end]
        if cname in seen:
            raise ChSqlError(
                f"duplicate {cname} clause on column {full_item[0]!r}")
        seen.add(cname)
        if cname == "CODEC":
            if len(seg) < 3 or seg[0] != "(" or seg[-1] != ")":
                raise ChSqlError(
                    f"CODEC needs a parenthesized codec list: "
                    f"{' '.join(full_item)!r}")
            codec = _render_toks(seg[1:-1])
        elif cname == "COMMENT":
            if (len(seg) != 1 or not seg[0].startswith("'")
                    or not seg[0].endswith("'")):
                raise ChSqlError(
                    f"COMMENT takes one quoted string: "
                    f"{' '.join(full_item)!r}")
            comment = _unquote_str(seg[0])
        else:  # column TTL
            ok = (len(seg) == 5 and _is_ident(seg[0])
                  and seg[1] == "+" and _kw(seg[2]) == "INTERVAL"
                  and seg[3].isdigit() and _is_ident(seg[4]))
            if not ok:
                raise ChSqlError(
                    f"column TTL supports `col + INTERVAL n unit`, "
                    f"got {' '.join(seg)!r}")
            unit = _kw(seg[4])
            if unit not in ("SECOND", "MINUTE", "HOUR", "DAY",
                            "WEEK", "MONTH", "YEAR"):
                raise ChSqlError(f"unsupported TTL interval unit {unit}")
            cttl = (seg[0], int(seg[3]), unit)
    return base, codec, comment, cttl


def _parse_type(toks: list[str]) -> tuple[T.DataType, bool]:
    """CH type tokens → (Spark type, nullable). Recursive for the
    wrapper types; refuses unknown types loudly."""
    if not toks:
        raise ChSqlError("empty type")
    head = toks[0]
    up = head.upper()
    if len(toks) == 1:
        if up in _SIMPLE_TYPES:
            return _SIMPLE_TYPES[up], False
        raise ChSqlError(f"unsupported ClickHouse type {head!r}")
    if toks[1] != "(" or toks[-1] != ")":
        raise ChSqlError(f"cannot parse type {' '.join(toks)!r}")
    inner = toks[2:-1]
    if up == "NULLABLE":
        t, _ = _parse_type(inner)
        return t, True
    if up == "LOWCARDINALITY":  # encoding hint, not a type
        return _parse_type(inner)
    if up == "ARRAY":
        t, n = _parse_type(inner)
        return T.ArrayType(t, containsNull=n), False
    if up == "DATETIME" or up == "DATETIME64":
        return T.TimestampType(), False  # precision collapses to µs
    if up == "FIXEDSTRING":
        return T.StringType(), False
    if up == "DECIMAL":
        parts = [p for p in inner if p != ","]
        if len(parts) != 2:
            raise ChSqlError(f"Decimal needs (p, s): {inner}")
        return T.DecimalType(int(parts[0]), int(parts[1])), False
    if up in ("ENUM8", "ENUM16"):
        return T.StringType(), False
    if up == "AGGREGATEFUNCTION":
        # AggregateFunction(fn[, T...]) — the AggregatingMergeTree
        # state column (r11). The Spark-side state types are the
        # ch_select -State algebra's: count -> bigint, sum ->
        # decimal(30,6) (exact, closed under merge), avg -> (sum,
        # count) struct, min/max -> T itself, uniq -> binary (HLL
        # sketch). Other functions refuse.
        parts = [p for p in inner if p != ","]
        if not parts:
            raise ChSqlError("AggregateFunction needs a function name")
        fn = parts[0].lower()
        if fn == "count":
            return T.LongType(), False
        if fn == "sum":
            return T.DecimalType(30, 6), False
        if fn == "avg":
            return T.StructType([
                T.StructField("s", T.DecimalType(30, 6), True),
                T.StructField("c", T.LongType(), True),
            ]), False
        if fn in ("min", "max"):
            if len(parts) < 2:
                raise ChSqlError(f"AggregateFunction({fn}) needs a type")
            return _parse_type(parts[1:])
        if fn == "uniq":
            return T.BinaryType(), False
        if fn == "uniqexact":
            # the exact distinct set itself (CH's state is a hash set
            # — both O(distinct) per group); stored as array<T>
            if len(parts) < 2:
                raise ChSqlError("AggregateFunction(uniqExact) needs a type")
            t, _n = _parse_type(parts[1:])
            return T.ArrayType(t, containsNull=False), False
        if fn in ("quantile", "quantileexact"):
            # r12: the exact-weighted value histogram ch_select's
            # quantileState emits — sorted array<struct<v, w>>. An
            # optional (level) parameter in the type is finalize-time
            # only (quantileMerge(q)) and does not change the state.
            return T.ArrayType(T.StructType([
                T.StructField("v", T.DoubleType(), True),
                T.StructField("w", T.LongType(), False),
            ]), containsNull=False), False
        if fn == "topk":
            # r12: the SpaceSaving-style capped summary ch_select's
            # topKState(k) emits — struct<tk: array<struct<item, ub>>,
            # d: bigint>. The capacity parameter lives in agg_fns (it
            # drives the OPTIMIZE FINAL re-cap), not the Spark type.
            return T.StructType([
                T.StructField("tk", T.ArrayType(T.StructType([
                    T.StructField("item", T.StringType(), False),
                    T.StructField("ub", T.LongType(), False),
                ]), containsNull=False), False),
                T.StructField("d", T.LongType(), True),
            ]), False
        raise ChSqlError(
            f"AggregateFunction({fn}) is outside the subset — "
            "count/sum/avg/min/max/uniq/uniqExact/quantile/topK map to "
            "ch_select's -State algebra"
        )
    raise ChSqlError(f"unsupported ClickHouse type {head}(...)")


def _estimate_literal(tok: str):
    """One probe literal: number, 'string', toDateTime('ts') or
    toDate('d'). Returns None when the token is not index-probeable."""
    import datetime as _dt

    tok = tok.strip()
    m = re.fullmatch(r"(?is)toDateTime\(\s*'([^']*)'\s*\)", tok)
    if m:
        try:
            return _dt.datetime.fromisoformat(m.group(1))
        except ValueError:
            return None
    m = re.fullmatch(r"(?is)toDate\(\s*'([^']*)'\s*\)", tok)
    if m:
        try:
            return _dt.date.fromisoformat(m.group(1))
        except ValueError:
            return None
    if re.fullmatch(r"'(?:[^']|'')*'", tok):
        return tok[1:-1].replace("''", "'")
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    if re.fullmatch(r"-?\d+\.\d+", tok):
        return float(tok)
    return None


def _estimate_probes(text: str):
    """Index probes for EXPLAIN ESTIMATE: from the WHERE/PREWHERE part
    of a single-table SELECT, extract the top-level AND-ed conjuncts
    the skip indexes can use — ``col <op> literal`` (either side),
    BETWEEN, = and IN over literals. Returns (where_probes,
    equals_probes) in the ManifestTable.files_for shapes. Conjuncts
    that do not match contribute nothing (the estimate stays
    conservative — CH's own ESTIMATE behavior for non-index
    predicates). Strict < / > probe as their inclusive forms: an
    estimate may overcount a boundary granule, never undercount. A
    statement carrying any subquery contributes NO probes at all —
    a subquery's own WHERE must not prune the outer table's files
    (overcounting is allowed, undercounting is not)."""
    if re.search(r"(?is)\(\s*SELECT\b", text):
        return [], []
    m = re.search(
        r"(?is)\b(?:PREWHERE|WHERE)\b(.*?)(?:\b(?:GROUP|ORDER|LIMIT|"
        r"SETTINGS|FORMAT|WHERE)\b|$)", text)
    if not m:
        return [], []
    body = m.group(1)
    # split on top-level AND (outside parens/quotes)
    parts, depth, cur, i = [], 0, "", 0
    up = body.upper()
    while i < len(body):
        c = body[i]
        if c == "'":
            j = i + 1
            while j < len(body):
                if body[j] == "'" and body[j:j + 2] != "''":
                    break
                j += 2 if body[j] == "'" else 1
            cur += body[i:j + 1]
            i = j + 1
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        if depth == 0 and up[i:i + 5] == " AND ":
            # a BETWEEN's own AND is part of its conjunct: cur holds
            # no other AND (we split at every one), so one unconsumed
            # BETWEEN word means this AND belongs to it
            n_btw = len(re.findall(r"(?i)\bBETWEEN\b", cur))
            n_and = len(re.findall(r"(?i)\bAND\b", cur))
            if n_btw > n_and:
                cur += " AND "
                i += 5
                continue
            parts.append(cur)
            cur = ""
            i += 5
            continue
        cur += c
        i += 1
    parts.append(cur)
    lit = r"(?:toDateTime\(\s*'[^']*'\s*\)|toDate\(\s*'[^']*'\s*\)|'(?:[^']|'')*'|-?\d+(?:\.\d+)?)"
    where, equals = [], []
    for p in parts:
        p = p.strip()
        m = re.fullmatch(
            rf"(?is)(\w+)\s*(=|==|<=|>=|<|>)\s*({lit})", p)
        rev = re.fullmatch(
            rf"(?is)({lit})\s*(=|==|<=|>=|<|>)\s*(\w+)", p)
        btw = re.fullmatch(
            rf"(?is)(\w+)\s+BETWEEN\s+({lit})\s+AND\s+({lit})", p)
        inm = re.fullmatch(
            rf"(?is)(\w+)\s+IN\s*\(\s*({lit}(?:\s*,\s*{lit})*)\s*\)", p)
        if btw:
            lo = _estimate_literal(btw.group(2))
            hi = _estimate_literal(btw.group(3))
            if lo is not None and hi is not None:
                where.append((btw.group(1), lo, hi))
            continue
        if inm:
            vals = [_estimate_literal(v) for v in
                    re.findall(lit, inm.group(2), re.I | re.S)]
            if vals and all(v is not None for v in vals):
                where.append((inm.group(1), min(vals), max(vals)))
            continue
        col = op = v = None
        if m:
            col, op, v = m.group(1), m.group(2), _estimate_literal(m.group(3))
        elif rev:
            v = _estimate_literal(rev.group(1))
            # mirror the operator around the literal-first form
            op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(
                rev.group(2), rev.group(2))
            col = rev.group(3)
        if col is None or v is None:
            continue
        if op in ("=", "=="):
            where.append((col, v, v))
            equals.append((col, v))
        elif op in ("<", "<="):
            where.append((col, None, v))
        elif op in (">", ">="):
            where.append((col, v, None))
    return where, equals


class ChTableSpec:
    """A parsed ``CREATE TABLE``: schema + engine semantics."""

    def __init__(self, db: str | None, name: str, schema: T.StructType,
                 engine: str, engine_args: list[str],
                 order_by: list[str], settings: dict[str, str],
                 defaults: dict[str, str] | None = None,
                 agg_fns: dict[str, str] | None = None,
                 materialized: dict[str, str] | None = None,
                 aliases: dict[str, str] | None = None):
        self.db = db
        self.name = name
        self.schema = schema
        self.engine = engine
        self.engine_args = engine_args
        self.order_by = order_by
        self.settings = settings
        # column -> CH DEFAULT expression text (r11); evaluated against
        # the inserted block (CH defaults may reference other columns)
        # or, for parts written before the column existed, at read time
        self.defaults = dict(defaults or {})
        # r12 (VERDICT r11 #4): the other two CH column-expression
        # classes. MATERIALIZED = compute-at-insert (stored physically,
        # never insertable by the user); ALIAS = compute-at-read (never
        # stored — the read path appends it). Star posture, documented:
        # this engine behaves as CH with
        # asterisk_include_materialized_columns = 1 and
        # asterisk_include_alias_columns = 1 (CH's own settings) —
        # SELECT * shows every declared column.
        self.materialized = dict(materialized or {})
        self.aliases = dict(aliases or {})
        # new name -> prior physical names, newest first (r12 RENAME
        # COLUMN) — read_conform resolves a missing declared column
        # through this chain before falling back to DEFAULT/zero
        self.renames: dict[str, list[str]] = {}
        # the CREATE's SAMPLE BY column (r12) — feeds
        # ChContext.sample_keys so verbatim `SAMPLE f` works
        self.sample_by: str | None = None
        # r13 (VERDICT r12 #4): the remaining CH column clauses.
        # CODEC is a physical-layout hint with NO result semantics in
        # this engine (parquet encoding is its own storage codec) —
        # parsed and recorded as explicit metadata so SHOW CREATE
        # round-trips it and system.columns surfaces it, never acted
        # on. COMMENT is pure metadata (DESCRIBE / system.columns).
        # column_ttl maps col -> (ttl_col, n, unit): on MATERIALIZE
        # TTL, expired values reset to the column DEFAULT (or NULL) —
        # the CH column-TTL contract — via the manifest's zone-map-
        # pruned update_where.
        self.codecs: dict[str, str] = {}
        self.comments: dict[str, str] = {}
        self.column_ttl: dict[str, tuple[str, int, str]] = {}
        # column -> aggregate-state fn for AggregateFunction columns
        # (AggregatingMergeTree): count/sum/avg/min/max/uniq — drives
        # the OPTIMIZE FINAL state fold
        self.agg_fns = dict(agg_fns or {})
        # flips True on ALTER ADD/DROP COLUMN — evolved tables pay the
        # per-file schema-group read path, un-evolved ones never do
        self.evolved = False
        # (col, n, unit) recorded by ALTER ... MODIFY TTL (r11)
        self.ttl: tuple[str, int, str] | None = None
        # declared columns under the CREATE's PARTITION BY expression
        # (r11) — they join the storage zone-map stats columns
        self.partition_src: list[str] = []

    @property
    def is_kafka_source(self) -> bool:
        return self.engine.upper() == "KAFKA"

    def _render_type(self, f: T.StructField) -> str:
        """Spark type -> CH type text for SHOW CREATE TABLE. The map
        is the INVERSE of _parse_type over this engine's output range
        (signed Spark types render as the signed CH types — a UInt32
        declaration widened to bigint renders Int64; the declared
        envelope is documented at the type map)."""
        def base(t: T.DataType) -> str:
            if isinstance(t, T.ArrayType):
                inner = base(t.elementType)
                if t.containsNull:
                    inner = f"Nullable({inner})"
                return f"Array({inner})"
            if isinstance(t, T.DecimalType):
                return f"Decimal({t.precision}, {t.scale})"
            m = {
                T.ByteType(): "Int8", T.ShortType(): "Int16",
                T.IntegerType(): "Int32", T.LongType(): "Int64",
                T.FloatType(): "Float32", T.DoubleType(): "Float64",
                T.StringType(): "String", T.DateType(): "Date",
                T.TimestampType(): "DateTime", T.BooleanType(): "Bool",
            }
            if t in m:
                return m[t]
            raise ChSqlError(f"cannot render type {t} for {f.name!r}")

        if f.name in self.agg_fns:
            fn = self.agg_fns[f.name]
            if fn == "count":
                return "AggregateFunction(count)"
            if fn in ("sum", "avg"):
                return f"AggregateFunction({fn}, Float64)"
            if fn == "uniq":
                return "AggregateFunction(uniq, UInt64)"
            if fn == "uniqexact":
                return ("AggregateFunction(uniqExact, "
                        f"{base(f.dataType.elementType)})")
            head, _, params = fn.partition("(")
            if head in ("quantile", "quantileexact"):
                nm = "quantileExact" if head == "quantileexact" else "quantile"
                p = f"({params}" if params else ""
                return f"AggregateFunction({nm}{p}, Float64)"
            if head == "topk":
                p = f"({params}" if params else ""
                return f"AggregateFunction(topK{p}, String)"
            return f"AggregateFunction({fn}, {base(f.dataType)})"
        out = base(f.dataType)
        if f.nullable:
            out = f"Nullable({out})"
        return out

    def show_create(self) -> str:
        """``SHOW CREATE TABLE`` text — round-trips through the
        parser (tested): the canonical rendering of what this catalog
        understood, which is the honest answer (not the user's exact
        input bytes, which CH does not return either)."""
        cols = []
        for f in self.schema.fields:
            line = f"    {f.name} {self._render_type(f)}"
            if f.name in self.defaults:
                line += f" DEFAULT {self.defaults[f.name]}"
            elif f.name in self.materialized:
                line += f" MATERIALIZED {self.materialized[f.name]}"
            elif f.name in self.aliases:
                line += f" ALIAS {self.aliases[f.name]}"
            # r13: CH's own SHOW CREATE clause order — COMMENT, CODEC,
            # TTL after the default-kind clause
            if f.name in self.comments:
                esc = self.comments[f.name].replace("\\", "\\\\") \
                    .replace("'", "\\'")
                line += f" COMMENT '{esc}'"
            if f.name in self.codecs:
                line += f" CODEC({self.codecs[f.name]})"
            if f.name in self.column_ttl:
                c, n, u = self.column_ttl[f.name]
                line += f" TTL {c} + INTERVAL {n} {u}"
            cols.append(line)
        eng = self.engine
        if self.engine_args:
            eng += f"({', '.join(self.engine_args)})"
        parts = [
            f"CREATE TABLE {self.db + '.' if self.db else ''}{self.name}",
            "(",
            ",\n".join(cols),
            ")",
            f"ENGINE = {eng}",
        ]
        if self.order_by:
            parts.append(f"ORDER BY ({', '.join(self.order_by)})")
        if self.sample_by is not None:
            parts.append(f"SAMPLE BY {self.sample_by}")
        if self.ttl is not None:
            c, n, u = self.ttl
            parts.append(f"TTL {c} + INTERVAL {n} {u}")
        if self.settings:
            kv = ", ".join(
                f"{k} = '{v}'" for k, v in self.settings.items())
            parts.append(f"SETTINGS {kv}")
        return "\n".join(parts)

    @property
    def dedup_key(self) -> tuple[str, ...]:
        """ReplacingMergeTree collapses rows with an identical ORDER BY
        tuple (A19)."""
        if self.engine.upper() != "REPLACINGMERGETREE":
            raise ChSqlError(f"{self.engine} has no dedup semantics")
        return tuple(self.order_by)

    @property
    def final_spec(self) -> tuple[tuple[str, ...], tuple[str, ...]] | None:
        """(entity_key, version_cols) for ``FINAL`` / ``cdc.latest`` —
        only when the RMT declares an explicit version column
        (``ReplacingMergeTree(ver)``); without one, CH keeps the last
        INSERTED row among sort-key duplicates (arrival order, not a
        data column), which is not a deterministic latest-wins view.

        CH dedups on the FULL sorting key: with
        ``ReplacingMergeTree(ver) ORDER BY (k, ver)`` rows differing
        in ``ver`` have DISTINCT sort keys, so FINAL keeps them all
        and the version argument is effectively a no-op. When the
        version column appears in ORDER BY, the entity key is
        therefore the full ORDER BY tuple (FINAL collapses only exact
        sort-key duplicates) — NOT the tuple minus ``ver``, which
        would silently collapse to one row per ``k``."""
        if self.engine.upper() != "REPLACINGMERGETREE" or not self.engine_args:
            return None
        ver = self.engine_args[0]
        return tuple(self.order_by), (ver,)

    def conform(self, df: DataFrame) -> DataFrame:
        """Coerce a block to the declared schema — the cast CH applies
        when the MV inserts into the target table. Column matching is
        BY NAME (the MV SELECT aliases establish them); a missing
        column with a declared ``DEFAULT`` is materialized from the
        block (CH defaults may reference the block's other columns);
        a ``MATERIALIZED`` column is ALWAYS computed from the block
        (CH refuses explicit inserts into it — so does this); an
        ``ALIAS`` column is never stored and never insertable;
        missing-without-default or extra columns refuse loudly."""
        have = set(df.columns)
        banned = (set(self.materialized) | set(self.aliases)) & have
        if banned:
            raise ChSqlError(
                f"cannot INSERT into MATERIALIZED/ALIAS column(s) "
                f"{sorted(banned)} — CH computes them (ALIAS at read, "
                "MATERIALIZED at insert)"
            )
        want = [f.name for f in self.schema.fields
                if f.name not in self.aliases]
        fillable = {
            c for c in set(want) - have
            if c in self.defaults or c in self.materialized
        }
        if have | fillable != set(want):
            raise ChSqlError(
                f"block columns {sorted(have)} != declared {sorted(want)}"
            )
        exprs = self.defaults | self.materialized
        return df.select(
            *[
                (F.expr(exprs[f.name]) if f.name in fillable
                 else F.col(f.name)).cast(f.dataType).alias(f.name)
                for f in self.schema.fields
                if f.name not in self.aliases
            ]
        )

    def _ch_type_default(self, f: T.StructField):
        """CH's zero-default for a column with no DEFAULT clause:
        Nullable -> NULL, numerics -> 0, String -> '', Bool -> false,
        Date/DateTime -> epoch, Array -> [] (the defaults CH fills
        when a part predates the column)."""
        if f.nullable:
            return F.lit(None).cast(f.dataType)
        t = f.dataType
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType, T.DecimalType)):
            return F.lit(0).cast(t)
        if isinstance(t, T.StringType):
            return F.lit("")
        if isinstance(t, T.BooleanType):
            return F.lit(False)
        if isinstance(t, (T.DateType, T.TimestampType)):
            return F.lit("1970-01-01 00:00:00").cast(t)
        if isinstance(t, T.ArrayType):
            return F.array().cast(t)
        return F.lit(None).cast(t)

    def read_conform(self, df: DataFrame) -> DataFrame:
        """Project a stored part group onto the CURRENT declared
        schema — the read-side half of CH's metadata-only ALTER: an
        ``ALIAS`` column ALWAYS computes its expression (it is never
        stored), a declared column absent from the part materializes
        its DEFAULT / MATERIALIZED expression (or the CH type
        default), a column dropped from the schema is projected away,
        everything casts to the declared type."""
        have = set(df.columns)
        exprs = self.defaults | self.materialized

        def _resolve(f: T.StructField):
            if f.name in self.aliases:
                return F.expr(self.aliases[f.name])
            if f.name in have:
                return F.col(f.name)
            # RENAME chain (r12): a part older than the rename carries
            # a prior physical name — newest prior present wins
            for prior in self.renames.get(f.name, ()):
                if prior in have:
                    return F.col(prior)
            if f.name in exprs:
                return F.expr(exprs[f.name])
            return self._ch_type_default(f)

        return df.select(
            *[
                _resolve(f).cast(f.dataType).alias(f.name)
                for f in self.schema.fields
            ]
        )


class ChMvSpec:
    """A parsed ``CREATE MATERIALIZED VIEW``: target + verbatim SELECT."""

    def __init__(self, db: str | None, name: str, target: str,
                 declared_cols: list[str] | None, select_sql: str):
        self.db = db
        self.name = name
        self.target = target
        self.declared_cols = declared_cols
        self.select_sql = select_sql


class ChDdlCatalog:
    """Accumulates parsed CH DDL; applies MVs over supplied sources.

    Usage::

        cat = ChDdlCatalog()
        cat.execute(CREATE_DATABASE_SQL)
        cat.execute(CREATE_TABLE_SQL)       # final table / Kafka source
        cat.execute(CREATE_MV_SQL)          # verbatim AS SELECT body
        out = cat.apply_mv(spark, "consumer__users",
                           sources={"kafka__users": decoded_frames})
        # `out` is conformed to the target table's declared schema and
        # works for batch AND streaming frames (the compiled plan is
        # declarative) — see tests/test_ch_ddl.py.
    """

    def __init__(self, storage_root: str | None = None,
                 n_buckets: int = 4) -> None:
        self.databases: list[str] = []
        self.tables: dict[str, ChTableSpec] = {}
        self.mvs: dict[str, ChMvSpec] = {}
        # r14: plain CREATE VIEW — name -> verbatim SELECT text,
        # expanded at read time (CH's ordinary View engine)
        self.views: dict[str, str] = {}
        # storage-backed statements: when a storage_root is given,
        # each declared MergeTree-family table lazily gets a
        # ManifestTable under <root>/<name>, and the catalog also takes
        # the CH ALTER dialect (mutations + projection DDL, parsed by
        # _alter), so a user's full provisioning script (CREATE +
        # ALTER + SELECT) runs through ONE object.
        self.storage_root = storage_root
        self.n_buckets = n_buckets
        self.storage: dict[str, object] = {}
        self._insert_seq: dict[str, int] = {}
        # wire endpoints serve one thread per connection, and each
        # connection runs on its own Spark session (ch_http's wire
        # core: spark.newSession() seeded with the server's SQL
        # confs), so a write's session conf flips (session.micro_shape)
        # never reach another connection's plans; catalog methods take
        # the session to run on as their `spark` argument. Batch-id
        # allocation takes a lock so concurrent wire INSERTs get
        # distinct `sql{seq}` ids in their commit notes; the ids decide
        # no row (insert breaks RMT ties inside one block). Concurrent
        # COMMITS are safe: the manifest protocol lets exactly one writer create
        # each version, INSERT and TRUNCATE retry on the new snapshot,
        # and rewrites (OPTIMIZE FINAL, mutations, projection DDL) raise
        # CommitConflict with nothing committed. Concurrent DDL against
        # the same table (e.g. ALTER ADD COLUMN racing an INSERT's
        # spec.schema read) is NOT synchronized — the wire contract is
        # one DDL author at a time, matching single-writer provisioning
        self._seq_lock = threading.Lock()

    def _next_seq(self, name: str) -> int:
        with self._seq_lock:
            seq = self._insert_seq.get(name, 0)
            self._insert_seq[name] = seq + 1
            return seq

    def _database_names(self) -> list[str]:
        """Declared database namespaces plus the two every CH server
        exposes (one definition — SHOW DATABASES and system.databases
        must never diverge)."""
        return sorted({t.db for t in self.tables.values() if t.db}
                      | set(self.databases) | {"default", "system"})

    # -- parsing -----------------------------------------------------
    def execute(self, sql: str, spark: SparkSession | None = None) -> object:
        for stmt in _split_statements(sql):
            obj = self._one(stmt, spark)
        return obj

    def _one(self, tokens: list[str], spark: SparkSession | None = None):
        head = _kw(tokens[0]) if tokens else ""
        if head == "ALTER":
            return self._alter(tokens, spark)
        if head == "INSERT":
            return self._insert_stmt(tokens, self._need_spark(spark, "INSERT"))
        if head == "TRUNCATE":
            return self._truncate(tokens, self._need_spark(spark, "TRUNCATE"))
        if head == "DROP":
            return self._drop(tokens)
        if head == "OPTIMIZE":
            return self._optimize_stmt(
                tokens, self._need_spark(spark, "OPTIMIZE"))
        if head in ("SHOW", "DESCRIBE", "DESC", "EXISTS"):
            return self._introspect(tokens, self._need_spark(spark, head))
        if head == "EXPLAIN":
            return self._explain(tokens, self._need_spark(spark, "EXPLAIN"))
        if head == "RENAME":
            return self._rename_table(tokens)
        if head != "CREATE":
            raise ChSqlError(
                "only CREATE / ALTER TABLE / INSERT / TRUNCATE / "
                "DROP TABLE / OPTIMIZE / RENAME TABLE / EXPLAIN "
                "statements are supported here"
            )
        kind = _kw(tokens[1]) if len(tokens) > 1 else ""
        if kind == "DATABASE":
            name = _strip_if_not_exists(tokens[2:])
            if len(name) != 1 or not _is_ident(name[0]):
                raise ChSqlError(f"CREATE DATABASE name?: {name}")
            self.databases.append(name[0])
            return name[0]
        if kind == "TABLE":
            # r13: CREATE TABLE ... AS SELECT (CTAS). A depth-0 `AS`
            # followed by SELECT/WITH splits the statement: everything
            # before parses as the DDL, the tail compiles through the
            # dialect front end and lands as the first part. Without a
            # column list the schema is INFERRED from the SELECT (the
            # CH behavior); with one, the SELECT binds by POSITION to
            # the user-insertable columns (CH's INSERT SELECT rule).
            depth, as_at = 0, None
            for i, t in enumerate(tokens):
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif (depth == 0 and _is_ident(t) and _kw(t) == "AS"
                        and i + 1 < len(tokens)
                        and _kw(tokens[i + 1]) in ("SELECT", "WITH")):
                    as_at = i
                    break
            if as_at is not None:
                return self._create_table_as(
                    tokens[:as_at], tokens[as_at + 1:],
                    self._need_spark(spark, "CREATE TABLE ... AS SELECT"))
            spec = _parse_create_table(tokens)
            self.tables[spec.name] = spec
            return spec
        if kind == "MATERIALIZED" and len(tokens) > 2 and _kw(tokens[2]) == "VIEW":
            mv = _parse_create_mv(tokens)
            self.mvs[mv.name] = mv
            return mv
        if kind == "VIEW":
            return self._create_view(tokens)
        raise ChSqlError(f"unsupported CREATE {kind}")

    def _create_view(self, tokens: list[str]) -> str:
        """CH plain ``CREATE VIEW [IF NOT EXISTS] v AS SELECT ...``
        (r14): the ordinary View engine — a stored query EXPANDED at
        read time (nothing materializes; each read recompiles against
        the tables' current contents, CH's own semantics). Views may
        reference other views; cycles refuse at read time."""
        rest = _strip_if_not_exists(tokens[2:])
        had_if_not_exists = len(rest) != len(tokens[2:])
        if not rest or not _is_ident(rest[0]):
            raise ChSqlError("CREATE VIEW needs a name")
        name = rest[0].rsplit(".", 1)[-1]
        if name in self.tables or name in self.views:
            if had_if_not_exists:
                return name  # CH: silent no-op
            raise ChSqlError(
                f"CREATE VIEW: name {name!r} already exists — DROP it "
                "first, or use IF NOT EXISTS for the no-op"
            )
        if len(rest) < 3 or _kw(rest[1]) != "AS" \
                or _kw(rest[2]) not in ("SELECT", "WITH"):
            raise ChSqlError("CREATE VIEW takes `name AS SELECT ...`")
        self.views[name] = _render_toks(rest[2:])
        return name

    def _create_table_as(self, ddl: list[str], sel: list[str],
                         spark: SparkSession):
        """CTAS (r13): compile the SELECT against the catalog's stored
        tables, declare the table (explicit columns, or the inferred
        schema mapped back to CH types — the same inverse map SHOW
        CREATE uses), and land the result as the first part. One
        SELECT job; the ingest is the ordinary O(batch) part write."""
        stripped = _strip_if_not_exists(ddl[2:])
        had_if_not_exists = len(stripped) != len(ddl[2:])
        rest = stripped
        if not rest or not _is_ident(rest[0]):
            raise ChSqlError("CREATE TABLE needs a name")
        ctas_name = rest[0].rsplit(".", 1)[-1]
        if ctas_name in self.tables:
            if had_if_not_exists:
                # CH: CREATE TABLE IF NOT EXISTS ... AS SELECT over an
                # existing table is a silent no-op — and the SELECT
                # never runs (review fix)
                return self.tables[ctas_name]
            # without this refusal, a FAILED CTAS's rollback would pop
            # the PRE-EXISTING table of the same name (CH refuses
            # CREATE over an existing name too)
            raise ChSqlError(
                f"CREATE ... AS SELECT: table {ctas_name!r} already "
                "exists — DROP it first, or use IF NOT EXISTS for the "
                "no-op"
            )
        df = self.query(spark, " ".join(sel))
        if rest[1:] and rest[1] == "(":
            spec = _parse_create_table(ddl)
            insertable = [
                f.name for f in spec.schema.fields
                if f.name not in spec.materialized
                and f.name not in spec.aliases
            ]
            if len(df.columns) != len(insertable):
                raise ChSqlError(
                    f"CREATE ... AS SELECT produces {len(df.columns)} "
                    f"columns, expected {len(insertable)} "
                    f"({insertable})"
                )
            df = df.toDF(*insertable)  # positional, like INSERT SELECT
        else:
            # infer the declared columns from the SELECT result — CH's
            # own CTAS behavior. Render each Spark result type back to
            # CH text and re-parse, so the spec is EXACTLY what a user
            # declaring the same table would get (round-trips SHOW
            # CREATE by construction).
            from postgre_to_clickhouse_spark.ch_select import _tokenize

            # review fix: Spark auto-names computed columns
            # ('(a + 1)'), which are not identifiers, and duplicate
            # output names would declare a duplicate-column table —
            # refuse BOTH with a CTAS-specific message
            bad_names = [f.name for f in df.schema.fields
                         if not _is_ident(f.name)]
            if bad_names:
                raise ChSqlError(
                    f"CREATE ... AS SELECT: result column(s) "
                    f"{bad_names} are auto-generated expression names "
                    "— alias each computed column (AS name)"
                )
            dupes = sorted({n for n in df.columns
                            if df.columns.count(n) > 1})
            if dupes:
                raise ChSqlError(
                    f"CREATE ... AS SELECT: duplicate result column(s) "
                    f"{dupes} — alias them apart"
                )
            probe = ChTableSpec(None, "__probe", df.schema, "MergeTree",
                                [], [], {})
            coldefs: list[str] = []
            for f in df.schema.fields:
                coldefs.extend(
                    [f.name] + _tokenize(probe._render_type(f)) + [","])
            if not coldefs:
                raise ChSqlError("CREATE ... AS SELECT of zero columns")
            synth = (ddl[:ddl.index(rest[0]) + 1] + ["("]
                     + coldefs[:-1] + [")"]
                     + ddl[ddl.index(rest[0]) + 1:])
            spec = _parse_create_table(synth)
        declared = {f.name for f in spec.schema.fields}
        missing = [c for c in spec.order_by if c not in declared]
        if missing:
            raise ChSqlError(
                f"CREATE ... AS SELECT: ORDER BY column(s) {missing} "
                "are not in the SELECT's output"
            )
        if spec.is_kafka_source:
            raise ChSqlError("CREATE ... AS SELECT into ENGINE = Kafka?")
        # register LAST and roll back if the initial insert fails — a
        # failed CTAS must not leave the table declared (CH's own
        # contract; review fix: the spec used to register before the
        # Kafka refusal and before the insert)
        self.tables[spec.name] = spec
        try:
            self.insert(spark, spec.name, df, batch_id="ctas")
        except Exception:
            self.tables.pop(spec.name, None)
            self.storage.pop(spec.name, None)
            raise
        return spec

    def _alter(self, tokens: list[str], spark: SparkSession | None):
        """Route a ClickHouse ``ALTER TABLE`` statement. Column and TTL
        clauses change the declared spec; the mutation and projection
        clauses (the reference's terminal surface, README.md:163-230,
        CH 24.3) parse here on the statement's own tokens and run on
        the table's storage handle:

        - ``UPDATE c = e[, ...] WHERE p`` and ``DELETE WHERE p``: every
          ``e`` and ``p`` compiles through the dialect's expression
          rewriter (the one SELECT WHERE, VALUES and DEFAULT use), so a
          CH function works in a mutation as it does in a SELECT. Key
          columns (ORDER BY and PARTITION BY sources) cannot be
          updated, as in CH;
        - ``ADD PROJECTION p (SELECT ... ORDER BY c)`` (sort layout) or
          ``ADD PROJECTION p (SELECT k[, ...], agg(x) [AS out][, ...]
          GROUP BY k[, ...])`` with agg one of sum/count/min/max
          (aggregate layout);
        - ``DROP PROJECTION p``.

        Undeclared tables, Kafka-engine tables, a missing SparkSession
        and every other clause refuse with :class:`ChSqlError`, as do
        the store's own refusals (a duplicate projection, ...)."""
        if len(tokens) < 4 or _kw(tokens[1]) != "TABLE":
            raise ChSqlError(
                f"unsupported ALTER statement: {' '.join(tokens[:4])} ..."
            )
        name = tokens[2].rsplit(".", 1)[-1]
        if name not in self.tables:
            raise ChSqlError(
                f"ALTER TABLE references undeclared table {name!r} — "
                "CREATE it in this catalog first"
            )
        body = tokens[3:]
        kw2 = (_kw(body[0]), _kw(body[1])) if len(body) > 1 else ("", "")
        if kw2 in (("ADD", "COLUMN"), ("DROP", "COLUMN")):
            return self._alter_column(name, kw2[0], body[2:])
        if kw2 == ("RENAME", "COLUMN"):
            return self._rename_column(name, body[2:])
        if kw2 == ("MODIFY", "COLUMN"):
            return self._modify_column(name, body[2:])
        if kw2 == ("MODIFY", "TTL"):
            return self._modify_ttl(name, body[2:])
        if kw2 == ("MATERIALIZE", "TTL"):
            return self.materialize_ttl(
                self._need_spark(spark, "MATERIALIZE TTL"), name)
        if spark is None:
            raise ChSqlError(
                "ALTER TABLE mutations run Spark jobs: call "
                "execute(sql, spark=spark)"
            )
        if self.tables[name].renames:
            # mutations rewrite part files IN their physical column
            # names; parts older than a RENAME still carry the old
            # name and a silent mixed-name rewrite would corrupt the
            # table — refuse rather than misread (the read path is
            # unaffected: read_conform resolves the rename chain)
            raise ChSqlError(
                f"ALTER mutations on {name!r} after RENAME COLUMN are "
                "outside the subset — old parts keep the prior physical "
                "name; re-ingest (INSERT ... SELECT into a fresh table) "
                "or, on a ReplacingMergeTree, OPTIMIZE TABLE ... FINAL "
                "to rewrite parts onto the current names first"
            )
        t = self.storage_for(name)
        try:
            if kw2[0] == "UPDATE":
                return self._update(self.tables[name], t, body[1:], spark)
            if kw2 == ("DELETE", "WHERE"):
                return t.delete_where(spark, _predicate(body[2:], "DELETE"))
            if kw2 == ("ADD", "PROJECTION") and len(body) > 2:
                return self._add_projection(t, body[2], body[3:], spark)
            if kw2 == ("DROP", "PROJECTION") and len(body) == 3:
                return t.drop_projection(body[2])
        except ChSqlError:
            raise
        except ValueError as e:  # the store's refusals answer as CH errors
            raise ChSqlError(str(e)) from None
        raise ChSqlError(
            f"unsupported ALTER TABLE clause: {_render_toks(body)!r}")

    @staticmethod
    def _update(spec: ChTableSpec, t, toks: list[str],
                spark: SparkSession) -> int:
        """``ALTER TABLE t UPDATE c = e[, ...] WHERE p`` (``toks`` after
        UPDATE)."""
        at = _find_clause(toks, "WHERE")
        if at is None:
            raise ChSqlError("ALTER TABLE ... UPDATE needs a WHERE clause")
        assignments: dict[str, str] = {}
        for item in _split_commas(toks[:at]):
            if len(item) < 3 or not _is_ident(item[0]) or item[1] != "=":
                raise ChSqlError(
                    f"bad UPDATE assignment {_render_toks(item)!r}: "
                    "expected `column = expression`")
            assignments[item[0]] = _rewrite_all(item[2:])
        declared = {f.name for f in spec.schema.fields}
        unknown = sorted(set(assignments) - declared)
        if unknown:
            raise ChSqlError(f"UPDATE of undeclared column(s) {unknown}")
        keys = sorted(set(assignments) & {*spec.order_by, *spec.partition_src})
        if keys:
            raise ChSqlError(
                f"Cannot UPDATE key column(s) {keys}: they decide row "
                "order, placement and deduplication (CH refuses the same)")
        return t.update_where(
            spark, assignments, _predicate(toks[at + 1:], "UPDATE"))

    @staticmethod
    def _add_projection(t, proj: str, toks: list[str],
                        spark: SparkSession) -> int:
        """``ADD PROJECTION p (SELECT ... ORDER BY c)`` → a sort
        projection on ``c``; ``ADD PROJECTION p (SELECT k, agg(x) [AS
        out], ... GROUP BY k, ...)`` → an aggregate projection (an
        unnamed ``count()`` is ``n``, any other ``fn(x)`` is
        ``fn_x``)."""
        if (len(toks) < 3 or toks[0] != "(" or toks[-1] != ")"
                or _kw(toks[1]) != "SELECT"):
            raise ChSqlError(
                "ADD PROJECTION takes `name (SELECT ...)`")
        sel = toks[2:-1]
        gb = _find_clause(sel, "GROUP", "BY")
        if gb is not None:
            keys = _split_commas(sel[gb + 2:])
            if not keys or any(len(k) != 1 or not _is_ident(k[0]) for k in keys):
                raise ChSqlError("projection GROUP BY takes plain columns")
            group_by = tuple(k[0] for k in keys)
            aggs: dict[str, tuple[str, str]] = {}
            for item in _split_commas(sel[:gb]):
                if len(item) == 1 and item[0] in group_by:
                    continue
                alias = None
                if len(item) > 2 and _kw(item[-2]) == "AS" and _is_ident(item[-1]):
                    item, alias = item[:-2], item[-1]
                fn = _kw(item[0]).lower() if item else ""
                arg = item[2:-1]
                if (fn not in ("sum", "count", "min", "max")
                        or item[1:2] != ["("] or item[-1] != ")"
                        or len(arg) > 1 or (not arg and fn != "count")
                        or (arg and arg[0] != "*" and not _is_ident(arg[0]))):
                    raise ChSqlError(
                        f"aggregate projection item {_render_toks(item)!r} "
                        "is not a re-aggregatable sum/count/min/max term")
                src = arg[0] if arg else "*"
                aggs[alias or ("n" if fn == "count" else f"{fn}_{src}")] = (fn, src)
            return t.add_agg_projection(spark, proj, group_by, aggs)
        ob = _find_clause(sel, "ORDER", "BY")
        if ob is not None and len(sel) == ob + 3 and _is_ident(sel[-1]):
            return t.add_projection(spark, proj, sel[-1])
        raise ChSqlError(
            "ADD PROJECTION needs ORDER BY <column> (sort layout) or "
            f"GROUP BY (aggregate layout): {_render_toks(sel)!r}")

    def _explain(self, tokens: list[str], spark: SparkSession):
        """CH ``EXPLAIN [PLAN|PIPELINE|AST|SYNTAX] SELECT ...``: one
        text row per line, like a CH server. PLAN/PIPELINE answer the
        compiled Catalyst physical plan (formatted explain) — the plan
        that actually runs. AST (r13) answers this front end's OWN
        parse tree in CH's indented node-per-line layout, and SYNTAX
        (r13) the statement re-rendered after the dialect's expression
        rewrites (the Spark-SQL-facing text the compiler emits) —
        both pure parse-time walks, nothing executes. ESTIMATE (r14)
        answers from the manifest's own part statistics — see
        :meth:`_explain_estimate`."""
        i = 1
        mode = "PLAN"
        if (i < len(tokens) and _is_ident(tokens[i])
                and _kw(tokens[i]) in ("PLAN", "PIPELINE", "AST",
                                       "SYNTAX", "ESTIMATE")):
            mode = _kw(tokens[i])
            if mode == "ESTIMATE":
                return self._explain_estimate(tokens[i + 1:], spark)
            i += 1
        if i >= len(tokens) or _kw(tokens[i]) not in ("SELECT", "WITH"):
            raise ChSqlError("EXPLAIN takes a SELECT statement")
        if mode in ("AST", "SYNTAX"):
            from postgre_to_clickhouse_spark.ch_select import (
                explain_ast,
                explain_syntax,
            )

            fn = explain_ast if mode == "AST" else explain_syntax
            text = "\n".join(fn(" ".join(tokens[i:])))
            return spark.createDataFrame(
                [(ln,) for ln in text.splitlines()], "explain string")
        df = self.query(spark, " ".join(tokens[i:]))
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        return spark.createDataFrame(
            [(ln,) for ln in text.splitlines()], "explain string")

    def _explain_estimate(self, tokens: list[str], spark: SparkSession):
        """CH ``EXPLAIN ESTIMATE SELECT ...`` (r14 — previously a
        refusal; this catalog DOES hold the part statistics CH reads):
        one (database, table, parts, rows, marks) row estimating what a
        storage-backed single-table SELECT would scan. Parts/files come
        from the manifest after the SAME zone-map/bloom pruning the
        read path runs (``choose_layout`` — a projection that prunes
        better is chosen, like CH); rows and marks come from parquet
        FOOTERS of the surviving files (no data pages read; a parquet
        row group is the granule analogue of a CH mark). Only
        top-level AND-ed ``col <op> literal`` / BETWEEN / IN conjuncts
        contribute probes — exactly the predicates the skip indexes
        can use; anything else leaves the estimate conservative, the
        CH behavior. Nothing executes."""
        import pyarrow.parquet as papq

        if not tokens or _kw(tokens[0]) not in ("SELECT", "WITH"):
            raise ChSqlError("EXPLAIN ESTIMATE takes a SELECT statement")
        text = " ".join(tokens)
        # top-level FROM by paren depth (ADVICE r14): a WITH query's
        # first textual FROM is the CTE's inner table — the estimate
        # must name the table the OUTER query reads, so only a
        # depth-0 FROM counts, and a depth-0 FROM over a subquery is
        # a loud refusal rather than a wrong-table estimate.
        full = None
        depth = 0
        for i, t in enumerate(tokens):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and _kw(t) == "FROM":
                nxt = tokens[i + 1] if i + 1 < len(tokens) else ""
                if not _is_ident(nxt):
                    raise ChSqlError(
                        "EXPLAIN ESTIMATE: the top-level FROM reads a "
                        "subquery, not a stored table — estimate the "
                        "inner SELECT directly"
                    )
                full = nxt.strip("`")
                break
        if full is None:
            raise ChSqlError("EXPLAIN ESTIMATE: no FROM table found")
        name = full.rsplit(".", 1)[-1]
        if name not in self.tables:
            raise ChSqlError(f"EXPLAIN ESTIMATE: unknown table {name!r}")
        if re.search(r"(?is)\b(JOIN|UNION|EXCEPT|INTERSECT)\b", text):
            raise ChSqlError(
                "EXPLAIN ESTIMATE covers single-table reads (the unit "
                "part statistics describe) — estimate each side "
                "separately"
            )
        if self.storage_root is None:
            raise ChSqlError(
                "EXPLAIN ESTIMATE needs a storage-backed catalog "
                "(ChDdlCatalog(storage_root=...)) — without parts there "
                "is nothing to estimate"
            )
        where, equals = _estimate_probes(text)
        storage = self.storage_for(name)
        layout, files = storage.choose_layout(
            where=where or None, equals=equals or None)
        rows = marks = 0
        for f in files:
            p = os.path.join(storage.path, "data", f["name"])
            md = papq.ParquetFile(p).metadata
            rows += int(md.num_rows)
            marks += int(md.num_row_groups)
        parts = len({f.get("part") or f["name"] for f in files})
        spec = self.tables[name]
        return spark.createDataFrame(
            [(spec.db or "default", name, parts, rows, marks)],
            "database string, table string, parts bigint, rows bigint, "
            "marks bigint",
        )

    def _modify_column(self, name: str, toks: list[str]):
        """CH ``ALTER TABLE t MODIFY COLUMN c NewType`` (r12) — in this
        engine a DECLARATIVE type change: no part rewrite (CH rewrites
        parts eagerly; result-equivalent), because every read already
        projects parts onto the declared schema with a cast
        (:meth:`ChTableSpec.read_conform`) and inserts conform the same
        way. Old parts keep their physical type and cast at read —
        the per-part-group read keys on (name, type) so mixed-type
        part generations never share one parquet read. Sort-key /
        version / partition / sample columns refuse (the bucket and
        zone-map layout hashes their bytes); AggregateFunction and
        ALIAS columns refuse (their type IS their state/expression
        contract)."""
        spec = self.tables[name]
        if len(toks) < 2 or not _is_ident(toks[0]):
            raise ChSqlError("MODIFY COLUMN takes `col NewType`")
        col = toks[0]
        declared = [f.name for f in spec.schema.fields]
        if col not in declared:
            raise ChSqlError(f"MODIFY COLUMN: no column {col!r} in {name!r}")
        keyed = (col in spec.order_by or col in spec.engine_args
                 or col in spec.partition_src or col == spec.sample_by
                 or (spec.ttl is not None and spec.ttl[0] == col)
                 or any(src == col
                        for src, _n, _u in spec.column_ttl.values()))
        if keyed:
            # TTL column included (r13, ADVICE): old parts' zone-map
            # stats stay in the old physical type, and MATERIALIZE
            # TTL's pruned delete compares them against the NEW
            # declared type — a silent mis-prune. Same refusal RENAME
            # already applies.
            raise ChSqlError(
                f"cannot MODIFY {col!r}: sorting-key / version / "
                "partition / sample / TTL columns are the storage "
                "layout's identity"
            )
        if col in spec.agg_fns or col in spec.aliases:
            raise ChSqlError(
                f"cannot MODIFY {col!r}: AggregateFunction and ALIAS "
                "column types are their state/expression contract"
            )
        dtype, nullable = _parse_type(toks[1:])
        spec.schema = T.StructType([
            T.StructField(col, dtype, nullable) if f.name == col else f
            for f in spec.schema.fields
        ])
        spec.evolved = True  # old parts keep the old physical type
        return spec

    def _rename_column(self, name: str, toks: list[str]):
        """CH ``ALTER TABLE t RENAME COLUMN old TO new`` (r12) —
        metadata-only: no part rewrite. Parts written before the
        rename keep the OLD physical name; reads resolve it through
        the spec's rename chain in :meth:`ChTableSpec.read_conform`
        (first prior name present in the part wins), so chained
        renames over mixed-age parts stay correct. Sorting-key /
        version / partition / TTL / AggregateFunction columns refuse
        (the storage's bucket and zone-map layout is keyed by them —
        CH refuses key renames the same way), as does renaming a
        column some OTHER column's DEFAULT/MATERIALIZED/ALIAS
        expression references (the stored expression text would
        silently dangle)."""
        spec = self.tables[name]
        if (len(toks) != 3 or not _is_ident(toks[0])
                or _kw(toks[1]) != "TO" or not _is_ident(toks[2])):
            raise ChSqlError("RENAME COLUMN takes `old TO new`")
        old, new = toks[0], toks[2]
        declared = [f.name for f in spec.schema.fields]
        if old not in declared:
            raise ChSqlError(f"RENAME COLUMN: no column {old!r} in {name!r}")
        if new in declared:
            raise ChSqlError(f"RENAME COLUMN: {new!r} already exists")
        if any(new in chain for chain in spec.renames.values()):
            # r13 (ADVICE): a RETIRED physical name must never come
            # back — parts older than the rename that retired it still
            # carry those bytes, and read_conform's name match would
            # silently serve the OLD column's data as the new one.
            # Refuse rather than misread, like the post-rename
            # mutation refusal above.
            raise ChSqlError(
                f"cannot RENAME to {new!r}: that name was retired by an "
                "earlier RENAME COLUMN and old parts still carry it — "
                "reusing it would silently serve stale bytes; pick a "
                "fresh name or re-ingest into a fresh table"
            )
        keyed = (old in spec.order_by or old in spec.engine_args
                 or old in spec.partition_src
                 or (spec.ttl is not None and spec.ttl[0] == old)
                 or old in spec.agg_fns)
        if keyed:
            raise ChSqlError(
                f"cannot RENAME {old!r}: sorting-key / version / "
                "partition / TTL / AggregateFunction columns are the "
                "storage layout's identity (CH refuses key renames too)"
            )
        from postgre_to_clickhouse_spark.ch_select import _tokenize

        for c, expr in {**spec.defaults, **spec.materialized,
                        **spec.aliases}.items():
            if c != old and old in _tokenize(expr):
                raise ChSqlError(
                    f"cannot RENAME {old!r}: column {c!r}'s expression "
                    f"references it ({expr!r}) — drop or redefine that "
                    "column first"
                )
        if any(src == old for src, _n, _u in spec.column_ttl.values()):
            raise ChSqlError(
                f"cannot RENAME {old!r}: a column TTL references it — "
                "the stored TTL expression would silently dangle"
            )
        spec.schema = T.StructType([
            T.StructField(new, f.dataType, f.nullable) if f.name == old
            else f for f in spec.schema.fields
        ])
        for d in (spec.defaults, spec.materialized, spec.aliases,
                  spec.codecs, spec.comments, spec.column_ttl):
            if old in d:
                d[new] = d.pop(old)
        spec.renames[new] = [old] + spec.renames.pop(old, [])
        if new not in spec.aliases:  # an ALIAS is never stored
            spec.evolved = True  # old parts carry the old physical name
        return spec

    def _alter_column(self, name: str, verb: str, toks: list[str]):
        """CH metadata-only schema evolution (r11): ``ADD COLUMN c Type
        [DEFAULT expr]`` extends the declared schema — no part rewrite;
        parts written before the column materialize the DEFAULT (or the
        CH type default) at read via :meth:`ChTableSpec.read_conform`.
        ``DROP COLUMN c`` removes it from the declared schema — old
        parts keep the bytes, reads project it away (CH's lazy drop).
        Dropping a sort-key/version column refuses like CH does."""
        spec = self.tables[name]
        # optional IF [NOT] EXISTS
        if toks and _kw(toks[0]) == "IF":
            if len(toks) > 2 and _kw(toks[1]) == "NOT" and _kw(toks[2]) == "EXISTS":
                toks = toks[3:]
            elif len(toks) > 1 and _kw(toks[1]) == "EXISTS":
                toks = toks[2:]
        if not toks or not _is_ident(toks[0]):
            raise ChSqlError(f"{verb} COLUMN needs a column name")
        col = toks[0]
        declared = [f.name for f in spec.schema.fields]
        if verb == "DROP":
            if len(toks) > 1:
                raise ChSqlError(
                    f"unsupported DROP COLUMN trailer: {' '.join(toks[1:])!r}"
                )
            if col not in declared:
                raise ChSqlError(f"DROP COLUMN: no column {col!r} in {name!r}")
            if col in spec.order_by or col in spec.engine_args:
                raise ChSqlError(
                    f"cannot DROP {col!r}: part of the sorting key / "
                    "version argument (CH refuses the same)"
                )
            from postgre_to_clickhouse_spark.ch_select import _tokenize

            # r13 (ADVICE): another column's DEFAULT/MATERIALIZED/ALIAS
            # expression referencing the dropped column would dangle and
            # only surface later as a raw Spark analysis error at
            # insert/read — refuse loudly NOW, the same scan RENAME runs.
            for c, expr in {**spec.defaults, **spec.materialized,
                            **spec.aliases}.items():
                if c != col and col in _tokenize(expr):
                    raise ChSqlError(
                        f"cannot DROP {col!r}: column {c!r}'s expression "
                        f"references it ({expr!r}) — drop or redefine "
                        "that column first"
                    )
            if any(src == col and c != col
                   for c, (src, _n, _u) in spec.column_ttl.items()):
                raise ChSqlError(
                    f"cannot DROP {col!r}: another column's TTL clause "
                    "references it — drop/redefine that column first"
                )
            spec.schema = T.StructType(
                [f for f in spec.schema.fields if f.name != col]
            )
            was_alias = col in spec.aliases
            spec.defaults.pop(col, None)
            spec.materialized.pop(col, None)
            spec.aliases.pop(col, None)
            spec.codecs.pop(col, None)
            spec.comments.pop(col, None)
            spec.column_ttl.pop(col, None)
            if not was_alias:  # dropping an ALIAS is pure metadata
                spec.evolved = True
            return spec
        # ADD
        if col in declared:
            raise ChSqlError(f"ADD COLUMN: {col!r} already exists in {name!r}")
        if any(col in chain for chain in spec.renames.values()):
            # r13 (ADVICE): same retired-physical-name refusal as
            # RENAME's target — pre-rename parts still carry these
            # bytes and read_conform would match them for the NEW
            # column, serving the wrong column's stale data.
            raise ChSqlError(
                f"cannot ADD COLUMN {col!r}: that name was retired by an "
                "earlier RENAME COLUMN and old parts still carry it — "
                "reusing it would silently serve stale bytes; pick a "
                "fresh name or re-ingest into a fresh table"
            )
        # r13: ADD COLUMN accepts the same trailing COMMENT / CODEC /
        # column-TTL clauses as CREATE (validated against the CURRENT
        # declared schema below)
        toks, add_codec, add_comment, add_cttl = \
            _split_column_clauses(toks)
        kinds = [
            (i, _kw(t)) for i, t in enumerate(toks[1:], 1)
            if _is_ident(t) and _kw(t) in ("DEFAULT", "MATERIALIZED",
                                           "ALIAS")
        ]
        if len(kinds) > 1:
            raise ChSqlError(
                f"at most one of DEFAULT/MATERIALIZED/ALIAS per column: "
                f"{' '.join(toks)!r}"
            )
        d_at, kind = kinds[0] if kinds else (None, None)
        type_toks = toks[1:d_at] if d_at is not None else toks[1:]
        if not type_toks:
            raise ChSqlError(f"ADD COLUMN {col!r} needs a type")
        dtype, nullable = _parse_type(type_toks)
        if d_at is not None:
            if not toks[d_at + 1:]:
                raise ChSqlError(
                    f"ADD COLUMN {col!r}: {kind} needs an expression")
            if kind != "DEFAULT" and spec.engine.upper() not in (
                    "MERGETREE", "REPLACINGMERGETREE"):
                raise ChSqlError(
                    "MATERIALIZED/ALIAS columns are supported on "
                    f"MergeTree and ReplacingMergeTree, not {spec.engine}"
                )
            # verbatim CH expression text → Spark SQL (r12, same
            # rewrite the CREATE-time clauses get). An added
            # MATERIALIZED column behaves like DEFAULT for parts older
            # than the column (computed at read) and computes at
            # insert for new blocks; an added ALIAS column is pure
            # metadata — never stored, so the table does not even
            # count as evolved.
            expr = _rewrite_all(toks[d_at + 1:])
        # r13 clause validations — the same contracts CREATE enforces,
        # against the CURRENT declared schema. NOTHING mutates spec
        # until every check passes: a refused ALTER must leave no
        # phantom expression/clause entry behind (a later plain retry
        # of the same column would silently inherit it — review fix)
        if (add_codec is not None or add_cttl is not None) \
                and kind == "ALIAS":
            raise ChSqlError(
                f"CODEC/TTL on ALIAS column {col!r} is meaningless — "
                "an ALIAS is never stored"
            )
        if add_cttl is not None:
            src = add_cttl[0]
            by_name = {f.name: f for f in spec.schema.fields}
            if src not in by_name or not isinstance(
                    by_name[src].dataType,
                    (T.TimestampType, T.DateType)):
                raise ChSqlError(
                    f"column TTL on {col!r} must reference a declared "
                    f"Date/DateTime column, got {src!r}"
                )
            if src == col:
                raise ChSqlError(
                    f"column TTL on {col!r} cannot reference itself"
                )
            if not nullable and kind != "DEFAULT":
                raise ChSqlError(
                    f"column TTL on {col!r}: expired values reset to "
                    "the column DEFAULT or NULL — declare it Nullable "
                    "or give it a DEFAULT"
                )
        # all checks passed — apply atomically
        if kind is not None:
            {"DEFAULT": spec.defaults, "MATERIALIZED": spec.materialized,
             "ALIAS": spec.aliases}[kind][col] = expr
        if add_cttl is not None:
            spec.column_ttl[col] = add_cttl
        if add_codec is not None:
            spec.codecs[col] = add_codec
        if add_comment is not None:
            spec.comments[col] = add_comment
        spec.schema = T.StructType(
            list(spec.schema.fields) + [T.StructField(col, dtype, nullable)]
        )
        if kind != "ALIAS":
            spec.evolved = True
        return spec

    def _introspect(self, tokens: list[str], spark: SparkSession):
        """CH terminal introspection (r11): ``SHOW TABLES`` (declared
        table names), ``DESCRIBE [TABLE] t`` (name / engine type /
        DEFAULT expression — types shown are this engine's Spark
        types, the documented map of the CH declarations), ``EXISTS
        TABLE t`` (0/1). Each returns a result frame, so a wire client
        sees rows like against a CH server."""
        head = _kw(tokens[0])
        if head == "SHOW":
            if len(tokens) >= 2 and _kw(tokens[1]) == "TABLES":
                schema = "name string"
                rows = [(n,) for n in
                        sorted(set(self.tables) | set(self.views))]
                return spark.createDataFrame(rows, schema) if rows \
                    else spark.createDataFrame([], schema)
            if len(tokens) >= 2 and _kw(tokens[1]) == "DATABASES":
                # r13: BI clients enumerate databases first
                return spark.createDataFrame(
                    [(d,) for d in self._database_names()],
                    "name string")
            if (len(tokens) >= 4 and _kw(tokens[1]) == "CREATE"
                    and _kw(tokens[2]) in ("TABLE", "VIEW")):
                bare = tokens[3].rsplit(".", 1)[-1] if _is_ident(tokens[3]) \
                    else None
                if bare in self.views:
                    return spark.createDataFrame(
                        [(f"CREATE VIEW {bare} AS {self.views[bare]}",)],
                        "statement string")
                name = self._table_ref(tokens, 3, "SHOW CREATE TABLE")
                return spark.createDataFrame(
                    [(self.tables[name].show_create(),)],
                    "statement string")
            raise ChSqlError(
                f"unsupported SHOW {' '.join(tokens[1:3])!r} "
                "(SHOW TABLES / SHOW DATABASES / SHOW CREATE TABLE)"
            )
        if head in ("DESCRIBE", "DESC"):
            at = 2 if len(tokens) > 1 and _kw(tokens[1]) == "TABLE" else 1
            bare = tokens[at].rsplit(".", 1)[-1] \
                if at < len(tokens) and _is_ident(tokens[at]) else None
            if bare in self.views:
                # a view's columns come from compiling its SELECT
                df = self.query(spark, self.views[bare])
                return spark.createDataFrame(
                    [(f.name, f.dataType.simpleString(), "", "", "", "",
                      "") for f in df.schema.fields],
                    "name string, type string, default_type string, "
                    "default_expression string, comment string, "
                    "codec_expression string, ttl_expression string")
            name = self._table_ref(tokens, at, "DESCRIBE")
            spec = self.tables[name]

            def _kind_expr(c: str) -> tuple[str, str]:
                # CH DESCRIBE's default_type/default_expression pair
                if c in spec.defaults:
                    return "DEFAULT", spec.defaults[c]
                if c in spec.materialized:
                    return "MATERIALIZED", spec.materialized[c]
                if c in spec.aliases:
                    return "ALIAS", spec.aliases[c]
                return "", ""

            def _ttl_expr(c: str) -> str:
                if c in spec.column_ttl:
                    s, n, u = spec.column_ttl[c]
                    return f"{s} + INTERVAL {n} {u}"
                return ""

            # r13: CH DESCRIBE's full column set — comment /
            # codec_expression / ttl_expression join the pair
            rows = [
                (f.name, f.dataType.simpleString(), *_kind_expr(f.name),
                 spec.comments.get(f.name, ""),
                 (f"CODEC({spec.codecs[f.name]})"
                  if f.name in spec.codecs else ""),
                 _ttl_expr(f.name))
                for f in spec.schema.fields
            ]
            return spark.createDataFrame(
                rows, "name string, type string, default_type string, "
                      "default_expression string, comment string, "
                      "codec_expression string, ttl_expression string")
        at = 2 if len(tokens) > 1 and _kw(tokens[1]) == "TABLE" else 1
        if at >= len(tokens) or not _is_ident(tokens[at]):
            raise ChSqlError("EXISTS TABLE <name>?")
        nm = tokens[at].rsplit(".", 1)[-1]
        return spark.createDataFrame(
            [(1 if nm in self.tables or nm in self.views else 0,)],
            "result int")

    @staticmethod
    def _need_spark(spark: SparkSession | None, what: str) -> SparkSession:
        if spark is None:
            raise ChSqlError(
                f"{what} runs Spark jobs: call execute(sql, spark=spark)"
            )
        return spark

    def _table_ref(self, tokens: list[str], at: int, what: str) -> str:
        if at >= len(tokens) or not _is_ident(tokens[at]):
            raise ChSqlError(f"{what} needs a table name")
        name = tokens[at].rsplit(".", 1)[-1]
        if name not in self.tables:
            raise ChSqlError(
                f"{what} references undeclared table {name!r} — "
                "CREATE it in this catalog first"
            )
        return name

    def _insert_stmt(self, tokens: list[str], spark: SparkSession):
        """CH ``INSERT INTO [db.]t [(cols)] VALUES (...), (...)`` and
        ``INSERT INTO [db.]t [(cols)] SELECT ...`` (r11): the VALUES
        form renders through Spark's own ``VALUES`` table constructor;
        the SELECT form compiles through the dialect front end against
        the catalog's stored tables. Either way the block conforms to
        the declared schema (missing DEFAULT columns materialize) and
        lands as an immutable part — the MergeTree ingest path."""
        if len(tokens) < 2 or _kw(tokens[1]) != "INTO":
            raise ChSqlError("INSERT needs INTO")
        name = self._table_ref(tokens, 2, "INSERT INTO")
        rest = tokens[3:]
        cols: list[str] | None = None
        if rest and rest[0] == "(":
            try:
                close = rest.index(")")
            except ValueError:
                raise ChSqlError("unbalanced INSERT column list") from None
            cols = [t for t in rest[1:close] if t != ","]
            bad = [c for c in cols if not _is_ident(c)]
            if bad:
                raise ChSqlError(f"bad INSERT column list entries: {bad}")
            rest = rest[close + 1:]
        if not rest:
            raise ChSqlError("INSERT needs VALUES (...) or SELECT ...")
        spec = self.tables[name]
        declared = [f.name for f in spec.schema.fields]
        if cols is None:
            # CH: a column-less INSERT targets the ordinary + DEFAULT
            # columns only — MATERIALIZED and ALIAS columns are never
            # user-insertable (r12 fix: including them made every
            # VALUES row report a width mismatch)
            cols = [c for c in declared
                    if c not in spec.materialized and c not in spec.aliases]
        unknown = sorted(set(cols) - set(declared))
        if unknown:
            raise ChSqlError(f"INSERT column(s) not declared: {unknown}")
        if _kw(rest[0]) == "VALUES":
            # each row literal runs through the dialect expression
            # rewriter, so CH function names (toDateTime, toUInt32,
            # ...) work inside VALUES exactly as they do in SELECTs
            body = _rewrite_all(rest[1:])
            if not body.strip():
                raise ChSqlError("VALUES needs at least one row")
            aliased = ", ".join(cols)
            df = spark.sql(
                f"SELECT * FROM VALUES {body} AS __ch_ins({aliased})"
            )
        elif _kw(rest[0]) in ("SELECT", "WITH"):
            df = self.query(spark, " ".join(rest))
            if len(df.columns) != len(cols):
                raise ChSqlError(
                    f"INSERT SELECT produces {len(df.columns)} columns, "
                    f"expected {len(cols)} ({cols})"
                )
            df = df.toDF(*cols)  # CH matches INSERT SELECT by POSITION
        else:
            raise ChSqlError(
                f"INSERT body must be VALUES or SELECT, got {rest[0]!r}"
            )
        seq = self._next_seq(name)
        return self.insert(spark, name, df, batch_id=f"sql{seq}")

    def insert_json_rows(self, spark: SparkSession, name: str,
                         lines: list[str],
                         cols: list[str] | None = None) -> int:
        """CH ``INSERT INTO t [(cols)] FORMAT JSONEachRow`` data rows
        (the HTTP upload path clients actually use against 8123). Each
        maximal run of consecutive rows with one PRESENT key set
        conforms as its own block, so a field ABSENT from a row
        materializes the column DEFAULT (CH's
        input_format_defaults_for_omitted_fields behavior) while an
        explicit ``null`` stays NULL — a flat missing→NULL read could
        not tell the two apart. The blocks keep body order, so the
        ReplacingMergeTree last-row tie rule follows the body. The body
        commits as one version (:meth:`_insert_blocks`). Values travel
        as strings and take the declared types through conform's cast
        (the CH input coercion); array-typed columns refuse loudly
        (use INSERT SELECT)."""
        import json as _json

        spec = self.tables.get(name)
        if spec is None:
            raise ChSqlError(f"unknown table {name!r}")
        declared = [f.name for f in spec.schema.fields]
        allowed = set(cols) if cols is not None else set(declared)
        unknown_cols = sorted(allowed - set(declared))
        if unknown_cols:
            raise ChSqlError(f"INSERT column(s) not declared: {unknown_cols}")
        runs: list[tuple[tuple, list[dict]]] = []
        for i, ln in enumerate(lines):
            if not ln.strip():
                continue
            try:
                row = _json.loads(ln)
            except ValueError as e:
                raise ChSqlError(f"bad JSONEachRow line {i + 1}: {e}") from None
            if not isinstance(row, dict):
                raise ChSqlError(f"JSONEachRow line {i + 1} is not an object")
            bad = sorted(set(row) - allowed)
            if bad:
                raise ChSqlError(
                    f"JSONEachRow line {i + 1} carries undeclared/"
                    f"unselected field(s) {bad}"
                )
            for v in row.values():
                if isinstance(v, (list, dict)):
                    raise ChSqlError(
                        "array/nested values via JSONEachRow are outside "
                        "the subset — use INSERT ... SELECT"
                    )
            ks = tuple(k for k in declared if k in row)
            if runs and runs[-1][0] == ks:
                runs[-1][1].append(row)
            else:
                runs.append((ks, [row]))
        if not runs:
            raise ChSqlError("JSONEachRow body carries no rows")
        return self._insert_blocks(spark, name, [
            spark.createDataFrame(
                [tuple(None if r[k] is None else str(r[k]) for k in ks)
                 for r in rs],
                ", ".join(f"{k} string" for k in ks))
            for ks, rs in runs
        ], "json")

    def _insert_blocks(self, spark: SparkSession, name: str,
                       blocks: list[DataFrame], batch_prefix: str) -> int:
        """Insert one upload's blocks as ONE commit: each block
        conforms on its own (its DEFAULT fill; the binding checks are
        eager, so a block that cannot bind raises before anything
        commits), the conformed blocks union, and the union inserts
        once — all or nothing, one version."""
        spec = self.tables[name]
        union = None
        for df in blocks:
            # MATERIALIZED columns are computed again by insert's conform
            df = spec.conform(df).drop(*spec.materialized)
            union = df if union is None else union.unionByName(df)
        seq = self._next_seq(name)
        return self.insert(spark, name, union, batch_id=f"{batch_prefix}{seq}")

    def insert_csv_rows(self, spark: SparkSession, name: str,
                        lines: list[str],
                        cols: list[str] | None = None,
                        with_names: bool = False) -> int:
        """CH ``INSERT INTO t [(cols)] FORMAT CSV[WithNames]`` data
        rows (r12) — the other upload format real clients use against
        8123. Parsed with the stdlib csv reader (quoted fields, ``""``
        escapes); a field equal to ``\\N`` reads as NULL (CH writes it
        unquoted; post-parse the quoted form is indistinguishable —
        documented divergence, biased toward CH's own output); values
        travel as strings and take the declared types through
        conform's cast.
        ``CSVWithNames``: the first row names the columns (and must be
        declared names); otherwise rows bind positionally to ``cols``
        or the full declared list."""
        import csv as _csv
        import io as _io

        # NO empty-line pre-filter (review fix, same contract as the
        # TSV path): csv.reader yields [] for a blank line — CH treats
        # it as the one-empty-field row (inserted for a single-column
        # table, a loud width error for wider ones); a whitespace-only
        # line is a legitimate field value
        rows = [r if r else [""] for r in
                _csv.reader(_io.StringIO("\n".join(lines)))]
        return self._insert_text_rows(
            spark, name, rows, cols, with_names, "CSV",
            lambda v: None if v == "\\N" else v, "csv",
        )

    def _insert_text_rows(self, spark: SparkSession, name: str,
                          rows: list[list[str]],
                          cols: list[str] | None, with_names: bool,
                          fmt_label: str, field_fn, batch_prefix: str,
                          with_types: bool = False) -> int:
        """Shared scaffold for the text upload formats (review fix —
        the CSV/TSV twins had copy-pasted it, and the r13 binding fix
        had to be written twice): header pop, positional binding to
        the USER-INSERTABLE columns (MATERIALIZED/ALIAS are never part
        of CH's positional contract), declared check, width loop,
        all-strings block through conform's declared-type cast."""
        spec = self.tables.get(name)
        if spec is None:
            raise ChSqlError(f"unknown table {name!r}")
        declared = [f.name for f in spec.schema.fields]
        if with_names:
            if not rows:
                raise ChSqlError(
                    f"{fmt_label}WithNames body carries no header")
            cols = [c.strip() for c in rows[0]]
            rows = rows[1:]
            if with_types:
                # ...AndTypes: the second header row carries the CH
                # type text — read and DISCARDED, the declared types
                # rule (conform's cast applies them either way)
                if not rows:
                    raise ChSqlError(
                        f"{fmt_label}WithNamesAndTypes body carries "
                        "no types row")
                rows = rows[1:]
        if cols is not None:
            binding = cols
        else:
            binding = [c for c in declared
                       if c not in spec.materialized
                       and c not in spec.aliases]
        bad = sorted(set(binding) - set(declared))
        if bad:
            raise ChSqlError(f"INSERT column(s) not declared: {bad}")
        if not rows:
            raise ChSqlError(f"{fmt_label} body carries no rows")
        data = []
        for i, r in enumerate(rows):
            if len(r) != len(binding):
                raise ChSqlError(
                    f"{fmt_label} row {i + 1} has {len(r)} fields, "
                    f"expected {len(binding)} ({', '.join(binding)})"
                )
            data.append(tuple(field_fn(v) for v in r))
        schema = ", ".join(f"{k} string" for k in binding)
        seq = self._next_seq(name)
        return self.insert(
            spark, name, spark.createDataFrame(data, schema),
            batch_id=f"{batch_prefix}{seq}",
        )

    def insert_native_blocks(self, spark: SparkSession, name: str,
                             payload: bytes,
                             cols: list[str] | None = None,
                             max_rows: int | None = None) -> int:
        """CH ``INSERT INTO t [(cols)] FORMAT Native`` body (r13 s3):
        a concatenation of standalone Native blocks — CH-HTTP's bulk
        upload format, the binary twin of the TCP endpoint's insert
        dance. Each block binds BY ITS OWN HEADER NAMES (the Native
        contract — the header travels with every block);
        MATERIALIZED/ALIAS columns refuse, a ``cols`` list restricts
        the allowed set. Values arrive TYPED (the block carries CH
        type text per column), so they take the declared schema
        through conform's cast without a text round-trip. Every block
        is decoded and checked before any inserts, and the body commits
        as one version (:meth:`_insert_blocks`)."""
        from postgre_to_clickhouse_spark.ch_native import (
            iter_blocks_bytes,
            spark_type_for_ch_type,
        )

        spec = self.tables.get(name)
        if spec is None:
            raise ChSqlError(f"unknown table {name!r}")
        declared = [f.name for f in spec.schema.fields]
        allowed = set(cols) if cols is not None else set(declared)
        unknown_cols = sorted(allowed - set(declared))
        if unknown_cols:
            raise ChSqlError(f"INSERT column(s) not declared: {unknown_cols}")
        blocks: list[tuple[list[str], list[str], list[list]]] = []
        total = 0
        for bi, (names, types, data) in enumerate(iter_blocks_bytes(payload)):
            if not names:
                continue  # an empty terminator block is legal
            bad = sorted(set(names) - allowed)
            if bad:
                raise ChSqlError(
                    f"Native block {bi + 1} carries undeclared/"
                    f"unselected column(s) {bad}"
                )
            banned = [c for c in names
                      if c in spec.materialized or c in spec.aliases]
            if banned:
                raise ChSqlError(
                    f"MATERIALIZED/ALIAS column(s) are not insertable: "
                    f"{banned}"
                )
            total += len(data[0]) if data else 0
            if max_rows is not None and total > max_rows:
                raise ChSqlError(
                    f"Native body exceeds max_result_rows={max_rows} rows"
                )
            blocks.append((names, types, data))
        if not blocks:
            raise ChSqlError("Native body carries no rows")
        # always nullable on the build side — conform's cast applies
        # the declared nullability contract
        return self._insert_blocks(spark, name, [
            spark.createDataFrame(
                list(zip(*data)) if data else [],
                T.StructType([
                    T.StructField(n_, spark_type_for_ch_type(t_)[0], True)
                    for n_, t_ in zip(names, types)]))
            for names, types, data in blocks
        ], "nat")

    def insert_tsv_rows(self, spark: SparkSession, name: str,
                        lines: list[str],
                        cols: list[str] | None = None,
                        with_names: bool = False,
                        with_types: bool = False) -> int:
        """CH ``INSERT INTO t [(cols)] FORMAT TabSeparated[WithNames]``
        data rows (r13, VERDICT r12 #6) — completes the upload matrix
        (JSONEachRow/CSV exist). One row per line, fields split on
        raw tabs, CH TabSeparated escapes undone per field (``\\t``
        ``\\n`` ``\\r`` ``\\b`` ``\\f`` ``\\0`` ``\\'`` ``\\\\``); an
        UNESCAPED ``\\N`` field is NULL (an escaped ``\\\\N`` is the
        two-character string). Values travel as strings and take the
        declared types through conform's cast. ``TabSeparatedWithNames``:
        the first line names the columns; otherwise rows bind
        positionally to ``cols`` or the user-insertable declared list
        (MATERIALIZED/ALIAS excluded — the positional contract)."""
        esc = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
               "0": "\0", "'": "'", "\\": "\\"}

        def _field(s: str) -> str | None:
            if s == "\\N":
                return None
            out: list[str] = []
            i = 0
            while i < len(s):
                if s[i] == "\\" and i + 1 < len(s):
                    out.append(esc.get(s[i + 1], s[i + 1]))
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return "".join(out)

        # NO empty-line filter (review fix): for a single-String-column
        # table an empty line IS a legitimate row with the empty value
        # (CH inserts it); for wider tables the width check errors,
        # exactly like CH
        rows = [ln.split("\t") for ln in lines]
        return self._insert_text_rows(
            spark, name, rows, cols, with_names, "TabSeparated",
            _field, "tsv", with_types=with_types,
        )

    def _truncate(self, tokens: list[str], spark: SparkSession):
        """CH ``TRUNCATE TABLE [db.]t``: commit an EMPTY snapshot —
        the declared schema survives, every data and projection file
        leaves the manifest (bytes reclaimed by a later vacuum, so
        retained versions still time-travel)."""
        if len(tokens) < 3 or _kw(tokens[1]) != "TABLE":
            raise ChSqlError("TRUNCATE TABLE <name>?")
        name = self._table_ref(tokens, 2, "TRUNCATE TABLE")
        return self.storage_for(name)._append([], note="truncate", replace=True)

    def _drop(self, tokens: list[str]):
        """CH ``DROP TABLE|VIEW [IF EXISTS] [db.]t``: forget the
        declaration and detach the storage handle (DROP TABLE works on
        views too, like CH; DROP VIEW requires a view). The data
        directory is left on disk for retained-version readers — the
        catalog never deletes bytes implicitly (vacuum is the explicit
        reclaim)."""
        if len(tokens) < 3 or _kw(tokens[1]) not in ("TABLE", "VIEW"):
            raise ChSqlError(f"unsupported DROP {' '.join(tokens[1:2])}")
        what = _kw(tokens[1])
        at = 2
        if _kw(tokens[at]) == "IF" and len(tokens) > at + 1 \
                and _kw(tokens[at + 1]) == "EXISTS":
            at += 2
            if at >= len(tokens):
                raise ChSqlError(f"DROP {what} IF EXISTS <name>?")
            name = tokens[at].rsplit(".", 1)[-1]
            if name not in self.tables and name not in self.views:
                return None
        else:
            if at >= len(tokens) or not _is_ident(tokens[at]):
                raise ChSqlError(f"DROP {what} needs a name")
            name = tokens[at].rsplit(".", 1)[-1]
            if name not in self.tables and name not in self.views:
                raise ChSqlError(
                    f"DROP {what} references undeclared table {name!r} — "
                    "CREATE it in this catalog first"
                )
        if what == "VIEW" and name not in self.views:
            raise ChSqlError(
                f"{name!r} is a table, not a view — use DROP TABLE"
            )
        if name in self.views:
            self.views.pop(name)
            return name
        self.tables.pop(name, None)
        self.storage.pop(name, None)
        self._insert_seq.pop(name, None)
        return name

    def _rename_table(self, tokens: list[str]):
        """CH ``RENAME TABLE a TO b[, c TO d]`` (r14): re-key the
        declaration, storage handle and insert sequence under the new
        name — metadata-only, like CH's atomic metadata move. The
        PHYSICAL data directory keeps its original name (the manifest
        path is internal, content-addressed state; CH's on-disk UUID
        dirs behave the same way under Atomic databases). Views / MVs
        referencing the OLD name fail loudly at their next use — the
        CH behavior (they bind by name at read). Multi-pair renames
        validate ALL pairs first, then apply atomically."""
        if len(tokens) < 5 or _kw(tokens[1]) != "TABLE":
            raise ChSqlError("RENAME TABLE a TO b[, c TO d]?")
        # parse pairs: ident TO ident (, ident TO ident)*
        pairs: list[tuple[str, str]] = []
        at = 2
        while at < len(tokens):
            if (at + 2 >= len(tokens) or not _is_ident(tokens[at])
                    or _kw(tokens[at + 1]) != "TO"
                    or not _is_ident(tokens[at + 2])):
                raise ChSqlError("RENAME TABLE a TO b[, c TO d]?")
            pairs.append((tokens[at].rsplit(".", 1)[-1],
                          tokens[at + 2].rsplit(".", 1)[-1]))
            at += 3
            if at < len(tokens):
                if tokens[at] != ",":
                    raise ChSqlError("RENAME TABLE a TO b[, c TO d]?")
                at += 1
        # validate over an EVOLVING simulated namespace so chained
        # pairs compose (`b TO tmp, c TO b, tmp TO c` — the CH swap
        # idiom: pair 3's source exists only because pair 1 made it)
        sim = set(self.tables)
        for old, new in pairs:
            if old not in sim:
                raise ChSqlError(
                    f"RENAME TABLE references undeclared table {old!r} — "
                    "CREATE it in this catalog first"
                )
            if new in sim or new in self.views:
                raise ChSqlError(
                    f"RENAME TABLE: target name {new!r} already exists"
                )
            sim.discard(old)
            sim.add(new)
        for old, new in pairs:
            spec = self.tables.pop(old)
            spec.name = new
            self.tables[new] = spec
            if old in self.storage:
                self.storage[new] = self.storage.pop(old)
            if old in self._insert_seq:
                self._insert_seq[new] = self._insert_seq.pop(old)
        return [new for _old, new in pairs]

    def _optimize_stmt(self, tokens: list[str], spark: SparkSession):
        """CH ``OPTIMIZE TABLE [db.]t [FINAL]`` (r11): without FINAL, a
        routine background-merge compaction (file-count reduction,
        content byte-identical). With FINAL, the engine-specific fold:

        - ReplacingMergeTree(ver): collapse to the latest row per full
          sorting key (the version column decides) — every bucket
          rewritten once, the CH OPTIMIZE FINAL contract;
        - ReplacingMergeTree without a version argument: REFUSED — CH
          keeps the last INSERTED row, an arrival-order fact this
          engine does not retain across parts (declare the version
          column; same boundary as FINAL reads);
        - AggregatingMergeTree: merge each state column by its declared
          AggregateFunction (sum states re-sum in exact decimal, uniq
          sketches union register-wise) down to ONE state row per
          sorting key;
        - SummingMergeTree: sum the summed columns per sorting key;
        - MergeTree: FINAL is a no-op beyond compaction (CH same).

        This is the package's one ReplacingMergeTree fold. Every fold
        commits through ``ManifestTable._rewrite_buckets``, so a table
        with projections refuses (``NotImplementedError``) with nothing
        committed.
        """
        if len(tokens) < 3 or _kw(tokens[1]) != "TABLE":
            raise ChSqlError("OPTIMIZE TABLE <name> [FINAL]?")
        name = self._table_ref(tokens, 2, "OPTIMIZE TABLE")
        trailer = [_kw(t) for t in tokens[3:]]
        if trailer not in ([], ["FINAL"]):
            raise ChSqlError(
                f"unsupported OPTIMIZE trailer {' '.join(tokens[3:])!r}"
            )
        final = trailer == ["FINAL"]
        spec = self.tables[name]
        t = self.storage_for(name)
        if not final or spec.engine.upper() == "MERGETREE":
            return t.compact(spark)
        m = t.current_manifest()  # the fold's base: read before the fold
        if spec.engine.upper() == "REPLACINGMERGETREE":
            if spec.final_spec is None:
                raise ChSqlError(
                    "OPTIMIZE FINAL on a ReplacingMergeTree without a "
                    "version argument is arrival-order territory (CH "
                    "keeps the last inserted row) — declare "
                    "ReplacingMergeTree(ver)"
                )
            from postgre_to_clickhouse_spark.cdc import latest

            key, vers = spec.final_spec
            folded = latest(self._read_stored(spark, name), key, vers)
        elif spec.engine.upper() == "AGGREGATINGMERGETREE":
            folded = self._fold_states(spark, name)
        elif spec.engine.upper() == "SUMMINGMERGETREE":
            folded = self._fold_sums(spark, name)
        else:
            raise ChSqlError(f"OPTIMIZE FINAL unsupported for {spec.engine}")
        # every bucket rewrites from the fold; an INSERT committed after
        # m makes the commit raise CommitConflict instead of folding its
        # rows away
        buckets = sorted({f["bucket"] for f in m["files"] if not f.get("proj")})
        return t._rewrite_buckets(m, buckets, folded, "optimize final fold")

    def _fold_states(self, spark: SparkSession, name: str) -> DataFrame:
        """One merged state row per sorting key — each AggregateFunction
        column folds by its declared fn, staying IN state representation
        (closed under merge, so the folded part is re-mergeable)."""
        spec = self.tables[name]
        df = self._read_stored(spark, name)
        aggs = []
        for f in spec.schema.fields:
            if f.name in spec.order_by:
                continue
            fn = spec.agg_fns.get(f.name)
            if fn is None:
                raise ChSqlError(
                    f"column {f.name!r} is not an AggregateFunction — "
                    "AggregatingMergeTree folds state columns only"
                )
            c = F.col(f.name)
            if fn == "count":
                aggs.append(F.sum(c).cast("bigint").alias(f.name))
            elif fn == "sum":
                aggs.append(F.sum(c).cast("decimal(30,6)").alias(f.name))
            elif fn == "avg":
                aggs.append(
                    F.struct(
                        F.sum(c["s"]).cast("decimal(30,6)").alias("s"),
                        F.sum(c["c"]).cast("bigint").alias("c"),
                    ).alias(f.name)
                )
            elif fn in ("min", "max"):
                aggs.append(getattr(F, fn)(c).alias(f.name))
            elif fn == "uniq":
                aggs.append(F.hll_union_agg(c).alias(f.name))
            elif fn == "uniqexact":
                aggs.append(
                    F.array_distinct(F.flatten(F.collect_list(c)))
                    .alias(f.name))
            elif fn.partition("(")[0] in ("quantile", "quantileexact"):
                # concatenating sorted histograms IS a valid histogram
                # state (weights, not positions, carry the counts) —
                # closed under merge like CH's quantileExact state
                aggs.append(
                    F.expr(f"sort_array(flatten(collect_list({f.name})))")
                    .alias(f.name))
            elif fn.partition("(")[0] == "topk":
                from postgre_to_clickhouse_spark.ch_select import (
                    _topk_fold_sql,
                )

                _, _, params = fn.partition("(")
                k = int(params.rstrip(")")) if params else 10  # CH default
                aggs.append(F.expr(_topk_fold_sql(f.name, k)).alias(f.name))
            else:  # pragma: no cover — parse already refused others
                raise ChSqlError(f"unfoldable state fn {fn!r}")
        folded = df.groupBy(*spec.order_by).agg(*aggs)
        return folded.select(*[f.name for f in spec.schema.fields])

    def _fold_sums(self, spark: SparkSession, name: str) -> DataFrame:
        """SummingMergeTree merge: one row per sorting key, SUMMING the
        columns the engine argument names (or every numeric non-key
        column when none is named — the CH default), each sum cast
        back to the declared column type. CH takes "any" value for the
        remaining non-key columns; this engine takes the MIN — a
        deterministic instance of that contract (same convention as
        ANY JOIN's min-struct pick)."""
        spec = self.tables[name]
        df = self._read_stored(spark, name)
        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.DecimalType)
        declared = {f.name: f for f in spec.schema.fields}
        if spec.engine_args:
            summed = list(spec.engine_args)
            bad = [c for c in summed if c not in declared
                   or not isinstance(declared[c].dataType, numeric)
                   or c in spec.order_by]
            if bad:
                raise ChSqlError(
                    f"SummingMergeTree sum column(s) {bad} must be "
                    "declared numeric non-key columns"
                )
        else:
            summed = [f.name for f in spec.schema.fields
                      if f.name not in spec.order_by
                      and isinstance(f.dataType, numeric)]
        aggs = []
        for f in spec.schema.fields:
            if f.name in spec.order_by:
                continue
            if f.name in summed:
                aggs.append(
                    F.sum(f.name).cast(f.dataType).alias(f.name))
            else:
                aggs.append(F.min(f.name).alias(f.name))
        if not aggs:
            raise ChSqlError(
                "SummingMergeTree with no non-key columns has nothing "
                "to fold"
            )
        folded = df.groupBy(*spec.order_by).agg(*aggs)
        return folded.select(*[f.name for f in spec.schema.fields])

    def _modify_ttl(self, name: str, toks: list[str]):
        """CH ``MODIFY TTL col + INTERVAL n unit`` (r11): record the
        row-expiry rule — METADATA-ONLY, like CH (TTL applies on
        merges / MATERIALIZE TTL, never at MODIFY time). Only the
        canonical single-column + interval shape is inside the subset;
        GROUP BY rollup TTLs live on the native manifest surface
        (sinks/manifest.apply_ttl_rollup)."""
        spec = self.tables[name]
        ok = (len(toks) == 5 and _is_ident(toks[0]) and toks[1] == "+"
              and _kw(toks[2]) == "INTERVAL" and toks[3].isdigit()
              and _is_ident(toks[4]))
        if not ok:
            raise ChSqlError(
                f"MODIFY TTL supports `col + INTERVAL n unit`, got: "
                f"{' '.join(toks)!r} (rollup TTLs: "
                "sinks/manifest.apply_ttl_rollup)"
            )
        col, n, unit = toks[0], int(toks[3]), _kw(toks[4])
        if unit not in ("SECOND", "MINUTE", "HOUR", "DAY", "WEEK",
                        "MONTH", "YEAR"):
            raise ChSqlError(f"unsupported TTL interval unit {unit}")
        declared = {f.name: f for f in spec.schema.fields}
        if col not in declared or not isinstance(
                declared[col].dataType, (T.TimestampType, T.DateType)):
            raise ChSqlError(
                f"TTL column {col!r} must be a declared Date/DateTime "
                "column"
            )
        spec.ttl = (col, n, unit)
        return spec

    def materialize_ttl(self, spark: SparkSession, name: str,
                        now: str | None = None) -> int:
        """CH ``MATERIALIZE TTL``: apply the recorded TTL rule now —
        rows whose TTL column is older than (now - interval) delete
        via the manifest's zone-map-pruned transactional delete.
        ``now`` (an ISO timestamp string) pins the clock for
        deterministic tests; None uses the session's current time,
        the CH behavior. Calendar units (MONTH/YEAR) use Spark's
        calendar arithmetic, like CH's.

        r13: COLUMN TTLs apply too — expired values reset to the
        column's DEFAULT (or NULL), the CH column-TTL contract,
        through the manifest's zone-map-pruned ``update_where`` (the
        hit scan reads only files whose TTL-column [min, max] can
        reach below the cutoff)."""
        spec = self.tables[name]
        ttl = getattr(spec, "ttl", None)
        col_ttls = getattr(spec, "column_ttl", {})
        if ttl is None and not col_ttls:
            raise ChSqlError(
                f"{name!r} has no TTL rule — declare one in CREATE or "
                "ALTER TABLE ... MODIFY TTL first"
            )
        base = (f"TIMESTAMP '{now}'" if now is not None
                else "current_timestamp()")

        def _cutoff(n: int, unit: str) -> str:
            return spark.sql(
                f"SELECT CAST({base} - INTERVAL {n} {unit} AS STRING) AS c"
            ).collect()[0]["c"]

        t = self.storage_for(name)
        version = None
        if ttl is not None:
            col, n, unit = ttl
            cutoff = _cutoff(n, unit)
            version = t.delete_where(spark, f"{col} < TIMESTAMP '{cutoff}'",
                                     where=[(col, None, cutoff)])
        for col, (src, n, unit) in sorted(col_ttls.items()):
            cutoff = _cutoff(n, unit)
            version = t.update_where(
                spark, {col: spec.defaults.get(col, "NULL")},
                f"{src} < TIMESTAMP '{cutoff}'", where=[(src, None, cutoff)],
            )
        return version

    # -- storage -----------------------------------------------------
    def storage_for(self, name: str):
        """The :class:`sinks.manifest.ManifestTable` backing a declared
        MergeTree-family table — created lazily under
        ``storage_root/<name>``, bucketed on the first ORDER BY column,
        zone-map stats on the whole sort key (the CH primary-index
        minmax analog)."""
        if name in self.storage:
            return self.storage[name]
        spec = self.tables.get(name)
        if spec is None:
            raise ChSqlError(f"unknown table {name!r}")
        if spec.is_kafka_source:
            raise ChSqlError(
                f"{name!r} is an ENGINE = Kafka stream, not a stored table"
            )
        if self.storage_root is None:
            raise ChSqlError(
                "storage-backed statements (ALTER / insert / query) need "
                "ChDdlCatalog(storage_root=...)"
            )
        import os

        from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

        stats = list(spec.order_by) + [
            c for c in spec.partition_src if c not in spec.order_by
        ]
        t = ManifestTable(
            os.path.join(self.storage_root, name),
            key_col=spec.order_by[0],
            n_buckets=self.n_buckets,
            stats_cols=tuple(stats),
        )
        self.storage[name] = t
        return t

    def insert(self, spark: SparkSession, name: str, df: DataFrame,
               batch_id: int | str = 0, app_id: str | None = None) -> int:
        """CH ``INSERT INTO <name>`` against the catalog's storage:
        conform the block to the declared schema (the cast CH applies
        on insert), then land it as immutable part files — the
        MergeTree ingest path, O(batch) regardless of table size.
        ONLY a ReplacingMergeTree collapses within-batch sort-key
        duplicates (its insert-block dedup), by CH's rule: the
        max-version row wins under ``ReplacingMergeTree(ver)``, and
        among rows with an equal sort key (and equal version) the
        one LAST in the block wins. Every other engine keeps
        duplicate sort keys in the part — plain MergeTree rows
        accumulate, SummingMergeTree and AggregatingMergeTree rows
        fold at merge/read time, exactly the CH contract.

        ``app_id`` names the stream a foreachBatch insert belongs to;
        with it ``batch_id`` must be an int, and a batch whose id the
        table already records for that stream (a replay after a
        restart) commits nothing — the manifest's ``txns`` record.
        Without it an insert never skips: wire INSERTs number their
        batches per catalog object, so equal ids are not replays. A
        batch that writes no file commits nothing either way. Returns
        the table's version after the insert."""
        spec = self.tables.get(name)
        if spec is None:
            raise ChSqlError(f"unknown table {name!r}")
        txn = None
        if app_id is not None:
            if not isinstance(batch_id, int):
                raise ChSqlError(
                    f"insert with app_id needs an int batch_id, got {batch_id!r}"
                )
            txn = (app_id, batch_id)
        t = self.storage_for(name)
        batch = spec.conform(df)
        if spec.engine.upper() == "REPLACINGMERGETREE":
            from postgre_to_clickhouse_spark.cdc import latest

            # number the block's rows in block order before the dedup
            # shuffle: after the version, the higher number wins
            seq = "__ch_block_row"
            batch = latest(
                batch.withColumn(seq, F.monotonically_increasing_id()),
                tuple(spec.order_by), (*spec.engine_args[:1], seq),
            ).drop(seq)
        # r16: no touched-bucket discovery pass — an INSERT never reads
        # existing data, so which buckets the batch lands in is decided
        # by the hash write itself (empty partitions write no file).
        return t._append_part(batch, note=f"append batch_id={batch_id}", txn=txn)

    def _read_stored(self, spark: SparkSession, name: str) -> DataFrame:
        """Read a stored table onto its CURRENT declared schema. For a
        never-evolved table this is the plain manifest read (zero extra
        cost). After ALTER ADD/DROP COLUMN, parts are grouped by their
        PHYSICAL column set (one schema-footer read per file — a
        manifest-bounded metadata pass, the same class of bookkeeping
        CH's per-part metadata is) and each group projects through
        :meth:`ChTableSpec.read_conform`, so pre-ADD parts materialize
        the DEFAULT while post-ADD parts keep their stored values —
        including genuine NULLs, which a naive merged-read-plus-
        coalesce would silently overwrite."""
        import os

        spec = self.tables[name]
        t = self.storage_for(name)
        if not spec.evolved:
            try:
                df = t.read(spark)
            except FileNotFoundError:
                # empty snapshot (fresh table or TRUNCATE) — the
                # declared schema still answers queries with 0 rows
                return spark.createDataFrame([], spec.schema)
            # ALIAS columns are compute-at-read: append them via the
            # conform projection (a metadata-only plan node — parts
            # are physically untouched, like CH)
            return spec.read_conform(df) if spec.aliases else df
        import json as _json

        m = t.current_manifest()
        base = [f for f in m["files"] if not f.get("proj")]
        if not base:
            return spark.createDataFrame([], spec.schema)
        # r17: the manifest records each file's written schema (see
        # ManifestTable._register_schema), so the per-part grouping
        # resolves from MANIFEST metadata — the per-file footer read
        # below survives only for pre-r17 entries.
        schemas_m = m.get("schemas") or {}
        groups: dict[tuple, list[str]] = {}
        group_sjs: dict[tuple, set] = {}
        for f in base:
            p = os.path.join(t.path, "data", f["name"])
            sj = schemas_m.get(f.get("sch")) if f.get("sch") else None
            if sj is not None:
                sch = T.StructType.fromJson(_json.loads(sj))
            else:
                sch = spark.read.parquet(p).schema
            # group by (name, type): after MODIFY COLUMN (r12), parts
            # share names but differ in physical type — a name-only
            # group would hand one parquet read conflicting types
            key = tuple((g.name, g.dataType.simpleString()) for g in sch)
            groups.setdefault(key, []).append(p)
            group_sjs.setdefault(key, set()).add(sj)
        out = None
        for cols, ps in sorted(groups.items()):
            sjs = group_sjs[cols]
            if len(sjs) == 1 and None not in sjs:
                # every file in the group carries the same recorded
                # schema — pass it explicitly, no footer inference
                reader = spark.read.schema(
                    T.StructType.fromJson(_json.loads(next(iter(sjs))))
                )
            else:
                reader = spark.read
            df = spec.read_conform(reader.parquet(*ps))
            out = df if out is None else out.unionByName(df)
        return out

    def query(self, spark: SparkSession, sql: str,
              _visiting: frozenset = frozenset()) -> DataFrame:
        """Compile a CH-dialect SELECT against the catalog's STORED
        tables (each inserted table reads through its manifest; RMT
        version declarations contribute FINAL specs) — the terminal
        SELECT of the reference's own workflow, over the same catalog
        the DDL built. A declared table never inserted into answers
        with its empty declared-schema frame (CH: SELECT from an empty
        table is 0 rows, not an error). Plain views (r14) expand here:
        a whole-word reference compiles the view's stored SELECT
        recursively (``_visiting`` breaks reference cycles loudly)."""
        tables = {n: self._read_stored(spark, n) for n in self.storage}
        # table-reference-position match (ADVICE r14): a view whose own
        # SELECT mentions its name as an alias or inside a string
        # literal is NOT self-referencing — only FROM/JOIN/IN counts.
        refs = _table_refs(sql)
        for vname, vsql in self.views.items():
            if vname in refs:
                if vname in _visiting:
                    raise ChSqlError(
                        f"view {vname!r} is part of a reference cycle"
                    )
                tables[vname] = self.query(
                    spark, vsql, _visiting | {vname})
        if self.storage_root is not None:
            for n, spec in self.tables.items():
                if n not in tables and not spec.is_kafka_source:
                    tables[n] = spark.createDataFrame([], spec.schema)
        final_specs = {
            n: s.final_spec for n, s in self.tables.items()
            if s.final_spec is not None and n in tables
        }
        sample_keys = {
            n: s.sample_by for n, s in self.tables.items()
            if s.sample_by is not None and n in tables
        }
        # CH system tables (r12): system.tables / system.columns /
        # system.parts answer like a CH server (the first thing a CH
        # operator queries — reference runbook README.md:237-243).
        # The dialect resolver strips the db prefix, so they register
        # under their bare names; a user table of the same bare name
        # SHADOWS them (deterministic, documented here). Built only
        # when the statement actually names one — zero cost on the
        # ordinary query path.
        import re as _re

        # word-boundary match (r13, VERDICT): a user table named e.g.
        # `spare_parts` must not trigger the metadata build — only a
        # whole-word reference to one of the system table names does.
        if _re.search(r"\b(tables|columns|parts|databases|one)\b", sql):
            for k, df in self._system_frames(spark).items():
                tables.setdefault(k, df)
        return ch_select(spark, sql, ChContext(
            tables, final_specs=final_specs, sample_keys=sample_keys))

    def _system_frames(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Metadata-only frames: bounded by table/column/part-file
        count, never by rows (system.parts reads parquet FOOTERS via
        the manifest's describe_parts)."""
        t_rows, c_rows = [], []
        for n in sorted(self.views):  # r14: plain views, CH engine name
            t_rows.append(
                (n, "View", "", "", None,
                 f"CREATE VIEW {n} AS {self.views[n]}"))
        for n in sorted(self.tables):
            s = self.tables[n]
            t_rows.append((
                n, s.engine, ", ".join(s.order_by),
                ", ".join(s.partition_src), s.sample_by, s.show_create(),
            ))
            for pos, f in enumerate(s.schema.fields, 1):
                if f.name in s.defaults:
                    kind, expr = "DEFAULT", s.defaults[f.name]
                elif f.name in s.materialized:
                    kind, expr = "MATERIALIZED", s.materialized[f.name]
                elif f.name in s.aliases:
                    kind, expr = "ALIAS", s.aliases[f.name]
                else:
                    kind, expr = "", ""
                c_rows.append((
                    n, f.name, s._render_type(f), pos, kind, expr,
                    s.comments.get(f.name, ""),
                    (f"CODEC({s.codecs[f.name]})"
                     if f.name in s.codecs else ""),
                ))
        dbs = self._database_names()
        out = {
            # r13: system.one (the 1-row dummy table clients probe with
            # `SELECT 1 FROM system.one`) and system.databases
            "one": spark.createDataFrame([(0,)], "dummy int"),
            "databases": spark.createDataFrame(
                [(d,) for d in dbs], "name string"),
            "tables": spark.createDataFrame(
                t_rows,
                "name string, engine string, sorting_key string, "
                "partition_key string, sampling_key string, "
                "create_table_query string"),
            "columns": spark.createDataFrame(
                c_rows,
                "table string, name string, type string, position int, "
                "default_kind string, default_expression string, "
                "comment string, compression_codec string"),
        }
        parts = None
        for n in sorted(self.storage):
            try:
                p = self.storage[n].describe_parts(spark).withColumn(
                    "table", F.lit(n))
            except FileNotFoundError:  # fresh table, no snapshot yet
                continue
            parts = p if parts is None else parts.unionByName(p)
        if parts is None:
            parts = spark.createDataFrame(
                [],
                "name string, part string, bucket int, proj string, "
                "rows long, bytes long, row_groups int, stats string, "
                "table string")
        out["parts"] = parts
        return out

    # -- application -------------------------------------------------
    def source_stream(self, spark: SparkSession, name: str,
                      streaming: bool = True) -> DataFrame:
        """Construct the Kafka reader a parsed ``ENGINE = Kafka`` table
        declares — broker list, topic, consumer group straight from the
        DDL's SETTINGS (README.md:190-201). Gated like A4/A6: the
        container has no spark-kafka jar or broker, so construction
        raises Spark's data-source error here; the parse→options wiring
        is what this method owns. ``streaming=False`` gives the batch
        replay of the same topic (A27)."""
        spec = self.tables.get(name)
        if spec is None or not spec.is_kafka_source:
            raise ChSqlError(f"{name!r} is not a parsed ENGINE = Kafka table")
        s = spec.settings
        missing = [k for k in ("kafka_broker_list", "kafka_topic_list")
                   if k not in s]
        if missing:
            raise ChSqlError(f"Kafka DDL lacks SETTINGS {missing}")
        fmt = s.get("kafka_format", "AvroConfluent")
        if fmt != "AvroConfluent":
            raise ChSqlError(
                f"kafka_format {fmt!r} is outside the subset — the decode "
                "chain implements AvroConfluent (cdc.avro / cdc.avro_py)"
            )
        from postgre_to_clickhouse_spark.streaming.kafka import read_cdc_topic

        return read_cdc_topic(
            spark,
            bootstrap_servers=s["kafka_broker_list"],
            topic=s["kafka_topic_list"],
            group_id=s.get("kafka_group_name", "clickhouse"),
            streaming=streaming,
        )

    def apply_mv(self, spark: SparkSession, name: str,
                 sources: dict[str, DataFrame]) -> DataFrame:
        """Compile the MV's verbatim SELECT over the supplied source
        frames (batch or streaming) and conform the result to the
        target table's declared schema. Table specs parsed earlier
        contribute FINAL specs (version-carrying RMTs) to the
        compile context."""
        mv = self.mvs.get(name)
        if mv is None:
            raise ChSqlError(f"unknown materialized view {name!r}")
        final_specs = {
            n: s.final_spec for n, s in self.tables.items()
            if s.final_spec is not None
        }
        ctx = ChContext(dict(sources), final_specs=final_specs)
        out = ch_select(spark, mv.select_sql, ctx)
        if mv.declared_cols is not None and out.columns != mv.declared_cols:
            raise ChSqlError(
                f"MV SELECT produces {out.columns}, declared "
                f"{mv.declared_cols}"
            )
        target = self.tables.get(mv.target)
        return target.conform(out) if target is not None else out

    def kafka_sink(self, kafka_table: str, app_id: str):
        """The foreachBatch body that feeds the ``ENGINE = Kafka`` table
        ``kafka_table`` — what CH does with each block the table
        consumes. The batch's ``kafka_offset``, ``kafka_timestamp`` and
        ``kafka_partition`` columns become the engine's virtual columns
        ``_offset``, ``_timestamp`` and ``_partition``; every
        materialized view whose FROM names the table runs over the
        block, and :meth:`insert` lands each view's output in its target
        tagged ``(app_id, batch_id)``, so a micro-batch replayed after a
        restart commits nothing. A stream passes its checkpoint path as
        ``app_id``. A Kafka table no view reads raises ChSqlError."""
        spec = self.tables.get(kafka_table)
        if spec is None or not spec.is_kafka_source:
            raise ChSqlError(f"{kafka_table!r} is not a parsed ENGINE = Kafka table")
        mvs = [mv for mv in self.mvs.values() if kafka_table in _table_refs(mv.select_sql)]
        if not mvs:
            raise ChSqlError(f"no materialized view reads {kafka_table!r}")

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            block = batch_df.withColumnsRenamed(KAFKA_VIRTUAL)
            for mv in mvs:
                out = self.apply_mv(spark, mv.name, {kafka_table: block})
                self.insert(spark, mv.target, out, batch_id=batch_id, app_id=app_id)

        return _apply


def _split_statements(sql: str) -> list[list[str]]:
    toks = _tokenize(sql)
    out, cur = [], []
    for t in toks:
        if t == ";":
            if cur:
                out.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        out.append(cur)
    if not out:
        raise ChSqlError("empty DDL")
    return out


def _strip_if_not_exists(toks: list[str]) -> list[str]:
    if (
        len(toks) >= 3 and _kw(toks[0]) == "IF" and _kw(toks[1]) == "NOT"
        and _kw(toks[2]) == "EXISTS"
    ):
        return toks[3:]
    return toks


def _predicate(toks: list[str], what: str) -> str:
    """A mutation's WHERE tokens compiled to Spark SQL."""
    if not toks:
        raise ChSqlError(f"ALTER TABLE ... {what} WHERE needs a predicate")
    return _rewrite_all(toks)


def _find_clause(tokens: list[str], *words: str) -> int | None:
    """Index of the depth-0 keyword run ``words`` in tokens."""
    depth = 0
    for i, t in enumerate(tokens):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _is_ident(t) and _kw(t) == words[0]:
            if all(
                i + k < len(tokens) and _is_ident(tokens[i + k])
                and _kw(tokens[i + k]) == w
                for k, w in enumerate(words)
            ):
                return i
    return None


def _parse_create_table(tokens: list[str]) -> ChTableSpec:
    rest = _strip_if_not_exists(tokens[2:])
    if not rest or not _is_ident(rest[0]):
        raise ChSqlError("CREATE TABLE needs a name")
    qual = rest[0].split(".")
    db, name = (qual[0], qual[1]) if len(qual) == 2 else (None, qual[0])
    rest = rest[1:]
    if not rest or rest[0] != "(":
        raise ChSqlError("CREATE TABLE needs a column list")
    depth, close = 0, None
    for i, t in enumerate(rest):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
            if depth == 0:
                close = i
                break
    if close is None:
        raise ChSqlError("unbalanced column list")
    fields = []
    defaults: dict[str, str] = {}
    agg_fns: dict[str, str] = {}
    materialized: dict[str, str] = {}
    aliases: dict[str, str] = {}
    codecs: dict[str, str] = {}
    comments: dict[str, str] = {}
    column_ttls: dict[str, tuple[str, int, str]] = {}
    for full_item in _split_commas(rest[1:close]):
        if len(full_item) < 2 or not _is_ident(full_item[0]):
            raise ChSqlError(
                f"cannot parse column def {' '.join(full_item)!r}")
        # r11: `name Type DEFAULT expr`; r12: MATERIALIZED/ALIAS; r13
        # (VERDICT r12 #4): the trailing CODEC(...) / TTL expr /
        # COMMENT '...' clauses — shared with ALTER ADD COLUMN via
        # _split_column_clauses.
        item, codec, comment, cttl = _split_column_clauses(full_item)
        if codec is not None:
            codecs[full_item[0]] = codec
        if comment is not None:
            comments[full_item[0]] = comment
        if cttl is not None:
            column_ttls[full_item[0]] = cttl
        kinds = [
            (i, _kw(t)) for i, t in enumerate(item[1:], 1)
            if _is_ident(t) and _kw(t) in ("DEFAULT", "MATERIALIZED",
                                           "ALIAS")
        ]
        if len(kinds) > 1:
            raise ChSqlError(
                f"at most one of DEFAULT/MATERIALIZED/ALIAS per "
                f"column: {' '.join(item)!r}"
            )
        d_at, kind = kinds[0] if kinds else (None, None)
        type_toks = item[1:d_at] if d_at is not None else item[1:]
        if d_at is not None:
            if not type_toks:
                raise ChSqlError(
                    f"{kind} needs an explicit column type (CH infers "
                    f"one from the expression; this subset requires "
                    f"it declared): {' '.join(item)!r}"
                )
            if not item[d_at + 1:]:
                raise ChSqlError(
                    f"{kind} needs an expression: {' '.join(item)!r}")
            # the expression is verbatim CH text — run it through the
            # dialect rewriter (r12) so CH names (toStartOfDay,
            # toInt64, ...) work exactly as they do in SELECTs; plain
            # SQL passes through unchanged
            expr = _rewrite_all(item[d_at + 1:])
            {"DEFAULT": defaults, "MATERIALIZED": materialized,
             "ALIAS": aliases}[kind][item[0]] = expr
        if (len(type_toks) > 2
                and type_toks[0].upper() == "AGGREGATEFUNCTION"):
            # remember WHICH state the column carries — OPTIMIZE FINAL
            # on an AggregatingMergeTree folds each column by its fn.
            # A parameterized fn (topK(10), quantile(0.5)) keeps its
            # params verbatim: topK's capacity drives the fold re-cap.
            fn = type_toks[2].lower()
            if len(type_toks) > 4 and type_toks[3] == "(":
                p_end = type_toks.index(")", 3)
                fn += "(" + "".join(type_toks[4:p_end]) + ")"
            agg_fns[item[0]] = fn
        dtype, nullable = _parse_type(type_toks)
        fields.append(T.StructField(item[0], dtype, nullable))
    tail = rest[close + 1:]

    eng_at = _find_clause(tail, "ENGINE")
    if eng_at is None or tail[eng_at + 1] != "=":
        raise ChSqlError("CREATE TABLE needs ENGINE = ...")
    engine = tail[eng_at + 2]
    engine_args: list[str] = []
    j = eng_at + 3
    if j < len(tail) and tail[j] == "(":
        depth = 1
        j += 1
        while j < len(tail) and depth > 0:
            if tail[j] == "(":
                depth += 1
            elif tail[j] == ")":
                depth -= 1
            elif tail[j] != ",":
                engine_args.append(tail[j])
            j += 1
    if engine.upper() not in ("MERGETREE", "REPLACINGMERGETREE", "KAFKA",
                              "AGGREGATINGMERGETREE", "SUMMINGMERGETREE"):
        raise ChSqlError(
            f"unsupported engine {engine!r} (MergeTree / "
            "ReplacingMergeTree / AggregatingMergeTree / "
            "SummingMergeTree / Kafka)"
        )

    order_by: list[str] = []
    ob_at = _find_clause(tail, "ORDER", "BY")
    if ob_at is not None:
        obt = tail[ob_at + 2:]
        end = _find_clause(obt, "SETTINGS")
        end2 = _find_clause(obt, "PARTITION", "BY")
        end3 = _find_clause(obt, "TTL")
        end4 = _find_clause(obt, "SAMPLE", "BY")
        ends = [e for e in (end, end2, end3, end4) if e is not None]
        obt = obt[: min(ends)] if ends else obt
        if obt and obt[0] == "(":
            obt = obt[1:-1] if obt[-1] == ")" else obt[1:]
        order_by = [t for t in obt if t != ","]
        if not all(_is_ident(t) for t in order_by):
            raise ChSqlError(
                f"ORDER BY supports plain columns here, got {order_by}"
            )
    elif engine.upper() != "KAFKA":
        raise ChSqlError(f"ENGINE = {engine} requires ORDER BY")

    # PARTITION BY (r11): captured, not dropped — the declared
    # columns under the partition expression (toYYYYMM(ts) -> ts)
    # join the storage's zone-map stats columns, which is how this
    # engine delivers the file pruning PARTITION BY exists for (the
    # manifest's per-file [min, max] on ts subsumes any monotone
    # date-bucketing expression over it).
    partition_src: list[str] = []
    pb_at = _find_clause(tail, "PARTITION", "BY")
    if pb_at is not None:
        pbt = tail[pb_at + 2:]
        ends = [e for e in (_find_clause(pbt, "ORDER", "BY"),
                            _find_clause(pbt, "SAMPLE", "BY"),
                            _find_clause(pbt, "TTL"),
                            _find_clause(pbt, "SETTINGS")) if e is not None]
        pbt = pbt[: min(ends)] if ends else pbt
        col_names = {f.name for f in fields}
        partition_src = [t for t in pbt if _is_ident(t) and t in col_names]
        if not partition_src:
            raise ChSqlError(
                f"PARTITION BY references no declared column: "
                f"{' '.join(pbt)!r}"
            )

    settings: dict[str, str] = {}
    st_at = _find_clause(tail, "SETTINGS")
    if st_at is not None:
        for item in _split_commas(tail[st_at + 1:]):
            if len(item) >= 3 and item[1] == "=":
                settings[item[0]] = " ".join(item[2:]).strip("'")
            else:
                raise ChSqlError(f"cannot parse SETTING {' '.join(item)!r}")
    if materialized or aliases:
        # the state-folding engines rebuild parts from state columns;
        # expression columns would be silently recomputed mid-fold —
        # refuse the combination rather than misread it
        if engine.upper() not in ("MERGETREE", "REPLACINGMERGETREE"):
            raise ChSqlError(
                "MATERIALIZED/ALIAS columns are supported on MergeTree "
                f"and ReplacingMergeTree, not {engine}"
            )
        bad_ob = [c for c in order_by if c in aliases]
        if bad_ob:
            raise ChSqlError(
                f"ALIAS column(s) {bad_ob} cannot be in ORDER BY — CH "
                "sorting keys must be stored columns"
            )
    # r13 column-clause validations (CODEC/COMMENT/column TTL)
    names_by_field = {f.name: f for f in fields}
    for col in set(codecs) | set(column_ttls):
        if col in aliases:
            raise ChSqlError(
                f"CODEC/TTL on ALIAS column {col!r} is meaningless — "
                "an ALIAS is never stored"
            )
    for col, (src, _n, _u) in column_ttls.items():
        if src not in names_by_field or not isinstance(
                names_by_field[src].dataType,
                (T.TimestampType, T.DateType)):
            raise ChSqlError(
                f"column TTL on {col!r} must reference a declared "
                f"Date/DateTime column, got {src!r}"
            )
        if col == src:
            raise ChSqlError(
                f"column TTL on {col!r} cannot reference itself — "
                "resetting the TTL clock column would make expiry "
                "undecidable for later merges"
            )
        if col in order_by or col in engine_args or col in partition_src:
            raise ChSqlError(
                f"column TTL on {col!r}: sorting-key / version / "
                "partition columns are the storage layout's identity "
                "and cannot be reset (CH refuses TTL on key columns too)"
            )
        if not names_by_field[col].nullable and col not in defaults:
            raise ChSqlError(
                f"column TTL on {col!r}: expired values reset to the "
                "column DEFAULT or NULL — declare it Nullable or give "
                "it a DEFAULT"
            )
    spec = ChTableSpec(db, name, T.StructType(fields), engine,
                       engine_args, order_by, settings, defaults=defaults,
                       agg_fns=agg_fns, materialized=materialized,
                       aliases=aliases)
    spec.partition_src = partition_src
    spec.codecs = codecs
    spec.comments = comments
    spec.column_ttl = column_ttls

    # SAMPLE BY (r12): the declared sampling key — makes verbatim
    # `SELECT ... SAMPLE f [OFFSET o]` work against catalog tables
    # (ChContext.sample_keys). CH requires the sampling expression
    # inside the primary key; this subset requires it to BE a sort-key
    # column (the deterministic md5-band sampler keys on it).
    sb_at = _find_clause(tail, "SAMPLE", "BY")
    if sb_at is not None:
        sbt = tail[sb_at + 2:]
        ends = [e for e in (_find_clause(sbt, "SETTINGS"),
                            _find_clause(sbt, "TTL"),
                            _find_clause(sbt, "PARTITION", "BY"))
                if e is not None]
        sbt = sbt[: min(ends)] if ends else sbt
        if len(sbt) != 1 or not _is_ident(sbt[0]):
            raise ChSqlError(
                f"SAMPLE BY supports one plain sort-key column, got "
                f"{' '.join(sbt)!r}"
            )
        if sbt[0] not in order_by:
            raise ChSqlError(
                f"SAMPLE BY column {sbt[0]!r} must be part of ORDER BY "
                "(CH requires the sampling expression in the primary key)"
            )
        spec.sample_by = sbt[0]
    # table-level TTL clause (r11): `TTL col + INTERVAL n unit` — the
    # same canonical shape ALTER ... MODIFY TTL accepts (rollup TTLs
    # refuse there too); recorded metadata-only, like CH
    ttl_at = _find_clause(tail, "TTL")
    if ttl_at is not None:
        ttt = tail[ttl_at + 1:]
        ends = [e for e in (_find_clause(ttt, "SETTINGS"),) if e is not None]
        ttt = ttt[: min(ends)] if ends else ttt
        ok = (len(ttt) == 5 and _is_ident(ttt[0]) and ttt[1] == "+"
              and _kw(ttt[2]) == "INTERVAL" and ttt[3].isdigit()
              and _is_ident(ttt[4]))
        if not ok:
            raise ChSqlError(
                f"TTL supports `col + INTERVAL n unit`, got "
                f"{' '.join(ttt)!r}"
            )
        col = ttt[0]
        names = {f.name for f in fields}
        if col not in names:
            raise ChSqlError(f"TTL column {col!r} is not declared")
        spec.ttl = (col, int(ttt[3]), _kw(ttt[4]))
    return spec


def _parse_create_mv(tokens: list[str]) -> ChMvSpec:
    rest = _strip_if_not_exists(tokens[3:])
    if not rest or not _is_ident(rest[0]):
        raise ChSqlError("CREATE MATERIALIZED VIEW needs a name")
    qual = rest[0].split(".")
    db, name = (qual[0], qual[1]) if len(qual) == 2 else (None, qual[0])
    rest = rest[1:]
    if not rest or _kw(rest[0]) != "TO":
        raise ChSqlError(
            "only the reference's `TO target` MV form is supported "
            "(implicit .inner storage is a CH artifact)"
        )
    target = rest[1].split(".")[-1]
    rest = rest[2:]
    declared = None
    if rest and rest[0] == "(":
        depth, close = 0, None
        for i, t in enumerate(rest):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        if close is None:
            raise ChSqlError("unbalanced MV column list")
        declared = [it[0] for it in _split_commas(rest[1:close])]
        rest = rest[close + 1:]
    if not rest or _kw(rest[0]) != "AS":
        raise ChSqlError("CREATE MATERIALIZED VIEW needs AS SELECT ...")
    select_sql = " ".join(rest[1:])
    return ChMvSpec(db, name, target, declared, select_sql)
