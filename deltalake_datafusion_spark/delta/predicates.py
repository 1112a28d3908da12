"""Predicate IR + translation for stats-based file skipping.

Spark-first analog of the reference's two-way expression translation
(reference: ``crates/datafusion/src/engine/expressions/to_delta.rs:13-225``,
``to_datafusion.rs:18-175``): a user predicate (SQL string) is parsed
into a small IR; the IR is evaluated *conservatively* against each
add-file's stats (minValues / maxValues / nullCount) and partition
values to decide "can this file possibly contain a matching row".

The discipline mirrors the reference's ``Inexact`` pushdown contract
(``table_provider/delta/mod.rs:83-88``): anything unsupported or
unknown → keep the file; the full predicate is always re-applied to
the data above the scan, so pruning can only be an optimization,
never a correctness hazard (SURVEY.md §7 hard-part 5).

Three-valued evaluation: True = some row may match, False = provably
no row matches (prune), None = unknown (keep).
"""

from __future__ import annotations

import datetime as dt
import operator
import re
from dataclasses import dataclass
from typing import Any

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    IntegralType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)


class PredicateParseError(Exception):
    pass


# ------------------------------------------------------------------ IR


@dataclass
class Col:
    name: str  # dotted for nested


@dataclass
class Lit:
    value: Any


@dataclass
class Cmp:
    op: str  # '=', '!=', '<', '<=', '>', '>='
    col: Col
    lit: Lit


@dataclass
class And:
    children: list


@dataclass
class Or:
    children: list


@dataclass
class Not:
    child: Any


@dataclass
class IsNull:
    col: Col
    negated: bool = False


@dataclass
class InList:
    col: Col
    values: list


@dataclass
class StartsWith:
    """``col LIKE 'prefix%'`` (the reference's ``starts_with`` node,
    to_delta.rs): prunable against string min/max — values with the
    prefix lie in [prefix, prefix⁺) where prefix⁺ bumps the last code
    point."""

    col: Col
    prefix: str


def _prefix_upper(p: str) -> str | None:
    """Smallest string > every string starting with ``p``: bump the
    last code point (dropping trailing U+10FFFF chars, which cannot be
    bumped). None when no upper bound exists."""
    chars = list(p)
    while chars:
        if ord(chars[-1]) < 0x10FFFF:
            chars[-1] = chr(ord(chars[-1]) + 1)
            return "".join(chars)
        chars.pop()
    return None


@dataclass
class Unknown:
    """Unsupported construct — evaluates to 'unknown' (keep file)."""

    text: str = ""


# ------------------------------------------------------------- parser

_TOKEN_RE = re.compile(
    r"""
    \s*(
        (?P<string>'(?:[^']|'')*')
      | (?P<number>-?\d+\.\d+(?:[eE][+-]?\d+)?|-?\d+(?:[eE][+-]?\d+)?)
      | (?P<op><=|>=|!=|<>|==|=|<|>)
      | (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<comma>,)
      | (?P<ident>`[^`]+`(?:\.`[^`]+`)*|[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"AND", "OR", "NOT", "IN", "IS", "NULL", "TRUE", "FALSE", "BETWEEN",
             "DATE", "TIMESTAMP", "LIKE"}


def _tokenize(s: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            rest = s[pos:].strip()
            if not rest:
                break
            raise PredicateParseError(f"cannot tokenize at: {rest[:30]!r}")
        pos = m.end()
        kind = next(k for k, v in m.groupdict().items() if v is not None)
        text = m.group(kind)
        if kind == "ident" and text.upper() in _KEYWORDS:
            out.append(("kw", text.upper()))
        else:
            out.append((kind, text))
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind, text=None):
        k, t = self.next()
        if k != kind or (text is not None and t != text):
            raise PredicateParseError(f"expected {text or kind}, got {t!r}")
        return t

    def parse(self):
        e = self.or_expr()
        if self.peek()[0] != "eof":
            raise PredicateParseError(f"trailing input: {self.peek()[1]!r}")
        return e

    def or_expr(self):
        parts = [self.and_expr()]
        while self.peek() == ("kw", "OR"):
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else Or(parts)

    def and_expr(self):
        parts = [self.unary()]
        while self.peek() == ("kw", "AND"):
            self.next()
            parts.append(self.unary())
        return parts[0] if len(parts) == 1 else And(parts)

    def unary(self):
        if self.peek() == ("kw", "NOT"):
            self.next()
            return Not(self.unary())
        if self.peek()[0] == "lparen":
            save = self.i
            self.next()
            try:
                e = self.or_expr()
                self.expect("rparen")
                return e
            except PredicateParseError:
                self.i = save
                return self.atom()
        return self.atom()

    def _literal(self):
        k, t = self.next()
        if k == "string":
            return Lit(t[1:-1].replace("''", "'"))
        if k == "number":
            return Lit(float(t) if ("." in t or "e" in t or "E" in t) else int(t))
        if (k, t) == ("kw", "TRUE"):
            return Lit(True)
        if (k, t) == ("kw", "FALSE"):
            return Lit(False)
        if (k, t) == ("kw", "NULL"):
            return Lit(None)
        if (k, t) == ("kw", "DATE"):
            s = self.expect("string")
            return Lit(dt.date.fromisoformat(s[1:-1]))
        if (k, t) == ("kw", "TIMESTAMP"):
            s = self.expect("string")
            return Lit(_parse_ts(s[1:-1]))
        raise PredicateParseError(f"expected literal, got {t!r}")

    def atom(self):
        k, t = self.next()
        if k != "ident":
            raise PredicateParseError(f"expected column, got {t!r}")
        col = Col(t.replace("`", ""))
        k2, t2 = self.peek()
        if (k2, t2) == ("kw", "IS"):
            self.next()
            negated = False
            if self.peek() == ("kw", "NOT"):
                self.next()
                negated = True
            k3, t3 = self.peek()
            if (k3, t3) in (("kw", "TRUE"), ("kw", "FALSE")):
                # IS TRUE/FALSE (the reference's is_false node) prunes
                # as equality on the boolean literal — null rows
                # satisfy neither IS TRUE nor = TRUE, so the file sets
                # coincide (incl. the all-null prune). The NEGATED
                # forms match null rows, which no Cmp shape may prune
                # away → Unknown (keep).
                self.next()
                if negated:
                    return Unknown(f"IS NOT {t3}")
                return Cmp("=", col, Lit(t3 == "TRUE"))
            self.expect("kw", "NULL")
            return IsNull(col, negated)
        if (k2, t2) == ("kw", "IN"):
            self.next()
            self.expect("lparen")
            vals = [self._literal()]
            while self.peek()[0] == "comma":
                self.next()
                vals.append(self._literal())
            self.expect("rparen")
            return InList(col, [v.value for v in vals])
        if (k2, t2) == ("kw", "BETWEEN"):
            self.next()
            lo = self._literal()
            self.expect("kw", "AND")
            hi = self._literal()
            return And([Cmp(">=", col, lo), Cmp("<=", col, hi)])
        if (k2, t2) == ("kw", "NOT") :
            # col NOT IN (...) / NOT BETWEEN / NOT LIKE
            self.next()
            k3, t3 = self.peek()
            if (k3, t3) == ("kw", "IN"):
                self.next()
                self.expect("lparen")
                vals = [self._literal()]
                while self.peek()[0] == "comma":
                    self.next()
                    vals.append(self._literal())
                self.expect("rparen")
                return Not(InList(col, [v.value for v in vals]))
            if (k3, t3) == ("kw", "BETWEEN"):
                # consume so the REST of the conjunction stays prunable
                self.next()
                self._literal()
                self.expect("kw", "AND")
                self._literal()
                return Unknown("NOT BETWEEN")
            if (k3, t3) == ("kw", "LIKE"):
                self.next()
                self._literal()
                return Unknown("NOT LIKE")
            raise PredicateParseError("unsupported NOT form")
        if (k2, t2) == ("kw", "LIKE"):
            self.next()
            pat = self._literal().value
            if isinstance(pat, str) and "\\" not in pat and "_" not in pat:
                if "%" not in pat:
                    return Cmp("=", col, Lit(pat))  # no wildcard ≡ equality
                if pat.endswith("%") and "%" not in pat[:-1]:
                    return StartsWith(col, pat[:-1])
            return Unknown("LIKE")
        if k2 == "op":
            op = self.next()[1]
            op = {"==": "=", "<>": "!="}.get(op, op)
            lit = self._literal()
            return Cmp(op, col, lit)
        raise PredicateParseError(f"unexpected token after column: {t2!r}")


def _parse_ts(s: str) -> dt.datetime:
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    return dt.datetime.fromisoformat(s)


def parse_predicate(sql: str):
    """SQL-subset predicate → IR. Raises PredicateParseError for
    constructs outside the subset (callers then skip pruning — the
    same fallback as the reference's NotImplemented path,
    to_delta.rs:219-224)."""
    return _Parser(_tokenize(sql)).parse()


def try_parse_predicate(sql: str):
    try:
        return parse_predicate(sql)
    except PredicateParseError:
        return None


# ------------------------------------------------- stats evaluation


def _coerce(value: Any, dtype: DataType) -> Any:
    """Coerce a stats/partition/literal value into the comparison domain
    of ``dtype``. None = not comparable (unknown)."""
    if value is None:
        return None
    try:
        if isinstance(dtype, (TimestampType, TimestampNTZType)):
            if isinstance(value, dt.datetime):
                return value
            if isinstance(value, dt.date):
                return dt.datetime(value.year, value.month, value.day)
            if isinstance(value, str):
                v = value.replace("T", " ").rstrip("Z")
                return _parse_ts(v)
            return None
        if isinstance(dtype, DateType):
            if isinstance(value, dt.datetime):
                return value.date()
            if isinstance(value, dt.date):
                return value
            if isinstance(value, str):
                return dt.date.fromisoformat(value[:10])
            return None
        if isinstance(dtype, BooleanType):
            if isinstance(value, bool):
                return value
            if isinstance(value, str):
                return value.lower() == "true"
            return None
        if isinstance(dtype, IntegralType):
            # exact: Python compares int with int/float exactly, so
            # ints beyond 2**53 never round into a false prune
            if isinstance(value, bool):
                return None
            if isinstance(value, (int, float)):
                return value
            if isinstance(value, str):
                try:
                    return int(value)
                except ValueError:
                    return float(value)
            return None
        if isinstance(dtype, (NumericType, DecimalType)):
            if isinstance(value, bool):
                return None
            if isinstance(value, (int, float)):
                return float(value)
            if isinstance(value, str):
                return float(value)
            return None
        if isinstance(dtype, StringType):
            return value if isinstance(value, str) else str(value)
    except (ValueError, TypeError):
        return None
    return None


def _lookup(d: dict | None, dotted: str) -> Any:
    if d is None:
        return None
    cur: Any = d
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


def _field_type(schema: StructType, dotted: str) -> DataType | None:
    cur: DataType = schema
    for part in dotted.split("."):
        if not isinstance(cur, StructType):
            return None
        match = next((f for f in cur.fields if f.name == part), None)
        if match is None:
            return None
        cur = match.dataType
    return cur


class StatsEvaluator:
    """Evaluate the IR against one file's metadata, three-valued."""

    def __init__(
        self,
        schema: StructType,
        partition_columns: list[str],
        logical_to_physical: dict[str, str] | None = None,
    ):
        self.schema = schema
        self.partition_columns = set(partition_columns)
        self.l2p = logical_to_physical or {}

    def may_match(self, add_file, pred) -> bool:
        """True → scan the file; False → provably prunable."""
        res = self._eval(add_file, pred)
        return res is not False

    def all_match(self, add_file, pred) -> bool:
        """True → stats prove EVERY physical row of the file satisfies
        ``pred`` (so e.g. DELETE can drop the file as pure metadata,
        no data I/O — the partition-drop fast path). Distinct from the
        may-match lattice: ``_eval``'s True means "at least one row
        certainly matches"; this requires all rows. Conservative:
        missing stats / unknown shapes → False."""
        return self._eval_all(add_file, pred) is True

    def _eval_all(self, f, node):
        if isinstance(node, And):
            if all(self._eval_all(f, c) is True for c in node.children):
                return True
            return None
        if isinstance(node, Or):
            if any(self._eval_all(f, c) is True for c in node.children):
                return True
            return None
        if isinstance(node, Not):
            if isinstance(node.child, Cmp):
                inverse = {
                    "=": "!=", "!=": "=", "<": ">=", ">": "<=",
                    "<=": ">", ">=": "<",
                }
                return self._eval_all(
                    f, Cmp(inverse[node.child.op], node.child.col, node.child.lit)
                )
            if isinstance(node.child, IsNull):
                return self._eval_all(
                    f, IsNull(node.child.col, not node.child.negated)
                )
            return None
        if isinstance(node, Cmp):
            return self._eval_cmp_all(f, node)
        if isinstance(node, StartsWith):
            # every value in [prefix, prefix⁺) starts with the prefix
            # (bump-last-char construction) — and the containment
            # stays provable under outward stats truncation: stored
            # min ≥ p ⇒ true min ≥ p; stored max < p⁺ ⇒ true max < p⁺.
            from pyspark.sql.types import StringType

            mn, mx, nulls, nrec, dtype = self._col_bounds(
                f, node.col.name
            )
            if (
                isinstance(dtype, StringType)
                and node.prefix
                and nulls == 0
                and mn is not None
                and mx is not None
            ):
                hi = _prefix_upper(node.prefix)
                try:
                    if mn >= node.prefix and hi is not None and mx < hi:
                        return True
                except TypeError:
                    return None
            return None
        if isinstance(node, InList):
            # all rows in the list ⟺ the column is a single value that
            # is in the list (mn == mx ∈ list, no nulls)
            if any(
                self._eval_cmp_all(f, Cmp("=", node.col, Lit(v))) is True
                for v in node.values
            ):
                return True
            return None
        if isinstance(node, IsNull):
            _, _, nulls, nrec, dtype = self._col_bounds(f, node.col.name)
            if dtype is None or nulls is None or nrec is None:
                return None
            if not node.negated:
                return True if nulls == nrec else None
            return True if nulls == 0 else None
        return None

    def _eval_cmp_all(self, f, node):
        mn, mx, nulls, nrec, dtype = self._col_bounds(f, node.col.name)
        if dtype is None or mn is None or mx is None:
            return None
        if nulls is None or nulls != 0:
            return None  # a NULL row satisfies no comparison
        lit = _coerce(node.lit.value, dtype)
        if node.lit.value is None or lit is None:
            return None
        op = node.op
        try:
            if op == "=":
                return True if mn == mx == lit else None
            if op == "!=":
                return True if (lit < mn or lit > mx) else None
            if op == "<":
                return True if mx < lit else None
            if op == "<=":
                return True if mx <= lit else None
            if op == ">":
                return True if mn > lit else None
            if op == ">=":
                return True if mn >= lit else None
        except TypeError:
            return None
        return None

    # -- three-valued core ------------------------------------------

    def _eval(self, f, node):
        if isinstance(node, And):
            results = [self._eval(f, c) for c in node.children]
            if any(r is False for r in results):
                return False
            if all(r is True for r in results):
                return True
            return None
        if isinstance(node, Or):
            results = [self._eval(f, c) for c in node.children]
            if any(r is True for r in results):
                return True
            if all(r is False for r in results):
                return False
            return None
        if isinstance(node, Not):
            r = self._eval(f, node.child)
            # NOT over may-match semantics is only safe when the child
            # is *certain* for every row of the file; min==max equality
            # gives that for Cmp('='); elsewhere: unknown.
            return self._eval_not(f, node.child, r)
        if isinstance(node, Cmp):
            return self._eval_cmp(f, node)
        if isinstance(node, StartsWith):
            return self._eval_starts_with(f, node)
        if isinstance(node, IsNull):
            return self._eval_isnull(f, node)
        if isinstance(node, InList):
            results = [
                self._eval_cmp(f, Cmp("=", node.col, Lit(v))) for v in node.values
            ]
            if any(r is True for r in results):
                return True
            if all(r is False for r in results):
                return False
            return None
        return None  # Unknown

    def _eval_not(self, f, child, child_result):
        if isinstance(child, Cmp):
            inverse = {"=": "!=", "!=": "=", "<": ">=", ">": "<=", "<=": ">", ">=": "<"}
            return self._eval_cmp(f, Cmp(inverse[child.op], child.col, child.lit))
        if isinstance(child, IsNull):
            return self._eval_isnull(f, IsNull(child.col, not child.negated))
        if child_result is None:
            return None
        return None  # conservatively unknown for composite NOT

    def _col_bounds(self, f, name: str):
        """(min, max, null_count, num_records, dtype) for a column, any
        element None when unavailable."""
        dtype = _field_type(self.schema, name)
        if dtype is None:
            return None, None, None, None, None
        if name in self.partition_columns:
            raw = f.partition_values.get(name)
            v = _coerce(raw, dtype) if raw is not None else None
            nrec = self._num_records(f)
            if raw is None and name in f.partition_values:
                return None, None, nrec, nrec, dtype  # all-null partition
            if v is None:
                return None, None, None, None, dtype
            return v, v, 0, nrec, dtype
        from deltalake_datafusion_spark.delta.stats import parse_stats

        stats = parse_stats(f.stats)
        if stats is None:
            return None, None, None, None, dtype
        phys = self.l2p.get(name, name)
        mn = _coerce(_lookup(stats.get("minValues"), phys), dtype)
        mx = _coerce(_lookup(stats.get("maxValues"), phys), dtype)
        nulls = _lookup(stats.get("nullCount"), phys)
        return mn, mx, nulls, stats.get("numRecords"), dtype

    def _num_records(self, f):
        from deltalake_datafusion_spark.delta.stats import parse_stats

        stats = parse_stats(f.stats)
        return stats.get("numRecords") if stats else None

    def _eval_isnull(self, f, node):
        _, _, nulls, nrec, dtype = self._col_bounds(f, node.col.name)
        if dtype is None or nulls is None or nrec is None:
            return None
        if not node.negated:  # IS NULL: match iff some null exists
            return nulls > 0
        return (nrec - nulls) > 0  # IS NOT NULL: some non-null exists

    def _eval_starts_with(self, f, node):
        """LIKE-prefix pruning. Sound under the writer's stats
        truncation discipline: stored max ≥ true max (so ``mx <
        prefix`` proves no value reaches the prefix range) and stored
        min ≤ true min (so ``mn ≥ prefix⁺`` proves every value sorts
        past it). Truth is never claimed (truncated bounds can't prove
        a definite match) — prune/keep only."""
        from pyspark.sql.types import StringType

        mn, mx, nulls, nrec, dtype = self._col_bounds(f, node.col.name)
        if not isinstance(dtype, StringType) or not node.prefix:
            return None
        if nulls is not None and nrec is not None and 0 < nrec == nulls:
            return False  # all-null file: LIKE never matches NULL
        try:
            if mx is not None and mx < node.prefix:
                return False
            hi = _prefix_upper(node.prefix)
            if hi is not None and mn is not None and mn >= hi:
                return False
        except TypeError:
            return None
        return None

    def _eval_cmp(self, f, node):
        mn, mx, nulls, nrec, dtype = self._col_bounds(f, node.col.name)
        if dtype is None:
            return None
        lit = _coerce(node.lit.value, dtype)
        if node.lit.value is None or lit is None:
            return None
        if nulls is not None and nrec is not None and 0 < nrec == nulls:
            return False  # all-null file: no comparison matches NULL
        if mn is None or mx is None:
            return None
        op = node.op
        try:
            if op == "=":
                if lit < mn or lit > mx:
                    return False
                if mn == mx == lit and (nulls or 0) == 0:
                    return True
                return None
            if op == "!=":
                if mn == mx == lit:
                    return False if (nulls or 0) == 0 else None
                return None
            if op == "<":
                return None if mn < lit else False
            if op == "<=":
                return None if mn <= lit else False
            if op == ">":
                return None if mx > lit else False
            if op == ">=":
                return None if mx >= lit else False
        except TypeError:
            return None
        return None


def stats_struct_type(schema: StructType, logical_to_physical=None):
    """Spark type for parsed add.stats JSON: numRecords + min/max/
    nullCount structs keyed by *physical* leaf names (top level only;
    nested stats add a recursion, omitted → conservative unknown)."""
    from pyspark.sql.types import LongType, StructField

    l2p = logical_to_physical or {}
    leaf_fields = []
    null_fields = []
    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            continue  # nested → unknown → kept (conservative)
        phys = l2p.get(f.name, f.name)
        leaf_fields.append(StructField(phys, f.dataType, True))
        null_fields.append(StructField(phys, LongType(), True))
    return StructType(
        [
            StructField("numRecords", LongType(), True),
            StructField("minValues", StructType(leaf_fields), True),
            StructField("maxValues", StructType(leaf_fields), True),
            StructField("nullCount", StructType(null_fields), True),
        ]
    )


def skipping_column(pred, schema: StructType, partition_columns,
                    logical_to_physical=None):
    """Compile the predicate IR into a Spark ``Column`` over a
    log-replay files DataFrame (columns: ``stats_parsed`` struct per
    :func:`stats_struct_type`, ``partitionValues`` map) that is TRUE
    when the file may contain a matching row — the Spark-side twin of
    :class:`StatsEvaluator`, used when the file list itself is too
    large for driver-side evaluation (SURVEY.md §4 data-skipping row,
    at 1000-executor scale). Same conservative 3VL: unknown → keep.

    Returns None when the predicate contains no prunable structure.
    """
    from pyspark.sql import functions as F

    l2p = logical_to_physical or {}
    parts = set(partition_columns)

    def col_refs(name: str):
        """(min_col, max_col, dtype) for a column, or None."""
        dtype = _field_type(schema, name)
        if dtype is None or "." in name:
            return None
        if name in parts:
            v = F.element_at(F.col("partitionValues"), name).cast(dtype)
            return v, v, dtype
        phys = l2p.get(name, name)
        return (
            F.col(f"stats_parsed.minValues.`{phys}`"),
            F.col(f"stats_parsed.maxValues.`{phys}`"),
            dtype,
        )

    def not_all_null(name: str):
        """FALSE exactly when stats prove the file is all-null (no
        comparison / LIKE matches NULL); null-safe → TRUE otherwise."""
        if name in parts:
            return F.lit(True)
        phys = l2p.get(name, name)
        nulls = F.col(f"stats_parsed.nullCount.`{phys}`")
        nrec = F.col("stats_parsed.numRecords")
        return F.coalesce(~((nrec > 0) & (nulls == nrec)), F.lit(True))

    def may(node):
        """Column: True/unknown→keep, False→prune. None = no info."""
        if isinstance(node, And):
            cols = [c for c in (may(ch) for ch in node.children) if c is not None]
            if not cols:
                return None
            out = cols[0]
            for c in cols[1:]:
                out = out & c
            return out
        if isinstance(node, Or):
            cols = [may(ch) for ch in node.children]
            if any(c is None for c in cols):
                return None  # one unknown branch makes the OR unprunable
            out = cols[0]
            for c in cols[1:]:
                out = out | c
            return out
        if isinstance(node, Cmp):
            refs = col_refs(node.col.name)
            if refs is None or node.lit.value is None:
                return None
            mn, mx, dtype = refs
            if _coerce(node.lit.value, dtype) is None:
                return None

            def cmp(side, op):
                return _spark_cmp(side, op, node.lit.value, dtype)

            op = node.op
            if op == "=":
                cond = cmp(mn, "<=") & cmp(mx, ">=")
            elif op in ("<", "<="):
                cond = cmp(mn, op)
            elif op in (">", ">="):
                cond = cmp(mx, op)
            else:  # '!=' prunable only when min==max==lit; keep simple
                cond = ~(cmp(mn, "=") & cmp(mx, "="))
            return (
                F.coalesce(cond, F.lit(True))
                & not_all_null(node.col.name)
            )  # missing stats → keep
        if isinstance(node, InList):
            return may(Or([Cmp("=", node.col, Lit(v)) for v in node.values]))
        if isinstance(node, StartsWith):
            from pyspark.sql.types import StringType

            refs = col_refs(node.col.name)
            if refs is None or not node.prefix:
                return None
            mn, mx, dtype = refs
            if not isinstance(dtype, StringType):
                return None
            cond = mx >= F.lit(node.prefix)
            hi = _prefix_upper(node.prefix)
            if hi is not None:
                cond = cond & (mn < F.lit(hi))
            return (
                F.coalesce(cond, F.lit(True))
                & not_all_null(node.col.name)
            )
        if isinstance(node, IsNull):
            refs = col_refs(node.col.name)
            if refs is None or node.col.name in parts:
                return None
            phys = (logical_to_physical or {}).get(node.col.name, node.col.name)
            nulls = F.col(f"stats_parsed.nullCount.`{phys}`")
            nrec = F.col("stats_parsed.numRecords")
            cond = (nulls > 0) if not node.negated else ((nrec - nulls) > 0)
            return F.coalesce(cond, F.lit(True))
        return None  # Not / Unknown → no pruning

    return may(pred)


_COL_OPS = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge}


def _spark_cmp(side, op: str, value, dtype):
    """Spark ``Column`` for ``side <op> value`` in ``_coerce``'s
    comparison domain of ``dtype`` (the driver's rule, :func:`_vcmp`):
    integral columns compare exactly against a never-narrowed literal,
    other numerics as doubles; other types cast the literal."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    lit = _coerce(value, dtype)
    if isinstance(dtype, IntegralType):
        r = _int_cmp(op, lit)
        if r is None:
            return F.lit(None).cast("boolean")
        op, k = r
        if op is None:
            return F.when(side.isNotNull(), F.lit(k))
        return _COL_OPS[op](side, F.lit(k).cast("long"))
    if isinstance(dtype, (NumericType, DecimalType)):
        return _COL_OPS[op](side.cast(DoubleType()), F.lit(lit))
    return _COL_OPS[op](side, F.lit(value).cast(dtype))


def prune_files_df(files_df, predicate_sql: str | None, schema: StructType,
                   partition_columns, logical_to_physical=None):
    """Spark-side pruning over a log-replay files DataFrame (one row
    per live add-file, as produced by ``snapshot.log_replay_df``):
    parse stats with ``from_json``, keep files that may match. The
    whole planning step is then a distributed job — nothing about the
    table's file count ever needs to fit on the driver until after
    pruning."""
    from pyspark.sql import functions as F

    out = files_df.withColumn(
        "stats_parsed",
        F.from_json("stats", stats_struct_type(schema, logical_to_physical)),
    )
    if not predicate_sql:
        return out
    pred = try_parse_predicate(predicate_sql)
    if pred is None:
        return out
    cond = skipping_column(pred, schema, partition_columns, logical_to_physical)
    if cond is None:
        return out
    return out.filter(cond)


class VectorEvaluator:
    """:class:`StatsEvaluator`'s may-match lattice over a whole
    :class:`~deltalake_datafusion_spark.delta.filetable.FileView` at
    once: each IR node compiles to ``pyarrow.compute`` over the typed
    min/max/nullCount/numRecords columns and the partition-value map,
    giving one three-valued boolean array (null = unknown) per node.
    Node for node it mirrors ``StatsEvaluator._eval`` — the same
    keep-on-unknown logic, with ``_coerce``'s comparison domains."""

    def __init__(self, view, schema: StructType, partition_columns,
                 logical_to_physical=None):
        self.view = view
        self.n = len(view)
        self.schema = schema
        self.partition_columns = set(partition_columns)
        self.l2p = logical_to_physical or {}
        self._bounds_cache: dict = {}

    def keep_mask(self, pred):
        """True where the file may hold a matching row."""
        import pyarrow.compute as pc

        return pc.fill_null(self._eval(pred), True)

    # -- helpers ------------------------------------------------------

    def _unknown(self):
        import pyarrow as pa

        return pa.nulls(self.n, pa.bool_())

    def _bounds(self, name: str):
        """(min, max, null_count, num_records, dtype) arrays; dtype
        None when the column is not in the schema."""
        if name not in self._bounds_cache:
            self._bounds_cache[name] = self._compute_bounds(name)
        return self._bounds_cache[name]

    def _compute_bounds(self, name: str):
        import pyarrow as pa
        import pyarrow.compute as pc

        from deltalake_datafusion_spark.delta.filetable import (
            coerce_values,
            stats_arrow_type,
        )

        dtype = _field_type(self.schema, name)
        if dtype is None:
            return None, None, None, None, None
        if name not in self.partition_columns:
            mn, mx, nulls, nrec = self.view.stats_bounds(
                self.l2p.get(name, name), dtype
            )
            return mn, mx, nulls, nrec, dtype
        pv = self.view.table["partition_values"].combine_chunks()
        raw = pc.map_lookup(pv, name, "first")
        has = pc.map_lookup(pv, name, "all").is_valid()  # key present
        typ = stats_arrow_type(dtype)
        v = (
            coerce_values(raw, typ, dtype) if typ is not None
            else pa.nulls(self.n, pa.null())
        )
        nrec = self.view.num_records()
        all_null = pc.and_(raw.is_null(), has)
        valid = v.is_valid()
        zero = pa.scalar(0, pa.int64())
        null_i = pa.scalar(None, pa.int64())
        nulls = pc.if_else(all_null, nrec, pc.if_else(valid, zero, null_i))
        nrec = pc.if_else(pc.or_(all_null, valid), nrec, null_i)
        return v, v, nulls, nrec, dtype

    @staticmethod
    def _all_null(nulls, nrec):
        """``0 < nrec == nulls`` (False where either is unknown)."""
        import pyarrow.compute as pc

        return pc.fill_null(
            pc.and_(pc.greater(nrec, 0), pc.equal(nulls, nrec)), False
        )

    # -- three-valued core ------------------------------------------

    def _eval(self, node):
        import pyarrow.compute as pc

        if isinstance(node, (And, Or)):
            fold = pc.and_kleene if isinstance(node, And) else pc.or_kleene
            out = None
            for c in node.children:
                r = self._eval(c)
                out = r if out is None else fold(out, r)
            return out
        if isinstance(node, Not):
            child = node.child
            if isinstance(child, Cmp):
                return self._eval_cmp(
                    Cmp(_INVERSE[child.op], child.col, child.lit)
                )
            if isinstance(child, IsNull):
                return self._eval_isnull(IsNull(child.col, not child.negated))
            return self._unknown()
        if isinstance(node, Cmp):
            return self._eval_cmp(node)
        if isinstance(node, StartsWith):
            return self._eval_starts_with(node)
        if isinstance(node, IsNull):
            return self._eval_isnull(node)
        if isinstance(node, InList):
            return self._eval(
                Or([Cmp("=", node.col, Lit(v)) for v in node.values])
            )
        return self._unknown()

    def _eval_isnull(self, node):
        import pyarrow as pa
        import pyarrow.compute as pc

        _, _, nulls, nrec, dtype = self._bounds(node.col.name)
        if dtype is None:
            return self._unknown()
        # null (unknown) wherever nullCount or numRecords is
        if not node.negated:
            return pc.if_else(
                nrec.is_valid(), pc.greater(nulls, 0),
                pa.scalar(None, pa.bool_()),
            )
        return pc.greater(pc.subtract(nrec, nulls), 0)

    def _eval_starts_with(self, node):
        import pyarrow as pa
        import pyarrow.compute as pc

        mn, mx, nulls, nrec, dtype = self._bounds(node.col.name)
        if not isinstance(dtype, StringType) or not node.prefix:
            return self._unknown()
        prune = pc.or_(
            self._all_null(nulls, nrec),
            pc.fill_null(pc.less(mx, node.prefix), False),
        )
        hi = _prefix_upper(node.prefix)
        if hi is not None:
            prune = pc.or_(
                prune, pc.fill_null(pc.greater_equal(mn, hi), False)
            )
        return pc.if_else(prune, False, pa.scalar(None, pa.bool_()))

    def _eval_cmp(self, node):
        import pyarrow as pa
        import pyarrow.compute as pc

        mn, mx, nulls, nrec, dtype = self._bounds(node.col.name)
        if dtype is None:
            return self._unknown()
        lit = _coerce(node.lit.value, dtype)
        if node.lit.value is None or lit is None:
            return self._unknown()
        unknown = pa.scalar(None, pa.bool_())
        all_null = self._all_null(nulls, nrec)
        op = node.op
        if op in ("=", "!="):
            eq = _vcmp(mn, "=", lit)
            eq = eq if eq is None else pc.and_(eq, _vcmp(mx, "=", lit))
        if op == "=":
            lo, hi = _vcmp(mn, ">", lit), _vcmp(mx, "<", lit)
            if lo is None or hi is None:
                r = None
            else:
                no_nulls = pc.fill_null(pc.equal(nulls, 0), True)
                r = pc.if_else(
                    pc.or_(lo, hi), False,
                    pc.if_else(pc.and_(eq, no_nulls), True, unknown),
                )
        elif op == "!=":
            no_nulls = pc.fill_null(pc.equal(nulls, 0), True)
            r = None if eq is None else pc.if_else(
                pc.and_(eq, no_nulls), False, unknown
            )
        else:
            side = mn if op in ("<", "<=") else mx
            c = _vcmp(side, op, lit)
            r = None if c is None else pc.if_else(c, unknown, False)
        both = pc.and_(mn.is_valid(), mx.is_valid())
        r = unknown if r is None else pc.if_else(both, r, unknown)
        return pc.if_else(all_null, False, r)


_INVERSE = {"=": "!=", "!=": "=", "<": ">=", ">": "<=", "<=": ">", ">=": "<"}
_OPS = {"=": "equal", "<": "less", "<=": "less_equal", ">": "greater",
        ">=": "greater_equal"}


def _int_cmp(op: str, lit):
    """An integral column's ``x <op> lit`` (``op`` one of = < <= > >=,
    ``lit`` a ``_coerce`` result) with Python's exact comparison
    result, as ``(op', k)`` meaning ``x <op'> k`` for an int64 ``k``,
    or ``(None, b)`` meaning ``b`` for every non-null ``x``; None when
    Python would raise TypeError (the evaluator's unknown). The
    literal is never narrowed: ``x < 10.5`` is ``x <= 10``."""
    import math

    if isinstance(lit, float):
        if math.isnan(lit):  # every comparison with NaN is False
            return None, False
        if math.isinf(lit):
            # every int is below +inf and above -inf
            return None, {
                "=": False, "<": lit > 0, "<=": lit > 0,
                ">": lit < 0, ">=": lit < 0,
            }[op]
        k = math.floor(lit)
        if k != lit:  # non-integral: x < r ⟺ x <= k, x > r ⟺ x > k
            if op == "=":
                return None, False
            op = {"<": "<=", "<=": "<=", ">": ">", ">=": ">"}[op]
        lit = int(k)
    if not isinstance(lit, int) or isinstance(lit, bool):
        return None
    if not -(2**63) <= lit < 2**63:
        below = lit > 0  # every int64 is below a huge positive lit
        return None, {
            "=": False, "<": below, "<=": below,
            ">": not below, ">=": not below,
        }[op]
    return op, lit


def _vcmp(arr, op: str, lit):
    """``arr <op> lit`` element-wise with Python's comparison result
    (exact int-vs-float for integral columns), or None where Python
    would raise TypeError (the evaluator's unknown)."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.compute as pc

    typ = arr.type
    if pa.types.is_null(typ):
        return pa.nulls(len(arr), pa.bool_())
    if pa.types.is_integer(typ):
        r = _int_cmp(op, lit)
        if r is None:
            return None
        op, k = r
        if op is None:
            return _where_valid(arr, k)
        return getattr(pc, _OPS[op])(arr, pa.scalar(k, pa.int64()))
    if pa.types.is_timestamp(typ):
        if not isinstance(lit, _dt.datetime) or lit.tzinfo is not None:
            return None
    elif pa.types.is_date(typ):
        if isinstance(lit, _dt.datetime) or not isinstance(lit, _dt.date):
            return None
    elif pa.types.is_floating(typ):
        if isinstance(lit, bool) or not isinstance(lit, (int, float)):
            return None
        lit = float(lit)
    elif pa.types.is_string(typ):
        if not isinstance(lit, str):
            return None
    elif pa.types.is_boolean(typ):
        if not isinstance(lit, bool):
            return None
    return getattr(pc, _OPS[op])(arr, pa.scalar(lit, typ))


def _where_valid(arr, value: bool):
    """``value`` where ``arr`` is non-null, null elsewhere."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.if_else(
        arr.is_valid(), pa.scalar(value), pa.scalar(None, pa.bool_())
    )


def keep_mask(view, predicate_sql: str | None, schema, partition_columns,
              logical_to_physical=None):
    """Vectorized stats + partition pruning over a FileView: a boolean
    keep mask, or None when nothing can be pruned (no predicate, or
    one outside the parsed subset)."""
    if not predicate_sql or not len(view):
        return None
    pred = try_parse_predicate(predicate_sql)
    if pred is None:
        return None
    return VectorEvaluator(
        view, schema, partition_columns, logical_to_physical
    ).keep_mask(pred)


def prune_files(files, predicate_sql: str | None, schema, partition_columns,
                logical_to_physical=None):
    """Stats + partition pruning over an add-file sequence (a
    snapshot's FileView or any list of AddFile): the kept files, in
    path order. Only kept files become AddFile objects. Unparseable
    or absent predicate → no pruning (keep all)."""
    from deltalake_datafusion_spark.delta.filetable import FileView

    view = FileView.of(files)
    mask = keep_mask(
        view, predicate_sql, schema, partition_columns, logical_to_physical
    )
    return list(view if mask is None else view.filter(mask))
