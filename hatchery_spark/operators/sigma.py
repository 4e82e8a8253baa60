"""Sigma-style detection-rule compiler: declarative rules → one scan pass.

The reference is a security-monitoring collector; the read side of such a
pipeline is a rule pack — Sigma being the open standard — evaluated over
the normalized event stream. A rule names field *selections* (equals /
list-OR / contains / startswith / endswith / re / cidr / gt / lt) and
combines them with a boolean *condition* ("selection and not filter").

Compiler design (the 100 TB path):

* every selection of every rule compiles to ONE Spark ``Column`` predicate
  — the whole rule pack evaluates in a single codegen'd projection over a
  single scan, never a scan per rule;
* alert fan-out is one ``explode`` of a compile-time array of
  ``(rule_id, level, matched)`` structs, filtered on ``matched`` — the
  same single-pass explode shape as ``router.routed_union``;
* the identical rule pack also renders to ANSI SQL (dual-render, the
  soundex/ULID posture), so a DuckDB oracle replays the exact semantics;
* the condition grammar (and/or/not/parens) is a 30-line recursive-descent
  parser over selection names — evaluated at COMPILE time into the
  predicate tree, nothing interpreted per row.

CIDR matching reuses the plan-literal LPM construction of netenrich.py
(mask+compare on the integer ip — no UDF).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hatchery_spark.operators.netenrich import parse_cidr


@dataclass(frozen=True)
class Rule:
    rule_id: str
    title: str
    detection: dict[str, dict[str, Any]]  # selection name → {field: spec}
    condition: str
    level: str = "medium"
    tags: tuple[str, ...] = field(default=())


def _sql_quote(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


_LIKE_SPECIAL = re.compile(r"([%_\\])")


def _like_escape(v: str) -> str:
    return _LIKE_SPECIAL.sub(r"\\\1", v)


def _ip_int_col(f: str) -> Column:
    o = F.split(F.col(f), r"\.")
    out = F.lit(0)
    for i in range(4):
        out = out * 256 + F.try_element_at(o, F.lit(i + 1)).cast("long")
    return out


def _ip_int_sql(f: str) -> str:
    parts = [
        f"cast(string_split({f}, '.')[{i + 1}] AS bigint)" for i in range(4)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = f"(({out}) * 256 + {p})"
    return out


def _atom(f: str, spec: Any) -> tuple[Any, str]:
    """One field matcher → (thunk making the Spark predicate, SQL text).

    The Column side is LAZY (a thunk) so rendering the SQL half — e.g.
    for an oracle — never needs a live SparkSession."""
    if isinstance(spec, list):
        pairs = [_atom(f, s) for s in spec]

        def mk_list():
            col = pairs[0][0]()
            for mk, _ in pairs[1:]:
                col = col | mk()
            return col

        return mk_list, "(" + " OR ".join(s for _, s in pairs) + ")"
    if isinstance(spec, dict):
        [(op, v)] = spec.items()
        if op == "contains":
            return (
                lambda: F.col(f).contains(v),
                f"{f} LIKE {_sql_quote('%' + _like_escape(v) + '%')} ESCAPE '\\'",
            )
        if op == "startswith":
            return (
                lambda: F.col(f).startswith(v),
                f"{f} LIKE {_sql_quote(_like_escape(v) + '%')} ESCAPE '\\'",
            )
        if op == "endswith":
            return (
                lambda: F.col(f).endswith(v),
                f"{f} LIKE {_sql_quote('%' + _like_escape(v))} ESCAPE '\\'",
            )
        if op == "re":
            return (
                lambda: F.col(f).rlike(v),
                f"regexp_matches({f}, {_sql_quote(v)})",
            )
        if op == "cidr":
            net, plen = parse_cidr(v)
            mask = ((1 << plen) - 1) << (32 - plen) if plen else 0
            sql = f"(({_ip_int_sql(f)}) & {mask}) = {net}"
            return (
                lambda: _ip_int_col(f).bitwiseAND(F.lit(mask)) == F.lit(net),
                sql,
            )
        if op == "gt":
            return lambda: F.col(f) > F.lit(v), f"{f} > {v}"
        if op == "lt":
            return lambda: F.col(f) < F.lit(v), f"{f} < {v}"
        raise ValueError(f"unknown sigma modifier {op!r}")
    if spec is None:
        return lambda: F.col(f).isNull(), f"{f} IS NULL"
    return lambda: F.col(f) == F.lit(spec), f"{f} = {_sql_quote(spec)}"


def _selection(fields: dict[str, Any]) -> tuple[Column, str]:
    """All field matchers of a selection AND together (Sigma map semantics).
    NULL fields must read as non-matching, not NULL — every branch is
    coalesced to false so `not selection` stays two-valued (a NULL actor
    otherwise leaks through `and not filter` on both engines)."""
    pairs = [_atom(f, s) for f, s in fields.items()]

    def mk():
        col = F.coalesce(pairs[0][0](), F.lit(False))
        for m, _ in pairs[1:]:
            col = col & F.coalesce(m(), F.lit(False))
        return col

    sql = f"coalesce({pairs[0][1]}, false)"
    for _, s in pairs[1:]:
        sql = f"({sql} AND coalesce({s}, false))"
    return mk, sql


_TOKEN = re.compile(r"\(|\)|\w+")


def _parse_condition(cond: str, sels: dict[str, tuple[Any, str]]) -> tuple[Any, str]:
    toks = _TOKEN.findall(cond)
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def eat(t: str | None = None) -> str:
        nonlocal pos
        tok = toks[pos]
        if t is not None and tok != t:
            raise ValueError(f"expected {t!r}, got {tok!r} in {cond!r}")
        pos += 1
        return tok

    def primary() -> tuple[Any, str]:
        tok = peek()
        if tok == "(":
            eat("(")
            mk, s = expr_or()
            eat(")")
            return mk, f"({s})"
        if tok == "not":
            eat("not")
            mk, s = primary()
            return (lambda m=mk: ~m()), f"NOT {s}"
        name = eat()
        if name not in sels:
            raise ValueError(f"condition references unknown selection {name!r}")
        return sels[name]

    def expr_and() -> tuple[Any, str]:
        mk, s = primary()
        while peek() == "and":
            eat("and")
            mk2, s2 = primary()
            mk, s = (lambda a=mk, b=mk2: a() & b()), f"{s} AND {s2}"
        return mk, s

    def expr_or() -> tuple[Any, str]:
        mk, s = expr_and()
        while peek() == "or":
            eat("or")
            mk2, s2 = expr_and()
            mk, s = (lambda a=mk, b=mk2: a() | b()), f"({s}) OR ({s2})"
        return mk, s

    out = expr_or()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in condition {cond!r}")
    return out


def compile_rule(rule: Rule) -> tuple[Column, str]:
    """One rule → (Spark boolean Column, equivalent SQL boolean text).
    Needs a live session (builds the Column); use :func:`compile_rule_sql`
    for the session-free SQL half."""
    mk, sql = _compile(rule)
    return mk(), sql


def compile_rule_sql(rule: Rule) -> str:
    """SQL predicate text only — no SparkSession required."""
    return _compile(rule)[1]


def _compile(rule: Rule) -> tuple[Any, str]:
    sels = {
        name: _selection(fields) for name, fields in rule.detection.items()
    }
    return _parse_condition(rule.condition, sels)


def apply_rules(df: DataFrame, rules: list[Rule], keep: list[str]) -> DataFrame:
    """Evaluate a rule pack in ONE pass: single scan, every rule a compiled
    boolean in the same projection, alerts fanned out by one explode."""
    structs = [
        F.struct(
            F.lit(r.rule_id).alias("rule_id"),
            F.lit(r.level).alias("level"),
            compile_rule(r)[0].alias("matched"),
        )
        for r in rules
    ]
    hits = df.select(*keep, F.explode(F.array(*structs)).alias("alert"))
    return hits.where(F.col("alert.matched")).select(
        *keep,
        F.col("alert.rule_id").alias("rule_id"),
        F.col("alert.level").alias("level"),
    )


def rules_oracle_sql(src_sql: str, rules: list[Rule], keep: list[str]) -> str:
    """DuckDB replay: the same compiled SQL predicates, one UNION ALL arm
    per rule over the shared source CTE."""
    cols = ", ".join(keep)
    arms = []
    for r in rules:
        sql = compile_rule_sql(r)
        arms.append(
            f"SELECT {cols}, '{r.rule_id}' AS rule_id, '{r.level}' AS level\n"
            f"         FROM src WHERE {sql}"
        )
    body = "\n        UNION ALL\n        ".join(arms)
    return f"WITH src AS ({src_sql})\n        {body}"
