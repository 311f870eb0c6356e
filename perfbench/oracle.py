"""DuckDB twins of the engine's rules, and the result normalizer.

`Twin` translates rule JSON into DuckDB SQL with the engine's semantics
(`graft.rules.ConditionCompiler`, `GroupCompiler`, `RuleEvaluator`):
null-safe equality, the decimal lift of string columns
under ordered comparisons, regex counts, `If` as material implication,
`Negate` over a null-collapsed body, and ARGMIN/ARGMAX rows with the
deterministic full-row tie-break (every orderable column in frame order,
nulls lowest). `same_rows` compares engine output (JSON rows, as `toJSON`
writes them) with DuckDB rows after normalizing both.
"""
import collections
import datetime as dt
from decimal import Decimal

LIFT = "DECIMAL(38,18)"
NUMERIC_OPS = {"greaterthan", "greaterthanorequal", "lessthan", "lessthanorequal"}
SQL_TYPES = {"int": "BIGINT", "dbl": "DOUBLE", "ts": "TIMESTAMP", "bool": "BOOLEAN",
             "str": "VARCHAR", "dec": LIFT}
# DuckDB type name prefix -> kind
KINDS = (("VARCHAR", "str"), ("BOOLEAN", "bool"), ("DOUBLE", "dbl"), ("FLOAT", "dbl"),
         ("TIMESTAMP", "ts"), ("DECIMAL", "dec"), ("BIGINT", "int"), ("INTEGER", "int"),
         ("HUGEINT", "int"), ("SMALLINT", "int"), ("TINYINT", "int"), ("UBIGINT", "int"),
         ("UINTEGER", "int"))


def kind_of(duck_type):
    t = str(duck_type).upper()
    for prefix, kind in KINDS:
        if t.startswith(prefix):
            return kind
    raise ValueError(f"unsupported column type {duck_type}")


def ident(name):
    return '"' + name.replace('"', '""') + '"'


def quote(s):
    return "'" + s.replace("'", "''") + "'"


def plain(n):
    """A JSON number as the engine renders it into a string column
    (`BigDecimal.stripTrailingZeros.toPlainString`)."""
    return format(Decimal(str(n)).normalize(), "f")


def field(obj, name):
    """Case-insensitive member lookup, as the engine binds rule JSON."""
    for k, v in obj.items():
        if k.lower() == name.lower():
            return v
    return None


class Twin:
    """SQL for rules over one relation with known, ordered columns.

    `columns` is a list of (name, kind) in the engine's frame order; kinds
    are str, int, dbl, ts, bool.
    """

    def __init__(self, relation, columns):
        self.relation = relation
        self.columns = columns
        self._by_lower = {n.lower(): (n, k) for n, k in columns}

    def resolve(self, prop):
        if prop.lower() not in self._by_lower:
            raise ValueError(f"unknown property {prop}")
        return self._by_lower[prop.lower()]

    # -- literals (ConditionCompiler.coerceLit) --
    def lit(self, v, kind):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            if kind == "bool":
                return "TRUE" if v else "FALSE"
            if kind == "str":
                return quote("true" if v else "false")
            return f"TRY_CAST({'TRUE' if v else 'FALSE'} AS {SQL_TYPES[kind]})"
        if isinstance(v, (int, float, Decimal)):
            if kind == "str":
                return quote(plain(v))
            if kind == "int":
                return plain(v)
            if kind == "dbl":
                return f"CAST({plain(v)} AS DOUBLE)"
            if kind == "dec":
                return f"TRY_CAST({plain(v)} AS {LIFT})"
            raise ValueError(f"numeric constant against a {kind} column")
        if isinstance(v, str):
            return quote(v) if kind == "str" else f"TRY_CAST({quote(v)} AS {SQL_TYPES[kind]})"
        raise ValueError(f"structured value {v!r} used as a constant")

    # -- one condition (ConditionCompiler.compile) --
    def condition(self, c):
        name, kind = self.resolve(field(c, "Property"))
        op = field(c, "Operator").lower()
        v = field(c, "Value")
        lhs, lkind = ident(name), kind
        if op in NUMERIC_OPS and kind == "str":
            lhs, lkind = f"TRY_CAST({lhs} AS {LIFT})", "dec"
        cmp = {"greaterthan": ">", "greaterthanorequal": ">=", "lessthan": "<", "lessthanorequal": "<="}
        if op == "equal":
            return f"({lhs} IS NOT DISTINCT FROM {self.lit(v, lkind)})"
        if op == "notequal":
            return f"(NOT ({lhs} IS NOT DISTINCT FROM {self.lit(v, lkind)}))"
        if op in cmp:
            return f"({lhs} {cmp[op]} {self.lit(v, lkind)})"
        if op in ("in", "notin"):
            chain = " OR ".join(f"({lhs} IS NOT DISTINCT FROM {self.lit(x, lkind)})" for x in v) or "FALSE"
            return f"({chain})" if op == "in" else f"(NOT ({chain}))"
        string_fns = {"contains": "contains", "startswith": "starts_with", "endswith": "ends_with"}
        if op in string_fns:
            return f"{string_fns[op]}({lhs}, {self.lit(v, 'str')})"
        if op == "notcontains":
            return f"(NOT contains({lhs}, {self.lit(v, 'str')}))"
        not_empty = (f"({lhs} IS NOT NULL AND length({lhs}) > 0)" if kind == "str"
                     else f"({lhs} IS NOT NULL)")
        if op == "null":
            return f"({lhs} IS NULL)"
        if op == "notnull":
            return f"({lhs} IS NOT NULL)"
        if op == "notempty":
            return not_empty
        if op == "empty":
            return f"(NOT {not_empty})"
        if op == "nullorempty":
            return f"({lhs} IS NULL OR {lhs} = '')" if kind == "str" else f"({lhs} IS NULL)"
        if op == "notnullorempty":
            return f"({lhs} IS NOT NULL AND {lhs} <> '')" if kind == "str" else f"({lhs} IS NOT NULL)"
        if op in ("mustcontainifcountisgreater", "containifcountisgreater", "containifcountisless"):
            s = f"CAST({lhs} AS VARCHAR)"
            count = f"len(regexp_extract_all({s}, {quote(str(field(v, 'Target')))}))"
            th = int(str(field(v, "Threshold") or 0).strip())
            if op == "containifcountisless":
                return f"({count} < {th})"
            if op == "containifcountisgreater":
                return f"({count} > {th})"
            required = quote(plain(field(v, "Required")) if isinstance(field(v, "Required"), (int, float))
                             else str(field(v, "Required")))
            return f"({count} > {th} AND contains(lower({s}), lower({required})))"
        if op == "if":
            return (f"(CASE WHEN {self.condition(field(v, 'Check'))} "
                    f"THEN {self.condition(field(v, 'Then'))} ELSE TRUE END)")
        raise ValueError(f"operator {op} has no twin")

    # -- groups (GroupCompiler.compile) --
    @staticmethod
    def is_empty(g):
        return (not field(g, "Negate") and not (field(g, "Conditions") or [])
                and all(Twin.is_empty(s) for s in field(g, "Groups") or []))

    def group(self, g):
        children = ([self.condition(c) for c in field(g, "Conditions") or []]
                    + [self.group(s) for s in field(g, "Groups") or []])
        joiner = " OR " if (field(g, "LogicalOperator") or "").upper() == "OR" else " AND "
        body = "(" + joiner.join(children) + ")" if children else "TRUE"
        return f"(NOT coalesce({body}, FALSE))" if field(g, "Negate") else body

    def predicate(self, rule):
        """The rule's filter, or None when the rule has no conditions."""
        g = field(rule, "Conditions")
        return None if g is None or self.is_empty(g) else self.group(g)

    # -- rules (RuleEvaluator.apply) --
    def rule(self, rule):
        pred = self.predicate(rule)
        src = f"(SELECT * FROM {self.relation} WHERE {pred})" if pred else self.relation
        agg = field(rule, "Aggregation")
        if agg is None:
            return f"SELECT * FROM {src}"
        keys = [ident(self.resolve(k)[0]) for k in field(rule, "GroupBy") or []]
        fn = field(agg, "AggregateFunction").lower()
        if fn == "count":
            cols = ", ".join(keys + ['count(*) AS "count"'])
            return f"SELECT {cols} FROM {src}" + (f" GROUP BY {', '.join(keys)}" if keys else "")
        if fn not in ("min", "max"):
            raise ValueError(f"aggregate {fn} has no twin")
        prop, kind = self.resolve(field(agg, "AggregateProperty"))
        ord_key = f"TRY_CAST({ident(prop)} AS {LIFT})" if kind == "str" else ident(prop)
        # struct ordering: nulls lowest, so argmin takes them first and argmax last
        direction = "ASC NULLS FIRST" if fn == "min" else "DESC NULLS LAST"
        order = ", ".join(f"{e} {direction}" for e in [ord_key] + [ident(n) for n, _ in self.columns])
        part = f"PARTITION BY {', '.join(keys)} " if keys else ""
        return (f"SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER ({part}ORDER BY {order}) "
                f"AS __rn FROM {src}) WHERE __rn = 1")


# -- normalizer --

def canon(v, kind):
    """One value in a form both engines agree on: numbers as exact decimals,
    timestamps as naive UTC ISO text, strings untouched (a numeric string
    stays a string)."""
    if v is None or (kind != "ts" and isinstance(v, (bool, str))):
        return v
    if kind == "ts":
        if isinstance(v, str):
            v = dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, float):
        return Decimal(repr(v)).normalize()
    if isinstance(v, (int, Decimal)):
        return Decimal(v).normalize()
    raise ValueError(f"unexpected value {v!r}")


def normalize(rows, columns):
    """Multiset of canonical tuples. `rows` are dicts whose keys match
    `columns` case-insensitively; a missing key is a null (`toJSON` drops
    null fields). A key outside `columns` fails the comparison."""
    names = [n.lower() for n, _ in columns]
    kinds = [k for _, k in columns]
    out = collections.Counter()
    layouts = {}  # a row's keys, in order -> the key holding each column, or None
    for row in rows:
        keys = tuple(row)
        layout = layouts.get(keys)
        if layout is None:
            low = {k.lower(): k for k in keys}
            if not set(low) <= set(names):
                return None
            layout = layouts[keys] = [low.get(n) for n in names]
        out[tuple(None if k is None else canon(row[k], kind) for k, kind in zip(layout, kinds))] += 1
    return out


def same_rows(actual, relation):
    """Engine rows (dicts) against the rows of a DuckDB relation."""
    columns = [(n, kind_of(t)) for n, t in zip(relation.columns, relation.types)]
    expected = [dict(zip(relation.columns, r)) for r in relation.fetchall()]
    got = normalize(actual, columns)
    return got is not None and got == normalize(expected, columns)
