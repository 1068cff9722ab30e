"""Programmatic query builder — parity with the reference's Query
Builder page (reference webapp/pages/04_Query_Builder.py:29-75):
column selection + a filter list with operators
``= != > >= < <= contains in between``, composable into OR-groups,
rendered either as a Catalyst DataFrame plan or as ANSI SQL text.

Because filters compile to plain Column expressions they push down to
the parquet scan (visible as PushedFilters in explain()): ``in``
becomes an ``In`` pushed filter, ``between`` a GreaterThanOrEqual/
LessThanOrEqual pair, and an OR-group pushes as one ``Or`` tree.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

OPERATORS = ("=", "!=", ">", ">=", "<", "<=", "contains", "in", "between")


def _sql_literal(val: object) -> str:
    if isinstance(val, str):
        # Spark string literals read `\` as an escape character and
        # DuckDB's do not, so each backslash is spliced in as chr(92).
        parts = ["'" + p.replace("'", "''") + "'" for p in val.split("\\")]
        return parts[0] if len(parts) == 1 else "(" + " || chr(92) || ".join(parts) + ")"
    if isinstance(val, bool):
        return "TRUE" if val else "FALSE"
    return repr(val)


@dataclass(frozen=True)
class Filter:
    column: str
    operator: str
    value: object

    @property
    def is_active(self) -> bool:
        return bool(self.column) and self.value is not None

    def to_column(self) -> Column:
        c = F.col(self.column)
        op = self.operator
        if op == "=":
            return c == self.value
        if op == "!=":
            return c != self.value
        if op == ">":
            return c > self.value
        if op == ">=":
            return c >= self.value
        if op == "<":
            return c < self.value
        if op == "<=":
            return c <= self.value
        if op.lower() == "contains":
            return c.cast("string").contains(str(self.value))
        if op.lower() == "in":
            return c.isin(list(self.value))
        if op.lower() == "between":
            lo, hi = self.value
            return c.between(lo, hi)
        raise ValueError(f"unsupported operator {op!r}")

    def to_sql(self) -> str:
        op = self.operator.lower()
        if op == "contains":
            # `contains` is a literal substring match: LIKE's wildcards
            # (and the escape character itself) are escaped with `!`;
            # `ESCAPE '!'` also keeps Spark's LIKE from reading a
            # backslash as its default escape character.
            text = str(self.value)
            escaped = text.replace("!", "!!").replace("%", "!%").replace("_", "!_")
            like = f"{self.column} LIKE {_sql_literal(f'%{escaped}%')}"
            return like if escaped == text and "\\" not in text else f"{like} ESCAPE '!'"
        if op == "in":
            items = ", ".join(_sql_literal(v) for v in self.value)
            return f"{self.column} IN ({items})"
        if op == "between":
            lo, hi = self.value
            return f"{self.column} BETWEEN {_sql_literal(lo)} AND {_sql_literal(hi)}"
        return f"{self.column} {self.operator} {_sql_literal(self.value)}"


@dataclass(frozen=True)
class OrGroup:
    """A disjunction of filters, AND-ed with the rest of the spec.
    Compiles to one Column ``|`` tree so Catalyst pushes a single
    ``Or(...)`` filter to the scan rather than splitting the plan."""

    filters: tuple[Filter, ...]

    @property
    def is_active(self) -> bool:
        return any(f.is_active for f in self.filters)

    def to_column(self) -> Column:
        cols = [f.to_column() for f in self.filters if f.is_active]
        return reduce(lambda a, b: a | b, cols)

    def to_sql(self) -> str:
        parts = [f.to_sql() for f in self.filters if f.is_active]
        return "(" + " OR ".join(parts) + ")"


@dataclass(frozen=True)
class QuerySpec:
    columns: tuple[str, ...] = ()
    filters: tuple[Filter | OrGroup, ...] = ()
    order_by: tuple[str, ...] = ()
    limit: int | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        out = df
        for f in self.filters:
            if not f.is_active:
                continue
            out = out.filter(f.to_column())
        if self.columns:
            out = out.select(*self.columns)
        if self.order_by:
            out = out.orderBy(*self.order_by)
        if self.limit is not None:
            out = out.limit(self.limit)
        return out

    def to_sql(self, table: str = "data") -> str:
        """SQL text generation (04_Query_Builder.py:29-43 parity,
        plus order/limit/IN/BETWEEN/OR-groups)."""
        select = ", ".join(self.columns) if self.columns else "*"
        where_parts = [f.to_sql() for f in self.filters if f.is_active]
        where = f" WHERE {' AND '.join(where_parts)}" if where_parts else ""
        order = f" ORDER BY {', '.join(self.order_by)}" if self.order_by else ""
        lim = f" LIMIT {self.limit}" if self.limit is not None else ""
        return f"SELECT {select} FROM {table}{where}{order}{lim}"
