"""SQL-text plan building: one literal quoter and helpers defined once
as SQL text.

Every Column-API call is a py4j round trip, and every ``withColumn`` /
``select`` re-runs Catalyst analysis on the whole plan so far. The ETL
renderers therefore hand Spark each step as SQL text instead (one
``selectExpr`` per step, later expressions naming earlier ones by
their alias): the parser and the DataFrame API feed the same analyzer,
optimizer and planner, so the same expressions evaluate the same way
and every rendered byte is the same, while a render builds in a few
analyses and a few hundred py4j calls instead of thousands. ``sql_over`` runs a whole statement over frames (a join plus a
filter) where one ``selectExpr`` cannot.

  - ``sql_literal`` is the only way a Python value (a prefix, a regex,
    a registry entry, a timestamp) enters SQL text.
  - ``sql_nonempty`` is the "neither NULL nor ''" test the renderers
    guard their optional properties with.
  - ``sql_function`` turns a Python function from argument SQL texts to
    a SQL expression text into a helper with two forms built from that
    one text: ``helper.sql("a", "b")`` for SQL statements, and
    ``helper(col_a, col_b)`` for Column code. When every argument is a
    column name (a string or a plain ``F.col``), the Column form is the
    SQL form over the backquoted names, so it plans exactly like the
    text inlined in a ``selectExpr`` (whole-stage codegen and common
    subexpression elimination where the text allows them). Any other
    argument (a nested field, a literal, an expression) is bound as the
    variable of a one-element ``transform`` lambda: that form is exact
    for any Column, but a higher-order function evaluates interpreted,
    outside whole-stage codegen, so the whole helper does, repeating
    every repeated subexpression. Callers that care project the
    argument first or use the SQL form. An argument's SQL text is never
    derived from ``Column.toString``, which does not re-parse to the
    same expression.
"""

from __future__ import annotations

import functools
import inspect
import math
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_STRING_ESCAPES = {"\\": "\\\\", "'": "\\'", "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _escape_char(ch: str) -> str:
    esc = _STRING_ESCAPES.get(ch)
    if esc is not None:
        return esc
    if ch < " " or ch == "\x7f":
        return f"\\u{ord(ch):04x}"
    return ch


def sql_literal(value: str | float | dict) -> str:
    """SQL literal text for a Python value under Spark's default string
    escaping (``spark.sql.parser.escapedStringLiterals=false``).

    Strings are single-quoted with backslash escapes for ``\\``, ``'``
    and control characters; everything else — ``%``, ``"``, braces,
    non-ASCII — stands as itself. Floats carry the ``D`` suffix (a bare
    ``40000.0`` parses as DECIMAL); a dict becomes a ``map(k, v, ...)``
    in insertion order.
    """
    if isinstance(value, str):
        return "'" + "".join(_escape_char(ch) for ch in value) + "'"
    if isinstance(value, float) and math.isfinite(value):
        return f"{value!r}D"
    if isinstance(value, dict):
        kv = (f"{sql_literal(k)}, {sql_literal(v)}" for k, v in value.items())
        return f"map({', '.join(kv)})"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def sql_nonempty(expr: str) -> str:
    """SQL text: ``expr`` is neither NULL nor the empty string."""
    return f"{expr} IS NOT NULL AND {expr} != ''"


def _column_name(col: Column) -> str | None:
    """The backquoted SQL name of a plain column reference (``F.col``
    with no plan id: ``df["x"]`` binds to its DataFrame), else None.
    Read from the reference's name parts, which are exact."""
    node = col._jc.node()
    if (
        node.getClass().getSimpleName() != "UnresolvedAttribute"
        or node.planId().isDefined()
        or node.isMetadataColumn()
    ):
        return None
    names = node.nameParts()
    parts = (names.apply(i) for i in range(names.length()))
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


# the Column form's lambda variable; SQL texts must not name a lambda
# variable or a column this way
_ARG = "__arg"


class sql_function:
    """Decorator: a helper defined once, as SQL text (see the module
    docstring).

    Parameters of the defining function without a default are
    expression arguments (SQL texts); parameters with a default are
    Python options, which enter the text only through ``sql_literal``."""

    def __init__(self, text: Callable[..., str]):
        functools.update_wrapper(self, text)
        self._text = text
        self._sig = inspect.signature(text)
        self._exprs = [
            p.name
            for p in self._sig.parameters.values()
            if p.default is inspect.Parameter.empty
        ]

    def _split(self, args, kwargs) -> tuple[list, dict]:
        bound = self._sig.bind(*args, **kwargs)
        exprs = [bound.arguments[n] for n in self._exprs]
        opts = {n: v for n, v in bound.arguments.items() if n not in self._exprs}
        return exprs, opts

    def sql(self, *args: str, **kwargs) -> str:
        """The expression as SQL text over argument SQL texts."""
        exprs, opts = self._split(args, kwargs)
        return "(" + self._text(*(f"({e})" for e in exprs), **opts) + ")"

    def __call__(self, *args, **kwargs) -> Column:
        """The expression as a Column over argument Columns or names."""
        exprs, opts = self._split(args, kwargs)
        cols = [F.col(c) if isinstance(c, str) else c for c in exprs]
        names = [_column_name(c) for c in cols]
        if all(n is not None for n in names):
            return F.expr(self.sql(*names, **opts))
        if len(cols) == 1:
            bound, names = F.array(cols[0]), [_ARG]
        else:
            bound = F.array(F.struct(*(c.alias(f"p{i}") for i, c in enumerate(cols))))
            names = [f"{_ARG}.p{i}" for i in range(len(cols))]
        body = self._text(*names, **opts)
        return F.get(F.call_function("transform", bound, F.expr(f"{_ARG} -> {body}")), 0)


def sql_over(query: Callable[..., str], *frames: DataFrame) -> DataFrame:
    """Analyze ``query(*views)`` — one SQL statement reading each frame
    as its view — and return it as a DataFrame. The temp views live only
    while the statement is analyzed; the result keeps its analyzed plan.
    For a step ``selectExpr`` cannot express (a join, a filter); a view
    costs its registration and a re-analysis of the frame's plan."""
    spark = frames[0].sparkSession
    views = [f"__sql_over_{uuid.uuid4().hex}" for _ in frames]
    for df, view in zip(frames, views):
        df.createOrReplaceTempView(view)
    try:
        return spark.sql(query(*views))
    finally:
        for view in views:
            spark.catalog.dropTempView(view)
