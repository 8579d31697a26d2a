"""A1: per-row argmax over a map column (dominant-class selection).

The reference iterates measurements.items() keeping the first strictly
greater probability (json-etl/geojson_to_geosparql_etl.py:45-60), i.e.:
  - only keys with the given prefix participate,
  - ties keep the EARLIER entry (strict '>'),
  - values must exceed 0.0 to win at all,
  - empty/no-matching map -> (null, 0.0).

Implemented as a single ``aggregate`` fold over ``map_entries`` — map
iteration order is the stored entry order, matching dict insertion order
semantics. Pure SQL expression, no shuffle, no UDF; like every
higher-order function the fold runs interpreted, outside whole-stage
codegen. Defined once as SQL text (``functions.sql.sql_function``):
``dominant_entry.sql("measurements")`` for SQL statements,
``dominant_entry(col)`` for Column code.
"""

from __future__ import annotations

from geosparql_etl_spark.functions.sql import sql_function, sql_literal


@sql_function
def dominant_entry(measurements: str, prefix: str = "prob_", strip: bool = True) -> str:
    """struct(class: string, prob: double) of the first-max prefixed entry."""
    zero = f"named_struct('class', CAST(NULL AS STRING), 'prob', {sql_literal(0.0)})"
    pre = sql_literal(prefix)
    cls = f"replace(__e.key, {pre}, '')" if strip else "__e.key"
    folded = (
        f"aggregate(map_entries({measurements}), {zero}, (__acc, __e) -> "
        f"CASE WHEN startswith(__e.key, {pre}) AND __e.value > __acc.prob "
        f"THEN named_struct('class', {cls}, 'prob', __e.value) ELSE __acc END)"
    )
    return f"CASE WHEN {measurements} IS NOT NULL THEN {folded} ELSE {zero} END"
