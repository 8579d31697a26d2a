"""A6: deterministic document assembly (group-concat rendering).

The reference accumulates per-feature / per-mark text blocks into one
Turtle document per file or batch, in cursor order
(json-etl:127-180, mongo-etl/mongodb_to_rdf.py:528-546). Spark rows have
no inherent order, so the renderer imposes one explicitly: every block
carries a sequence key, and assembly is

    groupBy(doc keys).agg(concat_ws(sep, transform(
        sort_array(collect_list(struct(seq, block))), x -> x.block)))

``sort_array`` on the (seq, block) struct makes output byte-deterministic
regardless of partitioning — the property golden tests depend on
(SURVEY.md §7 "What's hard"). collect_list is a partial-aggregating
hash agg, so assembly shuffles only the rendered strings once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ordered_concat(seq_col: Column, block_col: Column, sep: str = "") -> Column:
    """Aggregate expression: blocks concatenated in seq order; NULL
    blocks are skipped (array_join drops NULL elements), so a document
    whose blocks are all NULL assembles to ''. The lambda is SQL text:
    a Python lambda costs a dozen py4j round trips per call."""
    pairs = F.sort_array(
        F.collect_list(F.struct(seq_col.alias("seq"), block_col.alias("block")))
    )
    return F.array_join(F.call_function("transform", pairs, F.expr("__x -> __x.block")), sep)


def assemble_documents(
    blocks: DataFrame,
    doc_keys: Sequence[str],
    seq_col: str,
    block_col: str,
    sep: str = "",
    out_col: str = "body",
) -> DataFrame:
    """One row per document: doc keys + ordered concatenation of blocks."""
    return blocks.groupBy(*doc_keys).agg(
        ordered_concat(F.col(seq_col), F.col(block_col), sep).alias(out_col)
    )
