"""Scalar function library: every reference scalar (SURVEY.md §2.7)
as a native Spark expression — zero Python serialization in the hot
path, fully Catalyst-optimizable. ``sql`` holds the SQL-text layer the
ETL pipelines build their plans with (literal quoting, helpers defined
once as SQL text with a Column form, statements over frames)."""

from geosparql_etl_spark.functions import geometry, hashing, sql, text, textstats

__all__ = ["geometry", "hashing", "sql", "text", "textstats"]
