"""S2/S3: segmentation patch CSVs under the 4-level directory hierarchy
  <base>/<cancer>_polygon/<slide>.svs.tar.gz/<cancer>_polygon/<slide>.svs/<patch>-features.csv

The reference walks this tree in Python and threads (cancer_type,
image_name) down to each worker (nuclear_segmentation_etl.py:363-446).
Spark shape: ONE glob CSV scan + regexp_extract over input_file_name()
— path-derived columns are computed scan-side and the whole tree reads
as a single distributed job (no driver traversal; a million patch files
list in parallel on the cluster). The projection is one ``selectExpr``,
analyzed once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geosparql_etl_spark.functions.sql import sql_literal
from geosparql_etl_spark.functions.text import patch_metadata
from geosparql_etl_spark.schemas import SEGMENTATION_CSV

# .../<cancer>_polygon/<archive>/<inner>/<image>.svs/<file>-features.csv
_PATH_RE = r"^.*/([^/]+)_polygon/[^/]+/[^/]+/([^/]+)\.svs/([^/]+)$"


def read_patch_csvs(spark: SparkSession, base: str, glob: str | None = None) -> DataFrame:
    """Rows: AreaInPixels, PhysicalSize, Polygon (raw strings, S2) +
    cancer_type, image_name, csv_name, patch (x/y/width/height/base_name),
    row_seq. One ``selectExpr`` over the scan."""
    path = glob or f"{base}/*_polygon/*/*/*.svs/*-features.csv"
    df = spark.read.schema(SEGMENTATION_CSV).option("header", "true").csv(path)

    def part(i: int) -> str:
        return f"regexp_extract(input_file_name(), {sql_literal(_PATH_RE)}, {i})"

    return df.selectExpr(
        *(f.name for f in SEGMENTATION_CSV.fields),
        f"{part(1)} AS cancer_type",
        f"concat({part(2)}, '.svs') AS image_name",
        f"url_decode({part(3)}) AS csv_name",
        f"{patch_metadata.sql('csv_name')} AS patch",
        "monotonically_increasing_id() AS row_seq",
    )
