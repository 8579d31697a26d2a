"""Profile registered queries in-process, with the Spark UI off.

Usage: python tools/profile_queries.py <sf_dir> <query> [<query> ...]

Runs each query twice through ``geosparql_etl_spark.profiling.profile``
(rep 0 warms codegen and the engine's caches, rep 1 is the measured
pass) and prints one JSON record per rep: the build/plan/execute split
with the Catalyst phases, job and stage counts, the stage table
(largest executor run time first), the SQL-node time and row metrics,
and the Janino compiles.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

from geosparql_etl_spark.profiling import profile  # noqa: E402
from geosparql_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    sf_dir, names = sys.argv[1], sys.argv[2:]
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("gsel-profile")
    for name in names:
        for rep in range(2):
            record = profile(spark, lambda: qs[name](spark, sf_dir))
            print(json.dumps({"query": name, "rep": rep, **record}), flush=True)


if __name__ == "__main__":
    main()
