"""TTL document sinks.

K1/K2: one text document per row, written gzip-compressed under a
partitioned layout (out/<execution_id>/<imageid>/batch_NNNNNN.ttl.gz in
the reference: mongo-etl/mongodb_to_rdf.py:548-563; output/<image>/
<cancer>_<stem>.ttl.gz: segmentation-etl:299-322).

Spark's text sink controls directories, not leaf filenames, so the engine
offers two modes:

  - ``write_documents`` (default, the scale path): write.partitionBy on
    the doc keys + gzip codec. Filenames are part-*.ttl.gz inside the
    keyed directory — same content, same layout keys, cluster-width
    parallel, atomic via the file commit protocol.
  - ``write_documents_exact`` (parity path): foreachPartition writer that
    creates exactly the reference's leaf names. Still distributed (each
    executor writes its partition's documents), but bypasses the commit
    protocol — use for golden-file comparisons, not production.

K3 (in-place rewrite) is ``rewrite_documents``: read -> transform ->
write to a NEW versioned snapshot dir. Spark sinks are immutable by
design; the snapshot swap gives the same idempotent-converge semantics
the reference gets from rewriting files (update_hashes.py:139-149) with
crash safety for free.
"""

from __future__ import annotations

import gzip
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_documents(
    docs: DataFrame,
    out_dir: str,
    partition_cols: Sequence[str],
    text_col: str = "body",
    compress: bool = True,
    mode: str = "overwrite",
) -> None:
    """K2: partitioned gzip text sink, one document row per output record."""
    writer = docs.select(*partition_cols, F.col(text_col).alias("value")).write.mode(
        mode
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if compress:
        writer = writer.option("compression", "gzip")
    writer.text(out_dir)


def _write_document(
    out_dir: str, rel: str, text: str, compress: bool, gzip_level: int
) -> int:
    """Write one document to ``out_dir/rel``, gzipped when ``compress``
    is set or the name ends in .gz; returns the uncompressed byte
    count. The one write loop body of both exact-filename sinks."""
    path = os.path.join(out_dir, rel)
    os.makedirs(os.path.dirname(path) or out_dir, exist_ok=True)
    data = text.encode("utf-8")
    if compress or rel.endswith(".gz"):
        # gzip level 6 parity: mongo-etl/mongodb_to_rdf.py:37
        with gzip.open(path, "wb", compresslevel=gzip_level) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)
    return len(data)


def write_documents_exact(
    docs: DataFrame,
    out_dir: str,
    name_col: str = "file_name",
    text_col: str = "body",
    compress: bool = True,
    gzip_level: int = 6,
) -> None:
    """K1/K2 parity mode: exact leaf filenames (<name_col> per row).

    Each executor writes its own rows; names must be unique across the
    DataFrame (they are: the reference derives them from doc keys).
    """

    def write_partition(rows):
        for row in rows:
            _write_document(
                out_dir, row[name_col], row[text_col], compress, gzip_level
            )

    os.makedirs(out_dir, exist_ok=True)
    docs.select(name_col, text_col).foreachPartition(write_partition)


def write_documents_exact_df(
    docs: DataFrame,
    out_dir: str,
    name_col: str = "file_name",
    text_col: str = "body",
    compress: bool = True,
    gzip_level: int = 6,
) -> DataFrame:
    """LAZY variant of ``write_documents_exact``: returns a
    (file_name, n_bytes) DataFrame whose evaluation performs the writes.

    Because the writer is a mapInPandas stage inside the plan (not an
    RDD foreachPartition), DataFrame-level actions drive it — so
    Observation metrics attached downstream actually fire (RDD actions
    never emit SQL listener events), and the write + metrics cost ONE
    pass. Caller must materialize exactly once (e.g. noop write).
    """
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)

    def write_batches(batches):
        for pdf in batches:
            names, sizes = [], []
            for rel, text in zip(pdf[name_col], pdf[text_col]):
                names.append(rel)
                sizes.append(
                    _write_document(out_dir, rel, text, compress, gzip_level)
                )
            yield pd.DataFrame({"file_name": names, "n_bytes": sizes})

    return docs.select(name_col, text_col).mapInPandas(
        write_batches, schema="file_name string, n_bytes long"
    )


def rewrite_documents(
    transformed: DataFrame,
    snapshot_dir: str,
    name_col: str = "file_name",
    text_col: str = "text",
    compress: bool = True,
) -> None:
    """K3: versioned rewrite — the immutable-sink replacement for the
    reference's read-modify-overwrite loop. Re-running converges: the
    transform is idempotent (already-correct hashes rewrite to
    themselves), so snapshot N+1 == snapshot N."""
    write_documents_exact(
        transformed, snapshot_dir, name_col=name_col, text_col=text_col, compress=compress
    )
