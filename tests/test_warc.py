"""WARC source/sink: byte-exact round-trip, framing edge cases,
two-phase write artifacts, option-driven pruning."""

from __future__ import annotations

import gzip
import io
import os

import pytest

from pyspark.sql import functions as F

from geosparql_etl_spark.sources import warc as warcmod


@pytest.fixture(scope="module")
def warc_spark(spark):
    warcmod.register(spark)
    return spark


def _docs(spark):
    rows = [
        (0, "plain text doc"),
        (1, "embedded\r\n\r\nCRLF CRLF payload"),   # framing trap
        (2, "unicode: café — emoji \U0001f600"),
        (3, ""),                                     # empty payload
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("urn:gsel:doc:"), F.col("doc_id")).alias("record_id"),
        F.concat(F.lit("http://example.com/doc/"), F.col("doc_id")).alias(
            "target_uri"
        ),
        F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
        F.lit("text/plain; charset=utf-8").alias("content_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


@pytest.mark.parametrize("compression", ["none", "gzip"])
def test_roundtrip(warc_spark, tmp_path, compression):
    out = str(tmp_path / f"crawl_{compression}")
    _docs(warc_spark).repartition(2).write.format("warc").option(
        "compression", compression
    ).mode("overwrite").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    ext = ".warc.gz" if compression == "gzip" else ".warc"
    assert all(
        f.endswith(ext) or f == "_SUCCESS" for f in os.listdir(out)
    )
    back = warc_spark.read.format("warc").load(out)
    rows = {r.record_id: r for r in back.collect()}
    assert len(rows) == 4
    assert rows["urn:gsel:doc:1"].payload == (
        b"embedded\r\n\r\nCRLF CRLF payload"
    )
    assert rows["urn:gsel:doc:2"].payload.decode("utf-8").startswith(
        "unicode: café"
    )
    assert rows["urn:gsel:doc:3"].content_length == 0
    assert rows["urn:gsel:doc:0"].warc_type == "response"
    assert rows["urn:gsel:doc:0"].content_type.startswith("text/plain")
    assert rows["urn:gsel:doc:0"].warc_date == "2026-01-01T00:00:00Z"


def test_one_partition_per_file_and_path_equals(warc_spark, tmp_path):
    out = str(tmp_path / "crawl")
    _docs(warc_spark).repartition(3).write.format("warc").mode(
        "overwrite"
    ).save(out)
    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".warc")
    )
    assert len(files) == 3
    back = warc_spark.read.format("warc").load(out)
    assert back.rdd.getNumPartitions() == 3
    one = warc_spark.read.format("warc").option(
        "pathEquals", files[0]
    ).load(out)
    got = one.select("path").distinct().collect()
    assert [r.path for r in got] == [files[0]]


def test_warc10_accepted_and_offsets(warc_spark, tmp_path):
    p = tmp_path / "legacy.warc"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Record-ID: urn:x:1\r\n"
        b"Content-Length: 5\r\n"
        b"\r\n"
        b"hello"
        b"\r\n\r\n"
    )
    p.write_bytes(rec + rec)
    rows = (
        warc_spark.read.format("warc")
        .load(str(p))
        .orderBy("record_offset")
        .collect()
    )
    assert [r.record_offset for r in rows] == [0, len(rec)]
    assert rows[0].payload == b"hello"
    assert rows[0].warc_type == "resource"


def test_header_continuation_lines_fold(tmp_path):
    # ISO 28500 header folding: leading SP/HT continues the previous
    # header value — Common Crawl archives use this for long URIs
    p = tmp_path / "folded.warc"
    p.write_bytes(
        b"WARC/1.1\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://example.com/very/\r\n"
        b"\tlong/path\r\n"
        b"Content-Length: 2\r\n"
        b"\r\n"
        b"ok"
        b"\r\n\r\n"
    )
    with io.open(p, "rb") as fh:
        recs = list(warcmod.parse_warc_records(fh, str(p)))
    assert len(recs) == 1
    headers, payload, _ = recs[0]
    assert headers["warc-target-uri"] == (
        "http://example.com/very/ long/path"
    )
    assert payload == b"ok"


def test_continuation_before_any_header_raises(tmp_path):
    p = tmp_path / "orphan.warc"
    p.write_bytes(b"WARC/1.1\r\n\tdangling\r\n\r\n\r\n\r\n")
    with io.open(p, "rb") as fh:
        with pytest.raises(ValueError, match="continuation line"):
            list(warcmod.parse_warc_records(fh, str(p)))


def test_single_separator_and_bare_lf_framings_parse(tmp_path):
    # record separated by ONE CRLF (lenient) then a strict record; and
    # a bare-LF separator — both spec-divergent framings seen in the
    # wild must parse without moving self-produced offsets
    p = tmp_path / "lenient.warc"
    p.write_bytes(
        b"WARC/1.1\r\nContent-Length: 1\r\n\r\na\r\n"  # one separator
        b"WARC/1.1\r\nContent-Length: 1\r\n\r\nb\n"    # bare LF
        b"WARC/1.1\r\nContent-Length: 1\r\n\r\nc\r\n\r\n"  # strict
    )
    with io.open(p, "rb") as fh:
        recs = list(warcmod.parse_warc_records(fh, str(p)))
    assert [r[1] for r in recs] == [b"a", b"b", b"c"]


@pytest.mark.parametrize(
    "blob, msg",
    [
        (b"NOT-WARC\r\nContent-Length: 0\r\n\r\n\r\n\r\n", "expected WARC"),
        (
            b"WARC/1.1\r\nWARC-Type: resource\r\n\r\n\r\n\r\n",
            "missing Content-Length",
        ),
        (
            b"WARC/1.1\r\nContent-Length: 99\r\n\r\nshort\r\n\r\n",
            "truncated payload",
        ),
        (
            b"WARC/1.1\r\nContent-Length: 5\r\n\r\nhelloXXXX",
            "not followed by a blank separator",
        ),
    ],
)
def test_malformed_raises(blob, msg, tmp_path):
    p = tmp_path / "bad.warc"
    p.write_bytes(blob)
    with io.open(p, "rb") as fh:
        with pytest.raises(ValueError, match=msg):
            list(warcmod.parse_warc_records(fh, str(p)))


def test_gzip_file_reads(warc_spark, tmp_path):
    p = tmp_path / "z.warc.gz"
    with gzip.open(p, "wb") as fh:
        fh.write(
            b"WARC/1.1\r\nWARC-Record-ID: urn:z:1\r\n"
            b"Content-Length: 3\r\n\r\nabc\r\n\r\n"
        )
    rows = warc_spark.read.format("warc").load(str(p)).collect()
    assert rows[0].payload == b"abc"


def test_crawl_ingest_stream_matches_batch_and_is_exactly_once(
    warc_spark, sf_dir, tmp_path
):
    """Two WARC archives land in sequence; the curated table after both
    availableNow runs must equal batch curation of the union (incl.
    cross-archive fingerprint dedup — a doc re-crawled in archive 2
    must NOT reappear), and the file-source checkpoint makes run 2
    parse only the new archive."""
    import shutil

    import __spark_entry__ as entry
    from geosparql_etl_spark.streaming.corpus import curate
    from geosparql_etl_spark.streaming.crawl import (
        parse_warc_bytes,
        records_to_docs,
        run_crawl_ingest,
    )

    spark = warc_spark
    crawl = tmp_path / "crawl"
    out = tmp_path / "curated"
    ck = tmp_path / "ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def land(df, fname):
        tmp = tmp_path / ("stage_" + fname)
        entry_rows = df.select(
            F.lit("response").alias("warc_type"),
            F.concat(F.lit("urn:gsel:doc:"), F.col("doc_id")).alias(
                "record_id"
            ),
            F.concat(
                F.lit("http://crawl.example/"), F.col("source"),
                F.lit("/"), F.col("doc_id"),
            ).alias("target_uri"),
            F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
            F.concat(
                F.lit("text/plain; charset=utf-8; lang="), F.col("lang")
            ).alias("content_type"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        entry_rows.coalesce(1).write.format("warc").mode("overwrite").save(
            str(tmp)
        )
        crawl.mkdir(exist_ok=True)
        part = next(p for p in tmp.iterdir() if p.suffix == ".warc")
        shutil.move(str(part), str(crawl / fname))

    land(docs.where(F.col("doc_id") < 120), "shard-0.warc")
    q = run_crawl_ingest(spark, str(crawl), str(out), str(ck))
    assert q.awaitTermination(120)
    # archive 2 re-crawls 100-119 (dup text) plus fresh 120-239
    land(docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 240)),
         "shard-1.warc")
    q2 = run_crawl_ingest(spark, str(crawl), str(out), str(ck))
    assert q2.awaitTermination(120)

    got = spark.read.parquet(str(out))
    want = curate(
        records_to_docs(
            parse_warc_bytes(
                spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.warc*")
                .load(str(crawl))
            )
        )
    )
    g = {(r.fp, r.n_tokens, r.source) for r in got.collect()}
    w = {(r.fp, r.n_tokens, r.source) for r in want.collect()}
    assert g == w and len(g) > 0
    fps = [r.fp for r in got.collect()]
    assert len(fps) == len(set(fps))  # exactly one row per fingerprint


def test_records_to_docs_recovers_document_fields(warc_spark, sf_dir, tmp_path):
    """The WARC round trip loses nothing the curation needs: doc_id,
    text, lang, source all reconstruct exactly."""
    import __spark_entry__ as entry

    spark = warc_spark
    from geosparql_etl_spark.streaming.crawl import (
        parse_warc_bytes,
        records_to_docs,
    )

    path = entry._write_docs_warc(spark, sf_dir, kind="warc_test")
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
    )
    got = records_to_docs(parse_warc_bytes(raw)).orderBy("doc_id")
    want = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_decode_payload_charsets_and_gzip(warc_spark):
    """decode_payload: gunzip by Content-Encoding, charset from the
    Content-Type parameter, latin-1 fallback on unknown/broken
    charsets — all three transports of the same text decode equal."""
    import gzip as _gzip
    import io as _io

    from geosparql_etl_spark.functions.textstats import decode_payload

    text = "café rápido"
    buf = _io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as fh:
        fh.write(text.encode("utf-8"))
    rows = [
        ("utf8", text.encode("utf-8"), "text/html; charset=utf-8", None),
        ("latin1", text.encode("iso-8859-1"),
         "text/html; charset=iso-8859-1", None),
        ("gzip", buf.getvalue(), "text/html; charset=utf-8", "gzip"),
        # real CommonCrawl variants: the legacy x-gzip token and a
        # compound token list must both trigger decompression
        ("xgzip", buf.getvalue(), "text/html; charset=utf-8", "x-gzip"),
        ("compound", buf.getvalue(), "text/html; charset=utf-8",
         "gzip, identity"),
        # identity alone must NOT attempt decompression
        ("identity", text.encode("utf-8"),
         "text/html; charset=utf-8", "identity"),
        # unknown charset label -> latin-1 fallback decodes the bytes
        ("fallback", "abc".encode("ascii"),
         "text/html; charset=no-such-cs", None),
        # utf-8 label over latin-1 bytes -> decode error -> fallback
        ("mislabeled", text.encode("iso-8859-1"),
         "text/html; charset=utf-8", None),
    ]
    df = warc_spark.createDataFrame(
        rows, "name string, payload binary, ct string, ce string"
    )
    got = {
        r["name"]: r["t"]
        for r in df.select(
            "name",
            decode_payload(
                F.col("payload"), F.col("ct"), F.col("ce")
            ).alias("t"),
        ).collect()
    }
    assert got["utf8"] == text
    assert got["latin1"] == text
    assert got["gzip"] == text
    assert got["xgzip"] == text
    assert got["compound"] == text
    assert got["identity"] == text
    assert got["fallback"] == "abc"
    assert got["mislabeled"] == text.encode("iso-8859-1").decode("latin-1")


def test_gzip_bytes_deterministic_roundtrip(warc_spark):
    import gzip as _gzip

    from geosparql_etl_spark.functions.textstats import gzip_bytes

    df = warc_spark.createDataFrame(
        [(b"hello world",), (b"hello world",), (None,)], "b binary"
    )
    out = [r["z"] for r in df.select(gzip_bytes(F.col("b")).alias("z")).collect()]
    assert out[0] == out[1]  # mtime pinned -> identical archive bytes
    assert _gzip.decompress(bytes(out[0])) == b"hello world"
    assert out[2] is None


def test_content_encoding_header_roundtrips(warc_spark, tmp_path):
    """The sink writes Content-Encoding only when present; the reader
    surfaces it as a column."""
    p = str(tmp_path / "enc")
    warc_spark.createDataFrame(
        [
            ("resource", "urn:e:1", "http://x/1", "2026-01-01T00:00:00Z",
             "text/plain", "gzip", b"zz"),
            ("resource", "urn:e:2", "http://x/2", "2026-01-01T00:00:00Z",
             "text/plain", None, b"yy"),
        ],
        "warc_type string, record_id string, target_uri string, "
        "warc_date string, content_type string, content_encoding string, "
        "payload binary",
    ).write.format("warc").mode("overwrite").save(p)
    rows = {
        r["record_id"]: r["content_encoding"]
        for r in warc_spark.read.format("warc").load(p).collect()
    }
    assert rows == {"urn:e:1": "gzip", "urn:e:2": None}


def test_decode_payload_degrades_on_corrupt_gzip(warc_spark):
    """A truncated/corrupt gzip payload must not kill the scan: the
    decode degrades to the raw bytes (same rule as the charset
    fallback) instead of raising through the task."""
    import gzip as _gzip
    import io as _io

    from geosparql_etl_spark.functions.textstats import decode_payload

    buf = _io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as fh:
        fh.write(b"hello world, a real payload")
    truncated = buf.getvalue()[: len(buf.getvalue()) // 2]
    df = warc_spark.createDataFrame(
        [("bad", truncated, "text/plain; charset=utf-8", "gzip"),
         ("junk", b"\x01\x02\x03", "text/plain", "gzip")],
        "name string, payload binary, ct string, ce string",
    )
    got = {
        r["name"]: r["t"]
        for r in df.select(
            "name",
            decode_payload(F.col("payload"), F.col("ct"), F.col("ce"))
            .alias("t"),
        ).collect()
    }
    # degraded, not dead: raw bytes decoded via the latin-1 fallback
    assert got["bad"] == truncated.decode("latin-1")
    assert got["junk"] == b"\x01\x02\x03".decode("latin-1")
