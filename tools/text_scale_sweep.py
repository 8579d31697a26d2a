"""BM25 text-lake serving costs at a 10x corpus with a REALISTIC
Zipf vocabulary (round 12, VERDICT item 5 — the lexical twin of
tools/ann_scale_sweep.py): the driver-generated documents table has a
~40-word vocabulary, which SCALE.md flags as inflating positional
postings ~2x over raw text and making every probe hit the same few
buckets. This harness generates a synthetic corpus whose token ranks
follow a Zipf law over a ~30k-word vocabulary (inverse-CDF sampling:
rank = ceil(V^u) gives P(rank=r) ~ 1/r), entirely native Spark
(xxhash64-seeded, deterministic), and measures at n/10 and n docs:

  - index build cost and positional-postings bytes vs raw text bytes
  - warm BM25 probe latency + postings rows touched for HEAD /
    TORSO / TAIL query terms (bucket-boundedness: rows touched and
    buckets read must track the terms' document frequency, not the
    corpus)
  - phrase + proximity probe latency at the same tiers
  - fragmentation: probe cost on an index built as 1 base + 9
    appended epochs, then after compact_text_index

    python tools/text_scale_sweep.py [n_docs] [n_vocab] [n_buckets]

MEASUREMENT HARNESS ONLY: the synthetic corpus never backs a registry
query or oracle; results are recorded in SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from geosparql_etl_spark.operators.retrieval import (  # noqa: E402
    append_to_text_index,
    compact_text_index,
    phrase_topk,
    proximity_topk,
    text_index_topk,
    write_text_index,
)
from geosparql_etl_spark.session import get_spark  # noqa: E402
from geosparql_etl_spark.util import gsel_path  # noqa: E402


def zipf_corpus(spark, n_docs: int, n_vocab: int):
    """doc_id, text with Zipf-ranked tokens; doc length 40..199 (mean
    ~120). Token j of doc i draws rank = ceil(V^u) from u uniform in
    [0,1) via xxhash64 — deterministic, fully native, no driver data."""
    dl = (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(7)), F.lit(160)) + 40)
    u = (
        F.pmod(
            F.xxhash64(F.col("doc_id"), F.col("j"), F.lit(13)),
            F.lit(1_000_000_007),
        ).cast("double")
        / 1_000_000_007.0
    )
    rank = F.ceil(F.pow(F.lit(float(n_vocab)), u)).cast("long")
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), dl.alias("dl"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("dl"))).alias("j"),
        )
        .select("doc_id", F.concat(F.lit("w"), rank).alias("tok"))
        .groupBy("doc_id")
        .agg(F.array_join(F.collect_list("tok"), " ").alias("text"))
    )


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def n_files(path: str) -> int:
    total = 0
    for _root, _dirs, files in os.walk(path):
        total += sum(1 for f in files if f.endswith(".parquet"))
    return total


def timed(fn, warm: int = 1):
    for _ in range(warm):
        fn()
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


def probe_report(spark, idx: str, label: str, terms: list[str]):
    (rows, t_bm25) = timed(
        lambda: text_index_topk(spark, idx, terms, k=10).collect()
    )
    touched = (
        spark.read.parquet(os.path.join(idx, "postings"))
        .where(F.col("tok").isin(terms))
        .count()
    )
    (_, t_phrase) = timed(
        lambda: phrase_topk(spark, idx, terms[:2], k=10).collect()
    )
    (_, t_prox) = timed(
        lambda: proximity_topk(
            spark, idx, terms[:2], window=5, k=10
        ).collect()
    )
    print(
        f"    {label:6s} terms={','.join(terms):28s} "
        f"bm25={t_bm25:6.2f}s hits={len(rows):3d} "
        f"postings_touched={touched:9,d} "
        f"phrase={t_phrase:6.2f}s prox={t_prox:6.2f}s"
    )
    return touched


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    spark = get_spark("text-scale-sweep")

    for size in (n_docs // 10, n_docs):
        corpus = zipf_corpus(spark, size, n_vocab).cache()
        n = corpus.count()
        raw_bytes = corpus.agg(
            F.sum(F.length("text")).alias("b")
        ).collect()[0]["b"]
        vocab = (
            corpus.select(
                F.explode(F.split(F.col("text"), " ")).alias("t")
            )
            .agg(F.countDistinct("t"))
            .collect()[0][0]
        )
        idx = gsel_path("text_sweep", str(size))
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        write_text_index(corpus, idx, n_buckets=n_buckets)
        t_build = time.time() - t0
        post_bytes = du(os.path.join(idx, "postings"))
        print(
            f"docs={n:,} vocab={vocab:,} raw={raw_bytes/1e6:.1f}MB "
            f"build={t_build:.1f}s postings={post_bytes/1e6:.1f}MB "
            f"ratio={post_bytes/raw_bytes:.2f} "
            f"files={n_files(idx)}"
        )
        # HEAD (rank ~1-3: in almost every doc), TORSO (~1k), TAIL (~fringe)
        probe_report(spark, idx, "head", ["w1", "w2", "w3"])
        probe_report(
            spark, idx, "torso",
            [f"w{n_vocab // 30}", f"w{n_vocab // 25}", f"w{n_vocab // 20}"],
        )
        probe_report(
            spark, idx, "tail",
            [f"w{n_vocab - 5}", f"w{n_vocab - 9}", f"w{n_vocab - 13}"],
        )

        # fragmentation: same corpus as 1 base + 9 appended epochs
        fidx = gsel_path("text_sweep_frag", str(size))
        shutil.rmtree(fidx, ignore_errors=True)
        write_text_index(
            corpus.where(F.col("doc_id") % 10 == 0), fidx,
            n_buckets=n_buckets,
        )
        for ep in range(1, 10):
            append_to_text_index(
                corpus.where(F.col("doc_id") % 10 == ep), fidx,
                epoch=f"a{ep}",
            )
        terms = [f"w{n_vocab // 30}", f"w{n_vocab // 25}"]
        (_, t_frag) = timed(
            lambda: text_index_topk(spark, fidx, terms, k=10).collect()
        )
        frag_files = n_files(fidx)
        compact_text_index(spark, fidx)
        (_, t_comp) = timed(
            lambda: text_index_topk(spark, fidx, terms, k=10).collect()
        )
        print(
            f"    frag   10-epoch files={frag_files} probe={t_frag:.2f}s"
            f" -> compacted files={n_files(fidx)} probe={t_comp:.2f}s"
        )
        corpus.unpersist()


if __name__ == "__main__":
    main()
