"""Distributed extraction operator: binary payloads → extracted text.

The Spark face of the S1 scan kernel (SURVEY.md §2.1; reference
/root/reference/modules/tools.py:27-50). Arrow-batched ``mapInPandas`` —
never per-row Python at the plan level (BASELINE.json:15 input_hint) —
calling the same pure kernel (`kernels.decode.decode_payload`) that produces
the single-node golden SHA-256s, so distributed output is byte-identical by
construction; tests assert it stays that way under any partitioning.

Skew handling (SURVEY.md O7): AQE cannot fix map-side payload skew, so
payloads spread explicitly by unique-url hash (salted_repartition).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

_DECODE_COLS = ("url", "warc_ts", "html", "lang")
_DECODED_SCHEMA = ("url string, warc_ts timestamp, lang string, n_bytes long, "
                   "doc_kind string, text string, error string")


def salted_repartition(df: DataFrame, num_partitions: int,
                       key: str = "url") -> DataFrame:
    """Skew-spreading repartition on the key hash (BASELINE.json north_star:
    'salted repartitioning on url-hash to break skew from oversized
    documents'): ONE scan, ONE shuffle, exactly num_partitions outputs.

    Keys are unique, so heavy rows land uniformly at random: with B heavy
    rows over P partitions the relative load deviation is ~sqrt(P/B),
    statistically round-robin at design scale and measured balanced on
    the test fixtures (test-gated). A two-class variant (round-robin the big
    rows) balanced exactly but scanned the payload twice into 2×P
    partitions.

    Hash the key column itself, NOT a precomputed pmod(xxhash64(key), n)
    bucket: repartition hashes its expression again, and re-hashing n
    bucket ids into n partitions leaves ~1/e of them empty — a 3×
    straggler skew."""
    return df.repartition(num_partitions, F.col(key))


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # import inside the task so --py-files shipping works without driver state
    from pdf_extract_spark.kernels.decode import decode_payload
    from pdf_extract_spark.kernels.textstats import detect_language

    for pdf in batches:
        # the kernel call is necessarily per-row (it parses bytes)
        decoded = [decode_payload(p or b"") for p in pdf.pop("html")]
        texts = [t for t, _ in decoded]
        # crawl archives (WARC source) carry no lang label: detect it from
        # a 4 KB text prefix (the heuristic saturates long before); a
        # fully-labeled batch (the common case) skips the row loop
        if pdf["lang"].isna().any():
            pdf["lang"] = [detect_language(t[:4096]) if (lg is None and t)
                           else lg for lg, t in zip(pdf["lang"], texts)]
        yield pdf.assign(text=texts, error=[e for _, e in decoded])


def _conf_bytes(spark, key: str) -> int:
    return spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(key))


def plan_bytes(df: DataFrame) -> int | None:
    """The optimized plan's size estimate, or None when a leaf reports the
    no-size placeholder spark.sql.defaultSizeInBytes (createDataFrame and
    Python data sources), which a projection would scale to nonsense."""
    unknown = _conf_bytes(df.sparkSession, "spark.sql.defaultSizeInBytes")
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    if any(leaves.apply(i).stats().sizeInBytes() >= unknown
           for i in range(leaves.size())):
        return None
    return int(plan.stats().sizeInBytes())


def decode_partitions(pages: DataFrame) -> int:
    """Decode task count: ceil(bytes extract_text reads from ``pages`` /
    advisoryPartitionSizeInBytes), never fewer than the session's cores
    (defaultParallelism), and the cores when the input has no size. Why
    tasks are sized by bytes: see plans/pipeline.run_extraction."""
    spark = pages.sparkSession
    floor = spark.sparkContext.defaultParallelism
    size = plan_bytes(pages.select(*_DECODE_COLS))
    if size is None:
        return floor
    target = _conf_bytes(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    return max(floor, -(-size // target))


def extract_text(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted table.

    Only url/warc_ts/html/lang are read (Catalyst prunes `text` from the
    scan). Payload size, container kind (the kernel's magic-byte dispatch)
    and text digest are Catalyst expressions; Python runs the kernel and
    the lang fill only.
    """
    df = pages.select(
        *_DECODE_COLS,
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("n_bytes"),
        F.when(F.substring("html", 1, 5) == F.lit(b"%PDF-"), "pdf")
        .otherwise("html").alias("doc_kind"))
    if num_partitions:
        df = salted_repartition(df, num_partitions)
    return (df.mapInPandas(_decode_batches, schema=_DECODED_SCHEMA)
            .select("url", "warc_ts", "lang", "text",
                    F.sha2("text", 256).alias("text_sha256"),
                    "n_bytes", "doc_kind", "error"))

