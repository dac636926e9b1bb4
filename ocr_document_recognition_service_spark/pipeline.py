"""The Spark extraction pipeline (SURVEY §7.1 steps 4–5).

Plan shape of ``extract_pages`` (all relational work stays in Catalyst;
Python only inside Arrow-batched pandas UDFs):

    scan pages (no pre-extraction shuffle: scan splits are already
    even, and moving every html blob through a shuffle costs more
    than the skew it would fix)
      → FOUR lang-filtered branches (en/ru/kk + null/unknown lang),
        each a filter on the scan — on a table written
        partitionBy("lang") the filter prunes at scan, so each branch
        reads only its own files.  Each branch applies the vectorized
        extraction UDF with its language's normalization constants:
        DataFrame-level routing, no UDF conditional on lang (north rule)
      → inside the known-lang UDFs, an html row longer than the salt
        threshold takes the salted kernel (split at scope-safe block
        boundaries, extract per chunk, rejoin — byte-identical to the
        unsplit kernel) in the same task, with no extra pass
      → unionByName of the branches; html is dropped right after the
        UDF (column pruning past extraction)

The url-hash clustering the lineage contract needs is NOT part of this
plan: ``lineage.run_extraction`` repartitions the narrow extracted
output by ``pid = pmod(xxhash64(url), P)`` just before its partitioned
write, where the shuffled bytes are ~10× smaller than the html.
``pre_repartition=True`` and ``distribute_salted=True`` are opt-in
shapes for pathological inputs (see ``extract_pages``).

The per-stage list materialization of the reference
(``core/pipelines/default/preprocessor.py:9`` etc.) and its
batch-size-1 recognize loop (``crnn.py:168``) are exactly what this
replaces: one lazy plan, Arrow record batches end to end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .charsets import LANGS

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

EXTRACT_RESULT_TYPE = StructType(
    [
        StructField("text", StringType(), True),
        StructField("n_blocks", IntegerType(), True),
        StructField("lang_used", StringType(), True),
        StructField("error", StringType(), True),
    ]
)

DEFAULT_SALT_THRESHOLD = 64 * 1024
DEFAULT_CHUNK_TARGET = 32 * 1024

_PDF_MAGIC_HEX = "25504446"  # b"%PDF"


def _extract_udf(
    lang: str | None,
    max_payload_bytes: int | None = None,
    salt_threshold: int | None = None,
    chunk_target: int = DEFAULT_CHUNK_TARGET,
):
    """Vectorized extraction for one language branch.

    Iterator form: the (cheap) kernel import happens once per Python
    worker, not per batch — the Spark analog of the reference's
    singleton pipeline instance (``core/app.py:25-33``).

    With *salt_threshold* set, oversized HTML rows take the salted
    kernel (``extract_document_split``: split at scope-safe block
    boundaries, extract per chunk, rejoin — proven byte-identical to
    unsplit extraction) INSIDE the same UDF pass.  Measured: the former
    explode→extract→groupBy salted branch ran its chunks in the same
    task anyway (no exchange between explode and extract), so it bought
    zero cross-task parallelism while costing a second scan+decode of
    every lang partition plus a reassembly aggregation.
    """

    @pandas_udf(EXTRACT_RESULT_TYPE)
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from ocr_document_recognition_service_spark import extract_one
        from ocr_document_recognition_service_spark.pydeps import (
            keep_zip_directories,
        )

        keep_zip_directories()

        cap = (
            max_payload_bytes
            if max_payload_bytes is not None
            else extract_one.MAX_PAYLOAD_BYTES
        )
        for payloads in batches:
            results = []
            for p in payloads:
                b = bytes(p) if p is not None else None
                if (
                    salt_threshold is not None
                    and b is not None
                    and salt_threshold < len(b) <= cap
                ):
                    r = extract_one.extract_document_split(
                        b, lang, chunk_target, max_bytes=cap
                    )
                else:
                    r = extract_one.extract_document(b, lang, max_bytes=cap)
                results.append(r)
            yield pd.DataFrame(
                {
                    "text": [r.text for r in results],
                    "n_blocks": [r.n_blocks for r in results],
                    "lang_used": [r.lang for r in results],
                    "error": [r.error for r in results],
                }
            )

    return extract


@pandas_udf(ArrayType(BinaryType()))
def _split_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Salt-split oversized HTML at block boundaries (chunk target is a
    module constant so the UDF stays single-column; PDF / non-UTF-8
    payloads come back as a single chunk — the kernel refuses)."""
    from ocr_document_recognition_service_spark import extract_one
    from ocr_document_recognition_service_spark.pydeps import (
        keep_zip_directories,
    )

    keep_zip_directories()

    for payloads in batches:
        yield payloads.map(
            lambda p: extract_one.split_html(bytes(p), DEFAULT_CHUNK_TARGET)
            if p is not None
            else [None]
        )


def _is_pdf_col(html: "F.Column | None" = None) -> "F.Column":
    """F5 magic-byte dispatch as a native expression (no UDF)."""
    h = html if html is not None else F.col("html")
    return F.hex(F.substring(h, 1, 4)) == F.lit(_PDF_MAGIC_HEX)


def extract_pages(
    pages: DataFrame,
    *,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    num_partitions: int | None = None,
    carry_cols: tuple[str, ...] = ("warc_ts",),
    pre_repartition: bool = False,
    max_payload_bytes: int | None = None,
    distribute_salted: bool = False,
) -> DataFrame:
    """Full extraction plan: returns (url, *carry_cols, lang, text,
    n_blocks, error) with ``lang`` = the language actually used.

    ``carry_cols`` pass through untouched (e.g. lineage partition id).

    Shuffle placement (measured, not guessed): extraction reads SCAN
    partitions directly — ``maxPartitionBytes`` already yields even
    byte-sized splits, and per-document skew is handled by salting, so
    a pre-extraction shuffle adds nothing but moves every fat ``html``
    blob through shuffle write+read (and the 9-branch union re-reads
    that exchange per subtree: profiling showed 3–5× wall cost).  The
    url-hash repartition the lineage contract needs happens AFTER
    extraction, on the narrow text output (``lineage.run_extraction``),
    where the shuffled bytes are ~10× smaller.  ``pre_repartition=True``
    restores the input-side shuffle for inputs with pathological file
    skew.
    """
    from .pydeps import ensure_py_deps

    ensure_py_deps(pages.sparkSession)  # --py-files analog for workers
    P = int(
        num_partitions
        or pages.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = pages.select("url", *carry_cols, "lang", "html")
    if pre_repartition:
        base = base.repartition(P, F.xxhash64("url"))

    # Skew pre-pass predicate (SURVEY §4 "Skew handling").  Only
    # known-lang HTML rows are split: PDF ordering is document-global
    # (L2/L3) and null-lang rows need a whole-document language vote.
    # coalesce → null lang lands in the unsplit path instead of
    # vanishing into filter(NULL) on both sides.
    from . import extract_one as _x1

    cap = (
        max_payload_bytes
        if max_payload_bytes is not None
        else _x1.MAX_PAYLOAD_BYTES
    )
    splittable = (
        (F.length("html") > salt_threshold)
        # rows above the hard cap must NOT take the split branch (the
        # split UDF would materialize the monster blob); they fall to
        # the unsplit branch where the kernel emits a PayloadTooLarge
        # error row instead
        & (F.length("html") <= cap)
        & ~_is_pdf_col()
        & F.coalesce(F.col("lang").isin(*LANGS), F.lit(False))
    )

    def _narrow(
        df: DataFrame, ex_lang: str | None, salt: int | None = None
    ) -> DataFrame:
        """Apply the branch's extraction UDF, drop html immediately
        (column pruning past extraction, SURVEY §4)."""
        return df.withColumn(
            "ex", _extract_udf(ex_lang, cap, salt_threshold=salt)(F.col("html"))
        ).select(
            "url",
            *carry_cols,
            *(["chunk_id"] if "chunk_id" in df.columns else []),
            F.col("ex.text").alias("text"),
            F.col("ex.n_blocks").alias("n_blocks"),
            F.col("ex.lang_used").alias("lang"),
            F.col("ex.error").alias("error"),
        )

    out_cols = ["url", *carry_cols, "lang", "text", "n_blocks", "error"]

    # Plan shape: routing happens BEFORE extraction, so every row passes
    # the extract UDF exactly once — branch subtrees are disjoint;
    # nothing downstream re-triggers a UDF.  (The first cut reassembled
    # AFTER a shared `extracted` node; Spark then evaluated the whole
    # UDF subtree once per consumer — a 2× extraction cost that
    # profiling caught immediately.)
    branches: list[DataFrame] = []
    if not distribute_salted:
        # Default: salt-splitting happens INSIDE the extract UDF
        # (extract_document_split — the oracle itself).  One scan + one
        # Arrow pass per lang partition, no reassembly shuffle.  The
        # former explode→extract→groupBy shape ran a doc's chunks in
        # the same task anyway (no exchange between explode and the
        # UDF), so this is plan-for-plan faster with identical bytes.
        for lang in LANGS:
            by_lang = base.filter(F.col("lang") == lang)
            branches.append(
                _narrow(by_lang, lang, salt=salt_threshold).select(*out_cols)
            )
    else:
        # distribute_salted=True: spread one monster document's chunks
        # ACROSS tasks — split → explode → repartition the (tiny) salted
        # subset's chunk rows → extract → ordered reassembly.  Pays a
        # shuffle of chunk bytes; worth it only when single documents
        # are large enough to straggle a task (payload cap bounds that
        # at ~seconds, so the default keeps them task-local).
        for lang in LANGS:
            by_lang = base.filter(F.col("lang") == lang)
            branches.append(
                _narrow(by_lang.filter(~splittable), lang).select(*out_cols)
            )
            big = (
                by_lang.filter(splittable)
                .withColumn("chunks", _split_udf("html"))
                .select(
                    "url",
                    *carry_cols,
                    "lang",
                    F.posexplode("chunks").alias("chunk_id", "html"),
                )
                .repartition(P, "url", "chunk_id")
            )
            reassembled = (
                _narrow(big, lang)
                .groupBy("url")
                .agg(
                    *[F.first(c).alias(c) for c in carry_cols],
                    F.first("lang").alias("lang"),
                    F.max("error").alias("error"),
                    F.sum("n_blocks").cast("int").alias("n_blocks"),
                    F.array_join(
                        F.filter(
                            F.transform(
                                F.array_sort(
                                    F.collect_list(
                                        F.struct("chunk_id", "text")
                                    )
                                ),
                                lambda x: x["text"],
                            ),
                            lambda t: t != F.lit(""),
                        ),
                        "\n",
                    ).alias("text"),
                )
                .select(
                    "url",
                    *carry_cols,
                    "lang",
                    F.when(F.col("error").isNotNull(), F.lit(None))
                    .otherwise(F.col("text"))
                    .alias("text"),
                    "n_blocks",
                    "error",
                )
            )
            branches.append(reassembled)

    # null / unknown lang → kernel votes (R6); never split
    null_branch = base.filter(
        F.col("lang").isNull() | ~F.col("lang").isin(*LANGS)
    )
    branches.append(_narrow(null_branch, None).select(*out_cols))

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out
