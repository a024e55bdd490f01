"""The Spark plan: extraction over a corpus DataFrame, with mega-doc salting.

Architecture (SURVEY.md §3.4) — designed for 10^12 docs / 1000 executors, tested on
local[N]:

  * **Normal docs** (≈all of them): ``mapInArrow`` straight over the scanned rows —
    ZERO shuffles; one JVM→Python Arrow boundary; Catalyst keeps the scan pruned to
    (doc_id, spans).
  * **Mega docs** (the skew tail, size(spans) > salt_threshold): the reference has
    no answer for these (it capped pages at 2000 and sharded per-container,
    main.py:167-170 / load_balancer.py); here each one is exploded to per-span rows,
    routing (the doc-level searchable classifier, main.py:57-66) is pre-computed on
    the tiny pdf_chars subset, rows are round-robin repartitioned across the cluster
    (this IS the salting — one doc's pages land on many executors), extracted
    chunk-wise, and reassembled with groupBy(doc_id) + array_sort, sealing the final
    reading-order offsets. Shuffles touch only the mega tail, never the main corpus.

The two sub-plans union to one DataFrame with EXTRACTED_SCHEMA. Plan audit:
only PythonMapInArrow / ArrowEvalPython nodes — never BatchEvalPython (north rule).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .extract import SEARCHABLE_THRESHOLD, extract_chunk_map_in_arrow, extract_map_in_arrow
from .schema import (
    CHUNK_OUT_SCHEMA,
    EXTRACTED_SCHEMA,
    KIND_CHUNK_MARKER,
    KIND_ERROR,
    KIND_PDF_CHARS,
)

DEFAULT_SALT_THRESHOLD = 256  # spans per doc above which a doc is salted


from pyspark.sql.types import LongType  # noqa: E402


@pandas_udf(LongType())
def _pdf_stripped_len(payload: pd.Series) -> pd.Series:
    """Vectorized searchable-classifier input (len of stripped page text;
    -1 = malformed). ArrowEvalPython node — not per-row Python."""
    from .kernels.pdf_text import payload_stripped_lengths

    return payload_stripped_lengths(payload)


def _extract_salted(mega: DataFrame, salted_parallelism: int | None) -> DataFrame:
    """Mega-doc path: explode → classify → spread → chunk-extract → reassemble."""
    rows = mega.select(
        "doc_id",
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").cast("long").alias("offset"),
    )

    # doc-level routing: ANY pdf_chars page with stripped len > 50 → native text.
    # Tiny frame (one bool per mega doc) → broadcast back onto the spans.
    flags = (
        rows.filter(F.col("kind") == KIND_PDF_CHARS)
        .select("doc_id", _pdf_stripped_len("text").alias("plen"))
        .groupBy("doc_id")
        .agg(F.max(F.col("plen") > F.lit(SEARCHABLE_THRESHOLD)).alias("searchable"))
    )
    routed = rows.join(F.broadcast(flags), "doc_id", "left").withColumn(
        "route",
        F.when(F.coalesce(F.col("searchable"), F.lit(False)), F.lit("text")).otherwise(
            F.lit("ocr")
        ),
    ).drop("searchable")

    # salting: round-robin spread of one doc's spans across the cluster
    chunks = routed.repartition(salted_parallelism) if salted_parallelism else routed.repartition(
        int(mega.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    chunk_out = chunks.mapInArrow(extract_chunk_map_in_arrow, CHUNK_OUT_SCHEMA)

    # reassembly: the ONLY shuffle that touches extraction output, and only for the
    # mega tail. Marker rows (one per doc per chunk) carry input-byte counts and
    # guarantee zero-span docs still appear — no extra joins or aggregations.
    # array_sort orders lexicographically on (in_off, pos, seq) — unique per doc,
    # so nullable fields never get compared; markers (in_off=2^62) sort last.
    assembled = chunk_out.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("in_off", "pos", "seq", "kind", "text", "media_ref"))
        ).alias("arr"),
        F.sum("bytes_in").alias("bytes_in"),
    )
    real = F.filter("arr", lambda s: s["kind"] != F.lit(KIND_CHUNK_MARKER))
    # DOC-level sentinels only (in_off == -1): page-scoped error spans
    # (kind='error' at a real page offset, r4 VERDICT #3) are DATA — they must
    # not promote the whole doc to a sentinel, matching main.py:361-372
    has_err = F.exists(
        "arr",
        lambda s: (s["kind"] == F.lit(KIND_ERROR)) & (s["in_off"] == F.lit(-1)),
    )
    spans_ok = F.transform(
        real,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    sentinel = F.array(
        F.struct(
            F.lit(KIND_ERROR).alias("kind"),
            F.concat(F.lit("[Error processing doc "), F.col("doc_id"), F.lit("]")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )

    out = assembled.select(
        "doc_id",
        F.when(has_err, sentinel).otherwise(spans_ok).alias("spans"),
        has_err.alias("parse_failed"),
        F.col("bytes_in").cast("long").alias("bytes_in"),
    ).select(
        "doc_id",
        "spans",
        F.size("spans").cast("long").alias("n_spans"),
        "parse_failed",
        "bytes_in",
    )
    return out


def extract_corpus(
    corpus: DataFrame,
    *,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salted_parallelism: int | None = None,
    size_col: str | None = None,
) -> DataFrame:
    """corpus (doc_id, spans) → EXTRACTED_SCHEMA (doc_id, spans, n_spans,
    parse_failed, bytes_in). Normal docs shuffle-free; skewed mega-docs salted.

    The normal branch extracts every input row on its own (one output row per
    input row). The salted branch keeps ``doc_id`` as its reassembly key: all
    spans of one ``doc_id`` are grouped back into ONE output row, so a
    ``doc_id`` repeated in the corpus is merged there — doc_ids are expected
    to be unique.

    ``size_col`` names an OPTIONAL precomputed span-count column (see
    write_corpus_parquet) used for the normal/mega routing predicate instead of
    ``size(spans)``. The difference matters at scale: ``size(spans)`` cannot
    reach the parquet reader, so the mega branch and its routing sub-plan
    re-decode the ENTIRE corpus to find the skew tail; a plain int column
    pushes down (PushedFilters) and prunes via row-group statistics, so the
    mega-side scans touch only the row groups that actually contain mega docs
    — the standard stats-column skew-routing pattern for 100 TB tables."""
    size_expr = F.col(size_col) if size_col else F.size("spans")
    # NULL routing (r4 ADVICE): with size_col set, a NULL stats value fails BOTH
    # branch predicates (NULL <= x and NULL > x are both NULL) and the doc would
    # silently vanish — data loss, not a sentinel. Externally written corpora
    # may carry NULLs; route them to the normal branch explicitly (worst case a
    # mega doc goes unsalted — a perf degrade, never loss). IsNull ORs with the
    # comparison and still pushes down to the parquet reader.
    normal_pred = (size_expr <= F.lit(salt_threshold)) | size_expr.isNull()
    normal = corpus.filter(normal_pred).select("doc_id", "spans")
    mega = corpus.filter(size_expr > F.lit(salt_threshold)).select("doc_id", "spans")
    out_normal = normal.mapInArrow(extract_map_in_arrow, EXTRACTED_SCHEMA)
    out_mega = _extract_salted(mega, salted_parallelism)
    return out_normal.unionByName(out_mega)


def extract_corpus_direct(corpus: DataFrame) -> DataFrame:
    """Normal-path-only extraction (one mapInArrow pass, zero shuffles) for
    corpora whose per-doc span count is STRUCTURALLY bounded far below
    DEFAULT_SALT_THRESHOLD — the query-layer synthesized corpora: one span
    per doc (documents_to_corpus, html wrap) or one per PDF page/figure
    (pdf_binary_to_corpus over the ≤3-page serialized variants). For such
    inputs this is value-identical to :func:`extract_corpus` (the mega
    branch's ``size(spans) > threshold`` filter is provably empty), but the
    plan reads the corpus ONCE — extract_corpus's two branch filters scan it
    twice, which forced every caller to persist() a corpus whose synthesis
    is itself an expensive mapInArrow (guide §2.4: remove the second pass
    instead of caching around it). General/unbounded corpora must keep using
    extract_corpus, which salts the skew tail."""
    return corpus.mapInArrow(extract_map_in_arrow, EXTRACTED_SCHEMA)


def assert_no_per_row_python(df: DataFrame) -> None:
    """North-rule audit: the physical plan must not contain BatchEvalPython
    (row-at-a-time Python UDF). Allowed: PythonMapInArrow, ArrowEvalPython,
    FlatMapGroupsInPandas."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "BatchEvalPython" in plan:
        raise AssertionError("per-row Python (BatchEvalPython) found in plan:\n" + plan)


def default_session(app: str = "pdf-extract-sys-spark", master: str | None = None,
                    shuffle_partitions: int | None = None,
                    extra_conf: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()
