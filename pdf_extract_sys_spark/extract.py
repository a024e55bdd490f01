"""Per-batch extraction orchestration: input span rows → ordered output spans.

This module is the ONLY Python that runs on the hot path, invoked from
``pipeline.py`` via ``mapInArrow`` — over whole docs (zero shuffle) and over the
salted mega-doc chunk rows. Everything inside is vectorized pandas/numpy over
Arrow batches.

The unit of work is one Arrow batch. Its entry function gives every document an
integer code ``doc`` (the batch row for whole docs, the factorized ``doc_id``
for chunk rows); the kernels key on that code, and ``doc_id`` strings are
attached only for sentinel text and the output batch. A repeated ``doc_id`` in
one batch is therefore two documents, each extracted exactly as if it were
alone in its batch.

Routing semantics (reference: ``backend/app/main.py:171-205``):
  * a doc is *searchable* iff ANY of its pdf_chars pages has stripped text length
    > 50 (``main.py:57-66``) → native-text rules apply to its pdf_chars pages and
    its ocr_words pages are ignored; otherwise pdf_chars pages are ignored and
    ocr_words pages are OCR-grouped (the reference renders+OCRs the same pages;
    here both representations may be present in one doc — FIXTURES.md).
  * html and media spans are always processed, independent of the classifier.

Sentinel totality (``main.py:361-372, 642-646, 731-735``): any doc whose payload
fails to decode — or that hits an unexpected kernel exception (isolated by a
per-doc fallback retry) — emits exactly one
``(kind='error', text='[Error processing doc <doc_id>]', media_ref=NULL, offset=0)``
span and counts as a parse failure; the job never aborts. ``MemoryError`` is not
a parse failure: it propagates so that Spark retries the task.

Reading order (``main.py:288, 382, 389-391`` — explicit here, SURVEY.md §2 O7):
output spans are ordered by (input span offset, within-payload sequence) and the
final ``offset`` is the 0-based enumeration of that order per doc.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .kernels import html as html_k
from .kernels import ocr as ocr_k
from .kernels import pdf_text as pdf_k
from .kernels.util import grouped_cumsum
from .schema import (
    CHUNK_MARKER_OFF,
    CHUNK_OUT_ARROW,
    EXTRACTED_ARROW,
    INPUT_KINDS,
    KIND_CHUNK_MARKER,
    KIND_ERROR,
    KIND_HTML,
    KIND_MEDIA,
    KIND_NEEDS_OCR,
    KIND_OCR_WORDS,
    KIND_PAGE_ERROR,
    KIND_PDF_CHARS,
    KIND_TEXT,
)

SEARCHABLE_THRESHOLD = 50  # main.py:64

_PAYLOAD_KINDS = [KIND_PDF_CHARS, KIND_OCR_WORDS, KIND_HTML]  # need text
_REF_KINDS = [KIND_MEDIA, KIND_NEEDS_OCR]  # need media_ref


def _pages(rows: pd.DataFrame) -> pd.DataFrame:
    """Kernel input frame: one row per payload span, keyed by the doc code."""
    return pd.DataFrame(
        {
            "doc_id": rows["doc"].to_numpy(np.int64),
            "page": rows["offset"].to_numpy(np.int64),
            "pos": rows["pos"].to_numpy(np.int64),
            "payload": rows["text"].to_numpy(dtype=object),
        }
    )


def _part(doc, in_off, pos, seq, kind, text, media_ref) -> pd.DataFrame:
    """Output span rows keyed (doc, in_off, pos, seq); scalars broadcast."""
    cols = dict(doc=doc, in_off=in_off, pos=pos, seq=seq, kind=kind, text=text,
                media_ref=media_ref)
    return pd.DataFrame(
        {k: v.to_numpy() if isinstance(v, pd.Series) else v for k, v in cols.items()}
    )


def _sentinels(codes: np.ndarray, doc_ids: np.ndarray) -> pd.DataFrame:
    """The doc-level error span for each failed doc code; in_off = -1 marks it
    as a doc sentinel for the salted reassembly."""
    text = "[Error processing doc " + pd.Series(doc_ids[codes], dtype=object) + "]"
    return _part(codes, -1, -1, 0, KIND_ERROR, text, None)


def _seal(
    allp: pd.DataFrame, failed: np.ndarray, bytes_in: np.ndarray, enumerate_offsets: bool
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sort rows into reading order (doc, in_off, pos, seq) and return
    (out, metrics); metrics rows are aligned with the doc codes."""
    doc = allp["doc"].to_numpy(np.int64)
    order = np.lexsort(
        (allp["seq"].to_numpy(), allp["pos"].to_numpy(), allp["in_off"].to_numpy(), doc)
    )
    out = allp.iloc[order].reset_index(drop=True)
    doc = doc[order]
    metrics = pd.DataFrame(
        {
            "n_spans": np.bincount(doc, minlength=len(failed)).astype(np.int64),
            "parse_failed": failed,
            "bytes_in": bytes_in,
        }
    )
    if not enumerate_offsets:
        return out[["doc", "in_off", "pos", "seq", "kind", "text", "media_ref"]], metrics
    out["out_offset"] = (grouped_cumsum(np.ones(len(doc), np.int64), doc) - 1).astype(np.int32)
    return out[["doc", "out_offset", "kind", "text", "media_ref"]], metrics


def extract_docs(
    span_rows: pd.DataFrame,
    doc_ids: np.ndarray,
    *,
    enumerate_offsets: bool = True,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Core vectorized extraction over exploded input spans.

    span_rows: one row per input span with columns
      * ``doc``        — int64 doc code, an index into ``doc_ids``
      * ``kind``, ``text``, ``media_ref``, ``offset`` — the input span
      * ``pos``        — the span's index within the doc's input array
        (deterministic tie-break for duplicate offsets)
      * ``text_bytes`` — utf-8 byte length of ``text`` (0 for NULL)
      * optionally ``route`` — doc-level routing override for the salted
        mega-doc path ('text' | 'ocr' | None): a chunk cannot see the sibling
        pages that decide the searchable classifier, so the pipeline
        pre-computes it (SURVEY.md §2 S5)
    doc_ids: the doc_id of every doc code (docs with zero input spans included).

    Returns (out, metrics). ``out`` is sorted by (doc, reading order) with
    columns (doc, out_offset, kind, text, media_ref); with
    enumerate_offsets=False it keeps the sort key (doc, in_off, pos, seq)
    instead of out_offset (sentinels get in_off=-1) — the salted path
    enumerates after reassembling all chunks of a doc. ``metrics`` has one row
    per doc code: (n_spans, parse_failed, bytes_in).
    May raise — callers go through :func:`extract_docs_safe`.
    """
    sr = span_rows
    ndocs = len(doc_ids)
    doc = sr["doc"].to_numpy(np.int64)
    # lineage metric: bytes of input payload text per doc (utf-8)
    bytes_in = np.bincount(
        doc, weights=sr["text_bytes"].to_numpy(np.float64), minlength=ndocs
    ).astype(np.int64)

    kind = sr["kind"]
    bad = (
        ~kind.isin(INPUT_KINDS)
        | (kind.isin(_PAYLOAD_KINDS) & sr["text"].isna())
        | (kind.isin(_REF_KINDS) & sr["media_ref"].isna())
    ).to_numpy()
    failed = np.zeros(ndocs, dtype=bool)
    failed[doc[bad]] = True

    def ok_rows(k: str) -> pd.DataFrame:
        return sr.loc[(kind == k).to_numpy() & ~failed[doc]]

    # --- pdf_chars: decode + searchable classification (numpy core) -------------
    pdf_ev, bad_pdf = pdf_k.decode_pdf_core(_pages(ok_rows(KIND_PDF_CHARS)))
    failed[np.asarray(bad_pdf, dtype=np.int64)] = True  # their events are dropped

    plens = pdf_k.page_stripped_lengths_core(pdf_ev)
    tab_docs = pdf_ev.page_tab["doc_id"].to_numpy(np.int64)
    searchable = np.zeros(ndocs, dtype=bool)
    searchable[tab_docs[plens > SEARCHABLE_THRESHOLD]] = True
    # mega-doc chunk path: the pipeline pre-computed doc-level routing (a chunk
    # cannot see sibling pages) — apply the override
    if "route" in sr.columns:
        rt = sr.dropna(subset=["route"]).drop_duplicates("doc")
        rdoc = rt["doc"].to_numpy(np.int64)
        route = rt["route"].to_numpy()
        searchable[rdoc[route == "text"]] = True
        searchable[rdoc[route == "ocr"]] = False

    pdf_spans = pdf_k.segment_sentences_core(pdf_ev.select_pages(searchable[tab_docs]))

    # --- ocr_words: only for docs NOT routed to the native-text path -----------
    # page identity stays PER INPUT SPAN: two ocr_words spans sharing one offset
    # keep distinct page_tab rows, matching the oracle's per-span treatment
    ocr_rows = ok_rows(KIND_OCR_WORDS)
    ocr_rows = ocr_rows.loc[~searchable[ocr_rows["doc"].to_numpy(np.int64)]]
    ocr_ev, bad_ocr = ocr_k.decode_ocr_core(_pages(ocr_rows))
    failed[np.asarray(bad_ocr, dtype=np.int64)] = True  # their events are dropped
    ocr_spans = ocr_k.group_ocr_lines_core(ocr_ev)

    # --- html: the input-array position is carried onto the kernel output -------
    html_pages = _pages(ok_rows(KIND_HTML))
    html_spans = html_k.extract_html_spans(html_pages[["doc_id", "page", "payload"]])
    html_spans = html_spans.astype({"doc_id": np.int64}).merge(
        html_pages.drop_duplicates(["doc_id", "page"])[["doc_id", "page", "pos"]],
        on=["doc_id", "page"],
        how="left",
    )

    # --- passthroughs, independent of the searchable classifier ------------------
    # media (FIXTURES.md kind #4 / F17); needs_ocr (r3 VERDICT #6): image-only PDF
    # pages surface as an explicit OCR work-list row instead of silently zero
    # spans; page_error (r4 VERDICT #3): a page-scoped decode failure becomes the
    # reference's '[Error processing page N]' span (main.py:361-372, 0-based
    # page index) — the doc's other pages keep extracting
    media = ok_rows(KIND_MEDIA)
    todo = ok_rows(KIND_NEEDS_OCR)
    perr = ok_rows(KIND_PAGE_ERROR)

    # --- assemble reading order ---------------------------------------------------
    parts = [
        p for p in (
            _part(pdf_spans["doc_id"], pdf_spans["page"], pdf_spans["pos"],
                  pdf_spans["seq"], KIND_TEXT, pdf_spans["text"], None),
            _part(ocr_spans["doc_id"], ocr_spans["page"], ocr_spans["pos"],
                  ocr_spans["seq"], KIND_TEXT, ocr_spans["text"], None),
            _part(html_spans["doc_id"], html_spans["page"], html_spans["pos"],
                  html_spans["seq"], html_spans["kind"], html_spans["text"],
                  html_spans["media_ref"]),
            _part(media["doc"], media["offset"], media["pos"], 0, KIND_MEDIA,
                  media["text"], media["media_ref"]),
            _part(todo["doc"], todo["offset"], todo["pos"], 0, KIND_NEEDS_OCR,
                  None, todo["media_ref"]),
            _part(perr["doc"], perr["offset"], perr["pos"], 0, KIND_ERROR,
                  "[Error processing page " + perr["offset"].astype(str) + "]",
                  perr["media_ref"]),
        )
        if len(p)
    ]
    allp = pd.concat(parts, ignore_index=True) if parts else _part(
        np.empty(0, np.int64), 0, 0, 0, KIND_TEXT, None, None
    )
    allp = allp.loc[~failed[allp["doc"].to_numpy(np.int64)]]
    if failed.any():
        allp = pd.concat([allp, _sentinels(np.flatnonzero(failed), doc_ids)], ignore_index=True)
    return _seal(allp, failed, bytes_in, enumerate_offsets)


def extract_docs_safe(
    span_rows: pd.DataFrame,
    doc_ids: np.ndarray,
    *,
    enumerate_offsets: bool = True,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sentinel-totality wrapper over :func:`extract_docs` (same contract): if a
    kernel raises on the batch, the docs are re-run one at a time — the rows
    are split by doc code once, O(rows) — so only the poison docs become
    sentinels and the batch never fails (main.py:361-372). ``MemoryError``
    is an infrastructure failure, not a parse failure: it propagates so that
    Spark retries the task."""
    try:
        return extract_docs(span_rows, doc_ids, enumerate_offsets=enumerate_offsets)
    except MemoryError:
        raise
    except Exception:
        pass  # isolate the poison docs below
    doc = span_rows["doc"].to_numpy(np.int64)
    order = np.argsort(doc, kind="stable")
    bounds = np.searchsorted(doc[order], np.arange(len(doc_ids) + 1))
    outs, mets = [], []
    for i in range(len(doc_ids)):
        rows = span_rows.iloc[order[bounds[i]:bounds[i + 1]]].assign(doc=0)
        one = doc_ids[i:i + 1]
        try:
            o, m = extract_docs(rows, one, enumerate_offsets=enumerate_offsets)
        except MemoryError:
            raise
        except Exception:
            nbytes = np.array([rows["text_bytes"].sum()], dtype=np.int64)
            o, m = _seal(_sentinels(np.zeros(1, np.int64), one), np.ones(1, bool),
                         nbytes, enumerate_offsets)
        outs.append(o.assign(doc=i))
        mets.append(m)
    return pd.concat(outs, ignore_index=True), pd.concat(mets, ignore_index=True)


# ---------------------------------------------------------------------------------
# Arrow-level plumbing for mapInArrow (zero-copy explode / reassemble)
# ---------------------------------------------------------------------------------


def _record_batch_to_rows(batch: pa.RecordBatch) -> tuple[np.ndarray, pd.DataFrame]:
    """Flatten a corpus batch (doc_id, spans list<struct>) to exploded span rows
    keyed by ``doc`` = the batch row, using Arrow list offsets — vectorized, no
    Python per row."""
    doc_ids = batch.column("doc_id").to_pandas().to_numpy(dtype=object)
    spans = batch.column("spans")
    doc = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(spans)
    # pos = index within the doc's input array (flat rows are parent-ordered)
    counts = np.bincount(doc, minlength=len(doc_ids))
    pos = np.arange(len(doc), dtype=np.int64) - (np.cumsum(counts) - counts)[doc]
    text_arr = flat.field("text")
    span_rows = pd.DataFrame(
        {
            "doc": doc,
            "kind": flat.field("kind").to_pandas().to_numpy(dtype=object),
            "text": text_arr.to_pandas().to_numpy(dtype=object),
            "media_ref": flat.field("media_ref").to_pandas().to_numpy(dtype=object),
            "offset": flat.field("offset").to_pandas().to_numpy(np.int64),
            "pos": pos,
            # utf-8 byte length straight off the Arrow buffer (no re-encode)
            "text_bytes": pc.fill_null(pc.binary_length(text_arr), 0).to_numpy(
                zero_copy_only=False
            ),
        }
    )
    return doc_ids, span_rows


def _rows_to_record_batch(
    doc_ids: np.ndarray, out: pd.DataFrame, metrics: pd.DataFrame
) -> pa.RecordBatch:
    """Assemble the EXTRACTED_ARROW batch: one row per doc code, in code order,
    with an empty spans array for spanless docs. Takes what
    :func:`extract_docs_safe` returns: ``out`` sorted by (doc, out_offset),
    ``metrics`` aligned with ``doc_ids``."""
    offsets = np.zeros(len(doc_ids) + 1, dtype=np.int32)
    np.cumsum(np.bincount(out["doc"].to_numpy(np.int64), minlength=len(doc_ids)),
              out=offsets[1:])
    struct = pa.StructArray.from_arrays(
        [
            pa.array(out["kind"], type=pa.string()),
            pa.array(out["text"], type=pa.string()),
            pa.array(out["media_ref"], type=pa.string()),
            pa.array(out["out_offset"].to_numpy(np.int32), type=pa.int32()),
        ],
        fields=list(EXTRACTED_ARROW.field("spans").type.value_type),
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), struct),
            pa.array(metrics["n_spans"].to_numpy(np.int64), type=pa.int64()),
            pa.array(metrics["parse_failed"].to_numpy(bool), type=pa.bool_()),
            pa.array(metrics["bytes_in"].to_numpy(np.int64), type=pa.int64()),
        ],
        schema=EXTRACTED_ARROW,
    )


def _pin_worker_threads() -> None:
    """Inside an executor's Python worker, pyarrow's internal pool must not fan out
    to every host core — Spark already owns the core-level parallelism (one worker
    per task slot). Without this, a local[8] run secretly uses all 32 cores and
    scaling measurements lie."""
    try:
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
    except Exception:
        pass


def extract_map_in_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The mapInArrow function: corpus batches in, EXTRACTED_ARROW batches out,
    one output row per input row."""
    _pin_worker_threads()
    for batch in batches:
        if batch.num_rows == 0:
            continue
        doc_ids, span_rows = _record_batch_to_rows(batch)
        out, metrics = extract_docs_safe(span_rows, doc_ids)
        yield _rows_to_record_batch(doc_ids, out, metrics)


def extract_chunk_map_in_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow function for the salted mega-doc path: chunk rows (one row per
    input span, with pre-computed doc routing) in, CHUNK_OUT_ARROW rows out — no
    final offset enumeration (the reassembly groupBy seals offsets). Rows of one
    ``doc_id`` share one doc code. One marker row per doc carries the chunk's
    input byte count so the reassembly needs no extra joins/aggregations."""
    _pin_worker_threads()
    for batch in batches:
        if batch.num_rows == 0:
            continue
        df = batch.to_pandas()
        codes, uniq = pd.factorize(df.pop("doc_id"))
        doc_ids = np.asarray(uniq, dtype=object)
        df["doc"] = codes
        df["text_bytes"] = pc.fill_null(
            pc.binary_length(batch.column("text")), 0
        ).to_numpy(zero_copy_only=False)
        out, metrics = extract_docs_safe(df, doc_ids, enumerate_offsets=False)
        out = out.astype({"in_off": np.int64, "pos": np.int64, "seq": np.int64})
        out.insert(0, "doc_id", doc_ids[out.pop("doc").to_numpy(np.int64)])
        out["bytes_in"] = np.int64(0)
        markers = pd.DataFrame(
            {
                "doc_id": doc_ids,
                "in_off": np.int64(CHUNK_MARKER_OFF),
                "pos": np.int64(0),
                "seq": np.int64(0),
                "kind": KIND_CHUNK_MARKER,
                "text": None,
                "media_ref": None,
                "bytes_in": metrics["bytes_in"].to_numpy(np.int64),
            }
        )
        out = pd.concat([out, markers], ignore_index=True)
        yield pa.RecordBatch.from_pandas(out, schema=CHUNK_OUT_ARROW, preserve_index=False)
