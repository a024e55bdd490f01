"""The mapInArrow entry is the one way into the extraction kernels: every input
row is its own document (output never depends on batch boundaries), a kernel
exception isolates only the poison doc, and MemoryError reaches Spark's task
retry instead of becoming a parse-failure sentinel."""

from __future__ import annotations

import pytest
from conftest import extract_rows
from oracle import oracle_extract_doc

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark.kernels import html as H
from pdf_extract_sys_spark.kernels import pdf_text as P


def _tuples(row: dict) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def _html_doc(doc_id: str, body: str) -> dict:
    html = f"<p>{body} is long enough to be kept as the main content.</p>"
    return {"doc_id": doc_id, "spans": [C.span("html", html, None, 0)]}


def _docs() -> list[dict]:
    docs = C.generate_corpus(12, seed=3).to_dict("records")
    docs[1]["doc_id"] = docs[0]["doc_id"]  # a doc_id repeated inside one batch
    docs[5]["doc_id"] = docs[4]["doc_id"]
    # two single-paragraph HTML rows that share doc_id "d1"
    return docs + [_html_doc("d1", "The first paragraph"), _html_doc("d1", "A second one")]


def test_repeated_doc_id_independent_of_batch_boundaries():
    docs = _docs()
    whole = extract_rows(docs)
    single = extract_rows(docs, batch_rows=1)
    assert len(whole) == len(single) == len(docs)
    for d, a, b in zip(docs, whole, single):
        assert (a["doc_id"], _tuples(a), a["n_spans"], a["bytes_in"]) == (
            b["doc_id"], _tuples(b), b["n_spans"], b["bytes_in"]
        )
        gold = oracle_extract_doc(d["doc_id"], d["spans"])
        assert _tuples(a) == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in gold
        ]


def test_kernel_exception_sentinels_only_the_poison_doc(monkeypatch):
    docs = _docs() + [_html_doc("h-ok", "This paragraph"), _html_doc("h-bad", "POISON")]
    clean = extract_rows(docs)
    real = H.extract_html_spans

    def poisoned(frame):
        if frame["payload"].str.contains("POISON").any():
            raise ValueError("poisoned payload")
        return real(frame)

    monkeypatch.setattr(H, "extract_html_spans", poisoned)
    got = extract_rows(docs)
    for a, b in zip(clean, got):
        assert a["bytes_in"] == b["bytes_in"]
        if a["doc_id"] == "h-bad":
            assert _tuples(b) == [("error", "[Error processing doc h-bad]", None, 0)]
            assert b["parse_failed"] and b["n_spans"] == 1
        else:
            assert b == a


def test_memory_error_propagates(monkeypatch):
    def oom(ev):
        raise MemoryError

    monkeypatch.setattr(P, "segment_sentences_core", oom)
    with pytest.raises(MemoryError):
        extract_rows(_docs())
