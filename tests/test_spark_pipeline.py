"""Spark-level properties (FIXTURES.md F19/F20, SURVEY.md §5.3):
  (a) e2e golden equality through the full pipeline,
  (b) salt invariance — salted mega-doc execution byte-identical to unsalted,
  (c) idempotent resume — crash after k partitions, resume, equals single run,
  (d) plan audit — no per-row Python anywhere,
  (e) checkpoint lineage metrics match the data."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
from conftest import golden_tuples, rows_to_tuples
from fixtures_def import fixture_docs

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark.checkpoint import run_extraction, with_partition_id
from pdf_extract_sys_spark.pipeline import assert_no_per_row_python, extract_corpus
from pdf_extract_sys_spark.schema import CORPUS_SCHEMA


def make_input(spark, tmp_path, docs: pd.DataFrame, name="corpus") -> str:
    path = str(tmp_path / name)
    spark.createDataFrame(docs.to_dict("records"), schema=CORPUS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def collect_spans(df) -> dict[str, list[tuple]]:
    return {r["doc_id"]: rows_to_tuples(r["spans"]) for r in df.select("doc_id", "spans").collect()}


@pytest.fixture(scope="module")
def small_corpus() -> pd.DataFrame:
    fx = pd.DataFrame(fixture_docs())
    # MUST match tests/make_goldens.py exactly (same seed ⇒ same docs)
    rnd = C.generate_corpus(120, seed=42, mega_doc_every=40, mega_doc_pages=24)
    return pd.concat([fx, rnd], ignore_index=True)


def test_e2e_golden_equality(spark, tmp_path, small_corpus, goldens, goldens_seed42):
    path = make_input(spark, tmp_path, small_corpus)
    out = extract_corpus(spark.read.parquet(path))
    assert_no_per_row_python(out)
    got = collect_spans(out)
    gold = {**goldens, **goldens_seed42}
    assert len(got) == len(small_corpus)
    for did, spans in got.items():
        assert spans == golden_tuples(gold[did]), did


def test_salt_invariance(spark, tmp_path, small_corpus):
    """F19: forcing every doc through the salted path yields byte-identical output."""
    path = make_input(spark, tmp_path, small_corpus)
    src = spark.read.parquet(path)
    unsalted = collect_spans(extract_corpus(src, salt_threshold=10**9))
    fully_salted = collect_spans(extract_corpus(src, salt_threshold=0, salted_parallelism=7))
    assert fully_salted == unsalted
    mixed = collect_spans(extract_corpus(src, salt_threshold=6))
    assert mixed == unsalted


def test_salted_metrics_match_unsalted(spark, tmp_path, small_corpus):
    path = make_input(spark, tmp_path, small_corpus)
    src = spark.read.parquet(path)
    a = {
        r["doc_id"]: (r["n_spans"], r["parse_failed"], r["bytes_in"])
        for r in extract_corpus(src, salt_threshold=10**9).collect()
    }
    b = {
        r["doc_id"]: (r["n_spans"], r["parse_failed"], r["bytes_in"])
        for r in extract_corpus(src, salt_threshold=0).collect()
    }
    assert a == b


def test_idempotent_resume(spark, tmp_path, small_corpus):
    """F20: run partitions {subset}, 'crash', resume; final output equals a single
    uninterrupted run, with no duplicate docs."""
    path = make_input(spark, tmp_path, small_corpus)
    run = f"r-{uuid.uuid4().hex[:8]}"
    out_a = str(tmp_path / "out_a")
    cp_a = str(tmp_path / "cp_a")

    # partial run: only even partitions
    s1 = run_extraction(
        spark, run_id=run, input_path=path, output_path=out_a, checkpoint_path=cp_a,
        num_partitions=8, process_only=[0, 2, 4, 6],
    )
    assert s1.partitions_pending <= 4
    # resume: everything else
    s2 = run_extraction(
        spark, run_id=run, input_path=path, output_path=out_a, checkpoint_path=cp_a,
        num_partitions=8,
    )
    # a third run is a no-op
    s3 = run_extraction(
        spark, run_id=run, input_path=path, output_path=out_a, checkpoint_path=cp_a,
        num_partitions=8,
    )
    assert s3.partitions_pending == 0 and s3.docs_done == 0

    # single uninterrupted run
    out_b = str(tmp_path / "out_b")
    cp_b = str(tmp_path / "cp_b")
    run_extraction(
        spark, run_id=run, input_path=path, output_path=out_b, checkpoint_path=cp_b,
        num_partitions=8,
    )

    a = collect_spans(spark.read.parquet(out_a))
    b = collect_spans(spark.read.parquet(out_b))
    assert a == b
    assert len(a) == len(small_corpus)  # no dupes, no missing
    n_rows = spark.read.parquet(out_a).count()
    assert n_rows == len(small_corpus)


def test_rerun_overwrites_partial_partition(spark, tmp_path, small_corpus):
    """A partition written but NOT checkpointed (crash between the two steps) is
    re-run and overwritten — dynamic partition overwrite keeps it duplicate-free."""
    path = make_input(spark, tmp_path, small_corpus)
    run = f"r-{uuid.uuid4().hex[:8]}"
    out = str(tmp_path / "out_c")
    cp = str(tmp_path / "cp_c")

    # simulate orphaned output: write partition 1's output manually, no checkpoint
    src = with_partition_id(spark.read.parquet(path), 8).filter("partition_id = 1")
    orphan = extract_corpus(src.select("doc_id", "spans"))
    (
        with_partition_id(orphan, 8)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_id")
        .parquet(out)
    )
    # full run resumes from empty checkpoint → must reprocess partition 1 cleanly
    run_extraction(
        spark, run_id=run, input_path=path, output_path=out, checkpoint_path=cp,
        num_partitions=8,
    )
    assert spark.read.parquet(out).count() == len(small_corpus)


def test_checkpoint_metrics_lineage(spark, tmp_path, small_corpus):
    path = make_input(spark, tmp_path, small_corpus)
    run = f"r-{uuid.uuid4().hex[:8]}"
    out = str(tmp_path / "out_m")
    cp = str(tmp_path / "cp_m")
    s = run_extraction(
        spark, run_id=run, input_path=path, output_path=out, checkpoint_path=cp,
        num_partitions=8,
    )
    cpdf = spark.read.parquet(cp).toPandas()
    assert set(cpdf["run_id"]) == {run}
    assert set(cpdf["input_path"]) == {path}
    assert cpdf["docs_done"].sum() == len(small_corpus) == s.docs_done
    written = spark.read.parquet(out).toPandas()
    assert cpdf["spans_emitted"].sum() == written["n_spans"].sum() == s.spans_emitted
    assert cpdf["parse_failures"].sum() == written["parse_failed"].sum() == s.parse_failures
    assert cpdf["bytes_processed"].sum() == written["bytes_in"].sum() == s.bytes_processed
    # parse_failures equals the number of error-sentinel docs in the data
    n_err = sum(
        1 for r in spark.read.parquet(out).select("spans").collect()
        if any(s_["kind"] == "error" for s_ in r["spans"])
    )
    assert s.parse_failures == n_err


def test_every_pending_partition_is_checkpointed(spark, tmp_path):
    """Pending partitions are range(P) minus the completed ones: partitions that
    hold no docs complete too, with zero-count checkpoint rows."""
    path = make_input(spark, tmp_path, C.generate_corpus(40, seed=7))
    cp = str(tmp_path / "cp_p")
    s = run_extraction(
        spark, run_id="r-pad", input_path=path, output_path=str(tmp_path / "out_p"),
        checkpoint_path=cp, num_partitions=64,
    )
    assert s.partitions_pending == s.partitions_done == 64
    assert s.docs_done == 40
    assert spark.read.parquet(cp).count() == 64


def test_empty_corpus_run_completes(spark, tmp_path):
    path = str(tmp_path / "empty")
    spark.createDataFrame([], CORPUS_SCHEMA).write.parquet(path)
    out = str(tmp_path / "out_e")
    s = run_extraction(
        spark, run_id="r-empty", input_path=path, output_path=out,
        checkpoint_path=str(tmp_path / "cp_e"), num_partitions=8,
    )
    assert (s.partitions_done, s.docs_done, s.spans_emitted) == (8, 0, 0)


def test_page_error_spans_survive_salting_without_doc_sentinel(spark, tmp_path):
    """A page_error input span (r4 VERDICT #3) must come out as a page-scoped
    '[Error processing page N]' span — IDENTICALLY on the normal and the
    salted path — and must NOT mark the doc parse_failed or promote it to the
    doc-level sentinel (only in_off=-1 sentinels do that)."""
    payload = "PAGE\t612\t792\n" + "\n".join(
        f"{ord(c):08x}\t{10 + 7 * i}\t760\t{17 + 7 * i}\t772"
        for i, c in enumerate(
            "A perfectly ordinary sentence long enough to clear the gate."
        )
    )
    docs = pd.DataFrame(
        {
            "doc_id": ["pe1"],
            "spans": [
                [
                    {"kind": "pdf_chars", "text": payload, "media_ref": None,
                     "offset": 0},
                    {"kind": "page_error", "text": None, "media_ref": "page:1",
                     "offset": 1},
                ]
            ],
        }
    )
    path = make_input(spark, tmp_path, docs, name="page_err")
    src = spark.read.parquet(path)
    normal = extract_corpus(src, salt_threshold=10**9)
    salted = extract_corpus(src, salt_threshold=0, salted_parallelism=3)
    rows_n = normal.collect()
    rows_s = salted.collect()
    for rows in (rows_n, rows_s):
        (r,) = rows
        kinds = [s["kind"] for s in r["spans"]]
        assert kinds[-1] == "error"
        assert r["spans"][-1]["text"] == "[Error processing page 1]"
        assert kinds[0] == "text"  # page 0 extracted normally
        assert not r["parse_failed"]
    assert collect_spans(normal) == collect_spans(salted)
