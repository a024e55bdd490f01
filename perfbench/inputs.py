"""Seeded inputs for the benchmark, cached by (workload, seed).

The program only ever receives the generated files: a corpus parquet
directory built with ``corpus.generate_corpus`` and ``write_corpus_parquet``,
and for the registry pass a table set written by ``bench_data.py``. The
expected output is computed here too, outside every timed region: the per-doc
span sequences of the pure-Python ``tests/oracle.py``, and each registry
query's DuckDB result. The span sequences are stored apart from the corpus
description, so that the benchmark process loads them only for the output
check.

Run as a script to build one input in a process of its own:

    python3 perfbench/inputs.py job_fresh 7
    python3 perfbench/inputs.py registry 7
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import pickle
import shutil
import subprocess
import sys
from concurrent.futures import ProcessPoolExecutor
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"

# Corpus shapes. Normal docs are the bench generator's mixed shape. A mega
# doc is a long PDF forced past the salt threshold (256 spans) at a fixed
# style and page count: ("native", n) is a searchable PDF of n pages,
# ("scanned", n) an OCR-routed one. Fixed styles keep the shape the same for
# every seed.
SHAPES = {
    # bench.py's tail: 300-page mega docs, a native and a scanned one (the
    # generator draws the two PDF styles 64:36). Over 2400 normal docs they
    # hold ~11% of the spans, the share of bench.py's corpus (a 300-page doc
    # every 800 docs).
    "job_fresh": {"normal_docs": 2400, "mega": [("native", 300), ("scanned", 300)]},
    # most span bytes sit in docs above the salt threshold, up to the
    # reference's 2000-page cap
    "job_skewed": {"normal_docs": 250,
                   "mega": [("native", 2000), ("scanned", 500), ("native", 400),
                            ("scanned", 300)]},
    # tiny corpus for the warm-up jobs; its mega doc takes the salted branch
    "warmup": {"normal_docs": 64, "mega": [("native", 260)]},
}
SHARDS = 4  # generation/oracle processes; the corpus is the concatenation
REGISTRY_SF = 0.01  # scale factor of the registry tables (bench_data.py)


def _derived(seed: int, k: int) -> int:
    # generate_corpus names docs doc-<seed>-<i>, so every sub-corpus gets its
    # own derived seed and the doc ids never collide; numpy takes no
    # negative seed
    return (seed % 2**32) * 100_000 + k


def _style(spans: list[dict]) -> str | None:
    """Style of a generated two-page probe doc: a native PDF has one
    pdf_chars span per page, a scanned one has ocr_words spans. Garbage docs
    have one span and html docs none of these kinds."""
    kinds = [s["kind"] for s in spans]
    if "ocr_words" in kinds:
        return "scanned"
    if kinds.count("pdf_chars") == 2:
        return "native"
    return None


def _mega_doc(seed: int, slot: int, style: str, pages: int) -> dict:
    """The first derived seed whose generated doc has the wanted style. The
    style is the generator's first draw, so a two-page probe finds the seed
    and only the accepted doc is generated at full length."""
    from pdf_extract_sys_spark.corpus import generate_corpus

    for tries in range(1000):
        s = _derived(seed, 50_000 + slot * 1000 + tries)
        probe = generate_corpus(1, seed=s, mega_doc_every=1, mega_doc_pages=2)
        if _style(probe.spans[0]) == style:
            return generate_corpus(1, seed=s, mega_doc_every=1,
                                   mega_doc_pages=pages).iloc[0].to_dict()
    raise RuntimeError(f"no {style} doc within 1000 derived seeds of {seed}")


def _oracle_rows(docs: list[dict]) -> dict[str, list[tuple]]:
    sys.path.insert(0, str(ROOT / "tests"))
    from oracle import oracle_extract_doc

    return {
        d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in oracle_extract_doc(d["doc_id"], d["spans"])]
        for d in docs
    }


def _normal_shard(seed: int, k: int, n: int) -> tuple[list[dict], dict]:
    from pdf_extract_sys_spark.corpus import generate_corpus

    docs = generate_corpus(n, seed=_derived(seed, k)).to_dict("records")
    return docs, _oracle_rows(docs)


def _mega_task(seed: int, slot: int, style: str, pages: int) -> tuple[list[dict], dict]:
    doc = _mega_doc(seed, slot, style, pages)
    return [doc], _oracle_rows([doc])


@dataclass
class JobInput:
    corpus: str          # parquet directory handed to run_extraction
    oracle_file: str     # pickle: doc_id -> [(kind, text, media_ref, offset), ...]
    docs: int
    spans: int
    payload_mb: float    # UTF-8 payload MB of the span texts
    mega_docs: int
    mega_span_share: float

    def oracle(self) -> dict:
        return pickle.loads(Path(self.oracle_file).read_bytes())


def _base(workload: str, seed: int) -> Path:
    digest = hashlib.sha1(repr(SHAPES[workload]).encode()).hexdigest()[:8]
    return WORK / "inputs" / f"{workload}_{seed}_{digest}"


def build_job_input(workload: str, seed: int) -> None:
    """Write the corpus, its description and its oracle, under a name that
    changes with the workload's shape."""
    import pandas as pd

    from pdf_extract_sys_spark.corpus import write_corpus_parquet
    from pdf_extract_sys_spark.pipeline import DEFAULT_SALT_THRESHOLD

    shape, base = SHAPES[workload], _base(workload, seed)
    if (base / "meta.json").exists():
        return
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    n = shape["normal_docs"]
    bounds = np.linspace(0, n, SHARDS + 1, dtype=int)
    with ProcessPoolExecutor(SHARDS, mp_context=multiprocessing.get_context("spawn")) as ex:
        futs = [ex.submit(_normal_shard, seed, k, int(bounds[k + 1] - bounds[k]))
                for k in range(SHARDS)]
        futs += [ex.submit(_mega_task, seed, j, style, pages)
                 for j, (style, pages) in enumerate(shape["mega"])]
        parts = [f.result() for f in futs]
    pdf = pd.DataFrame([d for p in parts for d in p[0]])
    # shuffle mega docs into the corpus deterministically
    pdf = pdf.sample(frac=1.0, random_state=seed % (2**32)).reset_index(drop=True)
    write_corpus_parquet(pdf, str(base / "corpus"))
    (base / "oracle.pkl").write_bytes(
        pickle.dumps({k: v for p in parts for k, v in p[1].items()}))
    n_spans = pdf["spans"].str.len()
    mega = n_spans > DEFAULT_SALT_THRESHOLD
    meta = JobInput(
        corpus=str(base / "corpus"),
        oracle_file=str(base / "oracle.pkl"),
        docs=len(pdf),
        spans=int(n_spans.sum()),
        payload_mb=sum(len((s["text"] or "").encode("utf-8"))
                       for lst in pdf["spans"] for s in lst) / 1e6,
        mega_docs=int(mega.sum()),
        mega_span_share=float(n_spans[mega].sum() / n_spans.sum()),
    )
    tmp = base / "meta.tmp"
    tmp.write_text(json.dumps(asdict(meta)))
    tmp.rename(base / "meta.json")


def build_registry_input(seed: int) -> None:
    """The queries' tables at REGISTRY_SF, written by bench_data.py, and each
    REGISTRY query's DuckDB oracle result over them."""
    import duckdb

    from pdf_extract_sys_spark.queries import REGISTRY, resolve_sql

    out = _registry_dir(seed)
    if (out / "oracle.pkl").exists():
        return
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, str(ROOT / "bench_data.py"), "--sf", str(REGISTRY_SF),
                    "--seed", str(seed % 2**32), "--out", str(out)],
                   check=True, stdout=subprocess.DEVNULL)
    con = duckdb.connect()
    for table in sorted(p.stem for p in out.glob("*.parquet")):
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{out}/{table}.parquet')")
    want = {name: con.sql(resolve_sql(sql)).df() for name, (_fn, sql) in REGISTRY.items()}
    con.close()
    (out / "oracle.tmp").write_bytes(pickle.dumps(want))
    (out / "oracle.tmp").rename(out / "oracle.pkl")


def _registry_dir(seed: int) -> Path:
    return WORK / "inputs" / f"registry_{seed}_sf{REGISTRY_SF}"


def _done_marker(target: str, seed: int) -> Path:
    if target == "registry":
        return _registry_dir(seed) / "oracle.pkl"
    return _base(target, seed) / "meta.json"


def start_build(target: str, seed: int) -> subprocess.Popen | None:
    """Build one input (a workload's corpus, or "registry") in a child
    process, so that this process never holds the generated data. None if
    it is cached."""
    if _done_marker(target, seed).exists():
        return None
    return subprocess.Popen([sys.executable, __file__, target, str(seed)])


def wait_build(proc: subprocess.Popen | None) -> None:
    if proc is not None and proc.wait() != 0:
        raise RuntimeError(f"input build {proc.args[2:]} failed with code {proc.returncode}")


def stop_build(proc: subprocess.Popen | None) -> None:
    """Kill a build that is still running (after an error) and reap it."""
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()


def job_input(workload: str, seed: int) -> JobInput:
    """The description of one job input, built first if it is not cached."""
    wait_build(start_build(workload, seed))
    return JobInput(**json.loads(_done_marker(workload, seed).read_text()))


def registry_input(seed: int) -> tuple[str, dict]:
    """The registry tables' directory and the queries' expected results."""
    wait_build(start_build("registry", seed))
    return str(_registry_dir(seed)), pickle.loads(_done_marker("registry", seed).read_bytes())


def shape(inp: JobInput) -> dict:
    return {"docs": inp.docs, "spans": inp.spans, "payload_mb": round(inp.payload_mb, 2),
            "mega_docs": inp.mega_docs, "mega_span_share": round(inp.mega_span_share, 3)}


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    target, seed = sys.argv[1], int(sys.argv[2])
    if target == "registry":
        build_registry_input(seed)
    else:
        build_job_input(target, seed)
