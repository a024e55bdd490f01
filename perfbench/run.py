#!/usr/bin/env python3
"""Benchmark of the extraction job operators submit (``checkpoint.run_extraction``).

Usage, from the repository root:

    python3 perfbench/run.py --workload job_fresh --seed 1 --seconds 15 --trace 0

One process, one caller, one job at a time (closed loop). The Spark session
comes from ``pipeline.default_session`` at ``local[N]`` with N = min(4, cores)
and ``shuffle_partitions = 2N`` (the setting ``bench.py`` uses). The job is
called as ``job.py`` calls it: default partitions and salt threshold, no
``size_col``, a fresh output and checkpoint for every call.

Workloads (inputs are generated from ``--seed``; see inputs.py):

* ``job_fresh``: the bench generator's mixed corpus with bench.py's 300-page
  mega-doc tail. The kernels and the partitioned output commit do most of
  the work.
* ``job_skewed``: most span bytes in long PDFs above the salt threshold, so
  the salted mega-doc branch does most of the work.

Each run builds its inputs in a child process while the JVM launches and the
first session starts. In that session it makes an untimed job call on a
65-doc warm-up corpus (which also audits the job's plan) and times job calls
on the workload's corpus for ``--seconds`` seconds (at least one). Then it
restarts the session twice to time the set-up.

With ``--trace 0`` the run prints the end-to-end metrics: ``wall_s`` (median
time of the timed job calls), ``docs_per_s`` and ``input_mb_per_s`` (docs and
UTF-8 payload MB of the corpus per second of ``wall_s``), ``setup_s`` (median
of the two set-ups, each a session start in the running JVM and a warm-up
job that starts the Python workers) and ``peak_python_rss_mb`` (peak summed
RSS of the Python processes - this one and the Spark Python workers - during
the timed calls). After the calls, every call's written output is compared
doc by doc with the pure-Python oracle in ``tests/oracle.py``;
``attempted``/``failed`` count docs, and a doc fails when it is missing,
duplicated or differs.

With ``--trace 1`` the run starts its session with Spark's event log on and
makes the warm-up call, one untraced call, one traced call (span wrappers
around the ``checkpoint`` calls) and one pass of the 40 ``queries.REGISTRY``
entries, each checked against its DuckDB oracle. Then it makes one call at
``local[1]`` and runs the in-process kernel split, and prints the per-layer
metrics. The spans and the layer charge of the traced call are written to
``.perfbench/trace/``. LAYERS.md maps the metrics to the layers.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

import inputs
import tracing

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = tuple(w for w in inputs.SHAPES if w != "warmup")
CORES = min(4, os.cpu_count() or 1)
SETUPS = 2
MIN_CALLS = 1
RSS_PERIOD_S = 0.1
T0 = time.perf_counter()


def note(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


class PythonRss:
    """Samples the summed RSS of this process and its Python descendants:
    the driver and the Spark Python workers. The JVM is left out: its
    resident size follows its collector's heap sizing up to
    spark.driver.memory, not what the job holds."""

    def __init__(self) -> None:
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, self._sample())

    def __enter__(self) -> "PythonRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _isolate_scratch(tag: str) -> Path:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = WORK / "tmp" / tag
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    return tmp


def start_session(cores: int, tmp: Path, extra: dict | None = None):
    from pdf_extract_sys_spark.pipeline import default_session

    conf = {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        **(extra or {}),
    }
    spark = default_session(app="perfbench", master=f"local[{cores}]",
                            shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_conf(log_dir: Path) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Calls:
    """Fresh output/checkpoint directories for each job call."""

    def __init__(self, tag: str) -> None:
        self.root = WORK / "calls" / tag
        shutil.rmtree(self.root, ignore_errors=True)
        self.n = 0

    def next(self) -> tuple[str, str]:
        self.n += 1
        d = self.root / f"call{self.n}"
        return str(d / "out"), str(d / "ckpt")

    def clear(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def job_call(spark, corpus: str, out: str, ckpt: str, run_id: str):
    from pdf_extract_sys_spark.checkpoint import run_extraction

    t0 = time.perf_counter()
    summary = run_extraction(spark, run_id=run_id, input_path=corpus,
                             output_path=out, checkpoint_path=ckpt)
    return time.perf_counter() - t0, summary


def rebind_udfs() -> None:
    """Module-level pandas UDFs cache their JVM function, and with it the
    first SparkContext's accumulator; after a restart the stale accumulator
    makes every task log a failed update. Drop the cache so the next plan
    binds the UDF to the live context."""
    from pdf_extract_sys_spark import pipeline

    for obj in vars(pipeline).values():
        udf = getattr(obj, "_unwrapped", None)
        if udf is not None and hasattr(udf, "_judf_placeholder"):
            udf._judf_placeholder = None


def setup(cores: int, tmp: Path, warm_corpus: str, extra: dict | None = None):
    """Session start plus a warm-up job that starts the Python workers and
    loads the extraction modules in them."""
    from pdf_extract_sys_spark.pipeline import extract_corpus_direct

    t0 = time.perf_counter()
    rebind_udfs()
    spark = start_session(cores, tmp, extra)
    extract_corpus_direct(spark.read.parquet(warm_corpus)).write.format("noop") \
        .mode("overwrite").save()
    return spark, time.perf_counter() - t0


def restart(spark, tmp: Path, warm_corpus: str):
    """Stop the session and set up a new one in the running JVM."""
    spark.stop()
    return setup(CORES, tmp, warm_corpus)


def warm_up(spark, warm: str, calls: Calls) -> bool:
    """An untimed job call on the warm-up corpus, so that the JVM compiles
    the job's code paths. The plan the call writes is captured and must
    pass the north rule: no per-row Python."""
    from pdf_extract_sys_spark import checkpoint as ck
    from pdf_extract_sys_spark.pipeline import assert_no_per_row_python

    written = []
    write_output = ck._write_output

    def capture(df, *a, **kw):
        written.append(df)
        return write_output(df, *a, **kw)

    ck._write_output = capture
    try:
        out, ckpt = calls.next()
        job_call(spark, warm, out, ckpt, run_id="warmup")
    finally:
        ck._write_output = write_output
    shutil.rmtree(Path(out).parent, ignore_errors=True)
    try:
        assert_no_per_row_python(written[0])
    except AssertionError as e:
        print(e, file=sys.stderr)
        return False
    return True


def timed_calls(spark, inp, calls: Calls, seconds: float):
    """Job calls until `seconds` have passed (at least MIN_CALLS), with the
    Python RSS sampled while they run. The outputs are kept for check_calls,
    which runs after the sampling has stopped."""
    times, outs = [], []
    with PythonRss() as rss:
        t_end = time.perf_counter() + seconds
        while len(times) < MIN_CALLS or time.perf_counter() < t_end:
            out, ckpt = calls.next()
            dt, summary = job_call(spark, inp.corpus, out, ckpt, run_id="bench")
            times.append(dt)
            outs.append((out, summary))
    return times, outs, rss.peak


def check_output(out_dir: str, oracle: dict) -> int:
    """Docs missing, duplicated or differing from the oracle."""
    import pyarrow.parquet as pq

    t = pq.read_table(out_dir, columns=["doc_id", "spans"])
    seen: dict[str, int] = {}
    bad = set()
    for doc_id, spans in zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()):
        seen[doc_id] = seen.get(doc_id, 0) + 1
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        if got != oracle.get(doc_id):
            bad.add(doc_id)
    bad.update(d for d, n in seen.items() if n > 1)
    bad.update(d for d in oracle if d not in seen)
    return len(bad)


def check_calls(inp, outs) -> int:
    """Failed docs over the calls' outputs, which are removed once checked."""
    oracle = inp.oracle()
    failed = 0
    for out, summary in outs:
        f = check_output(out, oracle)
        if summary.docs_done != inp.docs:
            print(f"run summary counts {summary.docs_done} docs, corpus has {inp.docs}",
                  file=sys.stderr)
            f = max(f, 1)
        failed += f
        shutil.rmtree(Path(out).parent, ignore_errors=True)
    return failed


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(workload: str, seed: int, seconds: int) -> dict:
    tag = f"{workload}_{seed}_{os.getpid()}"
    tmp = _isolate_scratch(tag)
    calls = Calls(tag)
    warm = inputs.job_input("warmup", 0).corpus
    build = inputs.start_build(workload, seed)
    spark = None
    try:
        # the JVM launch and the first session overlap the input build; the
        # timed calls run in that session, the one an operator's job gets,
        # and its Python workers start in the warm-up call
        spark = start_session(CORES, tmp)
        inputs.wait_build(build)
        inp = inputs.job_input(workload, seed)
        note("session and inputs ready")
        plan_ok = warm_up(spark, warm, calls)
        note("warm-up call done")
        times, outs, peak_rss = timed_calls(spark, inp, calls, seconds)
        note("timed calls done")
        setups = []
        for _ in range(SETUPS):
            spark, dt = restart(spark, tmp, warm)
            setups.append(dt)
        failed = check_calls(inp, outs)
        note("set-ups and check done")
    finally:
        inputs.stop_build(build)
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        calls.clear()
        shutil.rmtree(tmp, ignore_errors=True)
    wall = statistics.median(times)
    print(f"{workload} seed {seed}: {inputs.shape(inp)} calls {[round(t, 2) for t in times]} "
          f"setups {[round(t, 2) for t in setups]}", file=sys.stderr)
    return {
        "correct": plan_ok and failed == 0,
        "attempted": inp.docs * len(times),
        "failed": failed,
        "metrics": {
            "wall_s": metric(wall, "s"),
            "docs_per_s": metric(inp.docs / wall, "1/s"),
            "input_mb_per_s": metric(inp.payload_mb / wall, "MB/s"),
            "setup_s": metric(statistics.median(setups), "s"),
            "peak_python_rss_mb": metric(peak_rss / 1e6, "MB"),
        },
    }


def registry_pass(spark, sf_dir: str, expected: dict) -> tuple[dict[str, float], int]:
    """One pass of every queries.REGISTRY entry, each checked against its
    DuckDB oracle result. Between queries memoized state is reset the way
    bench.py does it. A query's time covers planning, running and collecting
    its result (small at the registry scale factor), which the check then
    uses; its Spark jobs carry the description ``queries.<name>``."""
    from pdf_extract_sys_spark import queries as Q

    sc = spark.sparkContext
    times, failed = {}, 0
    for name, (fn, _sql) in Q.REGISTRY.items():
        if name == "q_minhash_lsh_pairs":
            Q.clear_lsh_cache()
        sc.setJobDescription(f"queries.{name}")
        t0 = time.perf_counter()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            print(f"{name} raised:", file=sys.stderr)
            traceback.print_exc()
            got = None
        times[name] = time.perf_counter() - t0
        spark.catalog.clearCache()
        if got is None or not same_rows(got, expected[name]):
            print(f"{name} differs from its DuckDB oracle", file=sys.stderr)
            failed += 1
    sc.setJobDescription(None)
    return times, failed


def same_rows(a, b) -> bool:
    """Same column names and the same multiset of rows, floats to 6 places."""
    import math

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            return ("f", round(v, 6))
        if isinstance(v, int):
            return ("i", v)
        return ("s", str(v))

    def rows(df):
        cols = sorted(df.columns)
        return sorted((tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False)),
                      key=lambda t: tuple((x is None, str(x)) for x in t))

    return sorted(a.columns) == sorted(b.columns) and len(a) == len(b) and rows(a) == rows(b)


def run_traced(workload: str, seed: int, seconds: int) -> dict:
    tag = f"{workload}_{seed}_{os.getpid()}"
    tmp = _isolate_scratch(tag)
    calls = Calls(tag)
    log_dir = WORK / "eventlog" / tag
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    trace_dir = WORK / "trace"
    trace_dir.mkdir(parents=True, exist_ok=True)
    spans = tracing.Spans(run_id=tag)
    warm = inputs.job_input("warmup", 0).corpus
    # no set-up time is reported here, so the inputs are built while the
    # JVM starts
    builds = [inputs.start_build(workload, seed), inputs.start_build("registry", seed)]
    spark = None
    failed = attempted = 0
    try:
        spark = start_session(CORES, tmp, event_log_conf(log_dir))
        for b in builds:
            inputs.wait_build(b)
        inp = inputs.job_input(workload, seed)
        sf_dir, expected = inputs.registry_input(seed)
        note("session and inputs ready")

        # one untraced reference call (whatever `seconds` is), then the
        # traced call: span wrappers installed and a job description on
        # every job it submits
        plan_ok = warm_up(spark, warm, calls)
        times, outs, _ = timed_calls(spark, inp, calls, 0)
        failed += check_calls(inp, outs)
        attempted += inp.docs * len(times)
        untraced = statistics.median(times)
        out, ckpt = calls.next()
        tracer = tracing.CheckpointTracer(spark, spans)
        with tracer.installed():
            trace_call, summary = job_call(spark, inp.corpus, out, ckpt, run_id="bench")
        out_files = sum(1 for p in Path(out).rglob("*.parquet"))
        failed += check_calls(inp, [(out, summary)])
        attempted += inp.docs
        parts = summary.partitions_pending or 1
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        note("job calls done")

        # the queries run only here, so the pass rides on every traced run
        q_times, q_failed = registry_pass(spark, sf_dir, expected)
        failed += q_failed
        attempted += len(q_times)
        log_file = log_dir / spark.sparkContext.applicationId
        spark.stop()
        note("registry pass done")

        # the same call on one core, for the scaling efficiency
        spark, _ = setup(1, tmp, warm, extra={"spark.eventLog.enabled": "false"})
        t1, _ = job_call(spark, inp.corpus, *calls.next(), run_id="bench")
        spark.stop()
        spark = None
    finally:
        for b in builds:
            inputs.stop_build(b)
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        calls.clear()
        shutil.rmtree(tmp, ignore_errors=True)

    log = tracing.parse_event_log(log_file, prefix=("checkpoint.", "pipeline."))
    q_log = tracing.parse_event_log(log_file, prefix="queries.")
    shutil.rmtree(log_dir, ignore_errors=True)
    note("local[1] call done")
    m = tracing.event_log_metrics(log)
    write = [s for s in spans.spans if s.name == "checkpoint.write_output"][0]
    write_jobs_end = max(e for _, e in log.job_intervals("checkpoint.write_output"))
    m["checkpoint.pending_scan_s"] = (spans.total("checkpoint.completed_partitions")
                                      + spans.total("checkpoint.pending_scan"))
    m["checkpoint.write_job_s"] = spans.total("checkpoint.write_output")
    m["checkpoint.commit_driver_s"] = max(0.0, write.end - write_jobs_end)
    m["checkpoint.readback_s"] = spans.total("checkpoint.readback")
    m["checkpoint.append_s"] = spans.total("checkpoint.append_checkpoint")
    m["checkpoint.output_files"] = float(out_files)
    m["checkpoint.files_per_partition"] = out_files / parts
    m["pipeline.mega_docs"] = float(inp.mega_docs)
    m["pipeline.mega_span_share"] = inp.mega_span_share
    m["spark.scaling_eff_1_to_n"] = t1 / (CORES * untraced)
    m["trace.overhead_s"] = trace_call - untraced
    charge = layer_charge(spans, log, write, write_jobs_end)
    m["trace.unattributed_s"] = charge["unattributed_s"]
    m.update(tracing.kernel_split(inp.corpus, batch_rows))
    m.update({f"queries.{name}_s": t for name, t in q_times.items()})
    m.update(tracing.query_metrics(q_log))

    note("kernel split done")
    dump = {"workload": workload, "seed": seed, "shape": inputs.shape(inp),
            "traced_wall_s": trace_call,
            "untraced_wall_s": untraced, "layer_charge": charge,
            "spans": [s.__dict__ for s in spans.spans], "metrics": m}
    (trace_dir / f"{tag}.json").write_text(json.dumps(dump, indent=1))
    return {
        "correct": plan_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: metric(v, layer_unit(k)) for k, v in sorted(m.items())},
    }


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_eff_1_to_n", "_skew", "_per_partition")):
        return "ratio"
    return "count"


def layer_charge(spans, log, write, write_jobs_end) -> dict:
    """Charge the traced call's wall time to layers. Driver phases of
    run_extraction go to the layer whose call they sit in; inside the write
    call, time while write jobs ran goes to the extraction plan (pipeline +
    extract + kernels), time after the last one to the checkpoint commit. The
    remainder is driver time in which no job of the call ran."""
    run = [s for s in spans.spans if s.name == "run"][0]
    in_jobs = tracing.union_length(log.job_intervals(), run.start, run.end)
    extraction = tracing.union_length(log.job_intervals("checkpoint.write_output"),
                                      write.start, write.end)
    commit = max(0.0, write.end - write_jobs_end)
    ckpt_phases = ("checkpoint.plan_head", "checkpoint.completed_partitions",
                   "checkpoint.pending_scan", "checkpoint.readback",
                   "checkpoint.append_checkpoint", "checkpoint.summary")
    charge = {
        "wall_s": run.end - run.start,
        "checkpoint_s": sum(spans.total(n) for n in ckpt_phases) + commit,
        "pipeline_plan_s": spans.total("pipeline.extract_corpus") + spans.total("pipeline.plan_tail"),
        "extraction_jobs_s": extraction,
        "write_submit_s": (write.end - write.start) - extraction - commit,
    }
    charge["unattributed_s"] = max(0.0, (run.end - run.start) - in_jobs - commit
                                   - charge["pipeline_plan_s"])
    return charge


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    needed = ("pdf_extract_sys_spark", "tests/oracle.py", "bench_data.py")
    if not all((ROOT / p).exists() for p in needed):
        print(f"the program is not in {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    fn = run_traced if args.trace else run_untraced
    result = fn(args.workload, args.seed, args.seconds)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
