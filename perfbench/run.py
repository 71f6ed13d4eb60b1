"""Benchmark of the lineage engine: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It makes its inputs from the seed,
sets the engine up from a cold start, warms up, runs the workload's
operations closed-loop (one client) in whole passes over a fixed operation
set until S seconds are measured, and checks every output. The last stdout
line is one JSON object: correct, attempted, failed, metrics.

With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json):
setup_s (process start to the first timed operation: imports, Spark session,
the workload's preparation and its warm-up, less the time the benchmark
spends making inputs and checking outputs), pass_s (median wall of one pass
over the workload's fixed operation set: one question block, or every
analytics query once) and python_peak_rss_mb (peak RSS of the Python driver
during the timed phase, which grows when work moves onto the driver).
Per-operation latencies, their p50 and p75 are printed; with a few
operations per run they swing too much between runs to gate on (a pass
sums them).

With --trace 1 the run instead times one pass untraced and the same pass
traced, with every call into the package's layers wrapped in a span that
has its own Spark job group; the per-layer metrics come from the Spark
event log and /proc, and the full span record is written under
.perfbench_work/traces/.

Workloads:
  qa_fixture  warm lineage Q&A (ask.QASession) over the 6-script fixture
              corpus; one operation is one question.
  analytics   the registry's analytics queries over seeded tables at sf0.01;
              one operation is one query, checked against its DuckDB oracle.

Run hygiene (set here, before the JVM starts): local[nproc]; PYTHONPATH
holds the checkout root so Python workers can import the package;
SPARK_LOCAL_DIRS, TMPDIR and java.io.tmpdir point inside the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
ANALYTICS_SF = 0.01

# Analytics queries (registry names) timed by the analytics workload: a
# subset of the registry's bench=True set with one query per operator family
# (TPC-H rollup, windows, dedup through functions.cache, sampling, streaming
# state, graph closure) that fits the run budget. No lineage query is in it,
# so lineage changes must leave this workload alone.
ANALYTICS_QUERIES = [
    "pricing_summary",
    "web_sessionization",
    "exact_dedup",
    "stratified_sample",
    "streaming_session_window",
    "event_chain_closure",
]

# Per-layer metrics: span name -> fields reported (see BENCHMARK.json).
_QA_FIELDS = ("wall_s", "jobs", "driver_gap_s", "cpu_s")
_BUILD_FIELDS = _QA_FIELDS + ("shuffle_bytes",)
LAYER_SPANS = {
    "session.get_spark": ("wall_s", "cpu_s"),
    "ask.QASession.build": _BUILD_FIELDS,
    "extract.extract_from_dir": _BUILD_FIELDS,
    "postprocess.edges_table": _BUILD_FIELDS,
    "corpus.build_corpus": _BUILD_FIELDS,
    "embed.embed_documents": _BUILD_FIELDS,
    "ask.QASession.ask": _QA_FIELDS,
    "ask.retrieve": _QA_FIELDS,
    "ask.answer_question": _QA_FIELDS,
    "graphqa.build_evidence": _QA_FIELDS,
    "graphqa.known_columns": _QA_FIELDS,
    "graphqa.column_closure": _QA_FIELDS,
    "graphqa.downstream_scripts": _QA_FIELDS,
    "graphqa.gold_outputs": _QA_FIELDS,
    "stitch.stitch_links": _QA_FIELDS,
    **{f"registry.{q}": _BUILD_FIELDS for q in ANALYTICS_QUERIES},
}
_UNITS = {"wall_s": "s", "driver_gap_s": "s", "cpu_s": "s", "jobs": "count", "shuffle_bytes": "bytes"}


def _set_run_env(work: str, trace: bool) -> None:
    """Environment the engine reads at start; must precede the JVM launch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    sys.path.insert(0, ROOT)


class Run:
    """State shared by both workloads: op accounting, spans, set-up timing."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.harness_s = 0.0  # time spent making inputs and checking outputs
        self.tracer = None
        self.tracing = False  # spans are recorded only between spans_on/off
        self.wraps: list[tuple] = []
        if args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
        from ai_metadata_lineage_pyspark_spark import session

        self.session_mod = session
        self.spark = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {what}", flush=True)

    @contextlib.contextmanager
    def harness(self):
        """Benchmark work (inputs, reference answers, oracle checks): its
        time is left out of setup_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.harness_s += time.perf_counter() - t0

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracing else contextlib.nullcontext()

    def spans_on(self) -> None:
        if self.tracer:
            self.tracing = True
            for module, attr, name in self.wraps:
                self.tracer.wrap(module, attr, name)

    def spans_off(self) -> None:
        if self.tracer:
            self.tracing = False
            self.tracer.unwrap_all()

    def setup(self, prepare) -> None:
        """get_spark (the JVM launch), a first job and the workload's
        preparation, once, from a cold start."""
        self.spark = self.session_mod.get_spark("perfbench")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        prepare()
        _phase("set-up done")

    def measure(self, next_pass, do_op) -> dict:
        """The timed phase: whole passes until --seconds of op time.

        next_pass() gives the next pass's operations and do_op(i, op) runs
        one and returns its latency. Set-up ends here. In a traced run, one
        pass instead runs each operation untraced and traced back to back,
        alternating which goes first, so drift between passes does not enter
        the overhead.
        """
        setup_s = time.perf_counter() - T_START - self.harness_s
        print(f"setup_s {setup_s:.3f} (harness {self.harness_s:.3f} s left out)", flush=True)
        if self.tracer:
            untraced = traced = 0.0
            for i, op in enumerate(next_pass()):
                for on in (False, True) if i % 2 == 0 else (True, False):
                    if on:
                        self.spans_on()
                    dt = do_op(i, op)
                    if on:
                        self.spans_off()
                        traced += dt
                    else:
                        untraced += dt
            return self.finish_trace(untraced, traced)
        # the peak RSS counts from here: the checks above ran on this driver
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        from tracing import cpu_ticks

        steal0, total0 = cpu_ticks()
        latencies, passes = [], []
        while sum(passes) < self.args.seconds:
            lat = [do_op(i, op) for i, op in enumerate(next_pass())]
            latencies += lat
            passes.append(sum(lat))
        steal1, total1 = cpu_ticks()
        # printed, not reported: the hypervisor's steal slows every pass of a
        # run alike, and is the first thing to look at when runs disagree
        print(f"host steal during the timed phase: "
              f"{100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%", flush=True)
        return _latency_metrics(latencies, passes, setup_s)

    def finish_trace(self, untraced_s: float, traced_s: float) -> dict:
        """Stop Spark (flushes the event log) and derive per-layer metrics."""
        from tracing import read_event_log, span_layer_records

        self.spark.stop()
        self.spark = None
        records = span_layer_records(
            self.tracer.spans, read_event_log(os.path.join(self.work, "eventlog"))
        )
        totals: dict[str, dict[str, float]] = {}
        for rec in records:
            agg = totals.setdefault(rec["name"], {"calls": 0})
            agg["calls"] += 1
            for k in ("wall_s", "jobs", "job_wall_s", "driver_gap_s", "cpu_s",
                      "stage_cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes"):
                agg[k] = agg.get(k, 0) + rec[k]
        metrics = {}
        for name, fields in LAYER_SPANS.items():
            for field in fields:
                value = totals.get(name, {}).get(field, 0)
                metrics[f"{name}.{field}"] = {"value": value, "unit": _UNITS[field]}
        overhead = traced_s / untraced_s - 1
        metrics["trace.untraced_pass_s"] = {"value": untraced_s, "unit": "s"}
        metrics["trace.traced_pass_s"] = {"value": traced_s, "unit": "s"}
        metrics["trace.overhead_ratio"] = {"value": overhead, "unit": "ratio"}
        out_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "overhead_ratio": overhead, "layers": totals, "spans": records}, fh, indent=1)
        ops = [r for r in records if r.get("op") is not None]
        print(f"trace: {len(records)} spans, overhead {overhead:+.3f}, record {path}")
        print("jobs per op: " + json.dumps([[r["op"], r["jobs"]] for r in ops]), flush=True)
        return metrics


def _phase(name: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s] {name}", file=sys.stderr, flush=True)


def _latency_metrics(latencies: list[float], passes: list[float], setup_s: float) -> dict:
    from tracing import peak_rss_mb

    # every pass has at least three operations, so quantiles are defined.
    # JVM peak RSS (over the whole run) is printed too; it follows G1 heap
    # sizing, which swings 2-4 GB between identical runs, so only the Python
    # driver's is reported.
    python_rss, jvm_rss = peak_rss_mb()
    print(f"peak rss: python driver {python_rss:.0f} MB, jvm {jvm_rss:.0f} MB", flush=True)
    q = statistics.quantiles(latencies, n=4)
    print(f"ops timed: {len(latencies)}, passes: {len(passes)}, "
          f"p50 {q[1]:.3f}s, p75 {q[2]:.3f}s", flush=True)
    print(f"latencies: {[round(x, 3) for x in latencies]}", flush=True)
    print(f"passes: {[round(x, 3) for x in passes]}", flush=True)
    _phase("timed phase done")
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(passes), "unit": "s"},
        "python_peak_rss_mb": {"value": python_rss, "unit": "MB"},
    }


# --- qa_fixture ----------------------------------------------------------------


def question_columns(ref) -> tuple[list[str], list[str]]:
    """(timed, warm-up): the columns timed questions name, and the others.

    Timed questions name three fixed columns: those with the fewest, the
    median and the most BFS rounds (two-hop column rounds plus script
    rounds), so the deepest closure is timed and every seed asks the same
    work. A column's cost is its own (up to 1.8x apart between columns), and
    a run fits about one block, so a seeded draw from all columns would make
    the draw, not the program, set most of the spread between runs. The
    warm-up question names one of the others, so no timed closure has run
    before it is timed; `__join__*` are the extractor's markers, not columns
    a user names."""
    def rounds(col: str) -> tuple:
        col_depth, script_depth = ref.depths(col)
        return ((col_depth + 1) // 2 + script_depth, col_depth, col)

    cols = sorted((c for c in ref.known if not c.startswith("__")), key=rounds)
    timed = [cols[0], cols[len(cols) // 2], cols[-1]]
    return timed, [c for c in cols if c not in timed]


def run_qa_fixture(run: Run) -> dict:
    from ai_metadata_lineage_pyspark_spark import ask as ask_mod
    from ai_metadata_lineage_pyspark_spark.lineage import (
        corpus,
        graphqa,
        queries,
        stitch,
    )

    from checks import EvidenceReference, evidence_mismatch, evidence_of
    from inputs import question_stream

    run.wraps = [
        (run.session_mod, "get_spark", "session.get_spark"),
        (queries, "extract_from_dir", "extract.extract_from_dir"),
        (ask_mod, "edges_table", "postprocess.edges_table"),
        (corpus, "build_corpus", "corpus.build_corpus"),
        (ask_mod, "embed_documents", "embed.embed_documents"),
        (ask_mod.QASession, "retrieve", "ask.retrieve"),
        (ask_mod, "build_evidence", "graphqa.build_evidence"),
        (ask_mod, "answer_question", "ask.answer_question"),
        (graphqa, "known_columns", "graphqa.known_columns"),
        (graphqa, "column_closure", "graphqa.column_closure"),
        (graphqa, "downstream_scripts", "graphqa.downstream_scripts"),
        (graphqa, "gold_outputs", "graphqa.gold_outputs"),
        (stitch, "stitch_links", "stitch.stitch_links"),
    ]
    state = {}

    def prepare():
        with run.span("ask.QASession.build"):
            qa = ask_mod.QASession.build(run.spark)
            qa.embedded.count()  # the session's cached corpus + embeddings
        state["qa"] = qa

    run.spans_on()
    run.setup(prepare)
    run.spans_off()
    qa = state["qa"]
    with run.harness():
        ref = EvidenceReference(
            [tuple(r) for r in qa.columns.select("script_name", "col_name", "derived_from").collect()],
            [tuple(r) for r in qa.edges.select("src_col", "target_col", "reason").collect()],
            [tuple(r) for r in qa.assets.select("script_name", "direction", "path").collect()],
        )
    timed_cols, warm_up_cols = question_columns(ref)
    print(f"timed question columns: {timed_cols}")
    warm_up, blocks = question_stream(run.args.seed, timed_cols, warm_up_cols)

    def ask_one(op: int, question: str) -> float:
        with run.span("ask.QASession.ask", op=op, question=question):
            t0 = time.perf_counter()
            answer = qa.ask(question)
            dt = time.perf_counter() - t0
        with run.harness():
            miss = evidence_mismatch(ref.evidence(question), evidence_of(answer))
        run.check(miss is None, f"evidence for {question!r}: {miss}")
        return dt

    # warm-up: one question through every evidence stage, untimed
    ask_one(-1, warm_up)
    _phase("warm-up question done")

    asked: list[frozenset] = []

    def next_block() -> list[str]:
        block = next(blocks)
        asked.extend(frozenset(ref.candidates(q)) for q in block if ref.candidates(q))
        return block

    result = run.measure(next_block, ask_one)
    repeats = len(asked) - len(set(asked))
    print(f"questions naming columns: {len(asked)}, repeating earlier columns: {repeats}")
    return result


# --- analytics -----------------------------------------------------------------


def run_analytics(run: Run) -> dict:
    import duckdb

    from ai_metadata_lineage_pyspark_spark.functions.cache import release_persisted
    from ai_metadata_lineage_pyspark_spark.registry import all_queries

    from checks import table_hash
    from inputs import write_tables

    data = os.path.join(run.work, "data")
    with run.harness():
        write_tables(run.args.seed, ANALYTICS_SF, data)
    _phase("inputs written")
    tables = sorted(f[: -len(".parquet")] for f in os.listdir(data))
    registry = all_queries()
    run.wraps = [(run.session_mod, "get_spark", "session.get_spark")]
    run.spans_on()
    run.setup(lambda: None)  # the queries load their own tables
    run.spans_off()

    # untimed checked pass (also the warm-up): every result against its oracle
    with run.harness():
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected_rows = {}
    for name in ANALYTICS_QUERIES:
        q = registry[name]
        df = q.fn(run.spark, data)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        release_persisted()
        expected_rows[name] = len(rows)
        if q.oracle is None:
            print(f"unchecked (no oracle): {name}")
            continue
        with run.harness():
            res = con.execute(q.oracle)
            ocols, orows = [d[0] for d in res.description], res.fetchall()
            ok = sorted(cols) == sorted(ocols) and table_hash(cols, rows) == table_hash(ocols, orows)
        run.check(ok, f"{name}: result differs from its oracle ({len(rows)} vs {len(orows)} rows)")
    con.close()
    _phase("checked pass done")

    def query_one(op: int, name: str) -> float:
        with run.span(f"registry.{name}", op=name):
            t0 = time.perf_counter()
            n = registry[name].fn(run.spark, data).count()
            dt = time.perf_counter() - t0
        release_persisted()
        run.check(n == expected_rows[name], f"{name}: {n} rows, checked pass had {expected_rows[name]}")
        return dt

    # a second untimed pass, with the timed passes' count sink: the first
    # passes of a JVM run up to 2x slow while code generation and the JIT
    # catch up, and timing them would make warm-up speed part of pass_s
    for i, name in enumerate(ANALYTICS_QUERIES):
        query_one(i, name)
    _phase("warm-up pass done")

    return run.measure(lambda: ANALYTICS_QUERIES, query_one)


WORKLOADS = {"qa_fixture": run_qa_fixture, "analytics": run_analytics}


def _stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM it launched, and wait for it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Py4JError:
        pass  # the connection broke (a signal interrupted a call); the JVM exits below
    if gateway is not None:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ai_metadata_lineage_pyspark_spark")):
        print("run.py: the package is not in this checkout", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    _set_run_env(work, bool(args.trace))
    run = Run(args, work)
    try:
        metrics = WORKLOADS[args.workload](run)
    finally:
        try:
            _stop_jvm(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(f"failed_frac: {run.failed / max(run.attempted, 1):.4f}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
