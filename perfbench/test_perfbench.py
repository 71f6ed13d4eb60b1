"""The benchmark's checks catch corrupted outputs; its inputs and trace reader behave.

    python3 -m pytest perfbench/test_perfbench.py -q

Pure Python: no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import EvidenceReference, evidence_mismatch, evidence_of, table_hash  # noqa: E402
from inputs import BLOCK_SHAPE, make_tables, question_stream  # noqa: E402

# a three-script chain: a writes bronze, b reads it and writes gold, c reads gold
COLUMNS = [
    ("a", "x", ["raw_x"]),
    ("b", "y", ["x"]),
    ("c", "z", ["y", "x"]),
]
EDGES = [("raw_x", "x", "cast"), ("x", "y", "sum"), ("y", "z", "avg"), ("x", "z", "max")]
ASSETS = [
    ("a", "write", "s3a://lake/bronze/t/"),
    ("b", "read", "s3a://lake/bronze/t"),
    ("b", "write", "s3a://lake/gold/u/"),
    ("c", "read", "s3a://lake/gold/u"),
    ("c", "write", "s3a://lake/gold/v/"),
]


def _ref() -> EvidenceReference:
    return EvidenceReference(COLUMNS, EDGES, ASSETS)


def test_reference_evidence_for_a_chain():
    assert _ref().evidence("What feeds `x`?") == "\n".join([
        "QUESTION: What feeds `x`?",
        "CANDIDATE COLUMNS: x",
        "COLUMN IMPACT x -> (2): y, z",
        "ONE-HOP REASONS x: x -> y: sum | x -> z: max",
        "IMPACTED SCRIPTS (3): a, b, c",
        "GOLD OUTPUTS (2): s3a://lake/gold/u/, s3a://lake/gold/v/",
    ])


def test_corrupted_evidence_line_is_caught():
    ref = _ref()
    good = ref.evidence("impact of raw_x and y")
    answer = {"evidence": "RETRIEVED DOCS:\nDOC 1 [a]: text\n\n" + good}
    assert evidence_mismatch(good, evidence_of(answer)) is None
    bad = good.replace("COLUMN IMPACT raw_x -> (3): x, y, z", "COLUMN IMPACT raw_x -> (2): x, y")
    assert bad != good
    miss = evidence_mismatch(good, bad)
    assert miss is not None and miss.startswith("line 3:")
    assert evidence_mismatch(good, good + "\nEXTRA") is not None


def test_reference_caps_candidates_and_skips_unknown_words():
    ref = _ref()
    assert ref.candidates("`z` then y, x and raw_x, not w") == ["z", "y", "x"]
    assert ref.evidence("nothing known here").endswith("CANDIDATE COLUMNS: (none)")


def test_table_hash_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert table_hash(["k", "s", "v"], rows) == table_hash(["k", "s", "v"], rows[::-1])
    assert table_hash(["k", "s", "v"], rows) == table_hash(["v", "k", "s"], [(r[2], r[0], r[1]) for r in rows])
    corrupted = [(1, "a", 2.5), (2, "b", 0.0)]
    assert table_hash(["k", "s", "v"], rows) != table_hash(["k", "s", "v"], corrupted)


def test_questions_are_seeded_and_keep_the_block_shape():
    ref = _ref()
    timed = ["x", "y", "z"]
    warm, first = question_stream(7, timed, ["raw_x"])
    warm_again, again = question_stream(7, timed, ["raw_x"])
    assert warm == warm_again and ref.candidates(warm) == ["raw_x"]
    for _ in range(5):
        block = next(first)
        assert block == next(again)
        assert [len(ref.candidates(q)) for q in block] == list(BLOCK_SHAPE)
        # each block names every timed column once
        assert sorted(c for q in block for c in ref.candidates(q)) == timed


def test_tables_are_seeded():
    a, b = make_tables(3, 0.001), make_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not make_tables(4, 0.001)["lineitem"].equals(a["lineitem"])


def test_event_log_reader_attributes_jobs_to_spans(tmp_path):
    from tracing import read_event_log, span_layer_records

    def job(jid, group, start_ms, end_ms, stage, cpu_ns=0, shuffle=0):
        props = {"spark.jobGroup.id": group} if group else {}
        acc = [
            {"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
            {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
            {"Name": "internal.metrics.diskBytesSpilled", "Value": 7},
        ]
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
             "Stage IDs": [stage], "Properties": props},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage, "Accumulables": acc}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
        ]

    # a Spark 4 rolling log: parts are read in index order, not name order
    app = tmp_path / "eventlog_v2_app-1"
    app.mkdir()
    parts = {2: job(0, "perfbench-0", 1000, 3000, 0, cpu_ns=2_000_000_000, shuffle=100),
             10: job(1, "a-streaming-run", 4000, 4500, 1)}
    for index, events in parts.items():
        (app / f"events_{index}_app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(tmp_path))
    assert [j["group"] for j in jobs] == ["perfbench-0", "a-streaming-run"]
    assert jobs[0]["stage_cpu_s"] == 2.0 and jobs[0]["shuffle_bytes"] == 100 and jobs[0]["spill_bytes"] == 7

    spans = [
        {"id": 0, "parent": None, "name": "outer", "start": 0.5, "end": 5.0, "cpu_s": 1.0},
        {"id": 1, "parent": 0, "name": "inner", "start": 3.9, "end": 4.8, "cpu_s": 0.1},
    ]
    outer, inner = span_layer_records(spans, jobs)
    # the streaming job carries its own group, so it goes to the span open at its start
    assert (inner["jobs"], inner["job_wall_s"]) == (1, 0.5)
    assert (outer["jobs"], outer["job_wall_s"], outer["driver_gap_s"]) == (2, 2.5, 2.0)
    assert outer["shuffle_bytes"] == 100 and outer["stage_cpu_s"] == 2.0
