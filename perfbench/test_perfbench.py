"""Tests of the benchmark's own logic; no Spark session needed.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from measure import (Failures, PeakPss, quartile_spread,  # noqa: E402
                     tail_percentile, tree_pss)
from spans import (EventLog, Span, Tracer, innermost, self_times,  # noqa: E402
                   union_length)

from mysql_syncer_clickhouse_spark.sources.binlog import \
    decode_binlog_file_bytes  # noqa: E402

TABLES = [gen.TableSpec("a", 300, 8), gen.TableSpec("b", 100, 4)]


def _generate(seed: int):
    g = gen.BinlogGenerator(seed, TABLES, 250)
    return g, list(g.files(3000))


def test_generator_same_seed_same_inputs():
    g1, f1 = _generate(7)
    g2, f2 = _generate(7)
    assert f1 == f2
    assert g1.describe() == g2.describe()
    assert {t: s.live for t, s in g1.state.items()} == \
        {t: s.live for t, s in g2.state.items()}
    _, f3 = _generate(8)
    assert f3 != f1


def test_generator_expected_state_matches_replay():
    """Replaying the decoded files reproduces the generator's expected
    state and op counters, so the benchmark's checks compare against
    what the files really say."""
    g, files = _generate(3)
    live: dict[str, dict] = {t.name: {} for t in TABLES}
    counts = {t.name: {"insert": 0, "update": 0, "delete": 0}
              for t in TABLES}
    for name, data in files:
        for env in decode_binlog_file_bytes(name, data):
            image = json.loads(env["after"] or env["before"])
            row = [image[c] for c in gen.COLUMN_NAMES]
            counts[env["table"]][env["op"]] += 1
            if env["op"] == "delete":
                del live[env["table"]][row[0]]
            else:
                live[env["table"]][row[0]] = row
    assert live == {t: s.live for t, s in g.state.items()}
    assert counts == {t: s.counts for t, s in g.state.items()}
    assert g.rows_written == 3000
    assert sum(sum(c.values()) for c in counts.values()) == 3000


def test_generator_reproduces_the_derived_mix():
    """At the fixture's ops per key the generated traffic has the
    fixture's 20/60/20 insert/update/delete shares, and the hot fifth
    of the keys takes about 80% of the ops."""
    rows = 40_000
    spec = gen.TableSpec("t", gen.keys_for(rows), 8)
    g = gen.BinlogGenerator(5, [spec], 4000)
    files = list(g.files(rows))
    counts = g.state["t"].counts
    assert sum(counts.values()) == rows
    assert counts["insert"] / rows == pytest.approx(0.2, abs=0.02)
    assert counts["update"] / rows == pytest.approx(0.6, abs=0.02)
    assert counts["delete"] / rows == pytest.approx(0.2, abs=0.02)
    hot = int(spec.keys * gen.HOT_FRAC)
    ops = [json.loads(e["after"] or e["before"])["id"]
           for name, data in files
           for e in decode_binlog_file_bytes(name, data)]
    assert sum(k < hot for k in ops) / rows == pytest.approx(0.8, abs=0.02)


def test_tail_percentile_keeps_ten_samples_beyond():
    values = list(range(80, 0, -1))            # 1..80, unsorted
    pct, value, n = tail_percentile(values)
    assert (pct, value, n) == (87.5, 70, 80)
    assert sum(v > value for v in values) == 10
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11)))[:2] == (100 / 11, 0)


def test_quartile_spread():
    assert quartile_spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


def test_union_and_self_time_arithmetic():
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5
    spans = [Span(0, "root", 0.0, 10.0),
             Span(1, "a", 1.0, 3.0, parent=0),
             Span(2, "b", 2.0, 5.0, parent=0),     # overlaps a
             Span(3, "c", 8.0, 12.0, parent=0),    # runs past root
             Span(4, "d", 2.5, 3.5, parent=2)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 2))
    assert st[2] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(1)


def test_tracer_nesting_and_off_switch():
    t = Tracer("x", True)
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and inner.trace == "x"
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert innermost(t.spans, inner.start) is inner
    off = Tracer("y", False)
    with off.span("z") as s:
        assert s is None
    assert off.spans == []


def test_jobs_attributed_by_submission_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1500, "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 250,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 10},
                          "Memory Bytes Spilled": 1,
                          "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1800},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 9000, "Stage IDs": [1],
         "Properties": {"sql.streaming.queryId": "q"}},
    ]
    (tmp_path / "app-1").write_text("\n".join(map(json.dumps, events)))
    log = EventLog(str(tmp_path))
    spans = [Span(0, "root", 1.0, 10.0), Span(1, "pin", 1.2, 2.0, parent=0)]
    log.attribute(spans)
    j0, j1 = log.jobs[0], log.jobs[1]
    assert j0.span == 1 and j1.span == 0
    assert (j0.run_s, j0.shuffle_write, j0.spill) == (0.25, 10, 3)
    assert j1.streaming and not j0.streaming


def test_pss_counts_forked_pages_once():
    """A forked child shares its parent's copy-on-write pages, so the
    tree's summed Pss stays near the parent's alone, where summed RSS
    or VmHWM would count those pages twice."""
    buf = bytearray(64 << 20)               # 64 MB, every page touched
    buf[::4096] = b"x" * len(buf[::4096])
    alone = sum(tree_pss(os.getpid()).values())
    pid = os.fork()
    if pid == 0:                            # child: hold the shared pages
        time.sleep(2)
        os._exit(0)
    try:
        time.sleep(0.3)
        peak = PeakPss(os.getpid(), interval=0.05).start()
        time.sleep(0.2)
        peak.stop()
    finally:
        os.waitpid(pid, 0)
    assert peak.samples >= 3
    assert alone - 8 < peak.peak_mb < alone + 32
    assert sum(peak.peak_by_process.values()) == pytest.approx(peak.peak_mb)
    del buf


def test_failure_counting():
    f = Failures()
    assert f.check("ok", True)
    assert not f.check("bad", False, "mismatch")
    assert not f.check("worse", False)
    f.attempted += 1                       # a timed op with no check
    assert (f.attempted, f.failed) == (4, 2)
    assert f.frac == 0.5
    assert f.notes == ["bad: mismatch", "worse: "]
    assert Failures().frac == 1.0          # nothing attempted is a failure


def test_benchmark_json_matches_the_workloads():
    """run.py takes its metric names and units from BENCHMARK.json; the
    workload names and the per-entry metrics must match the code."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from run import WORKLOADS
    from workloads import CORPUS_ENTRIES
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "peak_rss_mb", "result_s"]
    names = {m["name"] for m in spec["per_layer"]}
    for entry in CORPUS_ENTRIES:
        for k in ("construct_s", "exec_s", "jobs"):
            assert f"queries.{entry}.{k}" in names
    assert spec["paths"] == ["perfbench"]


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "binlog_tail", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
