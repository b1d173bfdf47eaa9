"""The benchmark's workloads. Each takes a `run.Run`, sets up, marks
the end of set-up, measures for about `run.seconds`, checks every
result outside the timed region, and fills `run.e2e["result_s"]`:

- binlog_catchup: median wall of draining a pre-generated backlog
  through `run_binlog` (no follow);
- binlog_tail: median apply lag of binlog files released on a fixed
  schedule into a followed directory;
- corpus_pipeline: median over passes of the summed fresh-construction
  plus first-execution time of the LLM-data registry entries.

`layer_metrics` turns the traced run's spans and event log into the
per-layer metrics.
"""

from __future__ import annotations

import datetime
import gc
import json
import os
import random
import shutil
import subprocess
import threading
import time
import urllib.request

import gen
from measure import median, quiesce, tail_percentile
from spans import descendants, union_length

# ------------------------------------------------------------ shared


def start_spark(run):
    with run.span("session.start"):
        t0 = time.perf_counter()
        from mysql_syncer_clickhouse_spark.session import get_spark
        spark = get_spark("perfbench", cpus=run.cores,
                          shuffle_partitions=min(run.cores, 8))
        spark.sparkContext.setLogLevel("ERROR")
        run.layer["session.start_s"] = time.perf_counter() - t0
    run.spark = spark
    return spark


def stop_spark(run) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    run.spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    run.spark = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(df, cols) -> list[tuple]:
    return sorted(map(tuple, df.select(*cols).toPandas()
                      .to_dict("split")["data"]))


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def _repeats(run, nominal_s: float) -> int:
    """How many timed ops fill --seconds at their nominal duration
    (at least two). A fixed count, not a deadline, so every run of a
    workload does the same work."""
    return max(2, int(run.seconds // nominal_s))


def _quiesce(run) -> None:
    """Quiesce, then record the host busy fraction before an op."""
    with run.span("host.quiesce"):
        b, waited = quiesce()
    run.detail.setdefault("busy_before", []).append(round(b, 3))
    run.detail.setdefault("quiesce_s", []).append(round(waited, 2))
    run.layer["host.busy_before_max"] = max(
        run.layer.get("host.busy_before_max", 0.0), b)


def _release_pins(run, spark) -> None:
    """Drop what the previous op cached or pinned: clear the cache,
    collect Python refs and ask the JVM for a full GC, so the pins'
    blocks are freed by Spark's ContextCleaner."""
    with run.span("hygiene"):
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()


def _decode_probe(run, files: list[str]) -> None:
    """Single-core decode rate and envelope size: direct calls of
    decode_binlog_file_bytes on the generated files (about 1 s)."""
    from mysql_syncer_clickhouse_spark.sources.binlog import \
        decode_binlog_file_bytes
    with run.span("trace.decode_probe"):
        rows = json_bytes = 0
        t0 = time.perf_counter()
        for path in files:
            with open(path, "rb") as f:
                data = f.read()
            env = decode_binlog_file_bytes(os.path.basename(path), data)
            rows += len(env)
            json_bytes += sum(len(e["before"] or "") + len(e["after"] or "")
                              for e in env)
            if time.perf_counter() - t0 > 1.0:
                break
        wall = time.perf_counter() - t0
    run.layer["sources.decode_rows_per_s"] = rows / wall
    run.layer["sources.envelope_json_bytes_per_row"] = json_bytes / rows


# ------------------------------------------------------------ catchup

CATCHUP_ROWS = 100_000          # assumed: fits three drains in a run
CATCHUP_FILE_ROWS = 4_000       # assumed: one file is one task, so the
                                # backlog spans 25 files
# key spaces at the fixture's ops per key; payloads as wide as
# sysbench's sbtest `c` CHAR(120) and `pad` CHAR(60) columns
CATCHUP_TABLES = [gen.TableSpec("orders", gen.keys_for(CATCHUP_ROWS // 2),
                                120),
                  gen.TableSpec("accounts", gen.keys_for(CATCHUP_ROWS // 2),
                                60)]
CATCHUP_CYCLE_S = 7.0           # nominal cycle wall on 4 cores
ACCOUNT_COLS = ["id", "account", "status", "amount", "version"]


def _catchup_config(data_dir: str):
    """Two rules to the file sink; the second keeps a column subset
    and renames one field."""
    from mysql_syncer_clickhouse_spark.config import EngineConfig
    return EngineConfig.from_dict({
        "data_dir": data_dir, "bulk_size": 32, "thread": 4,
        "rule": [
            {"source_schema": gen.SCHEMA, "source_table": "orders",
             "sink_schema": "olap", "sink_table": "orders", "id": ["id"]},
            {"source_schema": gen.SCHEMA, "source_table": "accounts",
             "sink_schema": "olap", "sink_table": "accounts", "id": ["id"],
             "filter": ACCOUNT_COLS, "field": {"status": "acct_status"}},
        ]})


def _expected(generator, table: str) -> tuple[list[str], list[tuple]]:
    """Sink column names and the live rows the replica must hold."""
    live = generator.state[table].live.values()
    if table == "orders":
        return gen.COLUMN_NAMES, sorted(map(tuple, live))
    idx = [gen.COLUMN_NAMES.index(c) for c in ACCOUNT_COLS]
    names = ["acct_status" if c == "status" else c for c in ACCOUNT_COLS]
    return names, sorted(tuple(r[i] for i in idx) for r in live)


def _catchup_cycle(run, spark, generator, binlog_dir: str, data_dir: str,
                   timed: dict | None) -> None:
    """Drain, read, compact, read again; `timed` collects the walls
    and the checks run (both None for the warm-up cycle)."""
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    from mysql_syncer_clickhouse_spark.operators.upsert import latest_state
    from mysql_syncer_clickhouse_spark.streaming.pipeline import \
        StreamingSyncPipeline
    cfg = _catchup_config(data_dir)
    rules = cfg.effective_rules().rules
    fail = run.fail

    def check(name, ok, detail=""):
        if timed is not None:
            fail.check(name, ok, detail)

    def read_all(label):
        wall, states = 0.0, {}
        for rule in rules:
            with run.span(f"operators.{label}", table=rule.source_table):
                t0 = time.perf_counter()
                df = latest_state(spark.read.parquet(cfg.sink_dir(rule)),
                                  ["id"])
                _noop(df)
                wall += time.perf_counter() - t0
            states[rule.source_table] = df
        return wall, states

    def check_states(label, states):
        with run.span("check"):
            for table, df in states.items():
                cols, want = _expected(generator, table)
                got = _rows(df, cols)
                check(f"{label}:{table}", got == want,
                      f"{len(got)} rows vs {len(want)} expected")

    with run.span("streaming.run_binlog"):
        t0 = time.perf_counter()
        res = run_binlog(cfg, binlog_dir, spark=spark)
        drain = time.perf_counter() - t0
    for line in (r for r in res if "rule" in r):
        table = line["rule"].split(":")[-1]
        want = {k: v for k, v in generator.state[table].counts.items() if v}
        check(f"ops:{table}", line.get("ops") == want,
              f"{line.get('ops')} vs {want}")
    read_s, states = read_all("state_read")
    check_states("state", states)
    if run.traced and timed is not None:
        _sink_probe(run, spark, cfg, rules, generator, "")
    compact_s = 0.0
    for rule in rules:
        pipe = StreamingSyncPipeline(rule, list(rule.pk), cfg.sink_dir(rule),
                                     cfg.checkpoint_dir(rule))
        with run.span("operators.compact", table=rule.source_table):
            t0 = time.perf_counter()
            pipe.compact(spark)
            compact_s += time.perf_counter() - t0
    read2_s, states = read_all("state_read_compacted")
    check_states("compacted", states)
    if run.traced and timed is not None:
        _sink_probe(run, spark, cfg, rules, generator, "_compacted")
    if timed is not None:
        timed["drain"].append(drain)
        timed["read"].append(read_s)
        timed["compact"].append(compact_s)
        timed["read2"].append(read2_s)


def _sink_probe(run, spark, cfg, rules, generator, suffix: str) -> None:
    """Changelog rows scanned and sink bytes per live row."""
    with run.span("trace.sink_probe"):
        live = sum(len(generator.state[r.source_table].live) for r in rules)
        size = sum(_du(cfg.sink_dir(r)) for r in rules)
        run.layer[f"operators.sink_bytes_per_live_row{suffix}"] = size / live
        if not suffix:
            rows = sum(spark.read.parquet(cfg.sink_dir(r)).count()
                       for r in rules)
            run.layer["operators.rows_scanned_per_live_row"] = rows / live


def binlog_catchup(run) -> None:
    spark = start_spark(run)
    with run.span("sources.generate"):
        generator = gen.BinlogGenerator(run.seed, CATCHUP_TABLES,
                                        CATCHUP_FILE_ROWS)
        files = gen.write_files(generator, run.path("binlog"), CATCHUP_ROWS)
    run.detail["input"] = generator.describe()
    # the JIT needs about one full cycle before drains settle
    with run.span("session.warmup"):
        t0 = time.perf_counter()
        _catchup_cycle(run, spark, generator, run.path("binlog"),
                       run.path("warm-data"), None)
        shutil.rmtree(run.path("warm-data"), ignore_errors=True)
        run.layer["session.warmup_s"] = time.perf_counter() - t0
    run.setup_done()

    timed = {"drain": [], "read": [], "compact": [], "read2": []}
    cycles = _repeats(run, CATCHUP_CYCLE_S)
    for cycle in range(cycles):
        _quiesce(run)
        data = run.path(f"data-{cycle}")
        with run.span("cycle", n=cycle):
            _catchup_cycle(run, spark, generator, run.path("binlog"), data,
                           timed)
        with run.span("hygiene"):
            shutil.rmtree(data, ignore_errors=True)
    run.e2e["result_s"] = median(timed["drain"])
    run.layer["operators.state_read_s"] = median(timed["read"])
    run.layer["operators.compact_s"] = median(timed["compact"])
    run.layer["operators.state_read_compacted_s"] = median(timed["read2"])
    run.layer["sources.binlog_bytes_per_row"] = (generator.bytes_written
                                                 / generator.rows_written)
    run.detail.update({
        "cycles": cycles,
        "rows_per_s": {"value": generator.rows_written
                       / run.e2e["result_s"], "unit": "1/s"},
        "state_read_s": {"value": run.layer["operators.state_read_s"],
                         "unit": "s"},
        "drain_s": timed["drain"], "state_read_all_s": timed["read"],
    })
    run.files = len(files) * cycles
    if run.traced:
        _decode_probe(run, files)


# ------------------------------------------------------------ tail

TAIL_TABLE = "events"
TAIL_PAYLOAD = 60               # sysbench's sbtest `pad` CHAR(60)
TAIL_FILE_ROWS = 250            # assumed: a 125 ms step between files
TAIL_FILES_PER_S = 8.0          # 2,000 rows/s offered
TAIL_WARM_FILES = 128           # lag settles after ~30,000 rows
TAIL_BURST_FILES = 32
TAIL_POLL_S = 0.05              # faster polling competes with the apply
                                # callback for the GIL and widens the spread


class _CountingDrain:
    """The program's DrainServer, counting the connections it
    accepts."""

    def __init__(self):
        from mysql_syncer_clickhouse_spark.sinks.native_bench import \
            DrainServer
        self.server = DrainServer()
        self.connections = 0
        lock = threading.Lock()
        inner = self.server._session

        def session(sock):          # one handler thread per connection
            with lock:
                self.connections += 1
            inner(sock)
        self.server._session = session


class _StatPoller:
    """Polls /stat on a daemon thread; records (time, applied file
    index) and keeps the last payload."""

    def __init__(self, url: str):
        self.url = url
        self.samples: list[tuple[float, int]] = []
        self.last: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-stat")

    def fetch(self) -> dict:
        with urllib.request.urlopen(self.url, timeout=5) as r:
            return json.loads(r.read())

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                payload = self.fetch()
            except OSError:            # retried on the next poll
                self._stop.wait(TAIL_POLL_S)
                continue
            seq = payload.get("position", {}).get("applied_seq")
            self.samples.append((time.time(), (seq >> 40) if seq else 0))
            self.last = payload
            self._stop.wait(TAIL_POLL_S)

    def applied(self) -> int:
        return self.samples[-1][1] if self.samples else 0

    def wait_for(self, index: int, timeout: float) -> bool:
        t_end = time.time() + timeout
        while self.applied() < index and time.time() < t_end:
            time.sleep(TAIL_POLL_S)
        return self.applied() >= index

    def start(self) -> "_StatPoller":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def binlog_tail(run) -> None:
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    from mysql_syncer_clickhouse_spark.config import EngineConfig
    spark = start_spark(run)
    n_timed = max(1, int(run.seconds * TAIL_FILES_PER_S))
    with run.span("sources.generate"):
        rows = TAIL_FILE_ROWS * (TAIL_WARM_FILES + n_timed)
        table = gen.TableSpec(TAIL_TABLE, gen.keys_for(rows), TAIL_PAYLOAD)
        generator = gen.BinlogGenerator(run.seed, [table], TAIL_FILE_ROWS)
        staged = gen.write_files(generator, run.path("staged"), rows)
    run.detail["input"] = generator.describe()
    watch = run.path("binlog")
    os.makedirs(watch)

    def release(i: int) -> None:
        os.rename(staged[i], os.path.join(watch, os.path.basename(staged[i])))

    drain = _CountingDrain()
    drain.server.start()
    poller = None
    try:
        with run.span("session.warmup"):
            t0 = time.perf_counter()
            cfg = EngineConfig.from_dict({
                "data_dir": run.path("data"), "bulk_size": 16, "thread": 4,
                "flush_bulk_time": "100ms",
                "sink_addr": f"127.0.0.1:{drain.server.port}",
                "stat_addr": "127.0.0.1:0",
                "rule": [{"source_schema": gen.SCHEMA,
                          "source_table": TAIL_TABLE,
                          "sink_schema": "olap",
                          "sink_table": TAIL_TABLE, "id": ["id"]}]})
            release(0)
            with run.span("streaming.run_binlog_start"):
                res = run_binlog(cfg, watch, follow=True, spark=spark)
            poller = _StatPoller(next(r["stat"] for r in res
                                      if "stat" in r)).start()
            # a burst first, so that batches wide enough to start every
            # Python worker happen here rather than in the timed window;
            # then twice the timed rate, still below saturation
            for i in range(1, TAIL_BURST_FILES):
                release(i)
            for i in range(TAIL_BURST_FILES, TAIL_WARM_FILES):
                time.sleep(0.5 / TAIL_FILES_PER_S)
                release(i)
            with run.span("streaming.wait_applied"):
                ok = poller.wait_for(TAIL_WARM_FILES, 120)
            run.fail.check("warmup_applied", ok)
            run.layer["session.warmup_s"] = time.perf_counter() - t0
        run.setup_done()
        _quiesce(run)
        # the sink figures cover the timed files only: counters at the
        # start of the window, subtracted at the end
        before = {"sink": poller.fetch().get("sink", {}),
                  "connections": drain.connections,
                  "rows": drain.server.rows,
                  "wire_bytes": drain.server.wire_bytes}

        due, late, backlog = [], [], []
        with run.span("streaming.follow", files=n_timed):
            t0 = time.time() + 0.05
            for k in range(n_timed):
                i = TAIL_WARM_FILES + k
                due.append(t0 + k / TAIL_FILES_PER_S)
                pause = due[-1] - time.time()
                if pause > 0:
                    time.sleep(pause)
                release(i)
                late.append(time.time() - due[-1])
                backlog.append(k + 1 - (poller.applied() - TAIL_WARM_FILES))
            with run.span("streaming.wait_applied"):
                ok = poller.wait_for(TAIL_WARM_FILES + n_timed, 60)
            run.fail.check("all_applied", ok)
        with run.span("streaming.stop"):
            for q in spark.streams.active:
                q.stop()
    finally:
        if poller is not None:
            poller.stop()
        drain.server.stop()

    # lag of file k: from its scheduled release to the first poll
    # whose applied index reaches it (file names are 1-based)
    lags, applied_at = [], []
    samples = poller.samples
    j = 0
    for k, d in enumerate(due):
        idx = TAIL_WARM_FILES + k + 1
        while j < len(samples) and samples[j][1] < idx:
            j += 1
        if j < len(samples):
            lags.append(samples[j][0] - d)
            applied_at.append(samples[j][0])
    with run.span("check"):
        run.fail.check("lag_samples", len(lags) == n_timed,
                       f"{len(lags)} of {n_timed}")
        counts = poller.last.get("counts", {})
        want = {k: v for k, v in generator.state[TAIL_TABLE]
                .counts.items() if v}
        run.fail.check("stat_counts", counts == want, f"{counts} vs {want}")
        run.fail.check("drain_rows",
                       drain.server.rows == generator.rows_written,
                       f"{drain.server.rows} vs {generator.rows_written}")
    run.e2e["result_s"] = median(lags)
    tail = tail_percentile(lags)
    half = len(backlog) // 2
    sink = {k: v - before["sink"].get(k, 0)
            for k, v in poller.last.get("sink", {}).items()
            if k in ("rows_written", "conn_wall_us", "epochs")}
    conn_wall_s = sink.get("conn_wall_us", 0) / 1e6
    rows = drain.server.rows - before["rows"]
    run.layer.update({
        "streaming.backlog_files_max": max(backlog),
        "streaming.backlog_growth_files": (max(backlog[half:])
                                           - max(backlog[:half] or [0])),
        "streaming.generator_late_max_s": max(late),
        # from the first scheduled release to the poll that saw the
        # last timed file applied
        "streaming.rows_per_s": (n_timed * TAIL_FILE_ROWS
                                 / (applied_at[-1] - due[0])
                                 if len(applied_at) == n_timed else 0.0),
        "sinks.rows_written": sink.get("rows_written", 0),
        "sinks.conn_wall_s": conn_wall_s,
        "sinks.rows_per_conn_s": (sink.get("rows_written", 0) / conn_wall_s
                                  if conn_wall_s else 0.0),
        "sinks.wire_bytes_per_row": ((drain.server.wire_bytes
                                      - before["wire_bytes"]) / rows
                                     if rows else 0.0),
        "sinks.connections_per_epoch": (
            (drain.connections - before["connections"]) / sink["epochs"]
            if sink.get("epochs") else 0.0),
        "sources.binlog_bytes_per_row": generator.bytes_written
        / generator.rows_written,
    })
    if tail:
        run.layer.update({"streaming.apply_lag_tail_pct": tail[0],
                          "streaming.apply_lag_tail_s": tail[1],
                          "streaming.apply_lag_samples": tail[2]})
    run.detail.update({
        "offered_rows_per_s": TAIL_FILE_ROWS * TAIL_FILES_PER_S,
        "apply_lag_p50_s": {"value": run.e2e["result_s"], "unit": "s"},
        "apply_lag_tail_s": ({"value": tail[1], "unit": "s",
                              "percentile": tail[0], "samples": tail[2]}
                             if tail else None),
        "lags_s": [round(x, 3) for x in lags],
    })
    run.files = n_timed
    if run.traced:
        _decode_probe(run, [os.path.join(watch, os.path.basename(p))
                            for p in staged])


# ------------------------------------------------------------ queries

QUERY_PASS_S = 9.0              # nominal pass wall on 4 cores
CORPUS_ENTRIES = [
    "dedup_exact", "dedup_minhash_lsh", "pipeline_clean_corpus",
    "ann_ivf_topk", "text_analysis", "corpus_curation",
    "multimodal_meta_features",
]


def _oracle_rows(fixtures: str, sql: str):
    import duckdb
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(fixtures)):
            table = f.rsplit(".", 1)[0]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(fixtures, f)}'")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def _query_passes(run, entries: list[str]) -> None:
    """Per entry: fresh construction, first execution (cold), second
    execution (warm), then release its pins. One untimed pass of
    construction, first execution and a collect checked against the
    entry's DuckDB twin warms the JVM. The timed passes fill
    --seconds."""
    from mysql_syncer_clickhouse_spark import queries as registry
    from tests.test_oracle_parity import _rows as norm_rows
    spark = start_spark(run)
    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fixtures")
    fns = registry.all_queries()
    oracle = registry.all_oracle_sql()
    rng = random.Random(run.seed)

    def one(name: str, stats: dict | None, check: bool = False) -> None:
        with run.span("queries.construct", entry=name):
            t0 = time.perf_counter()
            df = fns[name](spark, fixtures)
        with run.span("queries.exec_cold", entry=name):
            _noop(df)
            t2 = time.perf_counter()
        if check:
            with run.span("check", entry=name):
                got = [tuple(r) for r in df.collect()]
                cols, want = _oracle_rows(fixtures, oracle[name])
                run.fail.check(
                    f"oracle:{name}",
                    sorted(df.columns) == sorted(cols)
                    and norm_rows(df.columns, got) == norm_rows(cols, want),
                    f"{len(got)} rows vs {len(want)}")
        else:
            with run.span("queries.exec_warm", entry=name):
                t3 = time.perf_counter()
                _noop(df)
                t4 = time.perf_counter()
        if stats is not None:
            stats["cold"] += t2 - t0
            stats["warm"] += t4 - t3
            stats["entries"][name] = round(t2 - t0, 4)
            run.fail.attempted += 1
        del df
        _release_pins(run, spark)

    with run.span("session.warmup"):
        t0 = time.perf_counter()
        for name in entries:
            one(name, None, check=True)
        run.layer["session.warmup_s"] = time.perf_counter() - t0
    run.setup_done()

    passes = []
    for _ in range(_repeats(run, QUERY_PASS_S)):
        order = rng.sample(entries, len(entries))
        stats = {"cold": 0.0, "warm": 0.0, "entries": {}}
        with run.span("pass", n=len(passes)):
            for name in order:
                _quiesce(run)
                one(name, stats)
        passes.append(stats)
        run.layer["operators.pinned_rdds_after"] = len(
            spark.sparkContext._jsc.getPersistentRDDs())
    run.e2e["result_s"] = median([p["cold"] for p in passes])
    run.layer["queries.warm_total_s"] = median([p["warm"] for p in passes])
    run.detail.update({
        "passes": len(passes), "entries": entries,
        "cold_total_s": {"value": run.e2e["result_s"], "unit": "s"},
        "warm_total_s": {"value": run.layer["queries.warm_total_s"],
                         "unit": "s"},
        "cold_pass_s": [p["cold"] for p in passes],
        "entry_cold_s": [p["entries"] for p in passes],
    })


def corpus_pipeline(run) -> None:
    _query_passes(run, CORPUS_ENTRIES)


# ------------------------------------------------------------ traced

def _input_rows(progress: dict) -> int:
    """Rows a micro-batch read; the binaryFile source reads one row
    per file."""
    return sum(s.get("numInputRows", 0) for s in progress.get("sources", []))


def _streaming_layer(run, log) -> None:
    t0 = datetime.datetime.fromtimestamp(run.t_setup, datetime.timezone.utc)
    prog = [p for p in log.progress
            if datetime.datetime.fromisoformat(p["timestamp"]) >= t0
            and _input_rows(p) > 0]
    if not prog:
        return
    dur = [p.get("durationMs", {}) for p in prog]
    files_in = sum(_input_rows(p) for p in prog)
    jobs = [j for j in log.jobs.values()
            if j.streaming and j.submit >= run.t_setup]
    spans = [s for s in run.tracer.spans
             if s.name in ("streaming.run_binlog", "streaming.follow")
             and s.start >= run.t_setup]
    wall = sum(s.dur for s in spans)
    ids = set().union(*(descendants(run.tracer.spans, s) for s in spans))
    run_s = sum(j.run_s for j in log.jobs_in(ids))

    def p50(*keys):
        return median([sum(d.get(k, 0) for k in keys) for d in dur])
    run.layer.update({
        "streaming.epochs": len(prog),
        "streaming.files_per_epoch": files_in / len(prog),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.commit_ms_p50": p50("walCommit", "commitOffsets"),
        "streaming.plan_ms_p50": p50("latestOffset", "getBatch",
                                     "queryPlanning"),
        "streaming.jobs_per_epoch": len(jobs) / len(prog),
        "streaming.core_busy_frac": run_s / (wall * run.cores) if wall else 0,
        "sources.decode_passes_per_file": files_in / run.files,
    })


def _query_layer(run, log) -> None:
    spans = run.tracer.spans
    per_pass = []
    entry: dict[str, dict[str, list]] = {}
    for p in (s for s in spans if s.name == "pass"):
        ids = descendants(spans, p)
        acc = dict.fromkeys(["pin_jobs", "pin_job_s", "driver_s", "exec_s",
                             "jobs", "stages", "shuffle", "spill", "run_s"],
                            0.0)
        for s in spans:
            if s.id not in ids or s.name not in ("queries.construct",
                                                 "queries.exec_cold"):
                continue
            jobs = log.jobs_in({s.id})
            e = entry.setdefault(s.attrs["entry"], {"construct_s": [],
                                                    "exec_s": [], "jobs": []})
            if s.name == "queries.construct":
                acc["pin_jobs"] += len(jobs)
                acc["pin_job_s"] += sum(j.end - j.submit for j in jobs)
                acc["driver_s"] += s.dur - union_length(
                    [(max(j.submit, s.start), min(j.end, s.end))
                     for j in jobs])
                e["construct_s"].append(s.dur)
                e["jobs"].append(len(jobs))
            else:
                acc["exec_s"] += s.dur
                acc["jobs"] += len(jobs)
                acc["stages"] += log.stage_count(jobs)
                acc["shuffle"] += sum(j.shuffle_write for j in jobs)
                acc["spill"] += sum(j.spill for j in jobs)
                acc["run_s"] += sum(j.run_s for j in jobs)
                e["exec_s"].append(s.dur)
                e["jobs"][-1] += len(jobs)
        per_pass.append(acc)

    def med(k):
        return median([a[k] for a in per_pass])
    run.layer.update({
        "operators.pin_jobs": med("pin_jobs"),
        "operators.pin_job_s": med("pin_job_s"),
        "queries.construct_driver_s": med("driver_s"),
        "queries.exec_s": med("exec_s"),
        "queries.exec_jobs": med("jobs"),
        "queries.exec_stages": med("stages"),
        "queries.shuffle_write_bytes": med("shuffle"),
        "queries.spill_bytes": med("spill"),
        "queries.executor_run_s": med("run_s"),
        "queries.core_busy_frac": (med("run_s") / (med("exec_s") * run.cores)
                                   if med("exec_s") else 0.0),
    })
    for name, e in entry.items():
        for k, v in e.items():
            run.layer[f"queries.{name}.{k}"] = median(v)


def layer_metrics(run, log) -> None:
    if run.workload.startswith("binlog"):
        _streaming_layer(run, log)
    else:
        _query_layer(run, log)
