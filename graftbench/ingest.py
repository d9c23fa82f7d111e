"""Ingest workloads: seeded OpenSky snapshots through the paper's system.

``OpenSkyPlugin`` polls an ``http_get`` stub that returns the next of
``POLLS`` seeded JSON payloads, so ``parse_states_payload`` decodes real
bytes. ``IngestEngine`` builds the typed DataFrame and fans it out to
``ParquetSink`` targets with poll interval 0: one closed-loop client that
polls again only after the last target committed.

One operation is one batch, timed from the poll to the last target's
commit; one pass sends each of the ``POLLS`` snapshots once. Set-up,
timed as ``setup_s``, is a session start plus one batch through every
target. After the clock stops, every target must hold exactly the
decoded rows of the batches it was sent.
"""

from __future__ import annotations

import os
import time

import checks
import datagen
from harness import SETUPS, Run, median, overhead_frac, jvm_versions, purge_program, start_spark, stop_spark
from probes import JobGroups

POLLS = 2
N_STATES = 10_000

# Untimed passes after set-up, while the JIT still speeds up the write
# path; then at least TIMED_PASSES timed passes.
SETTLE_PASSES = 2
TIMED_PASSES = 3

# workload -> (copies, {extra database: tables}); BASELINE.md §A gives the
# reference topology of 3 copies plus one extra database of 5 tables.
TOPOLOGY = {
    "ingest_fanout": (3, {"x": 5}),
    "ingest_single_sink": (1, {}),
}


class _Session:
    """One Spark session's engine, with the stub transport it polls."""

    def __init__(self, spark, workload: str, payloads: list[bytes], sink_dir: str):
        from mysql_public_data_ingestor_spark.config import DatabasesConfig, ExtraDatabase
        from mysql_public_data_ingestor_spark.sources.opensky import OpenSkyPlugin
        from mysql_public_data_ingestor_spark.streaming.ingest import IngestEngine, ParquetSink
        from mysql_public_data_ingestor_spark.topology import expand_topology

        copies, extra = TOPOLOGY[workload]
        cfg = DatabasesConfig(
            prefix="bench_", table_prefix="flights", copies=copies,
            extra={k: ExtraDatabase(tables=v) for k, v in extra.items()},
        )
        self.payloads = payloads
        self.sent = [0] * len(payloads)
        self._next = 0
        self.sink_dir = sink_dir
        self.targets = expand_topology(cfg)
        self.plugin = OpenSkyPlugin(http_get=self._http_get, interval_s=0)
        self.engine = IngestEngine(
            spark=spark, plugin=self.plugin, targets=self.targets,
            sink=ParquetSink(sink_dir), sleep=lambda s: None,
        )

    def _http_get(self, url, auth) -> bytes:
        i = self._next % len(self.payloads)
        self._next += 1
        self.sent[i] += 1
        return self.payloads[i]

    def batch(self) -> int:
        """One closed-loop step of ``IngestEngine.run``; returns rows committed per target."""
        return self.engine.process_batch(self.engine.fetch_with_retry())

    def target_dirs(self) -> list[str]:
        return [os.path.join(self.sink_dir, t.database, t.table) for t in self.targets]


class _Tracing:
    """Spans and job groups around the engine's layers for one traced batch."""

    def __init__(self, run: Run, groups: JobGroups, sess: _Session):
        self.run, self.groups, self.sess = run, groups, sess
        self.batches: list[dict] = []

    def batch(self) -> int:
        tr, plugin, engine = self.run.tracer, self.sess.plugin, self.sess.engine
        info = {"write_groups": [], "retries": 0, "rows": 0}
        http_get, fetch_rows, sink = plugin.http_get, plugin.fetch_rows, engine.sink

        def traced_http_get(url, auth):
            with tr.span("opensky.http_get"):
                return http_get(url, auth)

        def traced_fetch_rows():
            with tr.span("opensky.fetch_rows"):
                try:
                    rows = fetch_rows()
                except Exception:
                    info["retries"] += 1
                    raise
            info["rows"] = len(rows)
            return rows

        def traced_sink(df, target):
            gid, prev = self.groups.enter("w")
            info["write_groups"].append(gid)
            try:
                with tr.span("sink.write") as s:
                    sink(df, target)
            finally:
                self.groups.leave(prev)
            info.setdefault("first_write_s", s.end - s.start)

        plugin.http_get, plugin.fetch_rows, engine.sink = traced_http_get, traced_fetch_rows, traced_sink
        mark = len(tr.spans)
        try:
            with tr.span("op.batch") as op:
                rows = engine.fetch_with_retry()
                gid, prev = self.groups.enter("b")
                info["group"] = gid
                try:
                    with tr.span("ingest.process_batch"):
                        n = engine.process_batch(rows)
                finally:
                    self.groups.leave(prev)
        finally:
            plugin.http_get, plugin.fetch_rows, engine.sink = http_get, fetch_rows, sink
        info["self"] = tr.self_times(tr.since(mark))
        info["wall"] = op.end - op.start
        self.batches.append(info)
        return n

    def metrics(self) -> dict:
        self.groups.settle()
        per_batch, per_write = [], []
        for b in self.batches:
            writes = [self.groups.work(g)["jobs"] for g in b["write_groups"]]
            per_write.extend(writes)
            per_batch.append(self.groups.work(b["group"])["jobs"] + sum(writes))
        dirs = self.sess.target_dirs()
        files = sum(len([f for f in os.listdir(d) if f.endswith(".parquet")]) for d in dirs)
        nbytes = sum(os.path.getsize(os.path.join(d, f)) for d in dirs for f in os.listdir(d) if f.endswith(".parquet"))
        writes_total = len(dirs) * sum(self.sess.sent)
        s = [b["self"] for b in self.batches]
        return {
            "opensky.fetch_s": median([x.get("opensky.http_get", 0.0) for x in s]),
            "opensky.decode_s": median([x.get("opensky.fetch_rows", 0.0) for x in s]),
            "opensky.rows": median([b["rows"] for b in self.batches]),
            "ingest.self_s": median([x.get("ingest.process_batch", 0.0) for x in s]),
            "ingest.jobs_per_batch": median(per_batch),
            "ingest.fetch_retries": sum(b["retries"] for b in self.batches),
            "sink.writes": median([len(b["write_groups"]) for b in self.batches]),
            "sink.write_s": median([x.get("sink.write", 0.0) for x in s]),
            "sink.first_write_s": median([b["first_write_s"] for b in self.batches]),
            "sink.jobs_per_write": median(per_write),
            "sink.files": files / writes_total,
            "sink.bytes": nbytes / writes_total,
            "trace.accounted_frac": median([1 - b["self"]["op.batch"] / b["wall"] for b in self.batches]),
        }


def run(run: Run, workload: str) -> dict:
    from mysql_public_data_ingestor_spark.schema import FLIGHTS_SCHEMA

    payloads = [datagen.opensky_payload(run.seed, p, N_STATES) for p in range(POLLS)]
    decoded = [checks.rows_digest(checks.decode_payload(p, FLIGHTS_SCHEMA)) for p in payloads]
    columns = FLIGHTS_SCHEMA.fieldNames()

    setups, starts, sessions = [], [], []
    spark = sess = None
    for k in range(SETUPS):
        if spark is not None:
            stop_spark(spark)
        purge_program()
        import mysql_public_data_ingestor_spark.streaming.ingest  # noqa: F401 - import cost stays off the clock

        t0 = time.perf_counter()
        spark, start_s = start_spark()
        sess = _Session(spark, workload, payloads, os.path.join(run.run_dir, f"sinks{k}"))
        sessions.append(sess)
        run.attempted += 1
        try:
            sess.batch()
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
            run.fail("setup batch", e)
        setups.append(time.perf_counter() - t0)
        starts.append(start_s)

    tracing = _Tracing(run, JobGroups(spark), sess)
    latencies: list[float] = []
    committed = 0

    def one_pass(traced: bool, timed: bool = True) -> float:
        nonlocal committed
        t_pass = time.perf_counter()
        for _ in range(POLLS):
            run.attempted += 1
            t = time.perf_counter()
            try:
                n = tracing.batch() if traced else sess.batch()
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
                run.fail("batch", e)
                continue
            if timed and not traced:
                latencies.append(time.perf_counter() - t)
                committed += n * len(sess.targets)
        return time.perf_counter() - t_pass

    for _ in range(SETTLE_PASSES):
        one_pass(False, timed=False)
    passes = run.timed_passes(one_pass, TIMED_PASSES)
    run.record["jvm"] = jvm_versions(spark)
    run.rss.stop()  # peak RSS covers set-up and passes, not the checks below
    layers = tracing.metrics() if run.trace else {}
    stop_spark(spark)

    for k, s in enumerate(sessions):
        expected = (0, 0)
        for times, digest in zip(s.sent, decoded):
            expected = checks.add(expected, digest, times)
        problems = checks.sink_problems(s.target_dirs(), expected, columns)
        if problems:
            run.fail(f"session {k} sinks", f"{len(problems)} targets wrong, e.g. {problems[0]}", ops=sum(s.sent))

    run.record.update(
        targets=[t.qualified for t in sess.targets],
        polls_per_pass=POLLS,
        states_per_poll=N_STATES,
        setups_s=setups,
        session_starts_s=starts,
        passes=[{"traced": t, "s": p} for t, p in passes],
        batch_latencies_s=latencies,
    )
    e2e = {
        "setup_s": median(setups),
        "latency_gmean_s": median(latencies),
        "pass_s": median([p for t, p in passes if not t]),
        "sink_rows_per_s": committed / sum(latencies),
    }
    if run.trace:
        layers["session.start_s"] = median(starts)
        layers["trace.overhead_frac"] = overhead_frac(passes)
    return {"e2e": e2e, "layers": layers, "latencies": latencies}
