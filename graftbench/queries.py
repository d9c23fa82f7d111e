"""Query workload: a fixed stratified sample of registered queries over a
seeded sf0.01 fixture, one closed-loop client.

One operation is one query: ``fn(spark, sf_dir)`` through the return of
its ``noop`` write. One pass runs the sample once, in the seed's order.
Set-up, timed as ``setup_s``, is a session start, the registry load and
one construct-and-execute pass over the sample, which builds every
warehouse table the sample reads. After the clock stops each query's
collected result is checked against its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
import time

import checks
import datagen
import sampler
from harness import PROGRAM, SETUPS, Run, gmean, median, overhead_frac, jvm_versions, purge_program, start_spark, stop_spark
from probes import JobGroups, python_nodes

SF = 0.01

# Untimed passes after set-up, while the JIT still speeds up the query
# paths; then at least TIMED_PASSES timed passes.
SETTLE_PASSES = 2
TIMED_PASSES = 3
CATALYST_PHASES = ("analysis", "optimization", "planning")


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Tracing:
    """Spans and job groups around the program's layers during a traced pass.

    ``tables.load_table`` and ``warehouse.ensure_table`` are wrapped where
    the program looks them up, for the duration of the pass only.
    """

    def __init__(self, run: Run, spark):
        self.run, self.spark = run, spark
        self.groups = JobGroups(spark)
        self.passes: list[list[dict]] = []
        self.builds: list[float] = []

    def _wrappers(self, ops: list[dict]):
        from mysql_public_data_ingestor_spark import tables, warehouse

        tr, groups = self.run.tracer, self.groups
        load_table, ensure_table = tables.load_table, warehouse.ensure_table

        def traced_load_table(spark, sf_dir, name):
            with groups.group("load") as gid, tr.span("tables.load_table"):
                if ops:
                    ops[-1]["groups"].append(("load", gid))
                return load_table(spark, sf_dir, name)

        def traced_ensure_table(spark, name, build, *args, **kwargs):
            before = len(warehouse.BUILD_SECONDS)
            with groups.group("ensure") as gid, tr.span("warehouse.ensure_table") as s:
                if ops:
                    ops[-1]["groups"].append(("ensure", gid))
                out = ensure_table(spark, name, build, *args, **kwargs)
            if len(warehouse.BUILD_SECONDS) > before:
                self.builds.append(s.end - s.start)
            return out

        return [(load_table, traced_load_table), (ensure_table, traced_ensure_table)]

    def _patch(self, pairs) -> None:
        for mod in [m for n, m in sys.modules.items() if n == PROGRAM or n.startswith(PROGRAM + ".")]:
            for attr, value in list(vars(mod).items()):
                for old, new in pairs:
                    if value is old:
                        setattr(mod, attr, new)

    def traced(self, body, ops: list[dict]):
        """Run ``body`` with the layer wrappers in place; ``ops`` collects
        what each traced operation recorded."""
        pairs = self._wrappers(ops)
        self._patch(pairs)
        try:
            return body()
        finally:
            self._patch([(new, old) for old, new in pairs])

    def op(self, spec, sf_dir: str, ops: list[dict]) -> None:
        tr, groups = self.run.tracer, self.groups
        info = {"name": spec.name, "groups": []}
        ops.append(info)
        mark = len(tr.spans)
        with tr.span("op.query") as op:
            with groups.group("construct") as gid, tr.span("operators.construct"):
                info["groups"].append(("construct", gid))
                df = spec.fn(self.spark, sf_dir)
            with tr.span("catalyst.plan"):
                qe = df._jdf.queryExecution()
                plan = qe.executedPlan().toString()
                phases = qe.tracker().phases()
                for p in CATALYST_PHASES:
                    got = phases.get(p)
                    info[p] = got.get().durationMs() if got.isDefined() else 0
            info["python_nodes"] = python_nodes(plan)
            with groups.group("exec") as gid, tr.span("exec.write"):
                info["groups"].append(("exec", gid))
                _noop_write(df)
        info["self"] = tr.self_times(tr.since(mark))
        info["wall"] = op.end - op.start

    def metrics(self) -> dict:
        self.groups.settle()
        rows = []
        for ops in self.passes:
            m = dict.fromkeys(("load_jobs", "construct_jobs", "construct_stages"), 0)
            work = {}
            for o in ops:
                for kind, gid in o["groups"]:
                    w = self.groups.work(gid)
                    if kind == "exec":
                        for k, v in w.items():
                            work[k] = work.get(k, 0) + v
                    else:
                        m["construct_jobs"] += w["jobs"]
                        m["construct_stages"] += w["stages"]
                        if kind == "load":
                            m["load_jobs"] += w["jobs"]
            st = lambda key: sum(o["self"].get(key, 0.0) for o in ops)  # noqa: E731
            wall = sum(o["wall"] for o in ops)
            rows.append({
                "tables.loads": sum(1 for o in ops for kind, _ in o["groups"] if kind == "load"),
                "tables.load_s": st("tables.load_table"),
                "tables.load_jobs": m["load_jobs"],
                "operators.construct_s": st("operators.construct"),
                "operators.construct_jobs": m["construct_jobs"],
                "operators.construct_stages": m["construct_stages"],
                **{f"catalyst.{p}_ms": sum(o[p] for o in ops) for p in CATALYST_PHASES},
                "exec.s": st("exec.write"),
                **{f"exec.{k}": work.get(k, 0) for k in (
                    "jobs", "stages", "tasks", "cpu_ms", "gc_ms", "input_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")},
                "exec.task_skew": work["task_max_ms"] / max(work["task_median_ms"], 1),
                "exec.python_nodes": sum(o["python_nodes"] for o in ops),
                "trace.accounted_frac": 1 - st("op.query") / wall,
            })
        return {k: median([r[k] for r in rows]) for k in rows[0]}


def run(run: Run, workload: str) -> dict:
    sf_dir = os.path.join(run.run_dir, "fixture")
    fixture_rows = datagen.write_fixture(run.seed, sf_dir, SF)
    names = sampler.ordered_sample(run.seed)

    setups, starts, loads, builds = [], [], [], []
    spark = tracing = None
    for k in range(SETUPS):
        if spark is not None:
            stop_spark(spark)
        purge_program()
        import mysql_public_data_ingestor_spark.session  # noqa: F401 - import cost stays off the clock

        t0 = time.perf_counter()
        spark, start_s = start_spark()
        t1 = time.perf_counter()
        from mysql_public_data_ingestor_spark import registry

        specs = registry.all_queries()
        loads.append(time.perf_counter() - t1)
        tracing = _Tracing(run, spark)

        def cold_pass():
            for name in names:
                run.attempted += 1
                try:
                    _noop_write(specs[name].fn(spark, sf_dir))
                except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
                    run.fail(f"setup {name}", e)

        tracing.traced(cold_pass, []) if run.trace else cold_pass()
        setups.append(time.perf_counter() - t0)
        starts.append(start_s)
        builds.append(tracing.builds)

    latencies: dict[str, list[float]] = {n: [] for n in names}

    def one_pass(traced: bool, timed: bool = True) -> float:
        ops: list[dict] = []

        def body():
            for name in names:
                run.attempted += 1
                t = time.perf_counter()
                try:
                    if traced:
                        tracing.op(specs[name], sf_dir, ops)
                    else:
                        _noop_write(specs[name].fn(spark, sf_dir))
                except Exception as e:  # noqa: BLE001
                    run.fail(name, e)
                    continue
                if timed and not traced:
                    latencies[name].append(time.perf_counter() - t)

        t_pass = time.perf_counter()
        if traced:
            tracing.traced(body, ops)
            tracing.passes.append(ops)
        else:
            body()
        return time.perf_counter() - t_pass

    for _ in range(SETTLE_PASSES):
        one_pass(False, timed=False)
    passes = run.timed_passes(one_pass, TIMED_PASSES)
    run.record["jvm"] = jvm_versions(spark)
    run.rss.stop()  # peak RSS covers set-up and passes, not the checks below
    layers = tracing.metrics() if run.trace else {}

    # Output checks, off the clock: every sampled query against its oracle.
    from tools.check_correctness import duck_connection

    con = duck_connection(sf_dir)
    result_rows = {}
    for name in names:
        try:
            sdf = specs[name].fn(spark, sf_dir).toPandas()
            result_rows[name] = len(sdf)
            problem = checks.query_problem(name, sdf, specs[name].oracle, con)
        except Exception as e:  # noqa: BLE001
            problem = f"{type(e).__name__}: {e}"
        if problem:
            run.fail(f"check {name}", problem, ops=SETUPS + SETTLE_PASSES + len(passes))
    stop_spark(spark)

    untraced = [p for t, p in passes if not t]
    timed = [n for n in names if latencies[n]]
    run.record.update(
        sample=names,
        fixture_rows=fixture_rows,
        result_rows=result_rows,
        setups_s=setups,
        session_starts_s=starts,
        registry_loads_s=loads,
        warehouse_builds_s=builds,
        passes=[{"traced": t, "s": p} for t, p in passes],
        query_latencies_s=latencies,
    )
    e2e = {
        "setup_s": median(setups),
        "latency_gmean_s": gmean([median(latencies[n]) for n in timed]),
        "pass_s": median(untraced),
        "sink_rows_per_s": sum(result_rows.get(n, 0) * len(latencies[n]) for n in timed)
        / sum(sum(latencies[n]) for n in timed),
    }
    if run.trace:
        layers.update({
            "session.start_s": median(starts),
            "registry.load_s": median(loads),
            "warehouse.builds": median([len(b) for b in builds]),
            "warehouse.build_s": median([sum(b) for b in builds]),
            "trace.overhead_frac": overhead_frac(passes),
        })
    return {"e2e": e2e, "layers": layers, "latencies": [x for n in timed for x in latencies[n]]}
