"""Layered benchmark of the ingest core and the query registry.

Usage, from the repository root:

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each exists):

- ``ingest_fanout``: seeded OpenSky snapshots polled through
  ``OpenSkyPlugin`` into ``IngestEngine``, fanned out to the reference
  topology of 8 parquet targets.
- ``ingest_single_sink``: the same polls into one target.
- ``queries_sf0.01``: a fixed stratified sample of registered queries
  over a seeded sf0.01 fixture.

A run drives the unmodified program in this process on ``local[nproc]``
as one closed-loop client, generates its inputs from ``--seed``, checks
every output after the clock stops and prints one JSON object as the
last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Scratch files live in a fresh
``.graftbench/run-*`` directory that is deleted at exit; the run record
(seed, sample, settings, failures and their causes, per-pass times, host
evidence, and the spans when traced) goes to ``.graftbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
from probes import HostProbe  # noqa: E402

WORKLOADS = ("ingest_fanout", "ingest_single_sink", "queries_sf0.01")


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def _on_term(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import mysql_public_data_ingestor_spark  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as e:
        print(f"graftbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    signal.signal(signal.SIGTERM, _on_term)
    base = os.path.join(ROOT, ".graftbench")
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    run = harness.Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), run_dir=run_dir)
    host = HostProbe().start()
    t_start = time.time()
    try:
        settings = harness.pin_settings(run_dir)
        if args.workload.startswith("ingest_"):
            import ingest as workload
        else:
            import queries as workload
        run.rss.start()
        out = workload.run(run, args.workload)
    finally:
        run.rss.stop()
        harness.stop_active_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    # Per-layer metrics of layers a workload does not touch read 0.
    if args.trace:
        metrics = {**out["layers"], "pyworker.peak_rss_mb": run.rss.peak_workers / 2**20}
        listed = spec["per_layer"]
    else:
        metrics = {**out["e2e"], "peak_rss_mb": run.rss.peak / 2**20}
        listed = spec["end_to_end"]
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0)), "unit": m["unit"]} for m in listed},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "started_unix": t_start,
        "wall_s": time.time() - t_start,
        "settings": {**settings, "versions": {**versions(), **run.record.pop("jvm", {})}},
        "host": host.stop(),
        "failures": run.failures,
        "latency_high_percentile": harness.high_percentile(out["latencies"]),
        **run.record,
        "result": result,
        "spans": run.tracer.dump() if args.trace else [],
    }
    name = f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime(t_start))}-{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(base, "results", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
