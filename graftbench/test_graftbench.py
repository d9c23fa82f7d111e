"""Self-tests of the benchmark's sampler, generator, checks and tracer.

Run from the repository root:

    python3 -m pytest graftbench/test_graftbench.py -q

The last test runs the benchmark twice per workload with tracing on
(a few minutes); deselect it with ``-k "not repeat"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402
import sampler  # noqa: E402
from probes import Tracer, python_nodes  # noqa: E402


def test_sample_is_registered_and_covers_every_domain_equally():
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    assert set(sampler.SAMPLE) <= set(registry._REGISTRY)
    sizes = {d: len(v) for d, v in sampler.per_domain(sampler.SAMPLE).items()}
    assert set(sizes) == set(sampler.DOMAINS)
    assert len(set(sizes.values())) == 1 and min(sizes.values()) >= 1
    # every domain is populated in the registry itself
    assert all(sampler.per_domain(registry._REGISTRY).values())


def test_sample_order_is_a_function_of_the_seed():
    assert sampler.ordered_sample(7) == sampler.ordered_sample(7)
    assert sorted(sampler.ordered_sample(7)) == sorted(sampler.SAMPLE)
    assert len({tuple(sampler.ordered_sample(s)) for s in range(5)}) > 1


def test_domain_of():
    assert sampler.domain_of("q5_revenue_by_nation") == "relational"
    assert sampler.domain_of("dedup_exact_text") == "text"
    assert sampler.domain_of("privacy_k_anonymity_audit") == "quality"


def test_fixture_is_seed_pure():
    a, b, c = (datagen.fixture_tables(s, sf=0.001) for s in (3, 3, 4))
    assert a.keys() == c.keys()
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].schema == c[name].schema, name
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(c[name]), name


def test_fixture_matches_the_registry_schema():
    from mysql_public_data_ingestor_spark.tables import TABLE_NAMES

    t = datagen.fixture_tables(1, sf=0.001)
    assert set(t) == set(TABLE_NAMES)
    assert pa.types.is_timestamp(t["events"].schema.field("ts").type)
    keys = set(t["customer"].column("c_custkey").to_pylist())
    assert set(t["orders"].column("o_custkey").to_pylist()) <= keys
    assert set(t["events"].column("user_id").to_pylist()) <= keys
    assert set(t["lineitem"].column("l_orderkey").to_pylist()) <= set(t["orders"].column("o_orderkey").to_pylist())


def test_payload_is_seed_pure_and_decodes_to_the_flights_schema():
    from mysql_public_data_ingestor_spark.schema import FLIGHTS_SCHEMA
    from mysql_public_data_ingestor_spark.sources.opensky import parse_states_payload

    p = datagen.opensky_payload(5, 0, n_states=300)
    assert p == datagen.opensky_payload(5, 0, n_states=300)
    assert p != datagen.opensky_payload(6, 0, n_states=300)
    assert p != datagen.opensky_payload(5, 1, n_states=300)
    ours = checks.decode_payload(p, FLIGHTS_SCHEMA)
    assert ours.column_names == FLIGHTS_SCHEMA.fieldNames()
    assert [tuple(r.values()) for r in ours.to_pylist()] == parse_states_payload(p)


def _write_target(path: str, tables: list[pa.Table]) -> None:
    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(path, f"part-{i:05d}.parquet"))


def test_sink_check_catches_one_lost_and_one_duplicated_row(tmp_path):
    from mysql_public_data_ingestor_spark.schema import FLIGHTS_SCHEMA

    batch = checks.decode_payload(datagen.opensky_payload(1, 0, n_states=200), FLIGHTS_SCHEMA)
    cols = batch.column_names
    expected = checks.add((0, 0), checks.rows_digest(batch), times=2)
    good, lost, dup, swap = (str(tmp_path / d / "t") for d in ("good", "lost", "dup", "swap"))
    # the same rows in another order and file split: still equal
    _write_target(good, [batch.slice(100), batch.slice(0, 100), batch])
    _write_target(lost, [batch, batch.slice(1)])
    _write_target(dup, [batch, batch, batch.slice(7, 1)])
    # one row lost and another duplicated: the count holds, the digest does not
    _write_target(swap, [batch, batch.slice(1), batch.slice(7, 1)])
    assert checks.sink_problems([good], expected, cols) == []
    assert len(checks.sink_problems([lost, dup, swap], expected, cols)) == 3


def test_span_self_time():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("a"):
            pass
    # pin the clock readings: op 0..10, a 1..4 (child b 2..3), a 5..6
    for s, (t0, t1) in zip(tr.spans, [(0, 10), (1, 4), (2, 3), (5, 6)]):
        s.start, s.end = float(t0), float(t1)
    assert tr.self_times() == {"op": 6.0, "a": 3.0, "b": 1.0}
    assert tr.self_times(tr.since(1)) == {"a": 3.0, "b": 1.0}


def test_python_node_count():
    plan = "AdaptiveSparkPlan\n+- MapInPandas f\n   +- ArrowEvalPython [g]\n      +- BatchEvalPython [h]\n+- Project"
    assert python_nodes(plan) == 3


COUNTS = (
    "warehouse.builds", "tables.loads", "tables.load_jobs", "operators.construct_jobs",
    "operators.construct_stages", "exec.jobs", "exec.stages", "exec.tasks", "exec.python_nodes",
    "opensky.rows", "ingest.jobs_per_batch", "sink.writes", "sink.jobs_per_write", "sink.files",
)


def _traced_counts(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.strip().splitlines()[-1]
    result = json.loads(out)
    assert result["correct"] and result["failed"] == 0
    return {k: result["metrics"][k]["value"] for k in COUNTS}


@pytest.mark.parametrize("workload", ["ingest_fanout", "ingest_single_sink", "queries_sf0.01"])
def test_counts_repeat_across_traced_runs_of_one_seed(workload):
    assert _traced_counts(workload) == _traced_counts(workload)
