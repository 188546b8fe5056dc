"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import digest
import run
from layers import PER_LAYER, parse_sql_metric
from workloads import DATA_DIR, WORKLOADS, Workload

from interlinked_spark import catalog
from tests.oracle_harness import duck_connection

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture(scope="module")
def oracle_rows():
    """``pricing_summary``'s oracle result on the benchmark's data."""
    con = duck_connection(DATA_DIR)
    try:
        res = con.sql(catalog.ORACLES["pricing_summary"])
        return res.columns, res.fetchall()
    finally:
        con.close()


class FakeFrame:
    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows


def _perturbed(rows):
    first = list(rows[0])
    i = next(i for i, v in enumerate(first) if isinstance(v, float))
    first[i] += 0.01
    return [tuple(first)] + list(rows[1:])


def test_committed_digest_matches_oracle(oracle_rows):
    columns, rows = oracle_rows
    sql = catalog.ORACLES["pricing_summary"]
    assert digest.verify("pricing_summary", columns, rows, sql, digest.load()) is None


def test_perturbed_row_fails_digest_check(oracle_rows):
    columns, rows = oracle_rows
    sql, stored = catalog.ORACLES["pricing_summary"], digest.load()
    assert "mismatch" in digest.verify("pricing_summary", columns, _perturbed(rows), sql, stored)
    assert "mismatch" in digest.verify("pricing_summary", columns, rows[1:], sql, stored)
    renamed = ["x_" + c if i == 0 else c for i, c in enumerate(columns)]
    assert "mismatch" in digest.verify("pricing_summary", renamed, rows, sql, stored)


def test_changed_oracle_flags_stale_digest(oracle_rows):
    columns, rows = oracle_rows
    sql = catalog.ORACLES["pricing_summary"] + " "
    assert "stale" in digest.verify("pricing_summary", columns, rows, sql, digest.load())


def test_every_query_has_an_oracle_and_a_current_digest():
    stored = digest.load()
    for wl in WORKLOADS.values():
        for name in wl.queries:
            assert catalog.ORACLES[name], name
            assert stored[name]["oracle_sha256"] == digest.text_sha(catalog.ORACLES[name]), name


class ScriptedBench(run.Bench):
    """Executes from a table of fake results instead of Spark."""

    def __init__(self, workload, results):
        super().__init__(None, workload)
        self.results = results

    def execute(self, name, tracer=None):
        result = self.results[name]
        if isinstance(result, Exception):
            raise result
        return result

    def resolve(self, name):
        return None, self.execute(name)


def test_raising_query_counts_in_failed_ops_and_the_run_goes_on(oracle_rows):
    wl = Workload("t", ("pricing_summary", "boom"))
    good = FakeFrame(*oracle_rows)
    bench = ScriptedBench(wl, {"pricing_summary": good, "boom": RuntimeError("boom")})
    wall, frames = bench.run_pass(["boom", "pricing_summary"])
    assert wall >= 0
    assert frames == {"boom": None, "pricing_summary": good}
    assert (bench.attempted, bench.failed) == (2, 1)
    bench.check(frames, digest.load())
    # the check re-resolves "boom", which raises again; pricing_summary passes
    assert (bench.attempted, bench.failed) == (4, 2)


def test_perturbed_output_counts_in_failed_ops(oracle_rows):
    columns, rows = oracle_rows
    wl = Workload("t", ("pricing_summary",))
    bench = ScriptedBench(wl, {})
    bench.check({"pricing_summary": FakeFrame(columns, _perturbed(rows))}, digest.load())
    assert (bench.attempted, bench.failed) == (1, 1)
    bench.check({"pricing_summary": FakeFrame(columns, rows)}, digest.load())
    assert (bench.attempted, bench.failed) == (2, 1)


def test_traced_passes_sit_between_untraced_ones():
    wl = Workload("t", ("a", "b"))
    bench = ScriptedBench(wl, {"a": FakeFrame([], []), "b": FakeFrame([], [])})

    class NullTracer:
        def __getattr__(self, _name):
            return lambda *a, **k: None

    plain, traced, frames = bench.timed_passes(run.pass_orders(wl.queries, 1), 0, NullTracer())
    assert (len(plain), len(traced)) == (2, 1)
    plain, traced, frames = bench.timed_passes(run.pass_orders(wl.queries, 1), 0)
    assert (len(plain), len(traced)) == (1, 0)
    assert set(frames) == {"a", "b"}


def test_leftover_entries_are_counted_and_removed(tmp_path):
    scratch = run.Scratch(parent=str(tmp_path / "scratch"))
    assert scratch.leaked() == 0
    os.makedirs(os.path.join(scratch.tmp, "index_1", "part"))
    open(os.path.join(scratch.tmp, "pkg.zip"), "w").close()
    os.mkdir(os.path.join(scratch.local, "spark-1"))
    open(os.path.join(scratch.jvm, "libsnappy.so"), "w").close()  # not a leak
    assert scratch.leaked() == 3
    assert run.count_entries(scratch.tmp, str(tmp_path / "missing")) == 2
    scratch.remove()
    assert not os.path.exists(tmp_path / "scratch")


def test_seed_fixes_each_pass_order():
    queries = WORKLOADS["relational"].queries
    a, b, c = run.pass_orders(queries, 7), run.pass_orders(queries, 7), run.pass_orders(queries, 8)
    first = [next(a) for _ in range(3)]
    assert first == [next(b) for _ in range(3)]
    assert first != [next(c) for _ in range(3)]
    assert all(sorted(order) == sorted(queries) for order in first)


def test_printed_metric_names_equal_benchmark_json():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        printed = run.result_metrics(trace, dict.fromkeys(declared, 1.0))
        assert {name: m["unit"] for name, m in printed.items()} == declared
    assert list(PER_LAYER) == [m["name"] for m in spec["per_layer"]]


def test_parse_sql_metric():
    assert parse_sql_metric("1,234") == 1234
    assert parse_sql_metric("147.9 KiB") == pytest.approx(147.9 * 1024)
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)") == 2 * 2**20
