"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest enginebench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from enginebench import inputs, oracle, workloads  # noqa: E402
from enginebench.stats import tail  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (0.0, 100 / 11, 11)
    value, pct, n = tail(list(range(100, 0, -1)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in range(1, 101)) == 10


def _files(root):
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            with open(os.path.join(d, name), "rb") as f:
                out[os.path.relpath(os.path.join(d, name), root)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_generator_is_deterministic(tmp_path, workload):
    a, _ = inputs.ensure(str(tmp_path / "a"), workload, 7)
    b, _ = inputs.ensure(str(tmp_path / "b"), workload, 7)
    c, _ = inputs.ensure(str(tmp_path / "c"), workload, 8)
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_search_checker_rejects_wrong_page(tmp_path):
    d, man = inputs.ensure(str(tmp_path), "news_search", 3)
    check = oracle.SearchOracle(f"{d}/documents.parquet")
    query = man["queries"][-1]
    page = check.page(query, 8, 1)
    assert len(page) == 8
    assert check.check(query, 8, 1, page) == []
    wrong_id = [(page[0][0] + 1, *page[0][1:])] + page[1:]
    wrong_score = [(page[0][0], page[0][1] + 0.01, page[0][2])] + page[1:]
    wrong_hl = [(page[0][0], page[0][1], page[0][2].replace("**", ""))] + page[1:]
    for rows in (wrong_id, wrong_score, wrong_hl, page[:7], check.page(query, 8, 0)):
        assert check.check(query, 8, 1, rows) != []


def test_ingest_checker_rejects_duplicates(tmp_path):
    def write(name, ids):
        duckdb.sql(f"COPY (SELECT unnest({ids}::BIGINT[]) AS doc_id) "
                   f"TO '{tmp_path / name}' (FORMAT parquet)")

    landed = {1, 2, 3, 4}
    write("ok.parquet", [1, 2, 3])
    write("twice.parquet", [1, 2, 2])
    write("postings.parquet", [1, 2, 3, 3])
    good = oracle.check_ingest(str(tmp_path / "ok.parquet"), str(tmp_path / "postings.parquet"),
                               landed, {4})
    assert good == []
    assert oracle.check_ingest(str(tmp_path / "twice.parquet"),
                               str(tmp_path / "postings.parquet"), landed, {4}) != []
    assert oracle.check_ingest(str(tmp_path / "ok.parquet"),
                               str(tmp_path / "postings.parquet"), landed, {3}) != []
    assert oracle.check_ingest(str(tmp_path / "ok.parquet"),
                               str(tmp_path / "postings.parquet"), {1, 2}, {4}) != []
    write("short.parquet", [1, 2])
    assert oracle.check_ingest(str(tmp_path / "ok.parquet"),
                               str(tmp_path / "short.parquet"), landed, {4}) != []


class FakeQuery:
    def __init__(self, terminates: bool, error: Exception | None = None):
        self.terminates, self.error, self.stopped = terminates, error, False

    def awaitTermination(self, timeout):
        assert timeout == workloads.STREAM_TIMEOUT_S
        if self.error:
            raise self.error
        return self.terminates

    def exception(self):
        return None

    def stop(self):
        self.stopped = True


def test_never_ending_stream_counts_as_failed():
    q = FakeQuery(terminates=False)
    assert "still running" in workloads._run_to_end(q)[0] and q.stopped


def test_failed_stream_counts_as_failed_and_is_stopped():
    q = FakeQuery(terminates=True, error=RuntimeError("boom"))
    assert "boom" in workloads._run_to_end(q)[0] and q.stopped
    q = FakeQuery(terminates=True)
    assert workloads._run_to_end(q) == [] and q.stopped


def test_benchmark_json_names_the_metrics_run_prints():
    import json

    from enginebench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
