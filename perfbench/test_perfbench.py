"""Self-tests of the benchmark code.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import pipelines  # noqa: E402
import run  # noqa: E402
import workloads as gen  # noqa: E402
from spans import OP_COUNTERS, Tracer, union_seconds  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [m["unit"] for m in spec["per_layer"]] == list(run.PER_LAYER.values())
    assert [w["name"] for w in spec["workloads"]] == list(pipelines.WORKLOADS)
    assert {w["why"] for w in spec["workloads"]} == {
        w.why for w in pipelines.WORKLOADS.values()
    }


@pytest.mark.parametrize("workload", list(pipelines.WORKLOADS))
def test_generators_are_deterministic_per_seed(workload):
    make = pipelines.WORKLOADS[workload].generate
    a, b, c = make(7), make(7), make(8)
    for name, df in a.tables.items():
        assert df.equals(b.tables[name])
        assert not df.equals(c.tables[name])
    assert a.truth == b.truth


def test_near_dup_truth_points_duplicates_at_originals():
    inp = gen.near_dup(3, 500)
    df = inp.tables["pages"].set_index("doc_id")
    dups = {d: o for d, o in inp.truth["cluster"].items() if d != o}
    assert len(dups) == inp.truth["dups"] == 50
    for d, o in dups.items():
        assert d > o
        orig, dup = df.at[o, "text"].split(), df.at[d, "text"].split()
        assert len(dup) == len(orig) - 2 and set(dup) <= set(orig)


def test_progressive_truth_is_the_first_pages_of_each_chain():
    inp = gen.progressive_walk(5, 100, chains=3, chain_len=6, iterations=3)
    reads = inp.tables["reads"]
    chain = reads[reads["lang"] == "chain"]
    assert len(inp.tables["seeds"]) == 3 and len(chain) == 3 * 5
    heads = set(inp.tables["seeds"]["doc_id"])
    assert heads < inp.truth["tagged"]
    assert len(inp.truth["tagged"]) == 3 * 4  # head + 3 walked pages per chain


def test_union_seconds():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


@pytest.fixture(scope="module")
def spark():
    from biobloom_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2, shuffle_partitions=2, driver_memory="1g",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_status_store_reader_counts_a_tiny_op(spark):
    tracer = Tracer(spark)
    df = spark.range(1000, numPartitions=2).selectExpr("id % 7 AS k")
    out = tracer.call("tiny", 0, 1000, lambda: df.groupBy("k").count().collect(), traced=True)
    assert len(out) == 7
    span = tracer.spans[-1]
    assert set(span.counters) == set(OP_COUNTERS)
    assert span.counters["jobs"] >= 1 and span.job_ids
    assert span.counters["stages"] >= 1 and span.counters["tasks"] >= 2
    assert span.counters["shuffle_bytes"] > 0
    assert 0 <= span.counters["driver_s"] <= span.end - span.start
    # an untraced call records its span without reading the store
    tracer.call("tiny", 1, 1000, lambda: df.count(), traced=False)
    assert tracer.spans[-1].counters == {} and tracer.spans[-1].job_ids == []
