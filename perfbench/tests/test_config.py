import json
import os

from perfbench.layers import OPERATOR_MODULES, per_layer_names
from perfbench.workloads import CORPUS_QUERIES, OLAP_QUERIES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_names_match_the_runner():
    spec = [(m["name"], m["unit"]) for m in _spec()["per_layer"]]
    assert spec == per_layer_names()


def test_end_to_end_names_match_the_runner():
    assert [m["name"] for m in _spec()["end_to_end"]] == ["setup_s", "pass_s"]


def test_workloads_match_the_runner():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_every_mixed_operator_module_has_layer_rows():
    from lakehouse_workshop_spark.operators import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    for name in OLAP_QUERIES + CORPUS_QUERIES:
        assert name in oracles, f"{name} has no DuckDB oracle"
        assert queries[name].__module__.rsplit(".", 1)[1] in OPERATOR_MODULES
