"""The benchmark's own tests: seeded inputs, expectations, result shape.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import compare
import gen
import run

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def _tree(root: Path) -> dict[str, bytes]:
    return {p.relative_to(root).as_posix(): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize(
    "make",
    [gen.small_files, lambda root, seed: gen.tables(root, seed, 0.001)],
    ids=["small_files", "tables"],
)
def test_same_seed_gives_byte_identical_inputs(tmp_path, make):
    first = make(tmp_path / "a", 7)
    again = make(tmp_path / "b", 7)
    other = make(tmp_path / "c", 8)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert first == again
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")


def test_small_files_expectation_counts_every_planted_file(tmp_path):
    exp = gen.small_files(tmp_path, 3)
    # the unparseable file fails; the empty array is neither processed nor failed
    assert exp["files_failed"] == 1
    assert exp["files_processed"] == gen.SMALL_FILES + 3
    assert exp["dropped_non_dict"] == 4
    assert exp["total_records"] == len(exp["rows"])
    assert exp["columns"][-1] == gen.SOURCE_COL
    assert (tmp_path / "nested" / "deeper").is_dir()
    latin = (tmp_path / "nested" / "hostile_latin1.json").read_bytes()
    with pytest.raises(UnicodeDecodeError):
        latin.decode("utf-8")


def test_text_projection_rules():
    assert gen._text(None) == "" and gen._text([]) == "" and gen._text({}) == ""
    assert gen._text(True) == "true"
    assert gen._text({"zip": 1, "street": "x"}) == '{"street":"x","zip":1}'
    assert gen._text(2.5) == "2.5"


def test_benchmark_json_lists_the_metrics_the_command_prints():
    spec = json.loads(BENCHMARK.read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert [m["unit"] for m in spec["per_layer"]] == [run.unit_of(n) for n in run.per_layer_names()]
    import workloads

    assert [w["name"] for w in spec["workloads"]] == workloads.WORKLOADS


def test_compare_refuses_records_from_different_configs(tmp_path, capsys):
    rec = {"workload": "w", "traced": False, "cpus": 4, "spark_cores": 2, "driver_mem": "8g", "spark": "4.1.2",
           "python": "3.11.7", "sf": None, "metrics": {"pass_s": 1.0}}
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text(json.dumps(rec) + "\n")
    for other in ({"cpus": 8}, {"spark_cores": 4}, {"driver_mem": "2g"}):
        b.write_text(json.dumps({**rec, **other}) + "\n")
        assert compare.compare(compare.load(str(a)), compare.load(str(b))) == 2
        assert "refused" in capsys.readouterr().out
    b.write_text(json.dumps({**rec, "metrics": {"pass_s": 2.0}}) + "\n")
    assert compare.compare(compare.load(str(a)), compare.load(str(b))) == 0


def test_pass_trace_counts_nested_time_once_and_attributes_jobs_upward():
    from tracer import PassTrace, Span

    outer = Span("1", "cachemgr.build", 0.0, None, "r")
    memo = Span("2", "cachemgr.value", 1.0, outer, "r")
    inner = Span("3", "cachemgr.build", 2.0, memo, "r")
    outer.end, memo.end, inner.end = 10.0, 9.0, 8.0
    inner.jobs.append({"id": 0, "tasks": 4})
    pt = PassTrace([inner, memo, outer], inner.jobs)
    assert pt.time("cachemgr.build") == 10.0
    assert pt.count("cachemgr.build") == 2
    assert pt.self_time("cachemgr.build") == 2.0 + 6.0
    assert pt.job_sum("tasks", "cachemgr.value") == 4
    assert pt.jobs_under("query.execute") == []
