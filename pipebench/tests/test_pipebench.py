"""Self-tests of the benchmark: generator determinism and the metric
contract. No Spark; run with `python3 -m pytest pipebench/tests -q`."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import drop  # noqa: E402
import run  # noqa: E402

N = 40


def _drops(seed: int, inc_seed: int = 1):
    corpus = drop.Corpus(seed, N)
    return corpus.initial_drop(), corpus.incremental_drop(inc_seed)


def test_same_seed_gives_identical_drops_and_truth():
    a_init, a_inc = _drops(7)
    b_init, b_inc = _drops(7)
    assert a_init.files == b_init.files
    assert a_inc.files == b_inc.files
    assert a_init.truth == b_init.truth
    assert a_inc.truth == b_inc.truth


def test_incremental_drop_does_not_depend_on_call_order():
    corpus = drop.Corpus(7, N)
    first = corpus.incremental_drop(3)
    corpus.incremental_drop(4)
    assert corpus.incremental_drop(3).files == first.files


def test_different_seed_changes_drops():
    a_init, a_inc = _drops(7)
    b_init, b_inc = _drops(8)
    assert a_init.files != b_init.files
    assert a_inc.files != drop.Corpus(7, N).incremental_drop(2).files


def test_truth_is_consistent():
    init, inc = _drops(3)
    c = init.truth["counters"]
    assert c["cnt_records"] == c["cnt_bibs"] + c["cnt_errors"]
    assert init.truth["warehouse"]["item"] == c["cnt_items"]
    assert len(init.truth["view_items"]) == c["cnt_items"]
    w = inc.truth["warehouse"]
    assert w["deleted_record"] == sum(w["history"].values())
    assert w["history"]["bib"] == inc.truth["counters"]["cnt_deletes"]
    assert inc.truth["newer"] + inc.truth["older"] == inc.truth["republished"]
    assert any("delete" in name for name in inc.files)


def test_catalogue_follows_the_fixture_shape():
    bibs = drop.Corpus(11, 2000).bibs
    holdings = [h for b in bibs for h in b.holdings]
    items = sum(len(h.items) for h in holdings)
    assert {len(b.holdings) for b in bibs} == {1, 2, 3}
    assert {len(h.items) for h in holdings} == set(range(6))
    assert 1.4 < len(holdings) / len(bibs) < 1.6
    assert 2.8 < items / len(bibs) < 3.3


def test_failed_ratio_counts_checks_and_lookups_only():
    checks = {"a": True, "b": False}
    loop = {"ops": 6, "failed": 1, "wrong": [["barcode", "x", 1, 0]]}
    assert run.tally(checks, [loop]) == (8, 3)
    assert run.tally(checks, [loop, loop]) == (14, 5)


def test_drop_files_are_alma_shaped(tmp_path):
    import tarfile

    init, _ = _drops(5)
    init.write(str(tmp_path))
    name = sorted(init.files)[0]
    with tarfile.open(tmp_path / name) as tar:
        xml = tar.extractfile(tar.getmembers()[0]).read().decode()
    for marker in ('tag="852"', 'code="8"', 'tag="ITM"', 'tag="BIB"',
                   'tag="HLD"', "<controlfield"):
        assert marker in xml
    assert all(blob[:2] == b"\x1f\x8b" for blob in init.files.values())


def test_benchmark_json_declares_every_metric_with_its_unit():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_a_unit(trace):
    declared = run.PER_LAYER if trace else run.END_TO_END
    metrics = {k: (1.5, u) for k, u in declared.items()}
    out = json.loads(run.result_line(True, 3, 1, metrics, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    with pytest.raises(ValueError):
        run.result_line(True, 3, 1, dict(list(metrics.items())[1:]), trace)


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0, 2.0, 3.0]) == (3.0, "max")
    xs = [float(i) for i in range(100)]
    value, label = run.tail(xs)
    assert label == "p90" and sum(x > value for x in xs) == 10
