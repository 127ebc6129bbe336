"""The benchmark's own tests (no Spark needed):

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

CRAWL = {"n_pages": 12, "n_parts": 30, "n_supp": 7, "facts_per_page": 5}
UPDATE = {"n_bulk": 10, "n_drops": 3, "drop_pages": 4, "n_parts": 30, "n_supp": 7, "facts_per_page": 6}


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.crawl_inputs(3, str(tmp_path / "a"), **CRAWL)
    b = gen.crawl_inputs(3, str(tmp_path / "b"), **CRAWL)
    ua = gen.update_inputs(3, str(tmp_path / "ua"), **UPDATE)
    ub = gen.update_inputs(3, str(tmp_path / "ub"), **UPDATE)
    assert a["truth"] == b["truth"] and ua["drop_truth"] == ub["drop_truth"]
    for x, y in (("a", "b"), ("ua", "ub")):
        files = _files(str(tmp_path / x))
        assert files == _files(str(tmp_path / y)) and files
        _, mismatch, errors = filecmp.cmpfiles(tmp_path / x, tmp_path / y, files, shallow=False)
        assert not mismatch and not errors


def test_other_seed_gives_other_inputs(tmp_path):
    a = gen.crawl_inputs(3, str(tmp_path / "a"), **CRAWL)
    b = gen.crawl_inputs(4, str(tmp_path / "b"), **CRAWL)
    assert a["truth"] != b["truth"]
    assert not filecmp.cmp(a["pages"], b["pages"], shallow=False)


def test_drops_reassert_bulk_facts(tmp_path):
    u = gen.update_inputs(5, str(tmp_path), **UPDATE)
    assert all(d.keys() & u["bulk_truth"].keys() for d in u["drop_truth"])
    assert all(d.keys() - u["bulk_truth"].keys() for d in u["drop_truth"])


def _edges(rows: checks.Rows, duplicates: int = 0) -> checks.Edges:
    return checks.Edges(rows, len(rows) + duplicates)


def _perfect_crawl(truth: gen.Truth) -> checks.Rows:
    rows = {k: frozenset(v) for k, v in truth.items()}
    rows[("url:x", gen.MENTIONS, "P:1")] = frozenset({"x"})
    return rows


def test_crawl_checker_accepts_truth_and_rejects_corruption(tmp_path):
    truth = gen.crawl_inputs(7, str(tmp_path), **CRAWL)["truth"]
    assert checks.crawl(_edges(_perfect_crawl(truth)), truth)["ok"]
    assert not checks.crawl(_edges(_perfect_crawl(truth), duplicates=1), truth)["ok"]

    dropped = _perfect_crawl(truth)
    dropped.pop(next(iter(truth)))
    res = checks.crawl(_edges(dropped), truth)
    assert not res["ok"] and res["recall"] < 1.0

    key = next(iter(truth))
    less = _perfect_crawl(truth)
    less[key] = frozenset(sorted(truth[key])[1:])
    res = checks.crawl(_edges(less), truth)
    assert not res["ok"] and not res["provenance_ok"]

    no_mentions = {k: frozenset(v) for k, v in truth.items()}
    assert not checks.crawl(_edges(no_mentions), truth)["ok"]


def _after_first_drop(u: dict) -> tuple[checks.Rows, gen.Truth, checks.Rows, gen.Truth]:
    """A correct snapshot after the first drop: bulk provenance kept, one
    asserting url added per key the drop carries → (rows, truth, prior, fresh)."""
    prior = {k: frozenset(v) for k, v in u["bulk_truth"].items()}
    fresh = u["drop_truth"][0]
    truth = checks.merged_truth(u["bulk_truth"], fresh)
    rows = dict(prior)
    for k, urls in fresh.items():
        rows[k] = prior.get(k, frozenset()) | {min(urls)}
    return rows, truth, prior, fresh


def test_snapshot_checker_accepts_truth_and_rejects_corruption(tmp_path):
    u = gen.update_inputs(7, str(tmp_path), **UPDATE)
    rows, truth, prior, fresh = _after_first_drop(u)
    assert checks.snapshot(_edges(rows), truth, prior, fresh)["ok"]
    assert not checks.snapshot(_edges(rows, duplicates=1), truth, prior, fresh)["ok"]

    # the start snapshot file holds exactly the bulk truth
    assert checks.snapshot(checks.read_edges(u["snapshot"]), u["bulk_truth"], prior, {})["ok"]

    dropped = dict(rows)
    dropped.pop(next(iter(fresh)))
    res = checks.snapshot(_edges(dropped), truth, prior, fresh)
    assert not res["ok"] and res["recall"] < 1.0

    extra = dict(rows)
    extra[("P:0", "biolink:treats", "S:0")] = frozenset({"u"})
    res = checks.snapshot(_edges(extra), truth, prior, fresh)
    assert not res["ok"] and res["precision"] < 1.0

    foreign = dict(rows)
    key = next(iter(fresh))
    foreign[key] = rows[key] | {"https://elsewhere.example.org/"}
    assert not checks.snapshot(_edges(foreign), truth, prior, fresh)["provenance_ok"]


def test_snapshot_checker_rejects_lost_provenance(tmp_path):
    u = gen.update_inputs(7, str(tmp_path), **UPDATE)
    rows, truth, prior, fresh = _after_first_drop(u)
    # a bulk key the drop re-asserts: it must keep its bulk urls and gain one
    key = next(k for k in fresh if k in prior)

    lost_existing = dict(rows)
    lost_existing[key] = rows[key] - {min(prior[key])}  # one existing url removed
    res = checks.snapshot(_edges(lost_existing), truth, prior, fresh)
    assert not res["ok"] and not res["provenance_ok"]

    only_new = dict(rows)
    only_new[key] = rows[key] - prior[key]  # merge kept only the drop's url
    assert not checks.snapshot(_edges(only_new), truth, prior, fresh)["provenance_ok"]

    not_merged = dict(rows)
    not_merged[key] = prior[key]  # the drop's url never arrived
    assert not checks.snapshot(_edges(not_merged), truth, prior, fresh)["provenance_ok"]


def test_snapshot_checker_replay_must_change_nothing(tmp_path):
    u = gen.update_inputs(7, str(tmp_path), **UPDATE)
    rows, truth, _, fresh = _after_first_drop(u)
    # replaying the drop: nothing is fresh any more, so nothing may be added
    assert checks.snapshot(_edges(rows), truth, rows, {})["ok"]
    key = next(iter(fresh))
    again = dict(rows)
    again[key] = rows[key] | (fresh[key] - rows[key]) | {"https://crawl.example.org/page/replayed"}
    assert not checks.snapshot(_edges(again), truth, rows, {})["provenance_ok"]
    assert not checks.snapshot(_edges(rows, duplicates=1), truth, rows, {})["ok"]


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert [m["unit"] for m in spec["per_layer"]] == [run.unit_of(n) for n in run.per_layer_names()]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "kgbench/run.py"] and spec["paths"] == ["kgbench"]
