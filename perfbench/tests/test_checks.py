"""The answer checks fail wrong answers (DuckDB only, no Spark)."""

import json

import gen
from oracle import Oracle, same_ranking
from stats import Tally
from workloads import check_answers


def _oracle(tmp_path):
    texts = [
        "Alpha beta gamma. Alpha delta.",
        "Beta gamma gamma epsilon.",
        "Alpha alpha alpha zeta.",
        "Delta epsilon eta theta.",
    ]
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    path = str(tmp_path / "documents.parquet")
    gen._write_parquet(rows, path)
    return Oracle(path)


def test_oracle_answers(tmp_path):
    o = _oracle(tmp_path)
    top = o.search(["alpha"])
    assert [r[0] for r in top] == [2, 0] and [r[2] for r in top] == [1, 2]
    assert o.wildcard("gam*") == ["gamma"]
    assert o.wildcard("*ta") == ["beta", "delta", "eta", "theta", "zeta"]


def test_forced_wrong_answer_raises_error_rate(tmp_path):
    o = _oracle(tmp_path)
    ops = [["search", ["alpha"]], ["wildcard", "*ta"], ["search", ["gamma", "delta"]]]
    want = {json.dumps(op): o.search(op[1]) if op[0] == "search" else o.wildcard(op[1]) for op in ops}
    tally = Tally()
    got = [(tally.record(0.1, True), op, want[json.dumps(op)]) for op in ops]
    check_answers(tally, got, want)
    assert tally.error_rate == 0.0
    wrong = list(got)
    i, op, rows = wrong[0]
    wrong[0] = (i, op, [(rows[0][0] + 1, *rows[0][1:]), *rows[1:]])
    i, op, rows = wrong[1]
    wrong[1] = (i, op, rows[:-1])
    check_answers(tally, wrong, want)
    assert tally.failed == 2 and tally.error_rate == 2 / 3
    assert tally.charged(9.0)[:2] == [9.0, 9.0]


def test_same_ranking_tolerates_only_score_rounding():
    want = [(2, 1.5, 1), (0, 0.75, 2)]
    assert same_ranking([(0, 0.7500004, 2), (2, 1.5, 1)], want)
    assert not same_ranking([(2, 1.5, 1), (0, 0.76, 2)], want)
    assert not same_ranking([(2, 1.5, 1)], want)
    assert not same_ranking([(0, 1.5, 1), (2, 0.75, 2)], want)
