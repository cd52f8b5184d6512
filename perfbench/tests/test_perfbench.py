"""Spark-free tests of the benchmark's digest, relabeling and result line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import pytest

from perfbench import report
from perfbench.digest import digest, observed_digest, row_hash
from perfbench.inputs import ALPHABET, relabel, relabel_alphabets, unlabel
from perfbench.trace import measure, merge

ROOT = Path(__file__).resolve().parents[2]

ROWS = [
    (10, "order:7", "", 12, "cust:3", "", 11),
    (18, "hasStatus", "F", 20, "order:7", "", 40),
    (21, "li:1:2", "ofOrder", 10, "li:1:2", "", 12),
]


def test_digest_ignores_row_order():
    shuffled = ROWS[:]
    random.Random(0).shuffle(shuffled)
    assert digest(shuffled) == digest(ROWS)


def test_digest_counts_rows_and_sums_hashes():
    d = digest(ROWS)
    assert d["rows"] == 3
    assert d["sum"] == sum(row_hash(r) for r in ROWS)
    assert digest([]) == {"rows": 0, "sum": 0}


def test_digest_sees_each_changed_column():
    base = digest(ROWS)
    for i in range(len(ROWS[0])):
        row = list(ROWS[0])
        row[i] = row[i] + 1 if isinstance(row[i], int) else row[i] + "x"
        assert digest([tuple(row), *ROWS[1:]]) != base


def test_digest_keeps_duplicates():
    assert digest(ROWS + ROWS[:1]) != digest(ROWS)


def test_digest_separates_column_boundaries():
    # "ab" + "" and "a" + "b" join to different strings
    assert row_hash((1, "ab", "", 2, "x", "", 3)) != row_hash((1, "a", "b", 2, "x", "", 3))


def test_row_hash_is_pinned():
    # the Spark aggregate computes the same formula; pin its value so a
    # change to either side shows up here
    assert row_hash((10, "order:7", "", 12, "cust:3", "", 11)) == int(
        __import__("hashlib").sha256("10\x1forder:7\x1f\x1f12\x1fcust:3\x1f\x1f11".encode()).hexdigest()[:15],
        16,
    )


def test_observed_digest_normalizes_spark_values():
    from decimal import Decimal

    assert observed_digest({"rows": 3, "sum": Decimal("12")}) == {"rows": 3, "sum": 12}
    assert observed_digest({"rows": 0, "sum": None}) == {"rows": 0, "sum": 0}


@pytest.mark.parametrize("seed", [0, 1, 7, 123456])
def test_relabel_is_a_permutation_of_the_alphabet(seed):
    src, dst = relabel_alphabets(seed)
    assert src == ALPHABET
    assert sorted(dst) == sorted(ALPHABET)


@pytest.mark.parametrize("seed", [0, 1, 7, 123456])
def test_unlabel_inverts_relabel(seed):
    for term in ["order:123", "Brand#12", "4-NOT SPECIFIED", "", "li:99:7", "T:2", "ü-x"]:
        assert unlabel(relabel(term, seed), seed) == term


def test_relabel_is_injective_and_seeded():
    terms = [f"order:{i}" for i in range(2000)] + [f"cust:{i}" for i in range(500)]
    out = [relabel(t, 5) for t in terms]
    assert len(set(out)) == len(terms)
    assert relabel_alphabets(5) == relabel_alphabets(5)
    assert relabel_alphabets(5) != relabel_alphabets(6)
    assert sum(a != b for a, b in zip(out, terms)) > 0.99 * len(terms)


def test_result_line_reports_every_metric_with_its_unit():
    spec = {"discover_s": "s", "ok_frac": "frac"}
    line = report.result_line(spec, {"discover_s": 1.25, "ok_frac": 1, "extra": 3}, attempted=2, failed=0)
    out = json.loads(line)
    assert out == {
        "correct": True,
        "attempted": 2,
        "failed": 0,
        "metrics": {
            "discover_s": {"value": 1.25, "unit": "s"},
            "ok_frac": {"value": 1.0, "unit": "frac"},
        },
    }
    assert "\n" not in line


def test_result_line_marks_failures_incorrect():
    out = json.loads(report.result_line({"a": "s"}, {"a": 1.0}, attempted=3, failed=1))
    assert out["correct"] is False and out["failed"] == 1


@pytest.mark.parametrize("values", [{}, {"a": float("nan")}])
def test_result_line_refuses_missing_or_non_finite_values(values):
    with pytest.raises((KeyError, ValueError)):
        report.result_line({"a": "s"}, values, attempted=1, failed=0)


def test_result_line_needs_an_attempt():
    with pytest.raises(ValueError):
        report.result_line({"a": "s"}, {"a": 1.0}, attempted=0, failed=0)


def test_metric_spec_matches_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_measure_unions_and_clips_to_the_window():
    assert merge([(0, 2), (1, 3), (5, 6), (4, 4)]) == [(0, 3), (5, 6)]
    assert measure([(0, 2), (1, 3), (5, 6)], (0, 10)) == 4
    assert measure([(-5, 2), (9, 12)], (0, 10)) == 3
    assert measure([], (0, 10)) == 0
