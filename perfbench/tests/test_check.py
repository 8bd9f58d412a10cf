"""The output check accepts the expected rows and flags a corrupted
output: one survivor dropped and one duplicate added."""

from perfbench import gen
from perfbench.check import check_curated, check_llm


def _curated_rows(expected):
    return [{"doc_id": i, "quality_score": 0.5, **e} for i, e in expected.items()]


def test_curated_check_flags_dropped_and_duplicated_rows():
    expected = gen.expected_curated(gen.make_corpus(3, 1, 400))
    rows = _curated_rows(expected)
    assert check_curated(rows, expected) == []
    bad = rows[1:] + [dict(rows[2])]
    problems = check_curated(bad, expected)
    assert any("missing" in p for p in problems)
    assert any("duplicate" in p for p in problems)


def test_curated_check_flags_wrong_values():
    expected = gen.expected_curated(gen.make_corpus(3, 1, 400))
    rows = _curated_rows(expected)
    rows[0] = {**rows[0], "split": "nope"}
    rows[1] = {**rows[1], "text": rows[1]["text"] + " \U0001f600"}
    rows[2] = {**rows[2], "quality_score": None}
    assert len(check_curated(rows, expected)) == 3


def test_llm_check_flags_dropped_and_duplicated_rows():
    expected = gen.expected_llm(gen.make_questions(3, 300))
    rows = [{"qid": q, **e} for q, e in expected.items()]
    assert check_llm(rows, expected) == []
    bad = rows[1:] + [dict(rows[2])]
    problems = check_llm(bad, expected)
    assert any("missing" in p for p in problems)
    assert any("duplicate" in p for p in problems)
    rows[0] = {**rows[0], "answer": "x"}
    assert len(check_llm(rows, expected)) == 1
