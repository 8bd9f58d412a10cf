"""Output checks. The expected rows come from ``gen`` alone (the seed),
never from the program."""

from __future__ import annotations

import pyarrow.parquet as pq


def read_rows(path: str) -> list[dict]:
    """Rows of a committed parquet output, read without Spark."""
    return pq.read_table(path).to_pylist()


def _index(rows: list[dict], key: str, problems: list[str]) -> dict:
    got = {}
    for r in rows:
        if r[key] in got:
            problems.append("duplicate %s %s" % (key, r[key]))
        got[r[key]] = r
    return got


def _ids(problems, got, expected, key):
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        problems.append("%d expected %s missing, e.g. %s" % (len(missing), key, min(missing)))
    if extra:
        problems.append("%d unexpected %s, e.g. %s" % (len(extra), key, min(extra)))


def check_curated(rows: list[dict], expected: dict[int, dict]) -> list[str]:
    """Survivor ids, refined text, source, split label and a score in
    [0, 1] for every row of a curation output."""
    problems: list[str] = []
    got = _index(rows, "doc_id", problems)
    _ids(problems, got, expected, "doc_id")
    for i in got.keys() & expected.keys():
        r, e = got[i], expected[i]
        for k in ("text", "source", "split"):
            if r.get(k) != e[k]:
                problems.append("doc %d: %s is %r, expected %r" % (i, k, r.get(k), e[k]))
        q = r.get("quality_score")
        if q is None or not 0.0 <= q <= 1.0:
            problems.append("doc %d: quality_score %r outside [0, 1]" % (i, q))
    return problems


def check_llm(rows: list[dict], expected: dict[int, dict]) -> list[str]:
    """Kept question ids, and answer and score equal to the backend's
    hash of each prompt."""
    problems: list[str] = []
    got = _index(rows, "qid", problems)
    _ids(problems, got, expected, "qid")
    for i in got.keys() & expected.keys():
        r, e = got[i], expected[i]
        for k in ("question", "answer", "score"):
            if r.get(k) != e[k]:
                problems.append("qid %d: %s is %r, expected %r" % (i, k, r.get(k), e[k]))
    return problems
