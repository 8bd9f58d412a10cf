"""The generator is a pure function of its seed, and its planted cases
are what the output check assumes they are."""

import re

from perfbench import gen

_EMOJI = re.compile("[\U0001f300-\U0001f5ff\U0001f600-\U0001f64f"
                    "\U0001f680-\U0001f6ff\U0001f900-\U0001f9ff☀-⛿✀-➿️]")


def _refine(text: str) -> str:
    """The three refiners of text_pt_filter_pipeline, in order."""
    text = re.sub(r"\s+", " ", text).strip()
    text = _EMOJI.sub("", text)
    return re.sub(r"https?://[^\s]+", "", text)


def test_corpus_is_deterministic_per_seed():
    a = gen.make_corpus(5, 2, 300)
    assert a == gen.make_corpus(5, 2, 300)
    assert a != gen.make_corpus(6, 2, 300)
    assert gen.expected_curated(a) == gen.expected_curated(gen.make_corpus(5, 2, 300))


def test_questions_are_deterministic_per_seed():
    q = gen.make_questions(5, 200)
    assert q == gen.make_questions(5, 200)
    assert q != gen.make_questions(6, 200)
    assert gen.expected_llm(q) == gen.expected_llm(gen.make_questions(5, 200))


def test_planted_cases():
    shards = gen.make_corpus(9, 2, 500)
    rows = [r for sh in shards for r in sh]
    assert len({r["doc_id"] for r in rows}) == len(rows)
    assert len(gen.VIOLATIONS) <= sum(r["_clean"] is None for r in rows)
    assert any(re.search("[一-鿿]", r["text"]) for r in rows)
    for sh in shards:
        first: dict[str, int] = {}
        for i, r in enumerate(sh):
            if r["_clean"] is None:
                continue
            # every duplicate refines to its original, which comes first
            assert _refine(r["text"]) == r["_clean"]
            first.setdefault(r["_clean"], i)
            assert r["_keep"] == (first[r["_clean"]] == i)
    sizes: dict[str, int] = {}
    for r in rows:
        if r["_clean"] is not None:
            sizes[r["_clean"]] = sizes.get(r["_clean"], 0) + 1
    assert max(sizes.values()) >= 0.1 * 500   # the mass-duplicate cluster


def test_md5_rules_match_their_documented_formulas():
    assert gen.md5_bucket("split", 42, 10_000) == int(
        __import__("hashlib").md5(b"split42").hexdigest()[:15], 16) % 10_000
    labels = {gen.split_label(i) for i in range(2000)}
    assert labels == {"train", "val", "test"}
    rows = [{"doc_id": i, "source": s} for i, s in
            enumerate(["web"] * 600 + ["books"] * 100 + ["forum"] * 50)]
    kept = gen.mixture_keep(rows)
    assert not any(r["source"] == "forum" for r in kept)
    assert kept == gen.mixture_keep(rows)
