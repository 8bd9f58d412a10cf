"""Seeded input generator and the expected outputs it implies.

Everything here is a pure function of the seed: the corpus, the
question set, and the exact rows each invocation must produce. The
expected outputs are derived from how the corpus was built, never by
running the program, so the output check cannot inherit an engine bug.

Corpus cases, per shard of ``docs_per_shard`` documents:

- clean originals: lowercase pseudo-words from a large random
  vocabulary, so distinct documents share almost no char 5-grams, and
  shaped to pass every rule filter of ``text_pt_filter_pipeline``;
  a share of them carry multi-byte CJK words;
- exact duplicates of an original;
- refiner variants of an original that become byte-identical to it
  after the pipeline's three refiners (extra whitespace, emoji glued to
  a word, a URL glued after a full stop);
- one mass-duplicate cluster in one shard;
- rule-violating documents, one planted violation each;
- whitespace-only documents;
- a skewed source mix, including one source the mixture drops.

Every duplicate follows its original in the same shard file, so the
pipeline's keep-first dedup keeps the original whether the shard is
processed alone or with the rest of the corpus.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import re

#: source -> share of documents; skewed on purpose
SOURCES = {"web": 0.60, "books": 0.18, "code": 0.12, "wiki": 0.06, "forum": 0.04}
#: DomainMixtureSampler weights; "forum" is unlisted, so it is dropped
MIX_WEIGHTS = {"web": 0.4, "books": 0.3, "code": 0.2, "wiki": 0.1}
MIX_SALT, MIX_BUCKETS = "mix", 10_000
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
SPLIT_SALT, SPLIT_BUCKETS = "split", 10_000

#: words the rule filters react to; never produced by the vocabulary
_FORBIDDEN = ("spam", "viagra", "casino", "lorem", "ipsum", "copyright",
              "watermark", "confidential", "javascript")
_EMOJI = ["\U0001f600", "\U0001f680", "\U0001f525", "\U0001f44d", "☀"]

#: planted rule violations, each failing exactly one check of the chain
#: by construction (and possibly others, which does not matter)
VIOLATIONS = ("short", "blocklist", "watermark", "lorem", "entity",
              "colon_end", "ellipsis_end", "caps", "special_char", "curly")

#: LLM chain templates and the PromptedFilter threshold
GEN_TEMPLATE = "Answer the question briefly. {question}"
EVAL_TEMPLATE = "Rate the answer from 0 to 9. {answer}"
FILTER_TEMPLATE = "Judge whether the answer is useful. {answer}"
FILTER_MIN_SCORE = 3.0


def md5_bucket(salt: str, key: int, buckets: int) -> int:
    """The documented ``hash_impl='md5'`` bucket of the sampling
    operators: first 15 hex digits of md5(salt || str(key)), mod
    ``buckets``."""
    h = hashlib.md5((salt + str(key)).encode("utf-8")).hexdigest()
    return int(h[:15], 16) % buckets


def split_label(doc_id: int) -> str:
    b = md5_bucket(SPLIT_SALT, doc_id, SPLIT_BUCKETS)
    total = sum(SPLITS.values())
    names = list(SPLITS)
    acc = 0.0
    for name in names[:-1]:
        acc += SPLITS[name] / total
        if b < int(acc * SPLIT_BUCKETS):
            return name
    return names[-1]


def mixture_keep(rows: list[dict]) -> list[dict]:
    """Rows a DomainMixtureSampler(MIX_WEIGHTS, md5) keeps, from its
    documented rule: T = min_g(count_g / share_g), keep a row of group g
    when its bucket < floor(min(1, share_g * T / count_g) * buckets)."""
    wsum = sum(MIX_WEIGHTS.values())
    cnt: dict[str, float] = {}
    for r in rows:
        if r["source"] in MIX_WEIGHTS:
            cnt[r["source"]] = cnt.get(r["source"], 0.0) + 1.0
    share = {g: MIX_WEIGHTS[g] / wsum for g in sorted(MIX_WEIGHTS) if g in cnt}
    if not share:
        return []
    t_total = min(cnt[g] / share[g] for g in share)
    thr = {g: math.floor(min(1.0, share[g] * t_total / cnt[g]) * MIX_BUCKETS)
           for g in share}
    return [r for r in rows if r["source"] in thr
            and md5_bucket(MIX_SALT, r["doc_id"], MIX_BUCKETS) < thr[r["source"]]]


class _Writer:
    """Builds documents from one seeded RNG."""

    def __init__(self, rng: random.Random, vocab_size: int = 40_000):
        self.rng = rng
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab: set[str] = set()
        while len(vocab) < vocab_size:
            w = "".join(rng.choice(letters) for _ in range(rng.randint(4, 9)))
            if not any(f in w for f in _FORBIDDEN):
                vocab.add(w)
        self.vocab = sorted(vocab)
        # common CJK ideographs: 3 bytes each in UTF-8
        self.cjk = [chr(c) for c in range(0x4E00, 0x4E00 + 3000)]

    def _word(self, cjk: bool) -> str:
        if cjk and self.rng.random() < 0.3:
            return "".join(self.rng.choice(self.cjk)
                           for _ in range(self.rng.randint(3, 5)))
        return self.rng.choice(self.vocab)

    def clean(self, cjk: bool = False) -> str:
        """4-7 sentences of 8-14 words; single spaces, no caps words,
        a comma every few words, ends with a full stop."""
        sents = []
        for _ in range(self.rng.randint(4, 7)):
            ws = [self._word(cjk) for _ in range(self.rng.randint(8, 14))]
            ws[0] = ws[0][0].upper() + ws[0][1:]
            if len(ws) > 9:
                ws[5] += ","
            sents.append(" ".join(ws) + ".")
        return " ".join(sents)

    def variant(self, text: str) -> str:
        """A text the refiners map back to ``text`` byte for byte."""
        kind = self.rng.randrange(4)
        words = text.split(" ")
        if kind in (0, 3):  # extra whitespace: collapsed and trimmed
            for _ in range(3):
                i = self.rng.randrange(len(words) - 1)
                words[i] += self.rng.choice(["  ", "\t", "\n", " \n "])
            text = " ".join(words)
            text = "\n " + text + "  "
            words = text.split(" ")
        if kind in (1, 3):  # emoji glued to a word: stripped
            idx = [i for i, w in enumerate(words) if w and not w[-1].isspace()]
            words[self.rng.choice(idx)] += self.rng.choice(_EMOJI)
        if kind in (2, 3):  # URL glued after a full stop: removed
            idx = [i for i, w in enumerate(words) if w.endswith(".")]
            i = self.rng.choice(idx[:-1] or idx)
            words[i] += "https://%s.example/%s" % (
                self.rng.choice(self.vocab), self.rng.choice(self.vocab))
        return " ".join(words)

    def violating(self, kind: str) -> str:
        t = self.clean()
        ws = t.split(" ")
        if kind == "short":
            return " ".join(ws[:10]).rstrip(",.") + "."
        if kind == "blocklist":
            ws.insert(3, "casino")
        elif kind == "watermark":
            ws.append("Copyright notice applies here.")
        elif kind == "lorem":
            ws.insert(2, "lorem ipsum")
        elif kind == "entity":
            ws.insert(4, "&amp;")
        elif kind == "colon_end":
            return t[:-1] + ":"
        elif kind == "ellipsis_end":
            return t[:-1] + "..."
        elif kind == "caps":
            ws = [w.upper() if i % 3 == 0 else w for i, w in enumerate(ws)]
        elif kind == "special_char":
            ws.insert(5, "�")
        elif kind == "curly":
            ws = [w + "{}" if i % 2 == 0 else w for i, w in enumerate(ws)]
        return " ".join(ws)


def make_corpus(seed: int, n_shards: int, docs_per_shard: int,
                mass_shard: int = 0) -> list[list[dict]]:
    """Return ``n_shards`` lists of rows ``{doc_id, source, text}`` in file
    order, plus private fields ``_clean`` (the refined text) and
    ``_keep`` (survives dedup and every rule filter)."""
    rng = random.Random(seed)
    w = _Writer(rng)
    n_total = n_shards * docs_per_shard
    ids = rng.sample(range(1, 1 << 40), n_total)
    srcs, weights = list(SOURCES), list(SOURCES.values())
    D = docs_per_shard
    n_viol = round(0.08 * D)
    n_blank = 2
    n_exact = round(0.05 * D)
    n_var = round(0.07 * D)
    n_mass = round(0.15 * D)
    shards = []
    for s in range(n_shards):
        mass = n_mass if s == mass_shard else 0
        n_orig = D - n_viol - n_blank - n_exact - n_var - mass
        originals = []
        for _ in range(n_orig):
            t = w.clean(cjk=rng.random() < 0.15)
            originals.append({"text": t, "_clean": t, "_keep": True})
        # duplicates: each placed after its original
        dup_rows = []
        for k in range(n_exact + n_var):
            src = rng.randrange(len(originals))
            t = originals[src]["text"]
            dup_rows.append((src, t if k < n_exact else w.variant(t)))
        if mass:
            src = rng.randrange(len(originals))
            t = originals[src]["text"]
            dup_rows += [(src, t if i % 2 else w.variant(t)) for i in range(mass)]
        extras = [{"text": w.violating(VIOLATIONS[k % len(VIOLATIONS)]),
                   "_clean": None, "_keep": False} for k in range(n_viol)]
        extras += [{"text": " \n\t ", "_clean": None, "_keep": False}
                   for _ in range(n_blank)]
        order: list[dict] = list(originals)
        for row in extras:
            order.insert(rng.randrange(len(order) + 1), row)
        pos = {id(r): i for i, r in enumerate(order)}
        # insert each duplicate somewhere after its original
        placed: list[tuple[int, dict]] = []
        for src, t in dup_rows:
            o = originals[src]
            placed.append((rng.randrange(pos[id(o)] + 1, len(order) + 1),
                           {"text": t, "_clean": o["_clean"], "_keep": False}))
        merged: list[dict] = []
        by_slot: dict[int, list[dict]] = {}
        for slot, row in placed:
            by_slot.setdefault(slot, []).append(row)
        for i in range(len(order) + 1):
            merged.extend(by_slot.get(i, []))
            if i < len(order):
                merged.append(order[i])
        base = s * D
        for j, row in enumerate(merged):
            row["doc_id"] = ids[base + j]
            row["source"] = rng.choices(srcs, weights)[0]
        shards.append(merged)
    return shards


def expected_curated(shards: list[list[dict]]) -> dict[int, dict]:
    """doc_id -> expected output row of one invocation over ``shards``."""
    survivors = [r for sh in shards for r in sh if r["_keep"]]
    return {r["doc_id"]: {"text": r["_clean"], "source": r["source"],
                          "split": split_label(r["doc_id"])}
            for r in mixture_keep(survivors)}


def make_questions(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed * 7919 + 1)
    w = _Writer(rng, vocab_size=5_000)
    ids = rng.sample(range(1, 1 << 31), n)
    return [{"qid": q, "question": "How does %s %s relate to %s %s?" % tuple(
        rng.choice(w.vocab) for _ in range(4))} for q in ids]


def respond(prompt: str) -> str:
    """The benchmark backend's answer: a hash of the prompt that opens
    with a one-decimal score in [0, 9.9]."""
    h = hashlib.md5(prompt.encode("utf-8")).hexdigest()
    v = int(h[:8], 16)
    return "%d.%d %s" % (v % 10, (v // 10) % 10, h[8:24])


_FIRST_FLOAT = re.compile(r"(-?[0-9]+(\.[0-9]+)?)")


def expected_llm(questions: list[dict]) -> dict[int, dict]:
    """qid -> expected row after generate, evaluate and filter."""
    out = {}
    for q in questions:
        answer = respond(GEN_TEMPLATE.format(question=q["question"]))
        score = float(_FIRST_FLOAT.search(
            respond(EVAL_TEMPLATE.format(answer=answer))).group(1))
        judge = float(_FIRST_FLOAT.search(
            respond(FILTER_TEMPLATE.format(answer=answer))).group(1))
        if judge >= FILTER_MIN_SCORE:
            out[q["qid"]] = {"question": q["question"], "answer": answer,
                             "score": score}
    return out


def public(row: dict) -> dict:
    """The row as the program sees it (no private fields)."""
    return {k: v for k, v in row.items() if not k.startswith("_")}


def write_jsonl(path: str, rows: list[dict]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(public(r), ensure_ascii=False) + "\n")
    os.replace(tmp, path)
