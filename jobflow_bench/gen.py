"""Seeded, reference-shaped inputs for the job-flow benchmark.

``generate(spec, seed, outdir)`` writes a biarcs corpus and a gold
standard (FIXTURES.md A1/A2) and returns their input properties.  The
same ``(spec, seed)`` always gives the same bytes.

Shape of the data:

* Vocabulary: pronounceable roots built from syllables, each with
  inflected surface forms (``-s``, ``-ed``, ``-ing`` ...) so the Porter
  stemmer has real work to do.  Word frequency is Zipfian.
* Signal: roots belong to topic clusters.  A line's head word and a
  share (``SIGNAL``) of its dependents come from one cluster, so
  lexemes of one cluster share context distributions.  Gold pairs are
  ``related`` iff both words come from the same cluster; the classifier
  therefore has something to learn, and the other dependents are drawn
  from the global vocabulary so it cannot learn it perfectly.
* Malformed input, at the reference's drop paths: rows with fewer than
  4 tab fields, non-numeric counts, root heads (every line has one),
  out-of-range heads, quads with a wrong number of ``/`` parts, gold
  lines with double spaces, and gold lines with a wrong token count.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
from dataclasses import dataclass

_ONSETS = ["b", "br", "c", "cl", "d", "dr", "f", "fl", "g", "gr", "h", "j", "k",
           "l", "m", "n", "p", "pl", "r", "s", "sl", "st", "t", "tr", "v", "w", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "oo"]
_CODAS = ["", "", "n", "r", "l", "m", "t", "st", "nd", "ck"]
# inflection -> part of speech, so a surface word always has one tag
_SUFFIXES = {"": "NN", "s": "NNS", "ed": "VBD", "ing": "VBG", "er": "NN", "ly": "RB",
             "ness": "NN", "ation": "NN", "ive": "JJ"}
_SUFFIX_LIST = ["", "", "", "s", "s", "ed", "ing", "er", "ly", "ness", "ation", "ive"]
_DEPS = ["nsubj", "dobj", "prep", "amod", "pobj", "conj", "advmod", "nn"]

RELATED_SHARE = 0.092  # word-relatedness.txt: 1,337 of 14,547
ROOTS = 1500
CLUSTERS = 150
SIGNAL = 0.45  # share of dependents drawn from the head's cluster
ZIPF_S = 1.05


@dataclass(frozen=True)
class Spec:
    """Input size of one workload."""

    lines: int
    gold_pairs: int


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def _roots(rng: random.Random, n: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        word = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(rng.choice((1, 2, 2, 3)))
        )
        if len(word) >= 3 and word not in seen:
            seen.add(word)
            out.append(word)
    return out


def _malformed_line(rng: random.Random, word: str) -> str:
    kind = rng.randrange(3)
    if kind == 0:  # fewer than 4 tab fields (P9)
        return f"{word}\t{word}/NN/nsubj/0\t{rng.randint(1, 99)}"
    if kind == 1:  # non-numeric total count
        return f"{word}\t{word}/NN/nsubj/0 {word}s/NN/dobj/1\tx{rng.randint(1, 9)}\t2000,1"
    # quad with a wrong number of '/' parts (P10): that token is dropped
    return f"{word}\t{word}/NN/0 {word}ed/VB/dobj/1\t{rng.randint(1, 99)}\t2000,1"


def generate(spec: Spec, seed: int, outdir: str) -> dict:
    """Write ``corpus.txt`` and ``gold.txt`` under ``outdir``; return
    their paths and input properties."""
    rng = random.Random(seed)
    roots = _roots(rng, ROOTS)
    # cluster k owns roots k, k + clusters, k + 2*clusters, ... so every
    # cluster holds frequent and rare roots alike
    members = [roots[k::CLUSTERS] for k in range(CLUSTERS)]
    root_cum = _zipf_cum(len(roots), ZIPF_S)
    cluster_cum = _zipf_cum(CLUSTERS, 0.6)
    member_cum = _zipf_cum(max(len(m) for m in members), ZIPF_S)

    def pick(cum: list[float], pool):
        i = bisect.bisect(cum, rng.random() * cum[len(pool) - 1])
        return pool[min(i, len(pool) - 1)]

    dep_cum = _zipf_cum(len(_DEPS), 1.0)

    def inflect(root: str) -> str:
        return root + rng.choice(_SUFFIX_LIST)

    corpus_path = os.path.join(outdir, "corpus.txt")
    tokens_total = 0
    distinct_tokens: set[str] = set()
    with open(corpus_path, "w", encoding="ascii", newline="\n") as f:
        for _ in range(spec.lines):
            if rng.random() < 0.01:
                f.write(_malformed_line(rng, inflect(pick(root_cum, roots))) + "\n")
                continue
            cluster = members[pick(cluster_cum, range(CLUSTERS))]
            n = rng.randint(2, 5)
            toks = []
            for j in range(n):
                suffix = rng.choice(_SUFFIX_LIST)
                if j == 0 or rng.random() < SIGNAL:
                    word = pick(member_cum, cluster) + suffix
                else:
                    word = pick(root_cum, roots) + suffix
                # token 1 is the root (head 0); the rest point at the
                # root or an earlier token; 2% point out of range
                if j == 0:
                    head = 0
                elif rng.random() < 0.02:
                    head = n + 1
                else:
                    head = 1 if rng.random() < 0.7 else rng.randint(1, j)
                dep = "ROOT" if j == 0 else pick(dep_cum, _DEPS)
                toks.append(f"{word}/{_SUFFIXES[suffix]}/{dep}/{head}")
            tokens_total += n
            distinct_tokens.update(toks)
            count = int(rng.paretovariate(1.2)) + rng.randint(0, 9)
            years = "\t".join(
                f"{y},{max(1, count // 3)}" for y in rng.sample(range(1950, 2009), rng.randint(1, 3))
            )
            f.write(f"{toks[0].split('/')[0]}\t{' '.join(toks)}\t{count}\t{years}\n")

    # Gold words: the frequent half of each cluster, so most pairs meet
    # the corpus.  One surface form per root keeps stems distinct.
    gold_roots = [m[: max(2, len(m) // 2)] for m in members]
    n_related = round(spec.gold_pairs * RELATED_SHARE)
    pairs: set[tuple[str, str]] = set()
    gold_lines: list[tuple[str, str, bool]] = []
    while len(gold_lines) < spec.gold_pairs:
        related = len(gold_lines) < n_related
        c1 = pick(cluster_cum, range(CLUSTERS))
        c2 = c1 if related else pick(cluster_cum, range(CLUSTERS))
        if not related and c2 == c1:
            continue
        w1, w2 = rng.choice(gold_roots[c1]), rng.choice(gold_roots[c2])
        if w1 == w2 or (w1, w2) in pairs or (w2, w1) in pairs:
            continue
        pairs.add((w1, w2))
        gold_lines.append((w1, w2, related))
    rng.shuffle(gold_lines)
    gold_path = os.path.join(outdir, "gold.txt")
    with open(gold_path, "w", encoding="ascii", newline="\n") as f:
        for i, (w1, w2, related) in enumerate(gold_lines):
            sep = "  " if i % 50 == 0 else "\t"  # FIXTURES.md A2 double spaces
            f.write(f"{w1}{sep}{w2}{sep}{related}\n")
        f.write("malformed line\n")  # != 3 tokens: dropped

    return {
        "corpus": corpus_path,
        "gold": gold_path,
        "words": sorted({t.split("/", 1)[0] for t in distinct_tokens}),
        "properties": {
            "lines": spec.lines,
            "bytes": os.path.getsize(corpus_path),
            "distinct_token_share": len(distinct_tokens) / max(1, tokens_total),
            "distinct_words": len({t.split("/", 1)[0] for t in distinct_tokens}),
            "gold_pairs": len(gold_lines),
            "related_share": n_related / len(gold_lines),
        },
    }
