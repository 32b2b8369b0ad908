"""Property-based differential test of the whole pipeline: random tiny
corpora + random gold standards, engine vs the pure-Python oracle of
the reference's reducer mechanics (stream pairing, ZEROS fill, JS
accumulator-reset quirk).

Small integer counts make degenerate association values (t-test exactly
0.0) reachable, so the alignment's zero-handling edge cases actually
fire.
"""


from __future__ import annotations

import os

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from semantic_similarity_system_using_aws_mapreduce_spark.plans.pipeline import semantic_similarity_pipeline
from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS

from reference_oracle import assoc_measures, load_gold, pair_vectors, step1_counts

WORDS = ["aa", "bb", "cc", "dd", "ee", "ff"]
DEPS = ["d1", "d2"]
# gold-only spellings: "aas" stems to "aa" (w1 == w2 after stemming);
# "gg" and "hh" occur in no corpus (one side or both sides absent)
GOLD_WORDS = WORDS + ["aas", "gg", "hh"]


@st.composite
def corpus_lines(draw):
    n_lines = draw(st.integers(1, 12))
    lines = []
    for _ in range(n_lines):
        n = draw(st.integers(1, 3))
        toks = []
        for _ in range(n):
            w = draw(st.sampled_from(WORDS))
            head = draw(st.integers(0, n))
            toks.append(f"{w}/NN/{draw(st.sampled_from(DEPS))}/{head}")
        count = draw(st.integers(1, 4))
        lines.append(f"h\t{' '.join(toks)}\t{count}\t2000,{count}")
    return lines


@st.composite
def gold_lines(draw):
    """Gold pairs over corpus and absent words, each line optionally
    followed by the same pair reversed, the same pair with the other
    label, or a duplicate of itself."""
    n = draw(st.integers(1, 8))
    out = []
    for _ in range(n):
        w1 = draw(st.sampled_from(GOLD_WORDS))
        w2 = draw(st.sampled_from(GOLD_WORDS))
        label = draw(st.booleans())
        out.append(f"{w1}\t{w2}\t{label}")
        twin = draw(st.sampled_from(["none", "reversed", "relabelled", "duplicate"]))
        if twin == "reversed":
            out.append(f"{w2}\t{w1}\t{label}")
        elif twin == "relabelled":
            out.append(f"{w1}\t{w2}\t{not label}")
        elif twin == "duplicate":
            out.append(out[-1])
    return out


# every alignment edge case at once: a pair equal after stemming, a word
# absent on one side and on both sides, both orientations, both labels
# and a duplicate line
EDGE_CORPUS = [
    "h\taa/NN/d1/0 bb/NN/d2/1\t3\t2000,3",
    "h\tcc/NN/d1/0 aa/NN/d2/1 dd/NN/d1/2\t2\t2000,2",
    "h\tbb/NN/d2/0 dd/NN/d1/1\t1\t2000,1",
]
EDGE_GOLD = [
    "aa\taas\tTrue",
    "aa\tgg\tFalse",
    "gg\tcc\tTrue",
    "gg\thh\tTrue",
    "aa\tbb\tTrue",
    "bb\taa\tTrue",
    "cc\tdd\tTrue",
    "cc\tdd\tFalse",
    "cc\tdd\tTrue",
]


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus_lines(), gold_lines(), st.sampled_from(["parity", "standard"]))
@example(EDGE_CORPUS, EDGE_GOLD, "parity")
@example(EDGE_CORPUS, EDGE_GOLD, "standard")
def test_pipeline_agrees_with_reference_oracle(spark, tmp_path_factory, corpus, gold, mode):
    d = tmp_path_factory.mktemp("pv")
    cpath, gpath = d / "corpus.txt", d / "gold.txt"
    cpath.write_text("\n".join(corpus) + "\n")
    gpath.write_text("\n".join(gold) + "\n")

    counts, total = step1_counts(corpus)
    assoc = assoc_measures(counts, total, mode=mode)
    # js_reset_quirk=False: the engine deliberately treats an exact
    # (0,0) aligned pair as contributing 0 instead of resetting the JS
    # accumulator (documented gap, operators/similarity.py); the quirk
    # branch is compared separately below.
    expected = pair_vectors(assoc, load_gold(gpath), mode=mode, js_reset_quirk=False)
    quirk = pair_vectors(assoc, load_gold(gpath), mode=mode, js_reset_quirk=True)

    result = semantic_similarity_pipeline(spark, str(cpath), str(gpath), mode=mode)
    got = {
        (r.word1, r.word2, r.is_related): [r[c] for c in VECTOR_COLUMNS]
        for r in result.vectors.collect()
    }
    assert set(got) == set(expected)
    divergent_quirk_cases = 0
    for key, exp in expected.items():
        for i, (g, e) in enumerate(zip(got[key], exp)):
            assert math.isclose(g, e, rel_tol=1e-9, abs_tol=1e-12), (
                key, VECTOR_COLUMNS[i], g, e,
            )
        if any(
            not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
            for a, b in zip(exp, quirk[key])
        ):
            divergent_quirk_cases += 1
    # informational: quirk divergence requires an exact-zero t-test
    # value aligned against a zero fill with prior accumulation
    if divergent_quirk_cases:
        print(f"note: {divergent_quirk_cases} pairs diverge under the JS reset quirk")
