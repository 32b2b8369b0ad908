"""Output check against the pure-Python reference oracle.

``expectations`` runs ``tests/reference_oracle.py`` (imported, never
modified) over the generated inputs once, before the session starts.
``check_flow`` compares one job flow's output directory with those
expectations: Step1 totals, the vectors of a fixed sample of gold pairs
within float tolerance, and the confusion-matrix total in
``report.txt``.  It reads the parquet outputs with pyarrow, so the
check adds no Spark jobs to the measured ones.
"""

from __future__ import annotations

import functools
import math
import re
import sys
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent

REL_TOL = 1e-6
ABS_TOL = 1e-9


@contextmanager
def _oracle():
    """The oracle module with its stemmer memoized for the duration: the
    oracle stems every token afresh, which is correct but slow."""
    sys.path.insert(0, str(ROOT / "tests"))
    try:
        import reference_oracle as ro
    finally:
        sys.path.remove(str(ROOT / "tests"))
    plain = ro.porter_stem
    ro.porter_stem = functools.lru_cache(maxsize=None)(plain)
    try:
        yield ro
    finally:
        ro.porter_stem = plain


def expectations(corpus: str, gold: str, sample: int = 64) -> dict:
    """Expected Step1 totals, the set of pair-vector keys, and the
    vectors of a fixed sample of those pairs (standard mode)."""
    with _oracle() as ro, open(corpus, encoding="ascii") as lines:
        counts, total = ro.step1_counts(lines)
        assoc = ro.assoc_measures(counts, total, mode="standard")
        pairs = ro.load_gold(gold)
        # Step4 emits a vector for every gold pair with a word among the
        # assoc lexemes; the oracle computes only the sampled ones
        lexemes = {lex for lex, _ in assoc}
        keys = sorted({_key(lex, e) for lex in lexemes for e in pairs.get(lex, ())})
        chosen = set(keys[:: max(1, len(keys) // sample)][:sample])
        sampled = {
            lex: {e for e in entries if _key(lex, e) in chosen} for lex, entries in pairs.items()
        }
        vectors = ro.pair_vectors(assoc, sampled, mode="standard", js_reset_quirk=False)
    return {
        "L": total,
        "lexemes": sum(1 for k in counts if k[0] == "l"),
        "features": sum(1 for k in counts if k[0] == "f"),
        "pairs": sum(1 for k in counts if k[0] == "lf"),
        "n_vectors": len(keys),
        "n_related": sum(1 for k in keys if k[2]),
        "sample": vectors,
    }


def _key(lex: str, entry: tuple) -> tuple:
    other, is_w1, rel = entry
    related = rel.lower() == "true"
    return (lex, other, related) if is_w1 else (other, lex, related)


def _close(got: float, want: float) -> bool:
    if math.isinf(want) or math.isinf(got):
        return got == want
    return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def check_vectors(table, expected: dict) -> list[str]:
    """Compare a pair-vectors relation (a pyarrow table) with the
    expected sample; returns one message per mismatch."""
    from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS

    errors = []
    if table.num_rows != expected["n_vectors"]:
        errors.append(f"pair_vectors rows {table.num_rows} != {expected['n_vectors']}")
    cols = table.select(["word1", "word2", "is_related", *VECTOR_COLUMNS]).to_pydict()
    index = {
        (w1, w2, rel): i
        for i, (w1, w2, rel) in enumerate(zip(cols["word1"], cols["word2"], cols["is_related"]))
    }
    for key, want in expected["sample"].items():
        i = index.get(key)
        if i is None:
            errors.append(f"pair {key} missing")
            continue
        for c, w in zip(VECTOR_COLUMNS, want):
            g = cols[c][i]
            if not _close(g, w):
                errors.append(f"pair {key} {c}: {g!r} != {w!r}")
    return errors


def check_report(path: Path, expected: dict) -> list[str]:
    text = path.read_text()
    cells = [int(v) for v in re.findall(r"\b(?:TP|FN|FP|TN)=(\d+)", text)]
    if len(cells) != 4:
        return [f"report.txt has {len(cells)} confusion-matrix cells"]
    if sum(cells) != expected["n_vectors"]:
        return [f"confusion-matrix total {sum(cells)} != {expected['n_vectors']}"]
    if cells[0] + cells[1] != expected["n_related"]:
        return [f"confusion-matrix related {cells[0] + cells[1]} != {expected['n_related']}"]
    return []


def check_flow(outdir: str, expected: dict) -> list[str]:
    """All checks of one job flow's output directory."""
    out = Path(outdir)
    errors = []
    pairs = pq.read_table(out / "pair_counts.parquet", columns=["lf_count"])
    if pairs.num_rows != expected["pairs"]:
        errors.append(f"pair_counts rows {pairs.num_rows} != {expected['pairs']}")
    total = sum(pairs.column("lf_count").to_pylist())
    if total != expected["L"]:
        errors.append(f"Step1 total {total} != {expected['L']}")
    for name, key in (("lexeme_counts", "lexemes"), ("feature_counts", "features")):
        rows = pq.read_table(out / f"{name}.parquet").num_rows
        if rows != expected[key]:
            errors.append(f"{name} rows {rows} != {expected[key]}")
    errors += check_vectors(pq.read_table(out / "pair_vectors.parquet"), expected)
    errors += check_report(out / "report.txt", expected)
    return errors
