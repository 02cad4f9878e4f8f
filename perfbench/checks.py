"""Output checks that do not use the library under test.

Each check reads the job's parquet output with pyarrow and compares it with
an expectation derived from the generated input alone. A check returns a list
of error strings; an empty list means the output is correct.
"""

from __future__ import annotations

import math
import statistics
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

# sources/synth.py docstring: one plant class per doc_id % 101 residue.
# rule_id -> (residue, violation rows per planted doc). Plant 9 copies row
# i-2's doc_id, and the uniqueness check emits one row per row sharing it.
PLANTS = {
    "NUMBER_TOO_SMALL": (1, 1),
    "ENUM_MISMATCH": (2, 1),
    "PATTERN_MISMATCH": (3, 1),
    "ARRAY_TOO_SHORT": (4, 1),
    "ARRAY_ITEMS_NOT_UNIQUE": (5, 1),
    "ANY_OF_NO_MATCH": (6, 1),
    "STRING_TOO_SHORT": (7, 1),
    "REQUIRED_PROPERTY_MISSING": (8, 1),
    "UNIQUENESS_VIOLATION": (9, 2),
    "REFERENTIAL_VIOLATION": (10, 1),
}
CROSS_ROW = ("UNIQUENESS_VIOLATION", "REFERENTIAL_VIOLATION")

QUALITY_REASONS = (
    "too_short",
    "too_long",
    "lang_mismatch",
    "low_quality",
    "repetitive",
    "high_perplexity",
    "pii",
)
REASONS = QUALITY_REASONS + ("exact_duplicate", "near_duplicate", "kept")
# minhash_lsh_pairs' defaults, as curate_documents calls it
SHINGLE_K = 3
NEAR_DUP_THRESHOLD = 0.7


def expected_rule_counts(n_docs: int) -> dict[str, int]:
    """Closed-form violation rows per rule for doc_ids 0..n_docs-1."""

    def planted(residue: int) -> int:
        return (n_docs - residue + 100) // 101 if n_docs > residue else 0

    return {rule: planted(r) * per for rule, (r, per) in PLANTS.items()}


def _histogram(table, col: str) -> dict[str, int]:
    counts = pc.value_counts(table[col].combine_chunks())
    return {
        str(v["values"]): int(v["counts"]) for v in counts.to_pylist()
    }


def check_validation(out_dir: str, n_docs: int, expected: dict[str, int]) -> list[str]:
    """Per-rule violation counts against ``expected``; verdict docs sum to
    ``n_docs`` and verdict violations sum to the per-row violation rows."""
    errors = []
    row = pq.read_table(f"{out_dir}/violations", columns=["rule_id"])
    cross = pq.read_table(f"{out_dir}/violations_cross", columns=["rule_id"])
    got = _histogram(row, "rule_id")
    for rule, n in _histogram(cross, "rule_id").items():
        got[rule] = got.get(rule, 0) + n
    want = {rule: n for rule, n in expected.items() if n}
    if got != want:
        errors.append(f"violation rows per rule {got} != closed form {want}")
    verdicts = pq.read_table(f"{out_dir}/lineage", columns=["docs", "violations"])
    docs = int(pc.sum(verdicts["docs"]).as_py() or 0)
    if docs != n_docs:
        errors.append(f"verdict docs sum to {docs}, input has {n_docs} rows")
    per_row = sum(n for rule, n in expected.items() if rule not in CROSS_ROW)
    viols = int(pc.sum(verdicts["violations"]).as_py() or 0)
    if viols != per_row:
        errors.append(f"verdict violations sum to {viols}, closed form has {per_row}")
    return errors


class CurationPlan:
    """What the generated input implies for the curation verdicts, derived
    from the texts alone (``corpus.build``'s ``texts.json``).

    ``high_ppl[t]``: text ``t`` scores above the cap under the add-1 bigram
    LM trained on the whole corpus, recomputed here as ``operators/lm.py``
    defines it: P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V) with V the number
    of distinct tokens (at vocab_size 50k none is out of vocabulary), and
    perplexity = exp(-mean ln P) over the text's bigrams. Every copy of a
    text counts. Texts within 1e-6 of the cap (``ppl_exempt``) may go
    either way. No other quality reason can fire: every text has 8 to 101
    tokens, and the pipeline runs with no language, stopword, repetition or
    PII gate."""

    def __init__(self, texts: list[str], groups: np.ndarray, plants: list, cap: float):
        self.groups = groups
        self.plants = np.asarray(plants, dtype=np.int64).reshape(-1, 2)
        toks = [t.split() for t in texts]
        copies = np.bincount(groups, minlength=len(texts))
        uni: Counter = Counter()
        bi: Counter = Counter()
        for words, c in zip(toks, copies):
            for w in words:
                uni[w] += c
            for pair in zip(words, words[1:]):
                bi[pair] += c
        v = len(uni)
        ppl = np.array([
            math.exp(-statistics.fmean(
                math.log((bi[p] + 1) / (uni[p[0]] + v)) for p in zip(w, w[1:])
            ))
            for w in toks
        ])
        self.ppl = ppl
        self.high_ppl = ppl > cap
        self.ppl_exempt = np.abs(ppl - cap) <= 1e-6 * cap
        self.shingles = [
            frozenset(" ".join(w[i:i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1))
            for w in toks
        ]


def kept_texts(out_dir: str, groups: np.ndarray) -> list[int]:
    """The texts whose verdicts include a ``kept`` doc."""
    t = pq.read_table(f"{out_dir}/verdicts", columns=["doc_id", "keep"])
    ids = t["doc_id"].to_numpy()[t["keep"].to_numpy(zero_copy_only=False)]
    return sorted(set(groups[ids].tolist()))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_curation(out_dir: str, plan: CurationPlan) -> tuple[list[str], dict[str, int]]:
    """One verdict per input doc, and the verdicts ``plan`` implies
    (``plan.groups[doc_id]`` = distinct-text index):

    * ``high_perplexity`` falls on exactly the copies of the texts the
      independently recomputed LM puts above the cap, and no other quality
      reason appears;
    * of each surviving text, only the copy with the smallest doc_id is not
      ``exact_duplicate``;
    * ``near_duplicate`` falls only on such a minimal copy, and only when a
      surviving text with a smaller minimal doc_id has word 3-shingle
      Jaccard >= ``NEAR_DUP_THRESHOLD`` with it;
    * of the planted near-dup pairs whose two texts survive, the one with
      the larger minimal doc_id is ``near_duplicate``. MinHash-LSH may miss
      a pair now and then (16 hashes in 4 bands find a pair of Jaccard 0.93
      with probability 0.996), so max(1, 5%) misses pass.

    Returns (errors, reason histogram)."""
    errors = []
    t = pq.read_table(f"{out_dir}/verdicts", columns=["doc_id", "keep", "reason"])
    hist = _histogram(t, "reason")
    groups = plan.groups
    n = len(groups)
    ids = t["doc_id"].to_numpy()
    if t.num_rows != n or not np.array_equal(np.sort(ids), np.arange(n)):
        errors.append(f"{t.num_rows} verdict rows do not cover doc_ids 0..{n - 1} once")
        return errors, hist
    unknown = set(hist) - set(REASONS)
    if unknown:
        errors.append(f"unknown reasons {sorted(unknown)}")
        return errors, hist
    order = np.argsort(ids)
    code = {r: i for i, r in enumerate(REASONS)}
    reason = np.array([code[r] for r in t["reason"].to_pylist()])[order]
    keep = t["keep"].to_numpy(zero_copy_only=False)[order]
    if not np.array_equal(keep, reason == code["kept"]):
        errors.append("keep disagrees with reason == 'kept'")

    n_texts = len(plan.high_ppl)
    hp = reason == code["high_perplexity"]
    other_quality = (reason < len(QUALITY_REASONS)) & ~hp
    if other_quality.any():
        errors.append(f"{int(other_quality.sum())} docs got a quality reason no gate can give")
    hp_docs = np.bincount(groups, weights=hp, minlength=n_texts)
    copies = np.bincount(groups, minlength=n_texts)
    if np.any((hp_docs != 0) & (hp_docs != copies)):
        errors.append("copies of one text got different perplexity verdicts")
    dropped = hp_docs == copies
    wrong = (dropped != plan.high_ppl) & ~plan.ppl_exempt
    if wrong.any():
        t0 = int(np.flatnonzero(wrong)[0])
        errors.append(
            f"{int(wrong.sum())} texts got the wrong perplexity verdict, e.g. text {t0}"
            f" at perplexity {plan.ppl[t0]:.4f} was {'' if dropped[t0] else 'not '}dropped"
        )

    # minimal copy of each text; survivors are the texts the quality gate let through
    rep = np.full(n_texts, n, dtype=np.int64)
    np.minimum.at(rep, groups, np.arange(n))
    surviving = ~dropped & ~np.bincount(groups, weights=other_quality, minlength=n_texts).astype(bool)
    is_rep = np.zeros(n, dtype=bool)
    is_rep[rep[copies > 0]] = True
    in_dedup = surviving[groups]
    exact = reason == code["exact_duplicate"]
    if np.any(in_dedup & (exact == is_rep)) or np.any(exact & ~in_dedup):
        errors.append("exact_duplicate is not exactly the non-minimal copies of surviving texts")
    near = reason == code["near_duplicate"]
    if np.any(near & ~(is_rep & in_dedup)):
        errors.append("near_duplicate on a doc that is not a surviving text's minimal copy")

    partner = {int(b): int(a) for a, b in plan.plants}
    partner.update({int(a): int(b) for a, b in plan.plants})
    survivors = np.flatnonzero(surviving)
    for d in np.flatnonzero(near & is_rep):
        g = int(groups[d])
        p = partner.get(g)
        if p is not None and surviving[p] and rep[p] < d and (
            jaccard(plan.shingles[g], plan.shingles[p]) >= NEAR_DUP_THRESHOLD - 5e-7
        ):
            continue
        if not any(
            rep[s] < d and jaccard(plan.shingles[g], plan.shingles[s]) >= NEAR_DUP_THRESHOLD - 5e-7
            for s in survivors
        ):
            errors.append(f"near_duplicate doc {d} has no similar surviving text before it")
            break

    eligible = [(a, b) for a, b in plan.plants if surviving[a] and surviving[b]]
    missed = sum(1 for a, b in eligible if not near[max(rep[a], rep[b])])
    if missed > max(1, len(eligible) // 20):
        errors.append(f"{missed} of {len(eligible)} planted near-dup pairs not found")
    return errors, hist
