"""Seeded input tables for the benchmark workloads.

Every table is a flat ``documents`` parquet directory with the shape of the
sf0.1 ``documents`` table the library's sources read (doc_id, text, lang,
source, n_chars). ``doc_id`` runs 0..n-1, which is what the closed-form plant
table in ``sources/synth.py`` keys on. Texts use the sf0.1 word list and are
8 to 100 words long, like the sf0.1 texts. The same seed always gives
byte-identical texts and the same doc-to-text assignment.

Normal texts follow a seeded first-order Markov chain over that word list
(each word has 4 preferred successors that take 90% of the mass), so a
bigram LM trained on the corpus scores them at perplexity ~5-10. Two kinds
of planted text make the curation stages do real work:

* ``GARBAGE_EVERY``: one base text in ten is uniformly random words (the raw
  sf0.1 shape), perplexity ~50-100. The fixed cap ``PERPLEXITY_CAP`` sits
  between the two, so the LM gate drops a nonzero share on every seed.
* ``NEAR_DUP_EVERY``: one base text in ten repeats an earlier normal text of
  at least 30 words with one word appended (word 3-shingle Jaccard about
  0.96 or more), so the near-dup stage has pairs to find. ``build`` records
  these pairs for the output checks.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the sf0.1 documents vocabulary
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
GARBAGE_EVERY = 10
NEAR_DUP_EVERY = 10
PERPLEXITY_CAP = 30.0
# sf0.1 has 5000 documents; no workload asks for more distinct texts
SF01_DOCS = 5000
N_FILES = 8

# workload -> (distinct texts, copies per text); docs = product
SIZES = {
    "validate": (SF01_DOCS, 20),
    "curate-dup400": (50, 400),
    "curate-dup3": (2500, 3),
}
SMOKE_SIZES = {
    "validate": (SF01_DOCS, 1),
    "curate-dup400": (20, 400),
    "curate-dup3": (300, 3),
}


def base_texts(seed: int, n: int) -> tuple[list[str], list[tuple[int, int]]]:
    """``n`` pairwise-distinct texts (normal, garbage and near-dup plants) and
    the planted near-dup pairs as (source text, plant text) indices."""
    r = random.Random(f"perfbench-texts:{seed}")
    succ = {w: r.sample(WORDS, 4) for w in WORDS}

    def markov(n_words: int) -> list[str]:
        words = [r.choice(WORDS)]
        while len(words) < n_words:
            prev = words[-1]
            words.append(r.choice(succ[prev]) if r.random() < 0.9 else r.choice(WORDS))
        return words

    out: list[str] = []
    plants: list[tuple[int, int]] = []
    seen: set[str] = set()
    long_normal: list[int] = []
    while len(out) < n:
        k = len(out)
        source = None
        if k % GARBAGE_EVERY == GARBAGE_EVERY - 1:
            t = " ".join(r.choice(WORDS) for _ in range(r.randint(8, 100)))
        elif k % NEAR_DUP_EVERY == NEAR_DUP_EVERY // 2 and long_normal:
            source = r.choice(long_normal)
            t = out[source] + " " + r.choice(WORDS)
        else:
            words = markov(r.randint(8, 100))
            t = " ".join(words)
            if len(words) >= 30:
                long_normal.append(k)
        if t not in seen:
            seen.add(t)
            if source is not None:
                plants.append((source, k))
            out.append(t)
    return out, plants


def build(workload: str, seed: int, out_dir: str, smoke: bool = False) -> dict:
    """Write ``<out_dir>/documents.parquet`` (a directory of N_FILES parts),
    ``<out_dir>/groups.npy`` (doc_id -> distinct-text index) and
    ``<out_dir>/texts.json`` (the distinct texts and the planted near-dup
    pairs), which the output checks read. Returns the input description
    recorded with every result."""
    n_distinct, copies = (SMOKE_SIZES if smoke else SIZES)[workload]
    assert n_distinct <= SF01_DOCS
    texts, plants = base_texts(seed, n_distinct)
    n = n_distinct * copies
    if workload == "validate":
        # sf0.1 x copies, laid out like a replicated table: doc i has text i % B
        groups = np.arange(n, dtype=np.int64) % n_distinct
    else:
        # every text exactly `copies` times, at seeded positions
        rng = np.random.default_rng(seed)
        groups = (rng.permutation(n) % n_distinct).astype(np.int64)
    text = pa.array(texts, pa.string()).take(pa.array(groups))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pc.utf8_length(text).cast(pa.int64()),
        }
    )
    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir, exist_ok=True)
    per = -(-n // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * per, per), os.path.join(docs_dir, f"part-{k:03d}.parquet"))
    np.save(os.path.join(out_dir, "groups.npy"), groups)
    with open(os.path.join(out_dir, "texts.json"), "w") as f:
        json.dump({"texts": texts, "plants": plants}, f)
    parquet_bytes = sum(
        os.path.getsize(os.path.join(docs_dir, f)) for f in os.listdir(docs_dir)
    )
    return {
        "docs": n,
        "distinct_texts": n_distinct,
        "copies_per_text": copies,
        "parquet_bytes": parquet_bytes,
        "files": N_FILES,
        "garbage_texts": n_distinct // GARBAGE_EVERY,
        "near_dup_plants": len(plants),
    }
