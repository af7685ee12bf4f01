"""Shape profile of a ``documents`` table: the figures the seeded corpus in
``perfbench/inputs.py`` is generated to match.

    python3 perfbench/profile_corpus.py <documents.parquet>

Prints one JSON object: the vocabulary and how skewed word use is, the
distribution of document lengths, the languages, and the near-duplicate
structure the dedup kernels see (documents whose word-bigram Jaccard with
an earlier document is at least 0.5, the edit that separates each such
pair, and how many of them fall in the last 100 documents, which the
incremental ingest report treats as the new batch). The pair search is
quadratic; a few thousand documents take a minute.
"""

from __future__ import annotations

import collections
import json
import math
import statistics
import sys

import pyarrow.parquet as pq

#: The near-duplicate threshold and the batch size of the dedup queries.
THRESHOLD = 0.5
DELTA_DOCS = 100


def _edit(a: list[str], b: list[str]) -> str:
    """How ``b`` was made from ``a``: copied exactly, tokens appended, or
    trailing tokens dropped; anything else is ``other``."""
    if a == b:
        return "exact"
    if b[: len(a)] == a:
        return "append"
    if a[: len(b)] == b:
        return "drop_tail"
    return "other"


def profile(texts: list[str], langs: list[str]) -> dict:
    n = len(texts)
    toks = [t.split(" ") for t in texts]
    lens = [len(t) for t in toks]
    words = collections.Counter(w for t in toks for w in t)
    freqs = sorted(words.values(), reverse=True)
    # least-squares slope of log(frequency) over log(rank): 0 is uniform,
    # 1 is Zipf's law
    xs = [math.log(r + 1) for r in range(len(freqs))]
    ys = [math.log(f) for f in freqs]
    mx, my = statistics.mean(xs), statistics.mean(ys)
    zipf_s = -sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)

    shingles = [set(zip(t, t[1:])) for t in toks]
    near_docs: set[int] = set()
    edits: collections.Counter = collections.Counter()
    jaccards: list[float] = []
    for j in range(n):
        for i in range(j):
            common = len(shingles[i] & shingles[j])
            jac = common / (len(shingles[i]) + len(shingles[j]) - common) if common else 0.0
            if jac >= THRESHOLD:
                near_docs.add(j)
                jaccards.append(jac)
                edits[_edit(toks[i], toks[j])] += 1
    pairs = sum(edits.values())
    return {
        "n_docs": n,
        "vocab": len(words),
        "top_word_share": freqs[0] / sum(freqs),
        "zipf_slope": zipf_s,
        "tokens_min": min(lens),
        "tokens_quartiles": statistics.quantiles(lens, n=4),
        "tokens_max": max(lens),
        "lang_share": {k: v / n for k, v in collections.Counter(langs).most_common()},
        "near_dup_share": len(near_docs) / n,
        "near_dup_pairs": pairs,
        "near_dup_in_last_batch": sum(j >= n - DELTA_DOCS for j in near_docs),
        "pair_jaccard_median": statistics.median(jaccards) if jaccards else 0.0,
        "edit_share": {k: v / pairs for k, v in edits.most_common()},
    }


def main(path: str) -> None:
    t = pq.read_table(path, columns=["text", "lang"]).to_pydict()
    print(json.dumps(profile(t["text"], t["lang"]), indent=1))


if __name__ == "__main__":
    main(sys.argv[1])
