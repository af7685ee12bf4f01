"""Seeded benchmark inputs.

Everything the program reads is generated here from the run's seed, so the
same seed gives byte-identical files and different seeds give different
ones. Two input sets:

- a PPDB pack: ``generate_lines(n, seed)`` from the package's own
  generator, written as gzip shards with a zero header mtime (so the bytes
  depend on the seed alone);
- a corpus directory holding ``documents.parquet`` with the fixture
  ``documents`` schema. ``doc_id`` is dense (``0..n-1``):
  ``pipeline_incremental_ingest_report`` splits base and delta by
  ``doc_id >= n - 100``. Its shape (vocabulary, lengths, languages and
  the share and kind of near-duplicates) is the one measured on the
  fixture ``documents`` tables, because the number of candidate pairs the
  near-dup kernels see depends on how much documents share.

Each set is built once per seed into the work directory and reused.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ppdb_parser_spark.sources.ppdb_pack import generate_lines

#: Input sizes, chosen so one pass of either workload takes a few seconds
#: on local[4] and a whole run stays near a minute. The corpus has the
#: size of the 500-document fixture ``documents`` table the tests check
#: queries on.
PACK_LINES = 40_000
PACK_SHARDS = 8
N_DOCS = 500
#: ``pipeline_incremental_ingest_report`` treats the last 100 documents as
#: the new batch.
DELTA_DOCS = 100
#: Bumped whenever a generator changes, so stale cached inputs are never read.
GEN_VERSION = 8

# The corpus copies the shape of the fixture ``documents`` tables, as
# ``perfbench/profile_corpus.py`` measures it on the 500- and 5 000-row
# tables:
# - words drawn uniformly from one 30-word vocabulary (top word 3.4-3.5 %
#   of tokens, against 3.3 % for uniform; log-log rank slope 0.16-0.18),
#   plus the marker ``dup`` that near-copies carry;
# - lengths uniform over 10..100 tokens (quartiles 32, 54-56, 76);
# - 4.8-4.9 % of documents have an earlier document with word-bigram
#   Jaccard >= 0.5 (median 0.98). Such a copy has ``dup`` appended
#   (44-51 %), its last token dropped (46-56 %), or is exact (0-3 %);
# - copies get denser towards the end, as the later document of a random
#   pair: 9 of the last 100 documents of the 500-row table are copies;
# - languages en 41-44 %, zh, es, de and fr 13-15 % each; ``source`` is
#   ``src0..src19`` in turn; ``n_chars`` is the text length.
NEAR_DUP_SHARE = 0.048
EXACT_SHARE = 0.03
DUP_MARKER = "dup"
MIN_TOKENS, MAX_TOKENS = 10, 100

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


@dataclass(frozen=True)
class Inputs:
    pack_dir: str  # gzip shards, one ``part-NNNN.txt.gz`` per shard
    corpus_dir: str  # ``documents.parquet``
    pack_bytes: int  # compressed bytes of all shards
    fingerprint: str  # sha256 over every input file's bytes
    gen_s: float  # wall seconds the generation took when it ran


def _write_pack(d: str, seed: int) -> None:
    lines = generate_lines(PACK_LINES, seed)
    for s in range(PACK_SHARDS):
        body = ("\n".join(lines[s::PACK_SHARDS]) + "\n").encode("utf-8")
        path = os.path.join(d, f"part-{s:04d}.txt.gz")
        with open(path, "wb") as raw, gzip.GzipFile(
            fileobj=raw, mode="wb", mtime=0, filename=""
        ) as gz:
            gz.write(body)


def _planted(rng: random.Random, n: int) -> dict[int, int]:
    """Copy -> original, for ``round(NEAR_DUP_SHARE * n)`` copies. A copy
    is the later document of a random pair, so copies get denser towards
    the end; how many land in the last ``DELTA_DOCS`` documents is fixed at
    its expected value, so the new batch the ingest report sees has the
    same shape for every seed. Each copy has an original (never another
    copy) drawn from the documents before it."""
    k = round(NEAR_DUP_SHARE * n)
    base_end = n - DELTA_DOCS
    k_delta = round(k * (1 - (base_end / n) ** 2))

    def draw(lo: int, hi: int, count: int) -> set[int]:
        # positions with density growing linearly over [lo, hi)
        out: set[int] = set()
        while len(out) < count:
            j = int(n * (rng.uniform((lo / n) ** 2, (hi / n) ** 2)) ** 0.5)
            if lo <= j < hi:
                out.add(j)
        return out

    rows = draw(1, base_end, k - k_delta) | draw(base_end, n, k_delta)
    originals = [i for i in range(n) if i not in rows]
    return {j: rng.choice([i for i in originals if i < j]) for j in sorted(rows)}


def documents(seed: int, n: int = N_DOCS) -> pa.Table:
    rng = random.Random(seed * 1_000_003 + 1)
    copies = _planted(rng, n)
    # fixed edit counts: the exact copies sit in the new batch, so the
    # report's exact-dedup leg has work for every seed; the other copies
    # are split evenly between an appended marker and a dropped last token
    delta = [j for j in sorted(copies) if j >= n - DELTA_DOCS]
    exact = set(rng.sample(delta, round(EXACT_SHARE * len(copies))))
    edited = [j for j in sorted(copies) if j not in exact]
    append = set(rng.sample(edited, len(edited) // 2))
    # one fixed set of lengths, shuffled: the corpus size barely moves with
    # the seed
    lengths = [MIN_TOKENS + (i * (MAX_TOKENS - MIN_TOKENS + 1)) // n for i in range(n)]
    rng.shuffle(lengths)
    texts: list[str] = []
    for i in range(n):
        if i in copies:
            toks = texts[copies[i]].split()
            if i in append or (i not in exact and len(toks) <= MIN_TOKENS):
                toks.append(DUP_MARKER)
            elif i not in exact:
                toks.pop()
        else:
            toks = [rng.choice(WORDS) for _ in range(lengths[i])]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _write_corpus(d: str, seed: int) -> None:
    pq.write_table(documents(seed), os.path.join(d, "documents.parquet"))


def _fingerprint(*dirs: str) -> str:
    h = hashlib.sha256()
    for d in dirs:
        for fn in sorted(os.listdir(d)):
            if fn.endswith((".gz", ".parquet")):
                h.update(fn.encode())
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(work_dir: str, seed: int) -> Inputs:
    """Generate (or reuse) both input sets for ``seed`` under ``work_dir``."""
    root = os.path.join(work_dir, "inputs", f"v{GEN_VERSION}_seed{seed}")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{root}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        pack, corpus = os.path.join(tmp, "pack"), os.path.join(tmp, "corpus")
        os.makedirs(pack)
        os.makedirs(corpus)
        t0 = time.perf_counter()
        _write_pack(pack, seed)
        _write_corpus(corpus, seed)
        gen_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"gen_s": gen_s, "fingerprint": _fingerprint(pack, corpus)}, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(meta_path) as f:
        meta = json.load(f)
    pack = os.path.join(root, "pack")
    return Inputs(
        pack_dir=pack,
        corpus_dir=os.path.join(root, "corpus"),
        pack_bytes=sum(
            os.path.getsize(os.path.join(pack, f)) for f in os.listdir(pack)
        ),
        fingerprint=meta["fingerprint"],
        gen_s=meta["gen_s"],
    )
