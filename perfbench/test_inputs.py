"""Pins the seeded generator: the same seed gives the same bytes, another
seed gives other bytes, and ids stay dense with the fixture schema.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs as gen
from perfbench import profile_corpus


def _files(inp: gen.Inputs) -> dict[str, bytes]:
    out = {}
    for d in (inp.pack_dir, inp.corpus_dir):
        for fn in sorted(os.listdir(d)):
            with open(os.path.join(d, fn), "rb") as f:
                out[f"{os.path.basename(d)}/{fn}"] = f.read()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = gen.build(str(tmp_path / "a"), 3)
    b = gen.build(str(tmp_path / "b"), 3)
    assert _files(a) == _files(b)
    assert a.fingerprint == b.fingerprint


def test_different_seeds_differ(tmp_path):
    a, b = _files(gen.build(str(tmp_path), 3)), _files(gen.build(str(tmp_path), 4))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_dense_ids_and_fixture_schema(tmp_path):
    inp = gen.build(str(tmp_path), 5)
    docs = pq.read_table(os.path.join(inp.corpus_dir, "documents.parquet"))
    assert docs.schema.remove_metadata() == pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    assert docs.column("doc_id").to_pylist() == list(range(gen.N_DOCS))


def test_corpus_has_the_fixture_shape(tmp_path):
    """The generated corpus matches the figures measured on the fixture
    ``documents`` tables (see ``perfbench/inputs.py``)."""
    docs = pq.read_table(
        os.path.join(gen.build(str(tmp_path), 6).corpus_dir, "documents.parquet")
    ).to_pydict()
    p = profile_corpus.profile(docs["text"], docs["lang"])
    assert p["vocab"] == len(gen.WORDS) + 1
    assert p["zipf_slope"] < 0.3
    assert gen.MIN_TOKENS <= p["tokens_min"] and p["tokens_max"] <= gen.MAX_TOKENS + 1
    assert 30 <= p["tokens_quartiles"][0] and p["tokens_quartiles"][2] <= 80
    assert 0.04 <= p["near_dup_share"] <= 0.06
    assert p["near_dup_in_last_batch"] == 9
    assert p["pair_jaccard_median"] > 0.95
    assert set(p["edit_share"]) <= {"append", "drop_tail", "exact"}
    assert 0.3 <= p["lang_share"]["en"] <= 0.55
