"""End-to-end: int tokens -> packed fixed-length training sequences
(emit_chunks tokens_col) -> span corruption -> lossless reconstruction.
This is the pipeline's actual product: (inputs, targets) pairs over
packed sequences, with every intermediate pinned against a pure-Python
re-derivation.
"""

from __future__ import annotations

import hashlib

from tests.conftest import SF_SMALL
from tests.test_corrupt import py_reconstruct
from tokforge.pipeline.corrupt import span_corrupt
from tokforge.pipeline.pack import emit_chunks
from tokforge.sources.requests import requests_df

L = 128


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_pack_tokens_then_corrupt_roundtrip(spark):
    req = requests_df(spark, SF_SMALL, "packc").select("doc_id", "source", "tokens")
    chunks = emit_chunks(
        req, L, stratum_col="source", id_col="doc_id", tokens_col="tokens"
    )
    rows = chunks.collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(
            (r["chunk_id"], list(r["tokens"]), r["n_fill"])
        )

    docs = req.collect()
    per_src_docs: dict[str, list] = {}
    for r in docs:
        per_src_docs.setdefault(r["source"], []).append(
            (_md5(r["doc_id"]), r["doc_id"], list(r["tokens"]))
        )

    for src, chs in by_src.items():
        chs.sort()
        # gap-free tiling: contiguous ids from 0, all full but the last
        assert [c[0] for c in chs] == list(range(len(chs)))
        assert all(c[2] == L for c in chs[:-1])
        assert all(len(c[1]) == c[2] for c in chs)
        # content equals the md5-ordered concatenation of the source's docs
        want = [
            t
            for _, _, toks in sorted(per_src_docs[src])
            for t in toks
        ]
        got = [t for _, toks, _ in chs for t in toks]
        assert got == want

    # corrupt the packed sequences (numeric id: source index * 1e9 + chunk)
    flat = [
        (str(int(src[3:]) * 10**9 + cid), toks)
        for src, chs in by_src.items()
        for cid, toks, _ in chs
    ]
    cdf = spark.createDataFrame(flat, "doc_id string, tokens array<int>")
    out = {
        r["doc_id"]: (list(r["inputs"]), list(r["targets"]), r["n_masked"])
        for r in span_corrupt(cdf, block=16, millis=300, seed=3).collect()
    }
    originals = dict(flat)
    assert set(out) == set(originals)
    masked_somewhere = False
    for cid, (inputs, targets, nm) in out.items():
        assert py_reconstruct(inputs, targets) == originals[cid]
        masked_somewhere = masked_somewhere or nm > 0
    assert masked_somewhere