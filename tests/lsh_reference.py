"""Reference lifecycle for the streaming LSH index: the per-row dict
version that ``lsh_dedup.make_lsh_state_func`` replaced.  Its index is a
Python dict of band key -> [[doc_id, sig, ts_ms], ...] rebuilt from
nested-list state on every invocation, and it walks the rows one at a
time, which is slow but obviously right; the production lifecycle over
the flat entry table must produce the same rows and retain the same
entries (tests/test_lsh_reference.py).  State is ``(bkeys, doc_ids,
sigs, ts_ms)`` as parallel Python lists.  Test-only: never imported by
tokforge."""

from __future__ import annotations

import numpy as np
import pandas as pd


def reference_lsh_state_func(threshold: float, horizon_ms: int):
    def lsh_fn(key, pdf_iter, state):
        chunks = list(pdf_iter)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        m = len(rows)
        doc_ids = rows["doc_id"].to_numpy(dtype=object)
        ts_vals = rows["ts"].to_numpy()
        sigs = rows["sig"].to_numpy(dtype=object)
        bidx = rows["band_idx"].to_numpy()
        bval = rows["band_val"].to_numpy(dtype=object)
        ts_ms = ts_vals.astype("datetime64[ms]").astype(np.int64)

        entries: dict[str, list] = {}  # bkey -> [[doc_id, sig(list), ts_ms], ...]
        max_ts = 0
        if state.exists:
            bkeys, s_docs, s_sigs, s_ts = state.get
            for bk, d, sg, t in zip(bkeys, s_docs, s_sigs, s_ts):
                entries.setdefault(bk, []).append([d, sg, t])
                max_ts = max(max_ts, t)

        matched = np.full(m, None, dtype=object)
        est = np.zeros(m, dtype=np.float64)
        # first-seen-wins in event-time order (ties by doc_id)
        for i in np.lexsort((doc_ids, ts_vals)):
            if sigs[i] is None or pd.isna(bval[i]):
                continue  # unshingleable doc: pass through, never indexed
            bk = f"{int(bidx[i])}:{int(bval[i])}"
            sig_i = np.asarray(sigs[i], dtype=np.int64)
            best = None
            for d, sg, _t in entries.get(bk, ()):
                if d == doc_ids[i]:
                    continue
                # an entry filed more than one horizon before THIS row's
                # event time is dead for it, swept or not
                if int(ts_ms[i]) - _t > horizon_ms:
                    continue
                frac = float(np.mean(sig_i == np.asarray(sg, dtype=np.int64)))
                if frac >= threshold and (
                    best is None or frac > best[1] or (frac == best[1] and d < best[0])
                ):
                    best = (d, frac)
            if best is not None:
                matched[i] = best[0]
                est[i] = best[1]
            entries.setdefault(bk, []).append(
                [doc_ids[i], [int(x) for x in sigs[i]], int(ts_ms[i])]
            )
            max_ts = max(max_ts, int(ts_ms[i]))

        floor = max_ts - horizon_ms
        entries = {bk: [e for e in es if e[2] >= floor] for bk, es in entries.items()}
        entries = {bk: es for bk, es in entries.items() if es}

        if entries:
            flat = [(bk, *e) for bk, es in entries.items() for e in es]
            state.update(tuple([f[c] for f in flat] for c in range(4)))
        elif state.exists:
            state.remove()

        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "ts": ts_vals,
                "band_idx": bidx,
                "matched_doc": matched,
                "est_jaccard": est,
            }
        )

    return lsh_fn
