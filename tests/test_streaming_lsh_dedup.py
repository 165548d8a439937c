"""Streaming NEAR-dup at ingest (tokforge/streaming/lsh_dedup.py): a
paraphrase — one token changed, so a different md5 — passes the exact
stage but collides in a MinHash band and is flagged against the original;
state honors the event-time horizon; streaming signatures are the batch
signatures byte-for-byte.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from tokforge.pipeline.dedup import FEATURE_SPACE, signatures_arrow
from tokforge.sources.requests import requests_df
from tokforge.streaming.dedup import dedup_stream
from tokforge.streaming.job import read_sink
from tokforge.streaming.lsh_dedup import (
    lsh_dedup_stream,
    signatures_with_ts,
)

CHAIN = "resize:fit:32/quality:80/format:int16"


def _originals(spark, limit=8):
    """Docs with >= 32 tokens (>= 30 shingles): a one-token paraphrase of a
    6-token doc changes 25% of its shingles and legitimately does NOT band-
    collide — near-dup semantics need documents long enough that one edit
    is a small fraction of the shingle set (verified: every >= 32-token
    paraphrase here collides in 2/2 bands with sig-equality 1.0, and no
    two distinct originals share any band)."""
    return requests_df(spark, SF_SMALL, CHAIN).filter(F.size("tokens") >= 32).limit(limit)


def _paraphrases(feed):
    """One token swapped at position 0 + a new doc_id: different md5
    (exact dedup passes it), nearly all shingles shared (LSH catches it)."""
    return feed.withColumn(
        "tokens",
        F.concat(
            F.array((F.element_at("tokens", 1) + 7) % 251),
            F.slice("tokens", 2, F.size("tokens") - 1),
        ).cast("array<int>"),
    ).withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("-para")))


def _write_drop(df, path, i, shift_s):
    df.withColumn(
        "ts", (F.unix_timestamp("ts") + shift_s).cast("timestamp")
    ).coalesce(1).write.mode("append").parquet(f"{path}/drop={i}")


def test_paraphrase_passes_exact_but_flagged_by_lsh(spark, tmp_path):
    feed = _originals(spark)
    n = feed.count()
    para = _paraphrases(feed)
    pairs = {
        r["doc_id"] + "-para": r["doc_id"] for r in feed.select("doc_id").collect()
    }

    exact_in = str(tmp_path / "ein")
    _write_drop(feed, exact_in, 0, 0)
    _write_drop(para, exact_in, 1, 600)
    query, _ = dedup_stream(
        spark,
        exact_in,
        str(tmp_path / "eout"),
        str(tmp_path / "eckpt"),
        watermark="2 hours",
        max_files_per_trigger=1,
    )
    query.awaitTermination(120)
    exact_out = read_sink(spark, str(tmp_path / "eout"))
    assert exact_out.count() == 2 * n, "exact dedup admits every paraphrase"

    lsh_in = str(tmp_path / "lin")
    _write_drop(feed, lsh_in, 0, 0)
    _write_drop(para, lsh_in, 1, 600)
    query, _ = lsh_dedup_stream(
        spark,
        lsh_in,
        str(tmp_path / "lout"),
        str(tmp_path / "lckpt"),
        max_files_per_trigger=1,
    )
    query.awaitTermination(180)
    verdicts = {
        r["doc_id"]: r
        for r in read_sink(spark, str(tmp_path / "lout")).collect()
    }
    assert len(verdicts) == 2 * n
    for doc, row in verdicts.items():
        if doc.endswith("-para"):
            assert row["near_dup"], doc
            assert row["matched_doc"] == pairs[doc], doc
            assert row["est_jaccard"] >= 0.5
        else:
            assert not row["near_dup"], doc
            assert row["matched_doc"] is None


def test_near_dup_readmitted_past_horizon(spark, tmp_path):
    """Entries evict once the bucket's max event time passes ts + horizon:
    a paraphrase arriving 4 h after the original under a 10 min horizon is
    NOT flagged (cross-horizon near-dedup belongs to the batch layer)."""
    feed = _originals(spark, limit=4)
    para = _paraphrases(feed)
    in_dir = str(tmp_path / "in")
    _write_drop(feed, in_dir, 0, 0)
    _write_drop(para, in_dir, 1, 14400)

    query, _ = lsh_dedup_stream(
        spark,
        in_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        horizon_ms=10 * 60 * 1000,
        max_files_per_trigger=1,
    )
    query.awaitTermination(180)
    rows = read_sink(spark, str(tmp_path / "out")).collect()
    assert len(rows) == 2 * 4
    assert all(not r["near_dup"] for r in rows), [
        (r["doc_id"], r["matched_doc"]) for r in rows if r["near_dup"]
    ]


def test_verdicts_bucket_count_invariant(spark, tmp_path):
    """One multi-drop LSH stream drained at two bucket counts: the sinks
    are identical row for row.  A band key hashes to one bucket at any
    count, and with drops arriving in event-time order, eviction by a
    bucket's max event time never removes an entry a later row could
    still match."""
    feed = _originals(spark)
    para = _paraphrases(feed)
    in_dir = str(tmp_path / "in")
    _write_drop(feed, in_dir, 0, 0)
    _write_drop(para, in_dir, 1, 120)
    _write_drop(_paraphrases(para), in_dir, 2, 300)
    _write_drop(feed, in_dir, 3, 420)  # the originals re-filed, same doc ids

    outs = []
    for buckets in (1, 64):
        out = str(tmp_path / f"out{buckets}")
        query, _ = lsh_dedup_stream(
            spark,
            in_dir,
            out,
            str(tmp_path / f"ckpt{buckets}"),
            buckets=buckets,
            max_files_per_trigger=1,
        )
        query.awaitTermination(180)
        outs.append(
            sorted(
                tuple(r)
                for r in read_sink(spark, out)
                .select("doc_id", "ts", "matched_doc", "est_jaccard", "near_dup")
                .collect()
            )
        )
    assert outs[0] == outs[1]
    assert len(outs[0]) == 4 * feed.count()
    assert sum(r[4] for r in outs[0]) >= 3 * feed.count()


def test_gated_row_matches_duckdb_oracle(spark):
    """The driver-gated face (streaming/queries.q_stream_lsh_dedup) equals
    its DuckDB oracle row-for-row at sf0.001: the whole stream — Arrow
    signatures, band-bucket keyed state, per-doc verdicts, exactly-once
    sink — replayed as one SQL window over the (ts, doc_id) arrival order."""
    import duckdb

    from tokforge.streaming.queries import (
        SQL_STREAM_LSH_DEDUP,
        q_stream_lsh_dedup,
    )

    got = sorted(
        tuple(r) for r in q_stream_lsh_dedup(spark, SF_SMALL).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(SQL_STREAM_LSH_DEDUP).fetchall())
    assert len(got) == len(want) and got
    assert got == want
    flagged = [r for r in got if r[4]]
    assert flagged, "fixture must produce near-dup verdicts"


def test_streaming_signatures_equal_batch(spark):
    """signatures_with_ts IS signatures_arrow with a passthrough column:
    identical (doc_id -> sig) on the same rows."""
    feed = _originals(spark, limit=6)
    stream_sig = {
        r["doc_id"]: r["sig"] for r in signatures_with_ts(feed).collect()
    }
    batch_sig = {
        r["doc_id"]: r["sig"]
        for r in signatures_arrow(feed, FEATURE_SPACE).collect()
    }
    assert stream_sig == batch_sig and len(stream_sig) == 6
