"""Fast pre-round sanity (no kernel execution, ~1 min): everything that
must hold before the external harness runs, checked in one command.

  python tools/preflight.py

Checks:
1. registry shape — exactly 50 queries() entries; every entry has an
   oracle_sql() or is a documented rows-only exception
2. every oracle parses AND returns >= 1 row on sf0.01 DuckDB views
3. every gated BATCH query's Spark schema is scalar-only (no array /
   timestamp / struct / map cells — the harness canonicalizer cannot
   sort those); streaming queries are skipped (execute on build, known
   scalar schemas)
4. driver-collect audit — every `.collect()` call site in tokforge/ is
   in the audited-bounded allowlist below (round-7 verdict: an
   unbounded `orderBy().collect()` in a gated path is a scale-killer;
   new sites must be audited for a cap and added here)
5. worker setup reachable — a fresh interpreter that imports only
   tokforge.engine.transform (the module behind make_verify_udf, which
   imports no kernel module) has zipimport's invalidate_caches replaced
   by tokforge/worker_setup.py's wrapper, so every Spark Python worker
   that unpickles a tokforge function skips the per-task re-read of
   unchanged zip archives
Full value-equality lives in tools/check_correctness.py (~8 min).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EXPECTED_QUERIES = 50
# names allowed to lack an oracle (rows-only driver check); empty since
# r7 — every gated row is fully oracled (multimodal_features, the one
# historical member, rotated out in r7)
ROWS_ONLY_OK: set[str] = set()
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Audited driver-collect sites: path -> max allowed `.collect()` call
# sites.  Each is bounded: a `.limit(k)` prefix, a constant-size filter
# (centroids / query caps raising past a cap), or a k-row aggregate.
# A count above the cap means a NEW collect landed — audit it for
# boundedness before raising the number.
COLLECT_ALLOWLIST = {
    "pipeline/stats.py": 1,       # vocab_top(v): rank<=v bounded
    "pipeline/interleave.py": 2,  # limit(max_strata+1) x2, raise past cap
    "pipeline/bpe.py": 1,         # per-round limit(k)
    "pipeline/corpusops.py": 1,   # _greedy_disjoint_picks growing limit()
    "pipeline/similarity.py": 2,  # _collect_capped (every reference set:
                                  # knn queries, centroids, probes, trained
                                  # codebook; raises past KNN_QUERY_CAP) +
                                  # the one-row mean agg
}


def audit_collect_sites() -> list[str]:
    import re

    root = Path(__file__).resolve().parent.parent / "tokforge"
    problems: list[str] = []
    counts: dict[str, int] = {}
    for p in root.rglob("*.py"):
        n = len(re.findall(r"\.collect\(\)", p.read_text()))
        if n:
            counts[str(p.relative_to(root))] = n
    for rel, n in sorted(counts.items()):
        cap = COLLECT_ALLOWLIST.get(rel)
        if cap is None:
            problems.append(
                f"collect audit: {rel} has {n} .collect() site(s) but is "
                "not in the audited allowlist — verify boundedness"
            )
        elif n > cap:
            problems.append(
                f"collect audit: {rel} has {n} .collect() sites, "
                f"allowlist caps it at {cap} — audit the new site(s)"
            )
    return problems


def check_worker_setup() -> list[str]:
    import subprocess

    probe = (
        "import zipimport, tokforge.engine.transform; "
        "f = zipimport.zipimporter.invalidate_caches; "
        "print(f.__module__, f.__qualname__)"
    )
    root = Path(__file__).resolve().parent.parent
    p = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True, text=True
    )
    got = p.stdout.strip()
    if p.returncode or got != "tokforge.worker_setup _invalidate_if_changed":
        return [
            "worker setup: importing tokforge.engine.transform alone left "
            f"zipimporter.invalidate_caches as {got or p.stderr.strip()[-160:]!r}"
        ]
    return []


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    failures: list[str] = []

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()

    if len(qs) != EXPECTED_QUERIES:
        failures.append(f"queries() has {len(qs)} entries, expected {EXPECTED_QUERIES}")
    missing = set(qs) - set(oracles) - ROWS_ONLY_OK
    if missing:
        failures.append(f"queries without an oracle (and not rows-only): {sorted(missing)}")
    extra = set(oracles) - set(qs)
    if extra:
        failures.append(f"oracles without a query: {sorted(extra)}")

    failures.extend(audit_collect_sites())
    failures.extend(check_worker_setup())

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, sql in oracles.items():
        try:
            n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            if n < 1:
                failures.append(f"oracle {name}: 0 rows")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"oracle {name}: {str(exc)[:160]}")
    print(f"oracles: {len(oracles)} parsed and non-empty"
          + (f" ({len(failures)} problems)" if failures else ""))

    from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType

    from tokforge.engine.session import build_spark

    spark = build_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in qs.items():
        if name.startswith("stream_"):
            continue
        try:
            df = fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"query {name}: build error {str(exc)[:160]}")
            continue
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType, TimestampType)):
                failures.append(
                    f"query {name}: non-scalar output column {f.name} "
                    f"({f.dataType.simpleString()}) — harness canon will choke"
                )
    spark.stop()

    if failures:
        print("\nPREFLIGHT FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("preflight OK: 50 queries, all oracles live, all outputs scalar-only, "
          "worker setup reachable")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
