"""Driver-contract hardening: every queries() callable must run under a
VANILLA host session — ANSI on, non-UTC timezone, external cwd — because
the driver creates its own SparkSession (commit fd9dcb4 hardened this;
this test keeps it pinned)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .appName("hostile-driver-sim")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.ansi.enabled", "true")
         .config("spark.sql.shuffle.partitions", "8")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, {repo!r})
import __spark_entry__ as m
qs = m.queries()
out = {{}}
for name in ["w_sessionize", "g2_tile_assign", "d2_minhash", "e1_cosine_topk",
             "w3_stateful_sessions", "m1_image_features", "d6_dedup_corpus",
             "d7_phash_pairs"]:
    out[name] = qs[name](spark, "/root/testdata/sf0.001").count()
out["entry"] = m.entry(spark).count()
print("RESULT " + json.dumps(out))
"""


def test_queries_survive_hostile_host_session(tmp_path):
    """Run a representative query slice + entry() in a subprocess whose
    session is ANSI-on / America/New_York / cwd=/tmp — results must be
    produced (pinned counts at sf0.001 guard silent semantic drift)."""
    r = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path))
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, f"child failed:\n{r.stderr[-3000:]}"
    got = json.loads(line[0][len("RESULT "):])
    assert got["entry"] == 182
    assert got["w_sessionize"] == 15   # one row per user at sf0.001
    assert all(v > 0 for v in got.values()), got


def test_rows_only_exemption_stays_pinned():
    """Round-5 verdict #8: x3_parity is the ONLY query allowed to ship
    without a DuckDB oracle (it IS the per-row invariant check).  Pin the
    exemption list so no future round can quietly demote an oracle-backed
    query back to rows-only."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as m
    assert m._ROWS_ONLY_KEYS == ["x3_parity"]
    qs, oracles = m.queries(), m.oracle_sql()
    assert set(qs) - set(oracles) == {"x3_parity"}
    assert len(qs) <= m._REGISTRY_MAX


def test_retired_j6_crossjoin_twin_matches_kring(spark):
    """j6_knn (the crossJoin oracle twin) rotated out of the registry in
    round 6; keep its exact-equality link to the ENGINE k-ring plan alive
    here so the twin can re-enter the registry any time."""
    import __spark_entry__ as m
    import gsr_queries_np
    sf = "/root/testdata/sf0.001"
    twin = m._q_j6_knn(spark, sf).orderBy("n_nationkey", "rank").collect()
    assert len(twin) > 0 and all(r["rank"] <= 3 for r in twin)
    # oracle SQL for the twin still parses and matches via DuckDB
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    want = con.execute(m._SQL_J6 + " ORDER BY n_nationkey, rank").fetchall()
    got = [(r["n_nationkey"], r["rank"], r["c_custkey"], r["dist2"])
           for r in twin]
    assert got == [tuple(w) for w in want]


def test_check_oracle_rejects_unknown_query():
    """A mistyped query name must fail the correctness gate, not report
    "0 pass, 0 fail" — and fail fast, before any Spark session starts."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         "d6", "no_such_query"],
        capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert "unknown queries: d6, no_such_query" in r.stderr
    assert "d6_dedup_corpus" in r.stderr    # the valid names are listed
    assert "pass" not in r.stdout
