"""Every ``oracle_sql()`` entry, run in DuckDB over the smoke testdata, must
give the same ``(rows, sorted cols, sha256)`` as the committed
``oracle_digest.json``. The oracles share CTE strings; a refactor of one
shared string moves every consumer's digest, so this pins all of them at
once without starting Spark. Regenerate the file only for a change that is
meant to move an oracle's result, and record why."""

from __future__ import annotations

import json
import os

from conftest import SF_SMOKE

DIGEST_FILE = os.path.join(os.path.dirname(__file__), "oracle_digest.json")


def oracle_digests(sf_dir: str) -> dict[str, list]:
    import duckdb

    import __spark_entry__ as entry
    from ollama_ocr_spark.sources.testdata import TABLES
    from tools.check_oracle import frame_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in entry.oracle_sql().items():
        rows, cols, digest = frame_hash(con.sql(sql).fetchdf())
        out[name] = [rows, cols, digest]
    con.close()
    return out


def test_every_oracle_matches_its_committed_digest():
    with open(DIGEST_FILE) as fh:
        want = json.load(fh)
    got = oracle_digests(SF_SMOKE)
    assert sorted(got) == sorted(want)
    moved = sorted(n for n in want if got[n] != want[n])
    assert not moved, moved
