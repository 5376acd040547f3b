"""The driver contract of ``__spark_entry__``: the oracle text and the query
key set are pinned by hash, and every entry builds on sf0.001 with the
column set its DuckDB oracle describes (the driver compares columns by
name, not position)."""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

import pytest

import __spark_entry__ as entry
from ragstudio_spark import entry_queries

SF_DIR = "/root/testdata/sf0.001"
ORACLE_SHA = "52eaf0e55fcfc160d476465eb0b6710e6516ffd78d1f32cdc1390fa59bfc5fa8"
KEYS_SHA = "7d43647d5ecf60dda44d8546e8589b923e6b78bd95ae93fbef22382442665e43"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_oracle_sql_text_pinned():
    oracles = entry_queries.oracle_sql()
    assert len(oracles) == 115
    assert _sha(list(oracles.items())) == ORACLE_SHA
    assert entry.oracle_sql() == oracles


def test_query_keys_pinned():
    keys = list(entry.queries())
    assert len(keys) == 124
    assert _sha(keys) == KEYS_SHA
    assert set(entry.oracle_sql()) <= set(keys)


# Entries whose Spark side runs a pipeline operator (sniff, profiler →
# strategy) or reaches a ranking.top_k site: their rows, not only their
# columns, are compared with the oracle's.
ROW_CHECKED = ("content_type_distribution", "strategy_distribution",
               "ann_cosine_topk", "embedding_nearest_neighbor",
               "hard_negatives", "pmi_collocations", "rag_multi_query_fused",
               "phrase_search", "terms_search_all")


def _duckdb():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent")
def test_every_entry_builds_with_oracle_columns(spark, tmp_path, monkeypatch):
    # entries that stage a table (cache, forget-rewrite, vector store) do
    # so under tempfile's directory; keep those stores inside tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    con = _duckdb()
    oracles = entry.oracle_sql()
    mismatches = {}
    for name, fn in entry.queries().items():
        cols = sorted(fn(spark, SF_DIR).columns)
        if name in oracles:
            want = sorted(r[0] for r in
                          con.execute(f"DESCRIBE {oracles[name]}").fetchall())
            if cols != want:
                mismatches[name] = (cols, want)
    assert not mismatches


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent")
@pytest.mark.parametrize("name", ROW_CHECKED)
def test_operator_entry_rows_equal_oracle(spark, name):
    """The check_oracle.py comparison (sorted columns, order-insensitive,
    exact values) for one entry on sf0.001."""
    import pandas as pd

    from scripts.check_oracle import normalize

    got = normalize(entry.queries()[name](spark, SF_DIR).toPandas())
    want = normalize(_duckdb().execute(entry.oracle_sql()[name]).fetchdf())
    # no phrase occurrence at sf0.001; terms_search_all reaches the same
    # ranking site with rows
    assert len(want) > 0 or name == "phrase_search"
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)


_STAGING_SCRIPT = """
import __spark_entry__ as entry
from ragstudio_spark.session import get_spark

spark = get_spark("staging-cleanup", master="local[2]", shuffle_partitions=2)
for name in ("cache_asof_read", "forget_rewrite_accounting"):
    entry.queries()[name](spark, {sf!r}).collect()
spark.stop()
"""


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent")
def test_staging_entries_leave_no_temp_dirs(tmp_path):
    """The cache and forget-rewrite entries stage a table in a temp
    directory; it must be gone once the process that built them exits."""
    import glob
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   filter(None, [repo, os.environ.get("PYTHONPATH")])))
    subprocess.run([sys.executable, "-c", _STAGING_SCRIPT.format(sf=SF_DIR)],
                   cwd=repo, env=env, check=True, timeout=600)
    assert glob.glob(str(tmp_path / "rs_*_oracle_*")) == []
