"""Driver-contract smoke: entry() returns rows with a stable schema; every
queries() entry runs at sf0.001; oracle_sql() strings are valid DuckDB over
the same tables; the dedup and similarity queries hash-match their oracles.
(The full value-equality sweep lives in tools/check_contract.py and runs at
sf0.01.)"""

import importlib.util
import os as _os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_spec = importlib.util.spec_from_file_location(
    "check_contract", _os.path.join(REPO, "tools", "check_contract.py")
)
check_contract = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_contract)

# the registry queries built on operators.dedup / operators.similarity, and
# whether they must return rows at sf0.001 (the oracle finds no exact
# duplicates there)
VALUE_CHECKED = {
    "fingerprint": True,
    "exact_dedup": False,
    "dedup_filter": True,
    "minhash_signatures": True,
    "minhash_candidates": True,
    "lsh_jaccard": True,
    "ngram_jaccard": True,
    "winnow_fingerprints": True,
    "simhash": True,
    "embedding_topk": True,
    "ann_topk": True,
    "ann_topk_pruned": True,
    "ivf_topk": True,
    "ivf_topk_pruned": True,
    "embedding_knn_pairs": True,
}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns
    assert len(rows) > 0


def test_all_queries_run(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF)
        assert df.columns, name
        df.limit(3).collect()


def test_oracle_sql_is_valid_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    for name, sql in entrymod.oracle_sql().items():
        con.execute(sql).fetchmany(3)


def test_queries_and_oracles_share_column_names(spark):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name, sql in oracles.items():
        scols = sorted(qs[name](spark, SF).columns)
        dcols = sorted(d[0] for d in con.execute(sql).description)
        assert scols == dcols, f"{name}: {scols} vs {dcols}"


@pytest.mark.parametrize("name", sorted(VALUE_CHECKED))
def test_dedup_and_similarity_values_match_oracle(spark, name):
    """Row count and order-insensitive value hash equal the DuckDB oracle's,
    computed the way tools/check_contract.py computes them."""
    con = duckdb.connect()
    for t in check_contract.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    sdf = entrymod.queries()[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    ddf = con.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in ddf.description]
    drows = [tuple(r) for r in ddf.fetchall()]
    if VALUE_CHECKED[name]:
        assert srows
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert check_contract.value_hash(srows, sdf.columns) == check_contract.value_hash(
        drows, dcols
    )


@pytest.mark.slow
def test_all_queries_run_under_bare_ansi_session(tmp_path):
    """The driver runs queries()/entry() under a BARE Spark 4 session —
    plain ``SparkSession.builder``, ANSI mode on, none of build_session's
    configs.  Config-dependent expressions (implicit casts, timezone
    assumptions, missing package zip on workers) only break THERE, so run
    the whole registry in a bare-session subprocess (a second in-process
    session would inherit the fixture session's JVM confs)."""
    import os
    import subprocess
    import sys

    script = tmp_path / "bare.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repr(REPO)})\n"
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as E\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .getOrCreate())\n"
        "for name, fn in E.queries().items():\n"
        f"    fn(spark, {repr(SF)}).limit(3).collect()\n"
        "print('BARE_OK', len(E.queries()))\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True, text=True, timeout=1200, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "BARE_OK" in proc.stdout
