"""Correctness checks, all run outside the timed region.  Each returns a list
of mismatch descriptions; an empty list means the outputs are correct."""

from __future__ import annotations

import hashlib
import json
import os
import random

from pyspark.sql import DataFrame, functions as F

from tools.check_contract import value_hash


def table_state(df: DataFrame, drop: tuple[str, ...] = (), sums: tuple[str, ...] = ()) -> tuple:
    """Order-insensitive content fingerprint in one job: (row count, sum of
    per-row crc32 over the JSON of every column not dropped, then the sum of
    each column in ``sums``)."""
    cols = [c for c in df.columns if c not in drop]
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.crc32(F.to_json(F.struct(*cols)))), F.lit(0)),
        *(F.coalesce(F.sum(c), F.lit(0)) for c in sums),
    ).collect()[0]
    return tuple(int(v) for v in row)


def pipeline_state(outs: dict[str, DataFrame]) -> dict[str, tuple]:
    """Fingerprints of the docs, spans and lineage tables (lineage without
    its commit timestamp), with the docs and lineage turn totals."""
    return {
        "docs": table_state(outs["docs"], sums=("n_turns",)),
        "spans": table_state(outs["spans"]),
        "lineage": table_state(outs["lineage"], drop=("committed_at",), sums=("n_turns",)),
    }


def pipeline_counts(state: dict[str, tuple], meta: dict) -> list[str]:
    """One docs row per input conversation; every input turn counted once in
    the docs and in the lineage."""
    bad = []
    n_docs, _, doc_turns = state["docs"]
    lineage_turns = state["lineage"][2]
    if n_docs != meta["convs"]:
        bad.append(f"docs rows {n_docs} != distinct conversations {meta['convs']}")
    if doc_turns != meta["rows"]:
        bad.append(f"sum(docs.n_turns) {doc_turns} != input rows {meta['rows']}")
    if lineage_turns != meta["rows"]:
        bad.append(f"sum(lineage.n_turns) {lineage_turns} != input rows {meta['rows']}")
    return bad


def sample_conversations(meta: dict, seed: int, k: int) -> list[str]:
    return random.Random(seed).sample(meta["conv_ids"], min(k, len(meta["conv_ids"])))


def conversation_rows(src: DataFrame, conv_ids: list[str]) -> dict[str, list[dict]]:
    rows: dict[str, list[dict]] = {}
    for r in (
        src.where(F.col("conv_id").isin(conv_ids))
        .select("conv_id", "turn_idx", "text", "tool")
        .collect()
    ):
        rows.setdefault(r["conv_id"], []).append(r.asDict())
    for turns in rows.values():
        turns.sort(key=lambda t: t["turn_idx"])
    return rows


def docs_match_oracle(docs: DataFrame, rows: dict[str, list[dict]]) -> list[str]:
    """Byte-for-byte ``transcription`` and ``edoc_json`` against the
    single-node oracle for each sampled conversation."""
    from scientific_papers_ocr_spark.oracle import assembly

    got = {
        r["conv_id"]: r
        for r in docs.where(F.col("conv_id").isin(list(rows)))
        .select("conv_id", "transcription", "edoc_json")
        .collect()
    }
    bad = []
    for cid, turns in sorted(rows.items()):
        want = assembly.process_document(turns, conv_id=cid)
        doc = got.get(cid)
        if doc is None:
            bad.append(f"{cid}: no docs row")
            continue
        for col in ("transcription", "edoc_json"):
            if doc[col] != want[col]:
                bad.append(f"{cid}: {col} differs from the oracle")
    return bad


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


def oracle_hashes(in_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB oracle hash per query (the ``tools/check_contract.py`` rule),
    cached in the input directory under a digest of the query's oracle SQL,
    so an edited oracle is recomputed."""
    from scientific_papers_ocr_spark import queries

    sql = {name: queries.REGISTRY[name][1] for name in names}
    key = {name: hashlib.sha256(text.encode()).hexdigest()[:16] for name, text in sql.items()}
    cache = os.path.join(in_dir, "oracle_hashes.json")
    try:
        with open(cache) as f:
            cached = json.load(f)
    except (OSError, ValueError):
        cached = {}
    stale = [n for n in names if cached.get(n, {}).get("sql") != key[n]]
    if stale:
        import duckdb

        con = duckdb.connect()
        for entry in sorted(os.listdir(in_dir)):
            if entry.endswith(".parquet"):
                table = entry[: -len(".parquet")]
                path = os.path.join(in_dir, entry)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for name in stale:
            res = con.execute(sql[name])
            cols = [d[0] for d in res.description]
            cached[name] = {
                "sql": key[name],
                "hash": value_hash([tuple(r) for r in res.fetchall()], cols),
            }
        con.close()
        tmp = cache + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, cache)
    return {name: cached[name]["hash"] for name in names}


def spark_hash(df: DataFrame) -> str:
    return value_hash([tuple(r) for r in df.collect()], df.columns)
