"""Seeded workload inputs, generated once per (workload, seed, generator
digest) into the benchmark's data directory.

Every input directory holds the tables plus ``meta.json``: row count, input
bytes and a content checksum (the fingerprint printed with each result), so
two results over different inputs are visibly different inputs.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import random
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The pipeline workloads draw conversations from a pool generated once, in
# an order the seed shuffles, until PIPELINE_TURNS turns, so every seed's
# input carries the same work.  No conversation reaches run_pipeline's
# default skew_turn_threshold (32768), so the distributed assembler is
# bypassed; the long conversation is a separate table that only the traced
# run reads.
#   pipeline_uniform: every conversation has 50 turns (500 conversations);
#   pipeline_skewed: zipf conversation lengths from 2 up to 400 turns, the
#   fixtures' skew profile (about 2,000 conversations, most of them tiny).
POOLS = {
    "pipeline_uniform": (2000, {"turns_per_conv": 50}),
    "pipeline_skewed": (8000, {"zipf_max_turns": 400}),
}
PIPELINE_TURNS = 25_000
WARMUP_CONVS = 32
NUM_BUCKETS = 16
LONG_CONV_TURNS = 2000

# registry_headline: the four tables the five measured headline queries
# scan, generated to the row counts, schema and column distributions of the
# sf0.01 test tables the repository's correctness tests use (README.md lists
# the statistics matched and the query-time comparison).
REGISTRY_ROWS = {"lineitem": 60_000, "documents": 500}
N_SUPPLIERS = 100
# documents whose text is another document's plus a trailing "dup" token
NEAR_DUPLICATES = 25

_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()


def _digest(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
    return h.hexdigest()[:12]


def _data_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
        )
    return total


def _publish(tmp: str, final: str, meta: dict) -> dict:
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return meta


def load_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


# --------------------------------------------------------------------------
# pipeline workloads
# --------------------------------------------------------------------------


def _pool(spark, data_dir: str, workload: str) -> tuple[str, dict]:
    """The workload's ``fixtures.spark_corpus`` pool, written once per
    digest of the fixtures source, with each conversation's turn count."""
    from scientific_papers_ocr_spark import fixtures

    num_convs, shape = POOLS[workload]
    digest = _digest(inspect.getsource(fixtures), json.dumps([num_convs, shape]))
    final = os.path.join(data_dir, "inputs", f"pool-{digest}")
    meta = load_meta(final)
    if meta is not None:
        return final, meta
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus = os.path.join(tmp, "corpus")
    fixtures.spark_corpus(spark, num_convs, seed=0, **shape).write.parquet(corpus)
    turns = spark.read.parquet(corpus).groupBy("conv_id").count().collect()
    return final, _publish(tmp, final, {"digest": digest, "conv_turns": dict(sorted(turns))})


def _write_subset(pool_dir: str, final: str, conv_ids: list[str], meta: dict) -> dict:
    """The pool's ``conv_ids`` in the documented production ingest layout:
    one parquet file per ``bucket=<pmod(crc32(conv_id), NUM_BUCKETS)>``
    directory, the key ``pipeline.add_bucket`` computes."""
    import pyarrow.compute as pc

    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    table = pq.read_table(os.path.join(pool_dir, "corpus")).replace_schema_metadata(None)
    table = table.filter(pc.is_in(table["conv_id"], pa.array(conv_ids))).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    # Spark reads microsecond UTC timestamps, not the nanosecond ones
    # pyarrow reads the pool's INT96 column as
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", pc.cast(table["ts"], pa.timestamp("us", tz="UTC")))
    buckets = np.array(
        [zlib.crc32(c.encode()) % NUM_BUCKETS for c in table["conv_id"].to_pylist()]
    )
    h = hashlib.sha256()
    for col in ("conv_id", "turn_idx", "role", "text", "tool"):
        h.update(repr(table[col].to_pylist()).encode())
    for b in np.unique(buckets):
        part = os.path.join(tmp, "corpus", f"bucket={b}")
        os.makedirs(part)
        pq.write_table(
            table.filter(pa.array(buckets == b)), os.path.join(part, "part-0.parquet"),
            compression="zstd",
        )
    meta.update({
        "rows": table.num_rows,
        "convs": len(conv_ids),
        "input_bytes": _data_bytes(tmp),
        "checksum": f"sha256:{h.hexdigest()[:16]}",
        "conv_ids": sorted(conv_ids),
    })
    return _publish(tmp, final, meta)


def _layout(pool: dict) -> str:
    """Cache key of a subset: the pool's digest and the writer's."""
    return f"{pool['digest']}-{_digest(inspect.getsource(_write_subset), str(NUM_BUCKETS))}"


def pipeline_input(spark, data_dir: str, workload: str, seed: int) -> tuple[str, dict]:
    """Conversations of the workload's pool in an order ``seed`` shuffles,
    taken until they hold PIPELINE_TURNS turns."""
    pool_dir, pool = _pool(spark, data_dir, workload)
    final = os.path.join(data_dir, "inputs", f"{workload}-s{seed}-{_layout(pool)}")
    meta = load_meta(final)
    if meta is None:
        order = list(pool["conv_turns"])
        random.Random(seed).shuffle(order)
        picked, turns = [], 0
        for conv_id in order:
            if turns >= PIPELINE_TURNS:
                break
            picked.append(conv_id)
            turns += pool["conv_turns"][conv_id]
        meta = _write_subset(pool_dir, final, picked, {"seed": seed, "pool": pool["digest"]})
    return final, meta


def warmup_input(spark, data_dir: str, workload: str) -> str:
    """The pool's first WARMUP_CONVS conversations, in the same layout."""
    pool_dir, pool = _pool(spark, data_dir, workload)
    final = os.path.join(data_dir, "inputs", f"{workload}_warmup-{_layout(pool)}")
    if load_meta(final) is None:
        _write_subset(pool_dir, final, list(pool["conv_turns"])[:WARMUP_CONVS], {"warm_up": True})
    return os.path.join(final, "corpus")


def long_conversation(data_dir: str, seed: int) -> str:
    """One LONG_CONV_TURNS-turn conversation (``fixtures.generate_corpus``'s
    mega-conversation shape), for the traced run's distributed assembler."""
    from scientific_papers_ocr_spark import fixtures

    path = os.path.join(data_dir, "inputs", f"long-s{seed}-{LONG_CONV_TURNS}.parquet")
    if not os.path.exists(path):
        tmp = path + f".tmp{os.getpid()}"
        fixtures.corpus_to_parquet(tmp, num_convs=0, seed=seed, mega_conv_turns=LONG_CONV_TURNS)
        os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# registry_headline
# --------------------------------------------------------------------------


def _registry_tables(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    n_li = REGISTRY_ROWS["lineitem"]
    n_docs = REGISTRY_ROWS["documents"]

    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(npr.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(npr.uniform(-999, 9999, N_SUPPLIERS), 2),
    })
    ship_days = npr.integers(0, 2500, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(npr.integers(0, n_li // 4, n_li), pa.int64()),
        "l_partkey": pa.array(npr.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(npr.integers(0, N_SUPPLIERS, n_li), pa.int64()),
        "l_linenumber": pa.array(npr.integers(1, 8, n_li), pa.int32()),
        "l_quantity": npr.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(npr.uniform(900, 105_000, n_li), 2),
        "l_discount": npr.integers(0, 11, n_li) / 100.0,
        "l_tax": npr.integers(0, 9, n_li) / 100.0,
        "l_returnflag": npr.choice(["A", "N", "R"], n_li),
        "l_linestatus": npr.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            (np.datetime64("1995-01-02") + ship_days.astype("timedelta64[D]")).astype(
                "datetime64[us]"
            )
        ),
    })
    texts = [" ".join(rng.choices(_WORDS, k=rng.randint(10, 99))) for _ in range(n_docs)]
    picked = rng.sample(range(n_docs), 2 * NEAR_DUPLICATES)
    for dup, orig in zip(picked[::2], picked[1::2]):
        texts[dup] = texts[orig] + " dup"
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(["en", "de", "es", "fr", "zh"], weights=[44, 14, 14, 14, 14], k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {
        "nation": nation,
        "supplier": supplier,
        "lineitem": lineitem,
        "documents": documents,
    }


def registry_input(data_dir: str, seed: int) -> tuple[str, dict]:
    """The headline queries' tables as ``<dir>/<table>.parquet``, the
    layout ``queries.REGISTRY`` reads."""
    digest = _digest(
        inspect.getsource(_registry_tables),
        json.dumps([REGISTRY_ROWS, N_SUPPLIERS, NEAR_DUPLICATES, _WORDS]),
    )
    final = os.path.join(data_dir, "inputs", f"registry_headline-s{seed}-{digest}")
    meta = load_meta(final)
    if meta is not None:
        return final, meta
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = 0
    h = hashlib.sha256()
    for name, table in _registry_tables(seed).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        with open(path, "rb") as f:
            h.update(f.read())
    meta = {
        "workload": "registry_headline",
        "seed": seed,
        "generator_digest": digest,
        "rows": rows,
        "documents": REGISTRY_ROWS["documents"],
        "input_bytes": _data_bytes(tmp),
        "checksum": f"sha256:{h.hexdigest()[:16]}",
    }
    return final, _publish(tmp, final, meta)
