"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k as pure column expressions
(``zip_with`` + ``aggregate`` — JVM-side, codegen'd, no Python).
Scale path: LSH bucketing via deterministic signed random projections so
the candidate set shrinks before exact scoring (IVF-style routing is the
same shape: route to nearest centroid bucket, score within bucket).

The projection weights are *portable hashes* — ``md5("rp:<plane>:<dim>")``
nibbles mapped to [-1, 1) — computed entirely JVM-side (``transform`` with
the element index), so:
- no driver-side ``collect``/``first`` anywhere (the query vector joins in
  as a broadcast single-row dim table and its bucket is computed on that
  one broadcast row);
- the exact same formula runs in any engine with md5 (the DuckDB oracle
  reproduces buckets bit-for-bit);
- at 100 TB the bucket id is a materialised partition column and the probe
  filter becomes partition pruning.

Recall characteristics (measured, see tests/test_operators.py planted-
neighbor tests): ANN recall is DATA-dependent.  On the uniform-random
fixture embeddings recall@10 approaches the probed fraction of the table
(LSH 6 planes / Hamming≤1 probes ~11% → recall 0.1–0.6; IVF n_probe=2 of
8 cells probes ~25% → 0.5–1.0) — on unclustered data no sublinear index
beats that, by design.  On clustered data (planted near-duplicates, the
training-data dedup case these operators exist for) both find the planted
cluster reliably: near-identical vectors agree on projection signs /
nearest centroid, so they co-bucket with the query.
"""

from __future__ import annotations

import functools
import struct

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, functions as F

from ..sources.transcripts import write_partitioned

_HEX = "0123456789abcdef"


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _cosine(a: Column, b: Column, digits: int) -> Column:
    """Cosine of two vector columns rounded to ``digits`` — the exact twin
    of the oracles' ``round(list_dot_product(a, b) / (sqrt(..a..) *
    sqrt(..b..)), digits)``."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), digits)


def _topk(cand: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """Score every ``cand`` row against its ``qvec`` column and keep the k
    best, ties broken on the id for determinism.  The global top-k plans as
    a TakeOrderedAndProject (per-partition top-k then merge — no full sort
    shuffle)."""
    return (
        cand.select(id_col, _cosine(F.col(vec_col), F.col("qvec"), 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _query_row(query: DataFrame) -> DataFrame:
    """A single-row query frame with its first column as ``qvec``."""
    return query.select(F.col(query.columns[0]).alias("qvec"))


def _with_query(
    df: DataFrame, query: DataFrame | list[float], dim: dict[str, Column] | None = None
) -> DataFrame:
    """``df`` with the query vector attached as ``qvec``, plus the ``dim``
    columns (expressions over ``qvec``).  A single-row query frame joins in
    as a broadcast dim table, so ``dim`` is computed on that one row and
    nothing touches the driver; a literal list rides along as a literal
    array."""
    if isinstance(query, DataFrame):
        q = _query_row(query)
        return df.crossJoin(F.broadcast(q.withColumns(dim) if dim else q))
    out = df.withColumn("qvec", F.array(*[F.lit(float(x)) for x in query]))
    return out.withColumns(dim) if dim else out


def brute_force_topk(
    df: DataFrame,
    query: DataFrame | list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours of a query vector (a single-row frame whose
    first column is the vector, or a literal list): one narrow scan, no
    shuffle."""
    return _topk(_with_query(df, query), k, id_col, vec_col)


def _plane_weight(p: int, idx: Column) -> Column:
    """Deterministic pseudo-random weight in [-1, 1) for (plane ``p`` ≤ 7,
    0-based dim index ``idx``): nibbles ``4p..4p+3`` of ``md5('rp:<idx>')``
    as a 16-bit uint, affinely mapped.  Bit-identical in DuckDB.  Hot paths
    use ``_plane_weights_py`` (the same formula evaluated once at plan time)
    — this per-element expression remains as the exact fallback for
    dimensions beyond the precomputed range."""
    h = F.md5(F.format_string("rp:%d", idx))
    v = F.lit(0)
    for j in range(4):
        v = v + (
            F.instr(F.lit(_HEX), F.substring(h, 4 * p + j + 1, 1)) - 1
        ) * (16 ** (3 - j))
    return v / F.lit(32767.5) - F.lit(1.0)


# weights depend only on (plane, element index) — never on data — so the hot
# path bakes the first _PRE_DIM of them into literal arrays at plan time and
# row evaluation is a multiply-add per element instead of md5 + 24 substring/
# instr calls per (plane, element).  Values are bit-identical: the same
# integer nibble arithmetic and the same two IEEE-double ops, just evaluated
# once in Python instead of per row in the JVM (pinned by
# tests/test_operators.py::test_bucket_expr_matches_hashed_fallback).
_PRE_DIM = 1024


def _plane_weights_py(p: int, dim: int = _PRE_DIM) -> list[float]:
    import hashlib

    out = []
    for idx in range(dim):
        h = hashlib.md5(f"rp:{idx}".encode()).hexdigest()
        v = 0
        for j in range(4):
            v += _HEX.index(h[4 * p + j]) * (16 ** (3 - j))
        out.append(v / 32767.5 - 1.0)
    return out


@functools.cache
def _plane_weights_lit(p: int) -> Column:
    """Plane ``p``'s literal weight array, built once per driver process
    (~10 ms; Columns are immutable and session-independent)."""
    return _literal_doubles(_plane_weights_py(p))


def _literal_doubles(values: list[float]) -> Column:
    """``values`` as ONE resolved ``array<double>`` Literal, through the
    public ``functions.lit`` on a JVM ``double[]`` that crosses py4j as a
    single byte array: four py4j calls whatever the length (``F.lit(list)``
    costs one per element, ~0.5 s per 1024-long plane), and nothing left to
    analyse (an ``array(...)`` SQL expression re-walks its 1024-node tree
    through analysis and constant folding in every query that embeds it,
    ~1.5 s of driver time per ann query build, measured).  The bytes are the
    IEEE doubles themselves, so every weight arrives bit-for-bit."""
    sc = SparkContext._active_spark_context
    jvm = sc._jvm
    raw = bytearray(struct.pack(f">{len(values)}d", *values))
    arr = sc._gateway.new_array(jvm.double, len(values))
    jvm.java.nio.ByteBuffer.wrap(raw).asDoubleBuffer().get(arr)
    return Column(jvm.org.apache.spark.sql.functions.lit(arr))


def bucket_expr(vec: Column, n_planes: int) -> Column:
    """Signed-random-projection bucket id: ``n_planes`` (≤ 8) sign bits
    packed into an int.  No dimension parameter — weights come from literal
    per-plane arrays for indices < ``_PRE_DIM`` (element_at on a plan-time
    constant) and fall back to the per-element hash expression beyond, so
    the expression works for any array length with identical results.

    Per-plane dot products run as separate folds in element order — the
    same left-to-right double accumulation per plane as the original fused
    fold, so the sums (and hence the sign bits) are bit-identical."""
    assert n_planes <= 8, "one md5 yields 32 nibbles = 8 plane weights"

    pairs = F.transform(
        vec, lambda x, i: F.struct(x.cast("double").alias("x"), i.alias("i"))
    )
    def make_update(p: int, weights: Column):
        def update(acc: Column, e: Column) -> Column:
            w = F.when(
                e["i"] < _PRE_DIM, F.element_at(weights, e["i"] + 1)
            ).otherwise(_plane_weight(p, e["i"]))
            return acc + e["x"] * w

        return update

    bucket = F.lit(0)
    for p in range(n_planes):
        dot = F.aggregate(
            pairs, F.lit(0.0), make_update(p, _plane_weights_lit(p))
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * (2 ** p)
    return bucket.cast("int")


def lsh_bucket(df: DataFrame, n_planes: int = 8, vec_col: str = "embedding") -> DataFrame:
    """Attach the LSH bucket id column (narrow column math; bucketing the
    table by this id gives the ANN candidate partitioning)."""
    return df.withColumn("lsh_bucket", bucket_expr(F.col(vec_col), n_planes))


def _hamming(a: Column, b: Column, n_planes: int) -> Column:
    bits = [
        (a.bitwiseAND(F.lit(1 << p)) != b.bitwiseAND(F.lit(1 << p))).cast("int")
        for p in range(n_planes)
    ]
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out


def ann_topk(
    df: DataFrame,
    query: DataFrame | list[float],
    k: int = 10,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict exact scoring to rows whose LSH bucket is
    within ``probe_hamming`` bits of the query's bucket (multi-probe), then
    brute-force inside the candidate set.

    ``query`` is either a single-row DataFrame whose first column is the
    query vector (preferred — it broadcasts, its bucket is computed on the
    broadcast row, and nothing touches the driver) or a literal list.  At
    100 TB the bucket filter is a partition-pruning predicate on a
    bucket-partitioned table.
    """
    with_q = _with_query(
        lsh_bucket(df, n_planes=n_planes, vec_col=vec_col),
        query,
        {"q_bucket": bucket_expr(F.col("qvec"), n_planes)},
    )
    cand = with_q.where(
        _hamming(F.col("lsh_bucket"), F.col("q_bucket"), n_planes) <= probe_hamming
    )
    return _topk(cand, k, id_col, vec_col)


def write_bucket_partitioned(
    df: DataFrame,
    path: str,
    n_planes: int = 6,
    vec_col: str = "embedding",
) -> None:
    """Ingest-time materialisation of the ANN layout: compute ``lsh_bucket``
    ONCE and write the table partitioned by it.  This is the 100 TB shape
    the module docstring promises — the md5-per-element bucket expression is
    paid a single time at ingest, and every later probe is partition pruning
    instead of a full-scan bucket recomputation.  ``repartition`` on the
    bucket first so each partition directory is written by one task (no
    tasks×buckets small-file explosion)."""
    _write_partitioned(lsh_bucket(df, n_planes=n_planes, vec_col=vec_col), "lsh_bucket", path)


def _write_partitioned(df: DataFrame, key: str, path: str) -> None:
    """Replace the layout at ``path`` with ``df`` partitioned by ``key``, one
    writing task per key (repartitioned on it first)."""
    df.repartition(key).write.mode("overwrite").partitionBy(key).parquet(path)


def upsert_bucket_partitioned(
    spark,
    df_new: DataFrame,
    path: str,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental, idempotent ANN ingest — the Iceberg ``MERGE INTO``
    analog on the bucket-partitioned layout: bucket the new vectors, and
    dynamic-partition-overwrite ONLY the buckets they land in with
    (existing rows minus re-ingested ids) ∪ (new rows).

    Rewrite cost is bounded by the touched buckets, never the table:
    untouched bucket directories are not rewritten (dynamic overwrite
    leaves them in place), and the touched-bucket id set is broadcast.
    Re-running the same ingest converges, and update-style merges are
    handled too: a re-ingested id whose changed embedding moves it to a
    DIFFERENT bucket has its stale row evicted, because the touched-bucket
    set includes the buckets currently holding re-ingested ids (located by
    an id+bucket column-pruned semi-join over the existing table — the
    two-column scan is the price of MERGE semantics without an id→bucket
    index; Iceberg MERGE INTO pays the same join).  The same idempotence
    contract as the pipeline's lineage-committed bucket writes."""
    new_b = lsh_bucket(df_new, n_planes=n_planes, vec_col=vec_col)
    new_ids = new_b.select(id_col).distinct()
    # Buckets where re-ingested ids live TODAY — possibly different from the
    # bucket their new embedding hashes to.  Without this, a bucket-moving
    # update leaves a stale duplicate vec_id in the old (untouched) partition
    # that probes can still return.
    prior_buckets = (
        spark.read.parquet(path)
        .join(F.broadcast(new_ids), on=id_col, how="left_semi")
        .select("lsh_bucket")
    )
    touched = new_b.select("lsh_bucket").unionByName(prior_buckets).distinct()
    # Resolve the touched-bucket set ONCE (planning-sized: bounded by the
    # batch, never the table — the same budget Iceberg's MERGE metadata pass
    # pays) and feed the literal set back into the plan, so the semi-join
    # below doesn't re-run the prior-bucket location scan a second time.
    touched_set = {r[0] for r in touched.collect()}
    touched_lit = spark.createDataFrame(
        [(int(b),) for b in sorted(touched_set)], schema="lsh_bucket int"
    )
    existing = (
        spark.read.parquet(path)
        .join(F.broadcast(touched_lit), on="lsh_bucket", how="left_semi")
        .join(F.broadcast(new_ids), on=id_col, how="left_anti")
    )
    merged = existing.unionByName(new_b.select(existing.columns))
    # A bucket whose ONLY rows were re-ingested ids that moved elsewhere ends
    # up with ZERO rows in `merged` — and dynamic partition overwrite only
    # replaces partitions PRESENT in the written data, so its stale directory
    # would survive the write and probes could still return the evicted
    # vec_id.  Find those buckets BEFORE the write (after it, the lazy
    # `existing` plan would re-list a directory whose files the overwrite
    # deleted) and drop their partition directories once the overwrite has
    # committed.  `merged` is persisted around the kept-set collect and the
    # write so the merge plan executes ONCE — not recomputed per action —
    # and the written data cannot diverge from the kept-set decision.
    merged = merged.persist()
    try:
        kept_set = {r[0] for r in merged.select("lsh_bucket").distinct().collect()}
        write_partitioned(merged, path, partition_col="lsh_bucket")
    finally:
        merged.unpersist()
    _delete_partition_dirs(
        spark,
        path,
        [f"lsh_bucket={b}" for b in sorted(touched_set - kept_set)],
    )


def _delete_partition_dirs(spark, path: str, partition_dirs: list[str]) -> None:
    """Remove partition directories through the Hadoop FileSystem API (works
    on local paths, HDFS and object stores alike) — the delete half of MERGE
    semantics that ``partitionOverwriteMode=dynamic`` cannot express for
    partitions with no surviving rows."""
    if not partition_dirs:
        return
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for d in partition_dirs:
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{d}")
        jpath.getFileSystem(hconf).delete(jpath, True)


def probe_buckets(
    query: DataFrame, n_planes: int, probe_hamming: int = 1
) -> DataFrame:
    """The multi-probe bucket set for a (single-row, broadcastable) query
    DataFrame whose first column is the query vector: the query's own bucket
    plus every bucket within ``probe_hamming`` sign-bit flips (≤ 1
    supported).  Stays fully lazy — the bucket is computed on the one
    broadcast row, never on the driver."""
    assert probe_hamming <= 1, "multi-probe beyond 1 bit flip not implemented"
    qdim = _query_row(query).withColumn(
        "q_bucket", bucket_expr(F.col("qvec"), n_planes)
    )
    probes = [F.col("q_bucket")]
    if probe_hamming >= 1:
        probes += [
            F.col("q_bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    return qdim.select(
        "qvec", F.explode(F.array(*probes)).alias("probe_bucket")
    )


def ann_topk_pruned(
    bucketed: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 1,
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """``ann_topk`` over a bucket-PARTITIONED table (``
    write_bucket_partitioned``): the probe set joins in as a broadcast dim
    table keyed on the partition column, so Spark's dynamic partition
    pruning restricts the scan to the probed bucket directories — the scan
    never reads, let alone re-hashes, the other buckets.  Result-identical
    to ``ann_topk`` on the same data (parity-tested); the probe set for
    Hamming ≤ 1 is exactly the bucket ids within one sign-bit flip."""
    probes = probe_buckets(query, n_planes, probe_hamming)
    cand = bucketed.join(
        F.broadcast(probes), bucketed[bucket_col] == probes["probe_bucket"]
    )
    return _topk(cand, k, id_col, vec_col)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: nearest centroid per vector (cosine), via a
    broadcast join against the (small) centroid table + per-row argmin —
    C rows per vector before the reduce, never a shuffle of the fact side.
    At ingest this materialises as the ``ivf_cell`` partition column, making
    probe-time routing partition pruning."""
    a = df.alias("a")
    c = centroids.alias("c")
    scored = a.join(F.broadcast(c)).select(
        f"a.{id_col}",
        F.col("c.centroid_id").alias("cand_cell"),
        _cosine(F.col(f"a.{vec_col}"), F.col("c.centroid"), 6).alias("cell_cos"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col("cand_cell"), F.struct(F.col("cell_cos"), -F.col("cand_cell"))
        ).alias("ivf_cell")
    )


def train_ivf_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """Train the IVF coarse quantizer with distributed Lloyd's k-means —
    the FAISS ``train()`` analog (the registry's fixed first-8-vector
    centroids are the untrained degenerate case).

    Scale shape per iteration: ONE broadcast-join assignment pass over the
    fact table (``ivf_assign``'s plan) feeding per-cell (Σ vector, count)
    partials as D independent ``sum(embedding[d])`` aggregates — every one
    algebraic, so they combine map-side and the shuffle moves only k×D
    floats per map partition (a posexploded (cell, dim) key would shuffle
    E×D rows instead).  The k×D centroid update is a driver-side planning
    statistic (exactly what Spark MLlib's KMeans collects per iteration),
    then re-broadcast.  Iterative and non-SQL-expressible — a rows-only
    surface by design.

    Seeding is deterministic: ``seed_ids`` (default: the k smallest ids) —
    k-means|| is unnecessary at quantizer scale (k ≤ a few thousand).
    Empty cells keep their previous centroid (standard Lloyd fix)."""
    import numpy as np

    spark = df.sparkSession
    if seed_ids is None:
        seed = (
            df.orderBy(id_col).limit(k)
            .select(id_col, vec_col).collect()
        )
    else:
        seed = (
            df.where(F.col(id_col).isin(seed_ids))
            .orderBy(id_col).select(id_col, vec_col).collect()
        )
    cents = {i: np.asarray(r[vec_col], dtype=float) for i, r in enumerate(seed)}
    dim = len(next(iter(cents.values())))

    def centroid_table() -> DataFrame:
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in sorted(cents.items())],
            ["centroid_id", "centroid"],
        )

    for _ in range(iters):
        assigned = ivf_assign(df, centroid_table(), id_col=id_col, vec_col=vec_col)
        fact = df.select(id_col, vec_col).join(assigned, on=id_col)
        # per-cell (Σ vector, n) as D independent sum() aggregates — each is
        # algebraic, so partials combine map-side and the shuffle carries k
        # rows of D floats per map partition, never the fact vectors
        summed = fact.groupBy("ivf_cell").agg(
            F.array(
                *[F.sum(F.col(vec_col)[d].cast("double")) for d in range(dim)]
            ).alias("vec_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        stats = summed.collect()  # k rows × D floats: a planning statistic
        for r in stats:
            if r["n"] > 0:
                cents[r["ivf_cell"]] = np.asarray(r["vec_sum"], dtype=float) / r["n"]
    return centroid_table()


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-routed approximate top-k: score the query against the centroid
    table (broadcast), probe the ``n_probe`` nearest cells, exact-score only
    vectors assigned there.  The alternative scale path to LSH bucketing —
    same shape as FAISS IVF-Flat: coarse quantizer → inverted lists → exact
    scan of probed lists.  This is ``ivf_topk_pruned`` over the assignment
    join, recomputed per probe."""
    fact = df.join(ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col), on=id_col)
    return ivf_topk_pruned(fact, centroids, query, k, n_probe, id_col, vec_col)


def write_ivf_partitioned(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Ingest-time materialisation of the IVF layout: assign each vector to
    its nearest centroid ONCE and write the table partitioned by
    ``ivf_cell`` — the FAISS inverted-list structure as a table layout.
    Probes afterwards read only the probed cells' directories (partition
    pruning) instead of re-running the quantizer over the whole table."""
    fact = df.join(ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col), on=id_col)
    _write_partitioned(fact, "ivf_cell", path)


def ivf_topk_pruned(
    bucketed: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf_topk`` over an ``ivf_cell``-PARTITIONED table
    (``write_ivf_partitioned``): the query's ``n_probe`` nearest cells join
    in as a broadcast dim keyed on the partition column, so the scan
    dynamically prunes to the probed cell directories.  Result-identical to
    ``ivf_topk`` on the same data (parity-tested).  Cosine ties among the
    cells go to the smaller id, as in ``ivf_assign``."""
    qcells = (
        F.broadcast(_query_row(query))
        .join(F.broadcast(centroids))
        .select(
            "qvec",
            F.col("centroid_id").alias("cell"),
            _cosine(F.col("qvec"), F.col("centroid"), 6).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), F.col("cell"))
        .limit(n_probe)
    )
    cand = bucketed.join(F.broadcast(qcells), bucketed["ivf_cell"] == qcells["cell"])
    return _topk(cand, k, id_col, vec_col)


def most_similar_segment(
    df: DataFrame,
    segments_col: str = "segments",
    query_col: str = "query",
    id_col: str = "doc_id",
) -> DataFrame:
    """O3 similarity-argmax analog (``find_most_similar_segment``,
    static_method_classes.py:52-73): for each row, the segment most similar
    to the query text.

    The reference scores SentenceTransformer-embedding cosine per segment
    and keeps the first strict maximum; the clean-room scorer is token-set
    cosine (|A∩B| / sqrt(|A||B|) over distinct lower-cased words) — pure
    column math, deterministic, engine-portable.  Argmax via a bounded
    per-row reduce, ties to the earliest segment (the reference's
    strictly-greater update rule)."""
    words = lambda c: F.array_distinct(F.split(F.lower(c), " "))  # noqa: E731
    seg = df.select(
        id_col,
        F.col(query_col).alias("q"),
        F.posexplode(segments_col).alias("seg_idx", "segment"),
    )
    inter = F.size(F.array_intersect(words(F.col("segment")), words(F.col("q"))))
    denom = F.sqrt(
        F.size(words(F.col("segment"))).cast("double")
        * F.size(words(F.col("q"))).cast("double")
    )
    scored = seg.select(
        id_col,
        "seg_idx",
        F.round(inter / denom, 4).alias("seg_cosine"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col("seg_idx"), F.struct(F.col("seg_cosine"), -F.col("seg_idx"))
        ).alias("best_seg_idx"),
        F.max(F.struct(F.col("seg_cosine"), -F.col("seg_idx")))["seg_cosine"].alias(
            "best_cosine"
        ),
    )


def pairwise_cosine_knn(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_planes: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All-pairs k-NN restricted to LSH co-buckets (embedding near-dup
    detection): join within bucket, exact cosine, per-row top-k window.
    No driver collect — the bucket id needs no dimension probe.

    At corpus scale the within-bucket join is quadratic in bucket size, so
    size ``bucket_planes`` for the corpus (≈log2(n/target_bucket)) and set
    ``max_bucket_size`` as the guardrail: buckets are deterministically
    truncated (rank by id) so one hot bucket can never go quadratic —
    bounded recall loss instead of an unbounded straggler."""
    from pyspark.sql import Window

    bucketed = lsh_bucket(df, n_planes=bucket_planes, vec_col=vec_col)
    if max_bucket_size is not None:
        wb = Window.partitionBy("lsh_bucket").orderBy(id_col)
        bucketed = (
            bucketed.withColumn("_rn", F.row_number().over(wb))
            .where(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(b, on="lsh_bucket")
        .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.col("id_b"))
    return pairs.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
