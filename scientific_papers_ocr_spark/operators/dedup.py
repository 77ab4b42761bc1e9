"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design:
- exact dedup is a hash-groupBy on a fingerprint column (one shuffle on an
  md5 key — uniformly distributed, skew-free);
- MinHash uses portable hashing (``md5(shingle || seed)``) so the DuckDB
  oracle can reproduce signatures bit-for-bit; candidate generation is a
  band-bucket self-join (shuffle on band signature, never the O(n²) cross
  join);
- n-gram Jaccard verifies candidates by in-row shingle-array intersection —
  at 100 TB you run it only on LSH candidates, not all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text_analysis import normalized_fingerprint, normalized_text

DEFAULT_SEEDS = ("s0", "s1", "s2", "s3")


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-dup groups: fingerprint → (keeper id, group size), dup groups
    only.  One shuffle on the fingerprint."""
    return (
        docs.select(F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )


def _words(docs: DataFrame, id_col: str, text_col: str, min_words: int) -> DataFrame:
    """(id, ``words``) rows of the docs with at least ``min_words`` words:
    ``normalized_text`` split on single spaces, as the SQL oracles split
    it."""
    words = F.split(normalized_text(F.col(text_col)), " ")
    return docs.select(F.col(id_col), words.alias("words")).where(
        F.size("words") >= min_words
    )


def _shingles(k: int) -> Column:
    """Every k-word shingle of the ``words`` column, in word order."""
    words = F.col("words")
    return F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(k)),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )


def word_shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Distinct k-word shingles per document as ONE array row per doc
    (lower-cased, single-space tokenization — matches the SQL oracle
    exactly).  Deduplication is ``array_distinct`` within the row: each
    document is a single input row, so per-row dedup equals the global
    per-(doc, shingle) distinct without shuffling every shingle.  Narrow —
    zero exchanges; per-doc aggregates (signature mins, sizes) derive from
    the array without ever exploding."""
    return _words(docs, id_col, text_col, k).select(
        F.col(id_col), F.array_distinct(_shingles(k)).alias("shingles")
    )


def word_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document, one row per (doc, shingle).

    Dedup is row-local ``array_distinct`` fused INTO the explode — a
    document is one input row, so per-row dedup equals the old global
    ``.distinct()`` without shuffling every shingle (result multiset
    identical for unique ``id_col`` inputs).  The fused single-select shape
    matters: projecting the array in one select and exploding it in the next
    measured ~9x slower than this (the split defeats whole-stage fusion and
    re-copies the materialised array per row)."""
    return _words(docs, id_col, text_col, k).select(
        F.col(id_col), F.explode(F.array_distinct(_shingles(k))).alias("shingle")
    )


def minhash_signatures_arrays(
    shingle_arrays: DataFrame,
    id_col: str = "doc_id",
    seeds: tuple[str, ...] = DEFAULT_SEEDS,
) -> DataFrame:
    """Per-doc MinHash signature over ``word_shingle_arrays`` output: one
    band per seed, each the min of ``md5(shingle || '#' || seed)`` — a
    portable permutation-hash stand-in reproducible in any engine with md5.
    Each band is ``array_min`` of the per-seed hashes computed row-locally, so
    the whole signature table is a NARROW projection — no explode, no
    sort-based min aggregate, no exchange."""
    # transform() calls the lambda at once, so it sees this iteration's seed
    cols = [
        F.array_min(
            F.transform(F.col("shingles"), lambda sh: F.md5(F.concat(sh, F.lit("#" + s))))
        ).alias(f"band_{i}")
        for i, s in enumerate(seeds)
    ]
    return shingle_arrays.select(F.col(id_col), *cols)


def lsh_band_values_arrays(
    shingle_arrays: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    rows_per_band: int = 1,
) -> DataFrame:
    """Classic (b × r) MinHash banding over ``word_shingle_arrays`` output:
    ``n_bands * rows_per_band`` min-hashes per doc
    (``minhash_signatures_arrays``), then each band's value is ``md5`` of
    its ``rows_per_band`` concatenated mins — candidates must share ALL r
    hashes of some band.

    r=1 reduces to share-any-one-min (high recall, floods candidates at
    corpus scale); r≥2 sharpens the S-curve so band-bucket sizes stay bounded
    at 100 TB.  Output columns ``band_0..band_{b-1}`` feed
    ``lsh_candidate_pairs`` unchanged."""
    seeds = tuple(f"s{i}" for i in range(n_bands * rows_per_band))
    sigs = minhash_signatures_arrays(shingle_arrays, id_col=id_col, seeds=seeds)
    if rows_per_band == 1:
        return sigs
    bands = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"band_{b * rows_per_band + j}") for j in range(rows_per_band)],
            )
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    return sigs.select(F.col(id_col), *bands)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", n_bands: int = len(DEFAULT_SEEDS)
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ANY band value.

    Implemented as unpivot → groupBy (band_idx, value) collecting the
    sorted co-bucketed id list → in-row pair expansion → distinct.  One
    evaluation of the signature input and ONE shuffle of (id, band) rows —
    the previous band self-join evaluated the whole signature subtree twice
    (once per join side) and shuffled/broadcast both.  Pair expansion is
    quadratic in bucket size exactly like the join was; banding (r ≥ 2)
    keeps buckets bounded at corpus scale."""
    bands = F.array(*[
        F.struct(F.lit(i).alias("band_idx"), F.col(f"band_{i}").alias("band_val"))
        for i in range(n_bands)
    ])
    unpivoted = signatures.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_val"
    )
    grouped = (
        unpivoted.groupBy("band_idx", "band_val")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def _jaccard(n_common: Column, size_a: Column, size_b: Column) -> Column:
    return F.round(n_common / (size_a + size_b - n_common), 4)


def jaccard_pairs(
    shingles: DataFrame | None,
    shingle_arrays: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """N-gram Jaccard similarity per doc pair.

    ``shingle_arrays`` is the ``word_shingle_arrays`` frame the exploded
    ``shingles`` came from; the per-doc shingle counts are its narrow
    ``size(shingles)`` projection.  ``shingles`` is read only without
    ``candidates`` (pass None with them).

    With ``candidates`` (e.g. LSH output) only the candidate pairs are
    scored, and no per-shingle rows are ever joined, shuffled or
    aggregated: each pair attaches both docs' (distinct) shingle arrays and
    the intersection is computed IN-ROW (``size(array_intersect(a, b))``).
    The work is linear in the candidate count, never in the co-shingled pair
    blowup; this is what makes verification feasible at 100 TB.  Without
    ``candidates``, all co-shingled pairs are scored through a shingle
    equi-join (test scale only).  Identical values either way: the arrays
    are distinct per doc, so the in-row intersection size equals the count
    of co-occurring shingle rows."""
    if candidates is not None:
        arr_a = shingle_arrays.select(
            F.col(id_col).alias("id_a"), F.col("shingles").alias("_sh_a")
        )
        arr_b = shingle_arrays.select(
            F.col(id_col).alias("id_b"), F.col("shingles").alias("_sh_b")
        )
        paired = candidates.join(arr_a, on="id_a").join(arr_b, on="id_b")
        n_common = F.size(F.array_intersect("_sh_a", "_sh_b"))
        jac = _jaccard(n_common, F.size("_sh_a"), F.size("_sh_b"))
        return (
            # n_common >= 1 mirrors the join path exactly: a pair with no
            # shared shingle never appears there, whatever the threshold
            paired.where(n_common >= 1)
            .select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
        )
    sizes = shingle_arrays.select(F.col(id_col), F.size("shingles").alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            _jaccard(F.col("n_common"), F.col("size_a"), F.col("size_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    rolling-hash fingerprinting scheme): hash every k-word shingle, slide a
    w-shingle window, keep each full window's minimum hash.  Any shared run
    of ≥ k+w-1 words between two documents is guaranteed to share a
    fingerprint, at ~2/(w+1) selection density.

    Scale shape: the window min is a bounded ROWS frame over the in-document
    shingle order (running-window, no sort explosion); output is the
    (id, fingerprint) posting table you join on for plagiarism/overlap-style
    matching."""
    from pyspark.sql import Window

    positioned = _words(docs, id_col, text_col, k + w - 1).select(
        F.col(id_col),
        (F.size("words") - F.lit(k)).alias("max_pos"),
        F.posexplode(_shingles(k)).alias("pos", "shingle"),
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        positioned.withColumn("h", F.md5(F.col("shingle")))
        .withColumn("win_min", F.min("h").over(win))
        .where(F.col("pos") <= F.col("max_pos") - (w - 1))  # full windows only
        .select(F.col(id_col), F.col("win_min").alias("fingerprint"))
        .distinct()
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash over word shingles using md5-nibble bit votes.

    Portable construction (also expressible in SQL): for each of the first
    ``bits/4`` hex nibbles of ``md5(shingle)``, each of its 4 bits votes
    +1/-1; the sign vector packs into an integer.  Narrow except for one
    groupBy on the doc id."""
    assert bits % 4 == 0 and bits <= 64
    sh = word_shingles(docs, id_col=id_col, text_col=text_col)
    h = F.md5(F.col("shingle"))
    votes = []
    for nib in range(bits // 4):
        nibble_val = F.instr(F.lit("0123456789abcdef"), F.substring(h, nib + 1, 1)) - 1
        for bit in range(4):
            power = 2 ** (3 - bit)
            bit_set = F.floor(nibble_val / power) % 2
            votes.append(
                F.sum(bit_set * 2 - 1).alias(f"v{nib * 4 + bit}")
            )
    agg = sh.groupBy(id_col).agg(*votes)
    packed = None
    for i in range(bits):
        contrib = F.when(F.col(f"v{i}") > 0, F.lit(2 ** (bits - 1 - i))).otherwise(F.lit(0))
        packed = contrib if packed is None else packed + contrib
    return agg.select(F.col(id_col), packed.cast("long").alias("simhash"))
