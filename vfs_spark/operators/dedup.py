"""Scalable near-duplicate detection: MinHash-LSH and SimHash.

The oracle-checked pairwise forms live in queries/text.py (blocked
self-joins). These are the sub-quadratic production paths:

- MinHash-LSH (shingle → hash vector → band bucket → bucket join):
  MLlib MinHashLSH.approxSimilarityJoin generates candidate pairs in
  O(n·tables) shuffle volume instead of O(n²) comparisons.
- SimHash: 64-bit weighted-majority fingerprint via an Arrow-batched
  pandas UDF (bit arithmetic over md5 digests — genuinely outside
  Catalyst's expression algebra), then exact-match or banded join on
  the fingerprint for hamming-proximity candidates.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from operator import and_

import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from vfs_spark.dispatch import DRIVER_MAX, collect_under, pinned
from vfs_spark.functions.text import tokens, word_shingles

SEED = 42


def _prefix_pairs_driver(
    sh: DataFrame,
    threshold: float,
    mode: str,
    id_col: str,
    block_col: str,
    set_col: str,
    out_a: str,
    out_b: str,
):
    """Driver-side twin of the distributed prefix joins (r16, guide
    §1.2: fix the job shape before per-task work). Same candidate
    scheme — per-doc (global-frequency, element) order, prefix length
    n − floor(t·n) + 1, symmetric (jaccard) or smaller-prefix ×
    larger-full (containment) probing — and the same EXACT verify
    arithmetic: float64 inter/(na+nb−inter) for jaccard (identical
    IEEE ops to the Catalyst expression), exact integers for
    containment. Completeness needs only a block-consistent total
    order on (df, element), which the factorized codes provide; the
    tie-break differs from the distributed path's xxhash64 order, so
    the CANDIDATE sets can differ, but the outputs are identical —
    both paths emit exactly the pairs whose verified similarity
    clears the relaxed t.

    Returns a small local DataFrame, or None if the candidate volume
    exceeds DRIVER_MAX["prefix_candidates"] (caller falls back to the
    distributed join). Input ``sh`` must already hold distinct-element
    sets (the operators enforce that upstream); an empty or NULL set
    adds no postings, exactly as explode() on the distributed path.
    """
    import numpy as np
    import pyarrow.compute as pc

    spark = sh.sparkSession
    t = max(threshold - 0.01, 0.0)
    # Arrow end to end: the element strings are dictionary-encoded to
    # int codes (a C factorize over the contiguous string buffer)
    # without ever materializing Python string objects — the same
    # "keys move, text doesn't" discipline as the distributed path's
    # xxhash64, except the encoding is collision-free by construction
    # so the verify stays exact on codes alone.
    tbl = sh.select(id_col, block_col, set_col).toArrow().sort_by(id_col)
    n = tbl.num_rows
    ids = tbl[id_col].combine_chunks().to_numpy()
    lists = tbl[set_col].combine_chunks()
    sizes = (
        pc.fill_null(pc.list_value_length(lists), 0)
        .to_numpy()
        .astype(np.int64)
    )
    flat = pc.list_flatten(lists)
    g = (
        pc.dictionary_encode(flat).indices.to_numpy().astype(np.int64)
        if len(flat)
        else np.zeros(0, dtype=np.int64)
    )
    blk = (
        pc.dictionary_encode(tbl[block_col].combine_chunks())
        .indices.to_numpy()
        .astype(np.int64)
        if n
        else np.zeros(0, dtype=np.int64)
    )
    n_vocab = int(g.max()) + 1 if len(g) else 1
    doc_of = np.repeat(np.arange(n, dtype=np.int64), sizes)
    key = np.repeat(blk, sizes) * n_vocab + g
    # df per (block, element); inv = per-posting group id
    _, inv, cnt = np.unique(key, return_inverse=True, return_counts=True)
    dfp = cnt[inv]
    # per-doc (df, element) order — doc runs stay contiguous because
    # doc_of is the primary key and postings were built doc-by-doc
    order = np.lexsort((inv, dfp, doc_of))
    inv_s, doc_s = inv[order], doc_of[order]
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=starts[1:])
    pos = np.arange(len(doc_of), dtype=np.int64) - np.repeat(
        starts[:-1], sizes
    )
    nsz = np.repeat(sizes, sizes)
    plen = nsz - np.floor(t * nsz.astype(np.float64)).astype(np.int64) + 1
    is_pref = pos + 1 <= plen

    # candidate-volume pre-check from the collected postings alone
    n_groups = len(cnt)
    pref_cnt = np.bincount(inv_s[is_pref], minlength=n_groups)
    if mode == "jaccard":
        vol = float((pref_cnt * (pref_cnt - 1) // 2).sum())
    else:
        vol = float((pref_cnt.astype(np.float64) * cnt).sum())
    if vol > DRIVER_MAX["prefix_candidates"]:
        return None

    # per-doc element-code sets for the exact verify (original
    # posting order is doc-contiguous)
    doc_sets = [
        set(key[starts[d]: starts[d + 1]].tolist()) for d in range(n)
    ]

    def _excl_cumsum(x):
        out = np.zeros(len(x), dtype=np.int64)
        np.cumsum(x[:-1], out=out[1:])
        return out

    empty = np.zeros(0, dtype=np.int64)
    if mode == "jaccard":
        # postings restricted to prefixes, grouped by element key with
        # docs ascending inside each run — then every posting at local
        # position p pairs (as the larger doc) with the p earlier run
        # members, enumerated with two repeats and no Python loop
        p_inv = inv_s[is_pref]
        p_doc = doc_s[is_pref]
        if len(p_inv) == 0:
            p_inv = p_doc = empty
        o2 = np.lexsort((p_doc, p_inv))
        p_inv, p_doc = p_inv[o2], p_doc[o2]
        run_id = (
            np.cumsum(np.concatenate(([False], np.diff(p_inv) != 0)))
            if len(p_inv)
            else empty
        )
        run_start = _excl_cumsum(np.bincount(run_id))
        pos_in_run = np.arange(len(p_inv), dtype=np.int64) - run_start[
            run_id
        ]
        right = np.repeat(np.arange(len(p_inv), dtype=np.int64), pos_in_run)
        left = (
            np.arange(len(right), dtype=np.int64)
            - np.repeat(_excl_cumsum(pos_in_run), pos_in_run)
            + np.repeat(run_start[run_id], pos_in_run)
        )
        ii, jj = p_doc[left], p_doc[right]
    else:
        # smaller-role PREFIX postings × larger-role FULL postings of
        # the same key: every full posting pairs with every prefix
        # member of its run; the role filter is applied vectorized
        o2 = np.argsort(inv_s, kind="stable")
        a_inv, a_doc, a_pref = inv_s[o2], doc_s[o2], is_pref[o2]
        run_id = (
            np.cumsum(np.concatenate(([False], np.diff(a_inv) != 0)))
            if len(a_inv)
            else empty
        )
        n_runs = int(run_id[-1]) + 1 if len(run_id) else 0
        pref_idx = np.flatnonzero(a_pref)
        pref_run = run_id[pref_idx]
        npref = np.bincount(pref_run, minlength=n_runs)
        pref_run_start = _excl_cumsum(npref)
        cnt_l = npref[run_id]
        l_idx = np.repeat(np.arange(len(a_inv), dtype=np.int64), cnt_l)
        s_local = (
            np.arange(len(l_idx), dtype=np.int64)
            - np.repeat(_excl_cumsum(cnt_l), cnt_l)
        )
        s_idx = pref_idx[
            np.repeat(pref_run_start[run_id], cnt_l) + s_local
        ]
        sd, ld = a_doc[s_idx], a_doc[l_idx]
        ns_, nl_ = sizes[sd], sizes[ld]
        keep = (ns_ < nl_) | ((ns_ == nl_) & (sd < ld))
        sd, ld = sd[keep], ld[keep]
        ii, jj = np.minimum(sd, ld), np.maximum(sd, ld)

    if len(ii):
        packed = np.unique(ii.astype(np.int64) * n + jj)
        ii, jj = packed // n, packed % n
    rows_a, rows_b, v1, v2 = [], [], [], []
    for i, j in zip(ii.tolist(), jj.tolist()):
        inter = len(doc_sets[i] & doc_sets[j])
        na, nb = int(sizes[i]), int(sizes[j])
        if mode == "jaccard":
            denom = na + nb - inter
            jac = float(inter) / float(denom) if denom else 0.0
            if jac >= t:
                rows_a.append(ids[i])
                rows_b.append(ids[j])
                v1.append(jac)
        else:
            m = min(na, nb)
            if float(inter) >= t * float(m):
                rows_a.append(ids[i])
                rows_b.append(ids[j])
                v1.append(inter)
                v2.append(m)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_dt = sh.schema[id_col].dataType
    if mode == "jaccard":
        schema = StructType(
            [
                StructField(out_a, id_dt),
                StructField(out_b, id_dt),
                StructField("jaccard", DoubleType()),
            ]
        )
        data = pd.DataFrame({out_a: rows_a, out_b: rows_b, "jaccard": v1})
    else:
        schema = StructType(
            [
                StructField(out_a, id_dt),
                StructField(out_b, id_dt),
                StructField("inter_size", LongType()),
                StructField("min_size", LongType()),
            ]
        )
        data = pd.DataFrame(
            {out_a: rows_a, out_b: rows_b, "inter_size": v1, "min_size": v2}
        )
    if len(data) == 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(data, schema)


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.3,
    num_hash_tables: int = 5,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Candidate near-dup pairs with estimated jaccard ≥ threshold.

    Pipeline: distinct word-3-gram shingles → binary HashingTF
    (2^18-dim sparse) → MinHashLSH fit → approxSimilarityJoin at
    distance (1 − threshold). Returns (doc_a, doc_b, jaccard_dist)
    with doc_a < doc_b. Shuffle volume is bands·n rows, not n²."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # Pre-filter with the CHEAP equivalent predicate (shingles are
    # empty iff the doc has < 3 tokens) instead of filtering on the
    # computed shingle column: Catalyst pushes a column filter below
    # the fan-out exchange into the scan stage WITH its whole defining
    # expression inlined, so the O(tokens·k) shingle build would run
    # twice — once on the skew-prone scan tasks (measured as a 4-5 s
    # straggler at sf0.1) and again in the projection.
    sh = docs.where(F.size(tokens(text_col)) >= 3).select(
        F.col(id_col), word_shingles(text_col).alias("shingles")
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True
    )
    # localCheckpoint: the featurized table is scanned as BOTH sides
    # of the LSH self-join (and once more by fit) — without
    # materializing, shingling + hashing re-run three times. An eager
    # checkpoint (not a cache) makes the cost deterministic: cache
    # reuse across separately-built plans is a canonicalization
    # lottery (measured 1.1-5.4 s swings for this op between bench
    # runs), a checkpoint is always materialized exactly once here.
    feat = tf.transform(sh).localCheckpoint(eager=True)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=SEED
    )
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, 1.0 - jaccard_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


# token → ±1 bit-vector memo; corpus vocabularies are tiny relative to
# token counts, so hashing each distinct token once per executor makes
# the kernel O(tokens) adds instead of O(tokens·64) Python bit ops.
_TOKEN_VECS: dict[str, "object"] = {}


def _token_vec(tok: str):
    import numpy as np

    v = _TOKEN_VECS.get(tok)
    if v is None:
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        v = np.fromiter(
            ((1 if (h >> b) & 1 else -1) for b in range(64)), dtype=np.int32, count=64
        )
        _TOKEN_VECS[tok] = v
    return v


def _simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens: per-token md5 → 64 bits,
    weighted-majority per bit position. Deterministic."""
    import numpy as np

    toks = text.lower().split()
    if not toks:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for tok in toks:
        acc += _token_vec(tok)
    out = 0
    for b in np.nonzero(acc > 0)[0].tolist():
        out |= 1 << b
    return out if out < (1 << 63) else out - (1 << 64)  # two's complement


def simhash_udf():
    """Arrow-batched SimHash UDF (built lazily — pandas_udf needs an
    active SparkSession to parse its return type)."""

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return texts.map(_simhash64)

    return _simhash


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — Arrow-batched; the only Python-side text op in
    the engine (bit-twiddling over md5 is not expressible as a
    reasonable Catalyst expression)."""
    return docs.select(F.col(id_col), simhash_udf()(F.col(text_col)).alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    impl: str = "udf",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) ≤ max_hamming.

    Banding: split the 64-bit fingerprint into max_hamming+1 16-bit
    bands; by pigeonhole, any pair within the hamming budget agrees on
    ≥1 band, so an equi-join per band finds ALL such pairs with
    shuffle volume (bands·n) — never a cross join. Hamming is
    verified exactly on the candidates via bit_count(xor)."""
    fingerprints = {
        "jvm": simhash_fingerprints_jvm,
        "agg": simhash_fingerprints_agg,
        "udf": simhash_fingerprints,
    }[impl]
    fp = fingerprints(docs, id_col, text_col)
    return hamming_pairs_banded(
        fp, id_col=id_col, hash_col="simhash", max_hamming=max_hamming
    )


def hamming_pairs_banded(
    fp: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """All pairs with hamming(hash_a, hash_b) ≤ max_hamming over ANY
    64-bit fingerprint column — the banded engine behind text SimHash
    (simhash_near_dup_pairs) and image perceptual-hash dedup
    (multimodal.phash → dedup_image_phash). Split the 64 bits into
    max_hamming+1 equal bands; by pigeonhole, a pair within the
    budget agrees on ≥1 band, so per-band equi-joins find ALL such
    pairs with shuffle volume bands·n, never a cross join. Hamming
    verified exactly on candidates via bit_count(xor).

    100 TB shape: only (band_no, band_val, id, hash) rows shuffle —
    8-byte keys regardless of payload size (the whole point for
    images: pixels never move).

    The band rows are pinned while the verified pairs (small: true
    near-dups) are eagerly checkpointed, then released; the lazy plan
    is ``_band_pairs(_hamming_bands(...))``."""
    bands = _hamming_bands(fp, id_col, hash_col, max_hamming)
    # pin: both sides of the self-join read `bands`. The unpinned lazy
    # plan reuses the exchange (dedup_simhash_jvm at sf0.01, 4 vCPUs:
    # 4 jobs instead of 8) but its median wall rose from 2.4-2.9 s to
    # 3.9-4.3 s, because its uncheckpointed pairs feed two actions.
    with pinned(bands):
        bands.count()
        return _band_pairs(
            bands, id_col, max_hamming, out_a, out_b
        ).localCheckpoint(eager=True)


def _hamming_bands(
    fp: DataFrame, id_col: str, hash_col: str, max_hamming: int
) -> DataFrame:
    """(id, _h, band_no, band_val): one row per fingerprint and band,
    max_hamming+1 equal bands."""
    n_bands = max_hamming + 1
    band_width = 64 // n_bands
    return fp.select(
        F.col(id_col),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_no"),
                        F.shiftrightunsigned(F.col(hash_col), i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "_h", "band.band_no", "band.band_val")


def _band_pairs(
    bands: DataFrame, id_col: str, max_hamming: int, out_a: str, out_b: str
) -> DataFrame:
    """The lazy banded self-join: equi-join ``bands`` with itself on
    every column but (id, _h), keep one id order per pair, and verify
    hamming(_h_a, _h_b) ≤ max_hamming exactly on the candidates."""
    a, b = bands.alias("a"), bands.alias("b")
    keys = [c for c in bands.columns if c not in (id_col, "_h")]
    cond = reduce(
        and_,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    cand = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            F.col("a._h").alias("sh_a"),
            F.col("b._h").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select(out_a, out_b, "hamming")
    )


def hamming_pairs_banded_and(
    fp: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """AND-composed banding (round 11, VERDICT r10 #9): the same
    complete hamming-pairs contract as hamming_pairs_banded, with the
    candidate key WIDENED from one band to a PAIR of bands. Split the
    64 bits into B = max_hamming + 2 bands; a pair within the budget
    has ≥ B − max_hamming = 2 clean bands, hence agrees on ≥ 1 of the
    C(B,2) band-PAIRS — equi-joining on every (pair_no, val_i, val_j)
    composite key still finds ALL pairs (pigeonhole, one band deeper).

    Why: the single-band key is 64/(h+1) bits (16 at h=3) and the
    candidate count grows as Σ n_bucket² — quadratic with a 2^-16
    constant, which SCALE.md's round-9 ladder measured at exponent
    2.03 on the phash fixture's low-entropy buckets. The band-pair
    key carries 2·64/(h+2) bits (~25 at h=3): ~2^9 fewer random
    collisions per key for C(h+2,2)/(h+1) ≈ 2.5× more (8-byte) rows
    shuffled — candidates collapse toward the TRUE-pair (linear) term
    while the guarantee and the exact bit_count verify are unchanged.
    Use when the fingerprint space is low-entropy relative to n
    (images at corpus scale); the single-band form remains cheaper
    when buckets stay small. Pinned and checkpointed like
    hamming_pairs_banded."""
    n_bands = max_hamming + 2
    base, rem = divmod(64, n_bands)
    widths = [base + 1 if i < rem else base for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]

    def band(i):
        return F.shiftrightunsigned(F.col(hash_col), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    combos = [
        (i, j) for i in range(n_bands) for j in range(i + 1, n_bands)
    ]
    bands = fp.select(
        F.col(id_col),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("pair_no"),
                        band(i).alias("v1"),
                        band(j).alias("v2"),
                    )
                    for c, (i, j) in enumerate(combos)
                ]
            )
        ).alias("bp"),
    ).select(id_col, "_h", "bp.pair_no", "bp.v1", "bp.v2")
    with pinned(bands):
        bands.count()
        return _band_pairs(
            bands, id_col, max_hamming, out_a, out_b
        ).localCheckpoint(eager=True)


def _prefix_join(
    sh: DataFrame,
    threshold: float,
    mode: str,
    id_col: str,
    block_col: str,
    set_col: str,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """The two prefix joins' shared body: set semantics, the pin, the
    driver twin, and otherwise the distributed plan
    (``_jaccard_prefix_plan`` / ``_containment_prefix_plan``)
    eagerly checkpointed.

    Duplicate elements would inflate F.size() and the size filters
    would silently DROP qualifying pairs (r12 ADVICE #2), hence
    array_distinct. There is NO .where(size > 0): Catalyst pushes it
    below the projection with the shingle expression inlined, which
    ran the O(tokens·k) build twice per row (r16). Empty and NULL sets
    emit no postings on either path. The DISK_ONLY pin feeds the
    guard statistic, the twin's collect or the prefix build and both
    verify sides; it is released when the result no longer reads it."""
    sh = sh.select(
        id_col,
        block_col,
        F.array_distinct(set_col).alias(set_col),
    )
    with pinned(sh, level=StorageLevel.DISK_ONLY):
        # one job materializes the pin AND returns the guard stat Σ|set|
        n_post = sh.agg(F.sum(F.size(set_col))).first()[0]
        if (n_post or 0) <= DRIVER_MAX["prefix_postings"]:
            res = _prefix_pairs_driver(
                sh, threshold, mode, id_col, block_col, set_col, out_a, out_b
            )
            if res is not None:
                return res
        plan = {
            "jaccard": _jaccard_prefix_plan,
            "containment": _containment_prefix_plan,
        }[mode]
        return plan(
            sh, threshold, id_col, block_col, set_col, out_a, out_b
        ).localCheckpoint(eager=True)


def _hashed_postings(
    sh: DataFrame, id_col: str, block_col: str, set_col: str, *extra
) -> DataFrame:
    """One row per (doc, element): ``id_col``, the join block ``_blk``,
    any ``extra`` columns, the set size ``_n`` and the element's 8-byte
    key ``_g``. The element is hashed in the array domain BEFORE
    exploding: a generator can't nest inside xxhash64(...), and
    transform keeps the hashing in the same scan-stage projection."""
    return sh.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        *extra,
        F.size(set_col).alias("_n"),
        F.explode(
            F.transform(F.col(set_col), lambda g: F.xxhash64(g))
        ).alias("_g"),
    )


def _key_df(postings: DataFrame) -> DataFrame:
    """Per-(block, key) document frequency ``_df`` of hashed postings."""
    return postings.groupBy("_blk", "_g").agg(F.count("*").alias("_df"))


def _ranked_postings(
    postings: DataFrame, key_df: DataFrame, id_col: str, how: str = "inner"
) -> DataFrame:
    """Postings joined to their key frequencies ``_df`` and ranked
    ``_rn`` within each doc by (frequency, key) — the global order every
    prefix is cut from."""
    w = Window.partitionBy(id_col).orderBy("_df", "_g")
    return postings.join(key_df, ["_blk", "_g"], how).withColumn(
        "_rn", F.row_number().over(w)
    )


def _prefix_len(t: float):
    """The prefix length n − ⌊t·n⌋ + 1 of a set of size ``_n``: a pair
    meeting the (relaxed) threshold t shares an element within it (in
    both prefixes for jaccard, in the smaller set's for containment)."""
    return F.col("_n") - F.floor(F.lit(t) * F.col("_n")).cast("int") + F.lit(1)


def jaccard_pairs_prefix(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    block_col: str = "lang",
    set_col: str = "shingles",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs / PPJoin candidate scheme, Bayardo et al. WWW'07 / Xiao
    et al. WWW'08) — same output as the blocked all-pairs jaccard
    join, sub-quadratic cost. Returns every (``out_a`` < ``out_b``)
    pair within a block whose RAW jaccard is ≥ ``threshold`` − 0.01,
    with its ``jaccard`` column; callers apply their own final
    predicate (raw vs rounded) so this stays a drop-in for the
    quadratic form.

    Completeness (why this is exact, not approximate): order each
    set's elements by (global frequency, value) — any fixed total
    order works. If J(a,b) ≥ t then |a∩b| ≥ t·|a∪b| ≥ t·max(|a|,|b|),
    so each side holds ≥ ceil(t·|s|) common elements; the SMALLEST
    common element (in the global order) therefore sits within the
    first |s| − ceil(t·|s|) + 1 elements of BOTH sets — equi-joining
    the per-set prefixes of that length on (block, element) finds
    every qualifying pair. Candidates are then verified with the
    exact jaccard, so precision is exact too. Prefix lengths and the
    size-ratio filter (min ≥ t·max) use a slightly RELAXED t so a
    caller filtering on ROUND(j, 6) ≥ t (which admits raw j down to
    t − 5e-7) still sees every pair.

    100 TB shape: postings carry (block, xxhash64(element), id,
    set_size) — the element string is HASHED to an 8-byte key before
    anything shuffles (the "keys move, text doesn't" discipline; a
    hash collision can only ADD a candidate, which the exact verify
    removes, so completeness is unaffected) — through one df-count
    aggregate, one row_number window per doc, and one equi-join on
    (block, key) whose volume is Σ_g C(df_g·0.7, 2) over PREFIX
    postings (rare elements, by construction), never n². The input
    sets are pinned DISK_ONLY (the 10M-doc ladder rung OOM'd a 16g
    heap holding 280M deserialized shingle strings under the default
    MEMORY_AND_DISK level; disk-only keeps the one-scan semantics
    with zero heap residency). The verify join ships the shingle
    arrays only for surviving candidates. This replaces the
    lang-blocked O(n²) comparison (12.5M pairs at sf0.1 → 326k
    candidate postings measured) while remaining oracle-identical,
    unlike MinHash banding whose recall is probabilistic."""
    return _prefix_join(
        sh, threshold, "jaccard", id_col, block_col, set_col, out_a, out_b
    )


def _jaccard_prefix_plan(
    sh: DataFrame,
    threshold: float,
    id_col: str,
    block_col: str,
    set_col: str,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """The distributed jaccard prefix join over distinct-element sets,
    as a lazy plan (see jaccard_pairs_prefix)."""
    # relaxed pruning bound: admits raw-jaccard values that round up
    # to the caller's threshold at 6 decimals (and a safety margin)
    t = max(threshold - 0.01, 0.0)
    ex = _hashed_postings(sh, id_col, block_col, set_col)
    pref = (
        _ranked_postings(ex, _key_df(ex), id_col)
        .where(F.col("_rn") <= _prefix_len(t))
        .select(
            "_blk", "_g", F.col(id_col).alias("_id"), "_n", "_rn"
        )
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin positional filter (Xiao et al. WWW'08): J ≥ t needs
    # overlap α = ceil(t/(1+t)·(n_a+n_b)); a match at prefix
    # positions (rn_a, rn_b) can contribute at most
    # 1 + min(n_a−rn_a, n_b−rn_b) total overlap. The pair's FIRST
    # common element (minimal positions in both ⇒ loosest bound)
    # always passes when J ≥ t, so filtering every matched posting
    # pair keeps qualifying pairs while pruning saturated-bucket
    # noise BEFORE the distinct/verify exchanges. The −1e-9 guards
    # the ceil against float round-up tightening α by 1.
    alpha = F.ceil(
        F.lit(t / (1.0 + t))
        * (F.col("a._n") + F.col("b._n")).cast("double")
        - F.lit(1e-9)
    )
    cand = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .where(
            F.least(F.col("a._n"), F.col("b._n")).cast("double")
            >= F.lit(t) * F.greatest(F.col("a._n"), F.col("b._n"))
        )
        .where(
            1
            + F.least(
                F.col("a._n") - F.col("a._rn"),
                F.col("b._n") - F.col("b._rn"),
            )
            >= alpha
        )
        .select(
            F.col("a._id").alias(out_a), F.col("b._id").alias(out_b)
        )
        .distinct()
    )
    from vfs_spark.functions.text import jaccard

    sa = sh.select(
        F.col(id_col).alias(out_a), F.col(set_col).alias("_sa")
    )
    sb = sh.select(
        F.col(id_col).alias(out_b), F.col(set_col).alias("_sb")
    )
    # verified at the relaxed t: the driver twin's output envelope
    return cand.join(sa, out_a).join(sb, out_b).select(
        out_a,
        out_b,
        jaccard(F.col("_sa"), F.col("_sb")).alias("jaccard"),
    ).where(F.col("jaccard") >= t)


def containment_pairs_prefix(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    block_col: str = "lang",
    set_col: str = "shingles",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """EXACT max-containment self-join via ASYMMETRIC prefix
    filtering — same output as the blocked all-pairs containment
    join (|A∩B| / min(|A|,|B|) ≥ threshold), sub-quadratic cost.
    Returns every (``out_a`` < ``out_b`` by id) block-local pair
    whose containment is ≥ ``threshold`` − 0.01, with exact integer
    ``inter_size`` / ``min_size`` columns; callers apply their own
    final predicate (e.g. the registry's 5·i ≥ 3·m) so cross-engine
    float rounding never enters the decision.

    Why jaccard's SYMMETRIC prefix scheme cannot be reused:
    containment has no size-ratio bound (a 3-shingle doc embedded in
    a 10,000-shingle doc has containment 1.0), so the larger side's
    required overlap t·min(|A|,|B|) depends on the OTHER set's size,
    unknown at prefix-build time — a frequency-ordered prefix of the
    larger set can be made to miss every common element by padding it
    with rarer ones. The asymmetric scheme (the set-containment-join
    adaptation of Bayardo et al. WWW'07 / Xiao et al. WWW'08 prefix
    filtering, cf. Chaudhuri et al. ICDE'06 SSJoin's asymmetric
    operand treatment) fixes the roles instead: C(A,B) ≥ t means the
    SMALLER set S (m = |S|) shares ≥ ceil(t·m) elements with L, so
    ordering S's elements by (global frequency, value) puts at least
    one shared element inside S's first m − floor(t·m) + 1 — and that
    element is, by definition of shared, SOMEWHERE in L. Equi-joining
    the smaller-role PREFIX postings against the larger-role FULL
    postings on (block, element) therefore finds every qualifying
    pair; exact verification restores precision. Equal sizes
    tie-break on id (either side is a valid "smaller"), so each
    unordered pair is probed exactly once.

    The PPJoin positional filter carries over with the containment
    overlap target α = ceil(t·m): a match at full-order positions
    (rn_S, rn_L) can contribute at most 1 + min(m − rn_S, |L| − rn_L)
    total overlap, and the pair's first common element (minimal
    positions in both ⇒ loosest bound) always passes when C ≥ t.

    100 TB shape: same discipline as jaccard_pairs_prefix — elements
    are hashed to 8-byte keys in the scan stage before anything
    shuffles (a collision only ADDS a candidate; verify removes it),
    inputs pinned DISK_ONLY, candidate volume Σ_g pref_df_g·df_g
    over (block, element) groups instead of n² — the prefix side is
    rare-element-only by construction, which caps the product. The
    verify join ships shingle arrays only for surviving candidates.
    This replaces the lang-blocked O(n²) self-join as
    dedup_containment's registered Spark plan (r12 VERDICT task #5);
    the quadratic CTE stays as the DuckDB oracle, and the anchored
    sampler (containment_pairs_anchored) remains the UNBLOCKED
    probabilistic path. Thresholds are relaxed by 0.01 before any
    pruning arithmetic so a caller's exact integer predicate at the
    nominal threshold still sees every pair."""
    return _prefix_join(
        sh, threshold, "containment", id_col, block_col, set_col, out_a, out_b
    )


def _containment_prefix_plan(
    sh: DataFrame,
    threshold: float,
    id_col: str,
    block_col: str,
    set_col: str,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """The distributed containment prefix join over distinct-element
    sets, as a lazy plan (see containment_pairs_prefix)."""
    t = max(threshold - 0.01, 0.0)
    ex = _hashed_postings(sh, id_col, block_col, set_col)
    # FULL postings with each element's rank in the doc's global
    # frequency order — the larger role probes all of them, and the
    # rank feeds the positional filter on both sides
    full = _ranked_postings(ex, _key_df(ex), id_col).select(
        "_blk", "_g", F.col(id_col).alias("_id"), "_n", "_rn"
    )
    pref = full.where(F.col("_rn") <= _prefix_len(t))
    s, l = pref.alias("s"), full.alias("l")  # noqa: E741 — l = larger role
    # overlap target α = ceil(t·m), m = the smaller set's size; the
    # −1e-9 guards the ceil against float round-up tightening α by 1
    alpha = F.ceil(
        F.lit(t) * F.col("s._n").cast("double") - F.lit(1e-9)
    )
    cand = (
        s.join(
            l,
            (F.col("s._blk") == F.col("l._blk"))
            & (F.col("s._g") == F.col("l._g"))
            & (
                (F.col("s._n") < F.col("l._n"))
                | (
                    (F.col("s._n") == F.col("l._n"))
                    & (F.col("s._id") < F.col("l._id"))
                )
            ),
        )
        .where(
            1
            + F.least(
                F.col("s._n") - F.col("s._rn"),
                F.col("l._n") - F.col("l._rn"),
            )
            >= alpha
        )
        .select(
            F.least(F.col("s._id"), F.col("l._id")).alias(out_a),
            F.greatest(F.col("s._id"), F.col("l._id")).alias(out_b),
        )
        .distinct()
    )
    sa = sh.select(
        F.col(id_col).alias(out_a), F.col(set_col).alias("_sa")
    )
    sb = sh.select(
        F.col(id_col).alias(out_b), F.col(set_col).alias("_sb")
    )
    # verified at the relaxed t: the driver twin's output envelope
    return cand.join(sa, out_a).join(sb, out_b).select(
        out_a,
        out_b,
        F.size(F.array_intersect("_sa", "_sb"))
        .cast("bigint")
        .alias("inter_size"),
        F.least(F.size("_sa"), F.size("_sb"))
        .cast("bigint")
        .alias("min_size"),
    ).where(F.col("inter_size").cast("double") >= t * F.col("min_size"))


def prefix_candidate_stats(
    sh: DataFrame,
    threshold: float,
    mode: str = "jaccard",
    id_col: str = "doc_id",
    block_col: str = "lang",
    set_col: str = "shingles",
    sample_fraction: float | None = None,
    route_block_col: str | None = None,
):
    """Pre-flight for the exact prefix joins: ESTIMATE the candidate
    volume without paying the self-join. The r13 ladders showed the
    exact prefix scheme's one failure mode — a saturated/low-entropy
    token space (closed-vocab corpora) makes candidate growth
    super-linear (SCALE.md r13: exponent 2.35 for containment, 3.32
    for jaccard@0.3 on the 1000-word generator) while Heaps'-law
    corpora keep it near-linear. This probe turns that caveat into a
    DECISION INPUT: route to the exact prefix join when the estimate
    is sane, to the banded/anchored probabilistic twin when the
    corpus is degenerate — decided BEFORE the expensive stage instead
    of inside it.

    One estimator over a doc sample A drawn at rate p =
    ``sample_fraction`` (None means 1: every doc):
    - ``est_candidates_upper``: one explode + one groupBy over A's
      postings, Σ_g C(df_g, 2) (jaccard) / Σ_g df_g·(df_g − 1)
      (containment), rescaled by 1/p² (each unordered doc pair
      survives sampling with probability p², so the rescaled sum is
      unbiased by linearity over pairs). At p = 1 it bounds the prefix
      join's candidates from above (prefix postings ⊆ postings), but
      loosely: common elements dominate Σ C(df,2) and rarely enter
      prefixes, so it reads ~the same per doc on saturated and
      Heaps'-law corpora (224 vs 252 at 5M docs, r14) and cannot route.
    - ``est_candidates_prefix``, the ROUTING statistic: the join's own
      pre-positional-filter volume Σ_g C(pref_df_g, 2) (jaccard) /
      Σ_g pref_df_g·(df_g − 1) (containment). Pair counting runs on A,
      but prefix MEMBERSHIP ranks by df̂ = cnt_B/q from an INDEPENDENT
      larger sample B (rate q = min(1, PREFIX_STATS_DF_SAMPLE_FACTOR·p),
      another hash salt), so a true-df-100 key reads df̂≈100 whether or
      not its colliding docs landed in A, and the rank filter keeps or
      excludes it for the same reason the full join would. Ranking by
      A's own in-sample df is biased LOW: the r14 router_probe measured
      it ~20× under the full volume at 5M docs and identical on
      saturated and Heaps'-law corpora, because a key shared by two
      sampled docs reads in-sample df ≥ 2 while their other keys read 1,
      so the lowest-df-first prefix excludes exactly the keys that
      generate candidates. Jaccard rescales 1/p² (pairs in A),
      containment 1/p (A's prefix postings; df̂ is already in corpus
      units).

    At p = 1, B is the whole corpus (q = 1): df̂ = df and every figure
    is exact. That is the calibration tier (12,527,370 at 5M docs, the
    r12 probe's 12.5M; the positional filter then prunes 11-22× below
    it), and it costs MORE than the join at that size (12,550 cpu-s),
    so large corpora are probed at p < 1: at 5M saturated docs p = 0.01
    took 73 cpu-s (81× below the join) with est_candidates_upper within
    +2.3%, p = 0.05 163 cpu-s at −0.3%. Below p = 1 the figures are
    ESTIMATES, not bounds: variance concentrates in the heaviest keys,
    which is what the router exists to detect.

    Samples are deterministic id-hash FILTERS (salt PREFIX_STATS_SEED
    for A, +1 for B), not DataFrame.sample: a filter on the id column
    alone is pushed below the caller's shingle projection, so the
    expensive word_shingles / array_distinct run only for sampled rows
    (DataFrame.sample sits ABOVE the projection; p = 0.01 cost 3,013
    cpu-s ≈ the full pass that way), and the same (id, salt) always
    lands on the same side, so re-probes are comparable. A is pinned
    DISK_ONLY, so its four reads (postings, doc count, prefix ranking,
    per-block doc counts) scan the input once.

    Returns one dict. Magnitudes are in FULL-CORPUS units (counts 1/p,
    the estimates as above), so a caller comparing fields never mixes
    scales: n_docs, postings, prefix_postings, est_candidates_upper,
    est_candidates_prefix. The raw counts in A ride along as
    n_docs_sampled, postings_sampled, distinct_keys_sampled and
    distinct_prefix_keys_sampled; distinct counts do not rescale
    linearly (heavy keys survive sampling, rare keys vanish), so they
    have no full-unit field. Also ``sampled`` (the argument),
    ``df_sample_fraction`` (q), ``route_block_col`` and ``blocks``: the
    top PREFIX_STATS_MAX_BLOCKS blocks by per-doc prefix burden, each
    with n_docs / n_docs_sampled / est_candidates_prefix /
    est_prefix_per_doc in full-corpus units — an exact per-block
    partition of the global estimate (every per-key term carries its
    block), feeding the router's skew rule. Adequately-sampled blocks
    (n_docs_sampled ≥ PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS) rank
    FIRST: an under-sampled block's per-doc value is 1/p-inflated
    noise that would otherwise crowd a genuinely hot block out of the
    bounded report (r15 ADVICE).

    ``route_block_col`` (r15 VERDICT #4) decouples the SKEW axis from
    the JOIN's blocking: production web-corpus skew is per-HOST
    (template spam on one domain) while the join blocks per-lang, so
    the per-``lang`` detail dilutes the hot host into the megablock.
    When set, ``blocks`` decomposes along this column instead, while
    the global estimate still describes the ``block_col``-blocked join
    (per-key terms carry the routing block and are re-summed per key
    for the global figure — identical to the undecomposed estimate).
    Containment terms are per-posting, so the routing split is an
    exact partition; jaccard terms are per doc-PAIR, so a routing block
    is credited its WITHIN-block pairs — a lower bound that is tight
    for template spam (spam docs collide with each other) and
    conservative only about cross-host mass, which the global rule
    still catches."""
    if mode not in ("jaccard", "containment"):
        raise ValueError(f"unknown mode {mode!r}")
    if sample_fraction is not None and not 0.0 < sample_fraction <= 1.0:
        raise ValueError("sample_fraction must be in (0, 1]")
    t = max(threshold - 0.01, 0.0)
    p = sample_fraction or 1.0
    q = min(1.0, PREFIX_STATS_DF_SAMPLE_FACTOR * p)
    rblk = route_block_col if route_block_col != block_col else None

    def sets(rate, salt, *extra):
        # the distinct non-empty sets of an id-hash sample at ``rate``
        s = sh
        if rate < 1.0:
            s = s.where(
                F.abs(F.xxhash64(F.col(id_col), F.lit(salt))) % 1_000_000
                < int(rate * 1_000_000)
            )
        return s.select(
            id_col, block_col, *extra, F.array_distinct(set_col).alias(set_col)
        ).where(F.size(set_col) > 0)

    def pair_sum(cnt, df):
        # jaccard: doc pairs sharing a key, Σ C(cnt, 2); containment:
        # each posting times the key's other docs, Σ cnt·(df − 1)
        c = F.col(cnt)
        return F.sum(c * (c - 1) / 2 if mode == "jaccard" else c * (F.col(df) - 1))

    a = sets(p, PREFIX_STATS_SEED, *([rblk] if rblk else []))
    with pinned(a, level=StorageLevel.DISK_ONLY):
        ex = _hashed_postings(
            a, id_col, block_col, set_col,
            F.col(rblk or block_col).alias("_rblk"),
        )
        row = (
            _key_df(ex)
            .agg(
                F.sum("_df").alias("postings"),
                F.count("*").alias("distinct_keys"),
                pair_sum("_df", "_df").cast("double").alias("est_upper"),
            )
            .first()
        )
        n_docs = a.count()
        b = ex if p >= 1.0 else _hashed_postings(
            sets(q, PREFIX_STATS_SEED + 1), id_col, block_col, set_col
        )
        # Keys absent from B (a left-join miss) rank first, where the
        # full join ranks the df=1 tail, ties broken on _g either way;
        # their containment weight uses df̂=0, which keeps E[df̂−1 | one
        # A posting] = D−1 exact — df̂=1 gave every PRESENT singleton
        # key (cnt_B=1 → df̂=1/q) a spurious (1/q − 1) weight that the
        # r14 probe measured swamping the containment signal. Negative
        # per-key terms are kept (unbiasedness needs them); only the
        # totals are floored. One row per (join block, key, routing
        # block): re-summing over _rblk gives the per-key terms of the
        # global estimate, grouping by _rblk the skew detail. It is
        # pinned for its two consumers and bounded by A's prefix
        # postings.
        pref_key = (
            _ranked_postings(ex, _key_df(b), id_col, "left")
            .where(F.col("_rn") <= _prefix_len(t))
            .groupBy("_blk", "_g", "_rblk")
            .agg(
                F.count("*").alias("_p"),
                (F.coalesce(F.first("_df"), F.lit(0)) / F.lit(q)).alias("_dfh"),
            )
        )
        pest = pair_sum("_p", "_dfh") / F.lit(p * p if mode == "jaccard" else p)
        with pinned(pref_key, level=StorageLevel.MEMORY_AND_DISK):
            tot = (
                pref_key.groupBy("_blk", "_g")
                .agg(F.sum("_p").alias("_p"), F.first("_dfh").alias("_dfh"))
                .agg(
                    F.sum("_p").alias("prefix_postings"),
                    F.count("*").alias("distinct_prefix_keys"),
                    pest.cast("double").alias("e"),
                )
                .first()
            )
            # per-doc burden in full-corpus units: _e is rescaled, the
            # block's sampled doc count _nb rescales 1/p
            top = (
                pref_key.groupBy("_rblk")
                .agg(pest.cast("double").alias("_e"))
                .join(
                    a.groupBy(rblk or block_col)
                    .agg(F.count("*").alias("_nb"))
                    .withColumnRenamed(rblk or block_col, "_rblk"),
                    "_rblk",
                )
                .select(
                    "_rblk",
                    "_e",
                    "_nb",
                    (F.col("_e") * F.lit(p) / F.col("_nb")).alias("_pd"),
                )
                .orderBy(
                    F.desc(
                        F.col("_nb") >= F.lit(PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS)
                    ),
                    F.desc("_pd"),
                )
                .limit(PREFIX_STATS_MAX_BLOCKS)
                .collect()
            )
    return {
        "n_docs": int(round(n_docs / p)),
        "postings": int(round((row["postings"] or 0) / p)),
        "prefix_postings": int(round((tot["prefix_postings"] or 0) / p)),
        "n_docs_sampled": n_docs,
        "postings_sampled": row["postings"],
        "distinct_keys_sampled": row["distinct_keys"],
        "distinct_prefix_keys_sampled": tot["distinct_prefix_keys"],
        "est_candidates_upper": float(row["est_upper"] or 0.0) / (p * p),
        "est_candidates_prefix": max(float(tot["e"] or 0.0), 0.0),
        "sampled": sample_fraction,
        "df_sample_fraction": q,
        "route_block_col": rblk or block_col,
        "blocks": [
            {
                "block": r["_rblk"],
                "n_docs": int(round(r["_nb"] / p)),
                "n_docs_sampled": int(r["_nb"]),
                "est_candidates_prefix": max(float(r["_e"] or 0.0), 0.0),
                "est_prefix_per_doc": max(float(r["_pd"] or 0.0), 0.0),
            }
            for r in top
        ],
    }


# ---------------------------------------------------------------------------
# Candidate-volume router (r13 VERDICT task #1/#5): the exact prefix
# joins' one failure mode — degenerate/saturated vocabulary making
# candidate generation super-linear (r13 ladder: jaccard killed at a
# 49 GB scratch spill at 20M docs on the closed-vocab corpus) — gets
# a measured pre-flight DECISION instead of a docstring caveat.
#
# Routing statistic: est_candidates_prefix of prefix_candidate_stats
# — the pre-positional-filter volume of the join itself. The
# all-postings Σ C(df,2) (est_candidates_upper) cannot route: the r14 probe
# measured it ~IDENTICAL per doc on saturated vs Heaps'-law corpora
# at equal n (224 vs 252 at 5M docs) because the Zipf head dominates
# the sum on both and head keys never enter prefixes.
#
# Decision rule (constants calibrated from the r14 router_probe
# ladder — SCALE.md r14 calibration table): route to the
# probabilistic twin iff the estimated prefix-candidate volume
# exceeds BOTH
#   - PREFIX_ROUTER_MIN_TOTAL (absolute floor: below ~10⁷ generated
#     candidates even a skew-heavy join is minutes of one node's
#     work — fixtures and small corpora always stay exact), AND
#   - PREFIX_ROUTER_MAX_PREFIX_PER_DOC[mode] × n_docs. Per-doc is
#     the scale-invariant form (expected join work per row, the
#     per-executor burden on a cluster); per-MODE because prefix
#     length differs structurally (t=0.3 jaccard keeps ~70% of each
#     doc's grams, t=0.6 containment ~40%), so the same corpus
#     reads ~10× apart between modes. Measured brackets (saturated
#     generator, 62 GB-scratch node, SCALE.md r14):
#       jaccard:      survived 10M docs at 12.5/doc, spill-died at
#                     20M at 20.9/doc; Heaps'-law ceiling 2.2/doc
#                     → cap 15.0 (≥6.7× above realistic corpora)
#       containment:  survived 20M docs at 0.68/doc, 40M attempt
#                     scratch-bound — extrapolated ≈2.5/doc via the
#                     measured candidate exponent 2.88; Heaps'-law
#                     ceiling 0.23/doc → cap 1.5 (≥6.5× above)
# Loose-direction safety: the fallback twins are recall-gated
# (RECALL_r*.json), so a false "degenerate" routes to an acceptable
# probabilistic path; a false "fine" merely pays spill the ladder
# already survived one doubling past the cap's survived anchor.
#
# The caps, the floor and the sampling rule are code constants like
# dispatch.DRIVER_MAX: a test that needs another value monkeypatches
# the module attribute.

PREFIX_ROUTER_SAMPLE_FRACTION = 0.01
PREFIX_ROUTER_TARGET_SAMPLED_DOCS = 50_000
PREFIX_ROUTER_SMALL_CORPUS_DOCS = 200_000
PREFIX_ROUTER_MIN_TOTAL = 10_000_000.0
PREFIX_ROUTER_MAX_PREFIX_PER_DOC = {
    "jaccard": 15.0,
    "containment": 1.5,
}
# Skew-awareness (r14 VERDICT #5): the corpus-MEAN per-doc rule is
# blind to a saturated subdomain inside a healthy corpus (template
# spam on one host: 95% Heaps'-law bulk holds the mean under the cap
# while the hot block alone generates the spill). The probe's
# per-key terms already carry the block, so the estimate decomposes
# exactly per block; the router additionally routes banded when ANY
# single block exceeds BOTH thresholds on its own — the same
# per-mode cap applies (a block is just a sub-corpus: the calibrated
# brackets are per-doc join burden, invariant to how many docs sit
# outside the block) and the same absolute floor (the spill is
# caused by absolute candidate volume; a hot block below the floor
# is minutes of one node's work regardless of its per-doc ratio).
# MIN_BLOCK_SAMPLED_DOCS bounds estimator variance: a block with
# only a handful of sampled docs can read an enormous rescaled
# per-doc value from a couple of coincident pairs; below ~100
# sampled docs the block estimate is noise and the global rule (plus
# the next re-probe at a larger p) is the backstop. top-20 blocks by
# per-doc burden are reported, so a many-block corpus (host-level
# blocking) stays collect-bounded.
PREFIX_STATS_MAX_BLOCKS = 20
PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS = 100
# prefix_candidate_stats' samples: A's id-hash salt (B uses salt + 1)
# and B's rate as a multiple of A's. At 10× the df-ranking pass stays
# ~an order of magnitude under a full postings scan.
PREFIX_STATS_SEED = 7
PREFIX_STATS_DF_SAMPLE_FACTOR = 10.0


def route_prefix_join(
    sh: DataFrame,
    threshold: float,
    mode: str = "jaccard",
    id_col: str = "doc_id",
    block_col: str = "lang",
    set_col: str = "shingles",
    route_block_col: str | None = None,
) -> dict:
    """Pre-flight routing decision for an exact prefix self-join.

    Probes the corpus with prefix_candidate_stats — at p = 1 (exact)
    on small corpora (≤ PREFIX_ROUTER_SMALL_CORPUS_DOCS, where the full
    prefix pipeline costs seconds), sampled above it (p chosen so
    ~PREFIX_ROUTER_TARGET_SAMPLED_DOCS docs are probed, floored at
    PREFIX_ROUTER_SAMPLE_FRACTION — the 73-cpu-s shape
    measured at 5M docs in r13) — and applies the calibrated
    decision rule documented above, PLUS the per-block hot-spot rule
    (route banded when any single block with ≥
    PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS probed docs exceeds both
    the floor and the per-doc cap on its own — the skew case the
    corpus mean hides). Returns a dict with ``strategy``
    ('exact' | 'banded'), the probed ``stats``, the two decision
    inputs (``est_prefix``, ``est_prefix_per_doc``), and
    ``hot_block`` (the offending block's stats, or None).

    ``route_block_col`` (r15 VERDICT #4): the SKEW axis for the
    hot-block rule, independent of the join's ``block_col``.
    Production web-corpus skew is per-HOST (template spam on one
    domain) while the join blocks per-lang — a lang-level
    decomposition dilutes the hot host into the 'en' megablock and
    reads clean. Pass the canonical host column here to detect it;
    the global estimate and the join semantics are unchanged (see
    prefix_candidate_stats for the per-mode attribution)."""
    if mode not in PREFIX_ROUTER_MAX_PREFIX_PER_DOC:
        raise ValueError(f"unknown mode {mode!r}")
    cap = PREFIX_ROUTER_MAX_PREFIX_PER_DOC[mode]
    floor = PREFIX_ROUTER_MIN_TOTAL
    n = sh.where(F.size(set_col) > 0).count()
    # short-circuit: even the ALL-PAIRS volume C(n,2) cannot cross the
    # absolute floor, so no probe result could ever route banded —
    # skip the probe entirely (every committed fixture lands here;
    # the probe is a production pre-flight, not a fixture tax)
    if n * (n - 1) / 2 <= floor:
        return {
            "strategy": "exact",
            "est_prefix": 0.0,
            "est_prefix_per_doc": 0.0,
            "n_docs": n,
            "cap_per_doc": cap,
            "min_total": floor,
            "stats": {"skipped": "C(n,2) <= min_total"},
        }
    p = None if n <= PREFIX_ROUTER_SMALL_CORPUS_DOCS else min(
        1.0,
        max(PREFIX_ROUTER_SAMPLE_FRACTION, PREFIX_ROUTER_TARGET_SAMPLED_DOCS / n),
    )
    stats = prefix_candidate_stats(
        sh,
        threshold,
        mode=mode,
        id_col=id_col,
        block_col=block_col,
        set_col=set_col,
        sample_fraction=p,
        route_block_col=route_block_col,
    )
    est_prefix = float(stats["est_candidates_prefix"])
    per_doc = est_prefix / max(n, 1)
    hot_block = None
    for b in stats["blocks"]:
        if b["n_docs_sampled"] < PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS:
            continue
        if (
            b["est_candidates_prefix"] > floor
            and b["est_prefix_per_doc"] > cap
        ):
            hot_block = b
            break
    banded = (est_prefix > floor and per_doc > cap) or hot_block is not None
    return {
        "strategy": "banded" if banded else "exact",
        "est_prefix": est_prefix,
        "est_prefix_per_doc": per_doc,
        "n_docs": n,
        "cap_per_doc": cap,
        "min_total": floor,
        "hot_block": hot_block,
        "stats": stats,
    }


def _pairs_auto(
    mode: str,
    docs: DataFrame,
    threshold: float,
    id_col: str,
    block_col: str,
    text_col: str,
    route: dict | None,
) -> DataFrame:
    """The shared body of jaccard_pairs_auto / containment_pairs_auto:
    shingle, route (unless ``route`` is given), then run the exact
    prefix join or warn and run the mode's recall-gated fallback."""
    sh = docs.select(id_col, block_col, word_shingles(text_col).alias("shingles"))
    if route is None:
        route = route_prefix_join(
            sh, threshold, mode=mode, id_col=id_col, block_col=block_col
        )
    if route["strategy"] == "exact":
        exact = (
            jaccard_pairs_prefix if mode == "jaccard"
            else containment_pairs_prefix
        )
        return exact(sh, threshold, id_col=id_col, block_col=block_col)
    import warnings

    hb = route.get("hot_block")
    twin = (
        "banded MinHash twin" if mode == "jaccard"
        else "anchored sampler"
    )
    warnings.warn(
        f"{mode}_pairs_auto: estimated prefix-candidate volume "
        f"{route['est_prefix']:.3g} ({route['est_prefix_per_doc']:.1f}"
        f"/doc over {route['n_docs']} docs"
        + (
            f"; hot block {hb['block']!r}: "
            f"{hb['est_prefix_per_doc']:.1f}/doc over "
            f"{hb['n_docs']} docs"
            if hb
            else ""
        )
        + ") exceeds the calibrated "
        "single-node envelope — falling back to the recall-gated "
        f"{twin} (exact-verified candidates, probabilistic "
        "recall; see RECALL_r*.json)",
        RuntimeWarning,
        stacklevel=3,
    )
    if mode == "jaccard":
        return minhash_native_pairs(
            docs,
            id_col=id_col,
            text_col=text_col,
            jaccard_threshold=threshold,
            n_hashes=8,
            band_r=2,
        )
    return containment_pairs_anchored(
        docs,
        id_col=id_col,
        text_col=text_col,
        containment_threshold=threshold,
        emit="counts",
    )


def jaccard_pairs_auto(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    block_col: str = "lang",
    text_col: str = "text",
    route: dict | None = None,
) -> DataFrame:
    """Jaccard near-dup pairs with AUTO strategy (r13 VERDICT task
    #1): run route_prefix_join's measured pre-flight, then the exact
    prefix join (jaccard_pairs_prefix — oracle-identical output) when
    the candidate estimate is sane, or warn-and-fall-back to the
    recall-gated banded twin (minhash_native_pairs, n_hashes=8
    band_r=2 — the r12-calibrated operating point) on a
    degenerate-vocabulary corpus that would spill the exact join to
    death (the embedding_banded_pairs BRP no-contrast discipline,
    decided BEFORE the expensive stage). Both paths emit
    (doc_a, doc_b, jaccard); the exact path is pre-filtered at the
    relaxed ``threshold`` − 0.01 (callers apply their threshold
    predicate), the banded path at ``threshold``, so a caller's
    ``jaccard >= t`` filter is correct on either. ``route`` lets a
    caller pass a precomputed / cached decision (the query layer
    probes once per corpus, on the host skew axis, and shares it
    across the jaccard-family slugs)."""
    return _pairs_auto(
        "jaccard", docs, threshold, id_col, block_col, text_col, route
    )


def containment_pairs_auto(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    block_col: str = "lang",
    text_col: str = "text",
    route: dict | None = None,
) -> DataFrame:
    """Containment near-dup pairs with AUTO strategy — the
    jaccard_pairs_auto discipline for the asymmetric join: exact
    containment_pairs_prefix when the pre-flight estimate is sane,
    warn-and-fall-back to the anchored sampler
    (containment_pairs_anchored, emit='counts') on a degenerate
    corpus. Both paths emit (doc_a, doc_b, inter_size, min_size) in
    exact integer arithmetic; the exact path is pre-filtered at the
    relaxed ``threshold`` − 0.01, the anchored path at ``threshold``
    — a caller's integer predicate is correct on either. NOTE the
    anchored path is UNBLOCKED (no block_col) — the documented
    semantics of the probabilistic twin."""
    return _pairs_auto(
        "containment", docs, threshold, id_col, block_col, text_col, route
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one row per normalized-token-set fingerprint (lowest id
    wins) — dropDuplicates generalized to a computed key."""
    from vfs_spark.functions.text import fingerprint

    with_fp = docs.withColumn("_fp", fingerprint("text"))
    w = F.row_number().over(Window.partitionBy("_fp").orderBy(F.col(id_col).asc()))
    return with_fp.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_fp", "_rn")


def _minhash_sigs(docs, id_col, text_col, n_hashes):
    """Exploded (id, hash_idx, sig) MinHash signatures — shingles
    exploded in the scan stage feeding n_hashes codegen'd MIN
    aggregates with map-side combine; only (id, n_hashes longs) per
    doc ever shuffle. Shared by the self-join pair generator and the
    incremental (new-vs-history) variant."""
    ex = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col)).alias("_s")
    )
    sig_wide = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("_s", F.lit(i))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    return sig_wide.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hash_idx"), F.col(f"h{i}").alias("sig")
                    )
                    for i in range(n_hashes)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.hash_idx", "b.sig")


def minhash_incremental_pairs(
    new_docs: DataFrame,
    hist_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.3,
    n_hashes: int = 5,
    skew_threshold: int | None = 100_000,
    n_salts: int = 8,
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs between a NEW batch and
    an accumulated HISTORY corpus — the snapshot-over-snapshot form of
    minhash_native_pairs (this month's crawl against everything
    already ingested). The history side NEVER self-joins: candidates
    come only from new-signature = history-signature band matches, so
    the join volume is |new| x collision-rate, not |history|² — the
    property that makes re-ingest affordable when history is 100 TB
    and the batch is 1%% of it. (In a production layout the history
    signatures are computed once at ingest and stored; here both
    sides derive from the fixture table.) Exact-Jaccard verify
    recomputes shingles for CANDIDATE ids only via broadcast
    semi-joins into each side's scan — corpus text never shuffles.
    Hot-band skew (a boilerplate signature shared by thousands of
    docs on both sides) is salted like the self-join form:
    history-side bands over ``skew_threshold`` rows scatter across
    ``n_salts`` reducers with the batch side replicated, so no single
    reducer sees the full hot product (on by default here, unlike the
    sibling, because history-side boilerplate is the COMMON case for
    crawl corpora).

    Returns (new_id, hist_id, jaccard >= threshold)."""
    sn = _minhash_sigs(new_docs, id_col, text_col, n_hashes)
    sh = _minhash_sigs(hist_docs, id_col, text_col, n_hashes)

    def _cross(a_sig, b_sig, extra=None):
        a, b = a_sig.alias("a"), b_sig.alias("b")
        cond = (F.col("a.hash_idx") == F.col("b.hash_idx")) & (
            F.col("a.sig") == F.col("b.sig")
        )
        if extra is not None:
            cond = cond & extra
        return a.join(b, cond).select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("hist_id"),
        )

    if skew_threshold is None:
        pairs = _cross(sn, sh)
    else:
        # hot-band protection (the sibling's salted move, adapted to
        # the two-sided join): a band signature shared by a huge
        # boilerplate cluster on BOTH sides would otherwise send the
        # whole |batch_sig| x |hist_sig| product through one reducer.
        # Scatter the HISTORY side of hot bands over n_salts
        # deterministic salts, replicate the batch side across them —
        # each (new, hist) pair still joins exactly once, at the
        # history row's salt.
        hot_keys = (
            sh.groupBy("hash_idx", "sig")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > skew_threshold)
            .select("hash_idx", "sig")
        )
        sn_cold = sn.join(
            F.broadcast(hot_keys), ["hash_idx", "sig"], "left_anti"
        )
        sh_cold = sh.join(
            F.broadcast(hot_keys), ["hash_idx", "sig"], "left_anti"
        )
        sn_hot = sn.join(
            F.broadcast(hot_keys), ["hash_idx", "sig"], "left_semi"
        ).withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
        sh_hot = sh.join(
            F.broadcast(hot_keys), ["hash_idx", "sig"], "left_semi"
        ).withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
        pairs = _cross(sn_cold, sh_cold).unionByName(
            _cross(sn_hot, sh_hot, F.col("a._salt") == F.col("b._salt"))
        )
    # pinned (r16): the skew branch references the history signatures
    # three times (hot_keys agg, cold, hot) and the batch side twice —
    # each reference replayed the tokenize + shingle + MIN-aggregate
    # pipeline without the pin. Narrow (id, idx, sig) rows, released
    # once the candidates are checkpointed.
    with pinned(sn, sh):
        # candidates only — never the corpus
        cand = pairs.distinct().localCheckpoint(eager=True)
    new_ids = cand.select(F.col("new_id").alias(id_col)).distinct()
    hist_ids = cand.select(F.col("hist_id").alias(id_col)).distinct()
    sa = (
        new_docs.join(F.broadcast(new_ids), id_col)
        .select(
            F.col(id_col).alias("new_id"),
            word_shingles(text_col).alias("sh_a"),
        )
    )
    sb = (
        hist_docs.join(F.broadcast(hist_ids), id_col)
        .select(
            F.col(id_col).alias("hist_id"),
            word_shingles(text_col).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "new_id")
        .join(sb, "hist_id")
        .select("new_id", "hist_id", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def minhash_native_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.3,
    n_hashes: int = 5,
    skew_threshold: int | None = None,
    n_salts: int = 8,
    band_r: int = 1,
) -> DataFrame:
    """Pure-Catalyst MinHash-LSH — no MLlib, no vector conversion, no
    corpus-sized cache:

    1. word-3-gram shingles per doc, EXPLODED in the scan stage;
    2. signature i = min over shingles of xxhash64(shingle, i) —
       n_hashes seeded JVM hashes per shingle row feeding n_hashes
       codegen'd MIN aggregates with map-side combine, so only
       (doc_id, n_hashes longs) per doc ever shuffle. (The previous
       form ran n_hashes interpreted array_min-over-transform passes
       over cached shingle ARRAYS: the HOF-interpreted tax again —
       45.7 s vs 11.5 s at 200k docs — and a corpus-sized cache that
       is a liability at 100 TB);
    3. OR-banding with r=1: a pair is a candidate if ANY signature
       matches (P(candidate) = 1-(1-j)^n, ≈0.83 at j=0.3, n=5) —
       explode n rows per doc, equi-join on (hash_idx, value); the
       candidate set (tiny) is localCheckpoint'ed once so deriving
       the verify id list doesn't recompute the signature pipeline;
    4. exact Jaccard verify recomputes shingle sets for CANDIDATE
       docs only, via a broadcast semi-join into the doc scan — the
       corpus text never shuffles, never broadcasts, never caches.

    Skew: a signature value shared by a huge near-duplicate cluster
    lands that whole cluster in ONE band bucket → one straggler
    reducer. With ``skew_threshold=B``, buckets larger than B rows
    run through a salted self-join instead (scatter one side over
    ``n_salts`` deterministic salts, replicate the other — the
    salted_join move from operators/scale.py applied to a self-join,
    each pair still produced exactly once), spreading the B² pair
    generation over n_salts reducers. Cold buckets keep the plain
    equi-join; candidates are unioned before verify.

    Banding order (``band_r``, round 11): with band_r=1 (default) a
    pair is a candidate if ANY single signature matches — P(cand) =
    1-(1-J)^n, which ALSO fires at ~n·J on the low-J background of a
    real corpus: every unrelated pair sharing one common-shingle min
    becomes a candidate, and buckets keyed by ONE min value grow as a
    constant FRACTION of n (the 1.58-exponent wall the round-11
    clusters ladder measured). band_r=2 AND-composes signature PAIRS
    (the hamming_pairs_banded_and move applied to MinHash): candidate
    iff any of C(n_hashes, 2) hash-PAIRS matches — P(cand) =
    1-(1-J²)^C(n,2), so the low-J background collapses quadratically
    (J=0.001 → ~3e-5·C(n,2)) while recall at the dedup threshold
    RISES with a modestly larger n_hashes (n=8, r=2: 0.93 at J=0.3
    vs 0.83 for the n=5, r=1 default). C(n,2)·rows of 16-byte keys
    shuffle instead of n·rows of 8-byte keys — the trade that buys a
    near-linear candidate curve on low-Jaccard corpora.

    Same contract as minhash_near_dup_pairs."""
    if band_r not in (1, 2):
        raise ValueError("band_r must be 1 or 2")
    ex = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col)).alias("_s")
    )
    sig_wide = ex.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("_s", F.lit(i))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    if band_r == 1:
        structs = [
            F.struct(
                F.lit(i).alias("band_no"),
                F.col(f"h{i}").alias("k1"),
                F.lit(0).cast("bigint").alias("k2"),
            )
            for i in range(n_hashes)
        ]
    else:
        combos = [
            (i, j) for i in range(n_hashes) for j in range(i + 1, n_hashes)
        ]
        structs = [
            F.struct(
                F.lit(c).alias("band_no"),
                F.col(f"h{i}").alias("k1"),
                F.col(f"h{j}").alias("k2"),
            )
            for c, (i, j) in enumerate(combos)
        ]
    sig = sig_wide.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("b")
    ).select(id_col, "b.band_no", "b.k1", "b.k2")
    key = ["band_no", "k1", "k2"]

    def _key_eq(a: str, b: str):
        cond = F.col(f"{a}.{id_col}") < F.col(f"{b}.{id_col}")
        for k in key:
            cond = cond & (F.col(f"{a}.{k}") == F.col(f"{b}.{k}"))
        return cond

    def _band_pairs(s: DataFrame) -> DataFrame:
        a, b = s.alias("a"), s.alias("b")
        return a.join(b, _key_eq("a", "b")).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )

    if skew_threshold is None:
        pairs = _band_pairs(sig)
    else:
        hot_keys = (
            sig.groupBy(*key)
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > skew_threshold)
            .select(*key)
        )
        cold = sig.join(F.broadcast(hot_keys), key, "left_anti")
        hot = sig.join(F.broadcast(hot_keys), key, "left_semi")
        # salted self-join: scatter side a over n_salts deterministic
        # salts, replicate side b across all of them — every (a, b)
        # pair joins exactly once, at a's salt, but the hot bucket's
        # pair generation spreads over n_salts reducers.
        ha = hot.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
        ).alias("a")
        hb = hot.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        ).alias("b")
        hot_pairs = ha.join(
            hb,
            _key_eq("a", "b") & (F.col("a._salt") == F.col("b._salt")),
        ).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        pairs = _band_pairs(cold).unionByName(hot_pairs)
    # pinned (r16): the band self-join references sig on BOTH sides
    # and the skew branch three more times (hot_keys agg, cold, hot) —
    # each reference replayed the tokenize + shingle + n_hashes MIN
    # aggregate without the pin. Narrow rows (id + band key), released
    # once the candidates are checkpointed.
    with pinned(sig):
        # candidates only — never the corpus
        cand = pairs.distinct().localCheckpoint(eager=True)
    ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    # Row-group pruning for the verify scan: the candidate set is
    # checkpointed and tiny, so its id bounds cost one cheap agg, and
    # the BETWEEN predicate reaches the Parquet scan as a min/max
    # row-group filter (doc_a < doc_b, so min(doc_a)/max(doc_b) bound
    # every candidate id). With an id-clustered store the verify then
    # reads only row groups containing candidates instead of the whole
    # corpus; the broadcast semi-join stays as the exact filter.
    bounds = cand.agg(F.min("doc_a"), F.max("doc_b")).first()
    verify_src = docs
    if bounds[0] is not None:
        verify_src = docs.where(F.col(id_col).between(bounds[0], bounds[1]))
    csh = verify_src.join(F.broadcast(ids), id_col).select(
        F.col(id_col), word_shingles(text_col).alias("sh")
    )
    sa = csh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = csh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def simhash_fingerprints_jvm(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) computed ENTIRELY in Catalyst — no Python worker:
    per-token xxhash64, per-bit ±1 sums via an in-row aggregate over a
    64-int accumulator, folded to a signed int64 as two 32-bit halves
    (each half stays < 2^31 before the final multiply, so the fold is
    ANSI-overflow-safe; bit 63 enters as -2^31·2^32 = Long.MIN edge).

    Different hash family than simhash_fingerprints (xxhash64 vs md5)
    → different fingerprint VALUES, same contract: near-identical
    token multisets land within small hamming distance."""
    toks = F.split(F.lower(F.trim(text_col)), " ")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    zero64 = F.array(*[F.lit(0)] * 64)
    bits = F.sequence(F.lit(0), F.lit(63))
    acc = F.aggregate(
        hashes,
        zero64,
        lambda a, h: F.zip_with(
            a, bits, lambda ai, b: ai + F.when(F.getbit(h, b) == 1, 1).otherwise(-1)
        ),
    )
    sign = F.transform(acc, lambda x: F.when(x > 0, 1).otherwise(0).cast("long"))

    def _half(arr, lo_bit, n):
        # sum of bit_b * 2^(b - lo_bit) for b in [lo_bit, lo_bit+n)
        return sum(
            (
                F.element_at(arr, lo_bit + i + 1)
                * F.pow(F.lit(2.0), F.lit(i)).cast("long")
                for i in range(n)
            ),
            F.lit(0).cast("long"),
        )

    lo = _half(sign, 0, 32)
    hi_signed = _half(sign, 32, 31) - F.element_at(sign, 64) * F.lit(1 << 31).cast(
        "long"
    )
    simhash = hi_signed * F.lit(1 << 32).cast("long") + lo
    return docs.select(F.col(id_col), simhash.alias("simhash"))


def simhash_fingerprints_agg(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Same fingerprint VALUES as simhash_fingerprints_jvm (identical
    xxhash64 + per-bit-sum math — asserted in tests), different plan:
    explode tokens → 64 conditional SUMs in a hash aggregate. The
    in-row F.aggregate form runs INTERPRETED per token×64 (higher-order
    functions sit outside codegen — the measured HOF tax, SCALE.md);
    here the per-bit sums are codegen'd SUM aggregates with map-side
    combine, so only 64 longs per doc shuffle. The explode multiplies
    rows token-count× but stays in the scan stage."""
    toks = F.split(F.lower(F.trim(text_col)), " ")
    exploded = docs.select(
        F.col(id_col), F.explode(toks).alias("_tok")
    ).withColumn("_h", F.xxhash64("_tok"))
    sums = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.getbit("_h", F.lit(b)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )

    def _half(lo_bit: int, n: int):
        return sum(
            (
                F.when(F.col(f"s{lo_bit + i}") > 0, 1)
                .otherwise(0)
                .cast("long")
                * F.lit(1 << i).cast("long")
                for i in range(n)
            ),
            F.lit(0).cast("long"),
        )

    lo = _half(0, 32)
    hi_signed = _half(32, 31) - F.when(F.col("s63") > 0, 1).otherwise(0).cast(
        "long"
    ) * F.lit(1 << 31).cast("long")
    simhash = hi_signed * F.lit(1 << 32).cast("long") + lo
    return sums.select(F.col(id_col), simhash.alias("simhash"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    cluster-assignment step every dedup pipeline runs AFTER pair
    generation (pairs → groups → one canonical doc per group).

    Each round: every node takes the minimum component label among
    itself and its neighbors; stop when nothing changes. Converges in
    O(max cluster diameter) rounds — near-dup clusters are shallow
    (diameter ≤ a few hops), so this terminates in 2-4 rounds in
    practice; `max_iter` bounds the pathological chain. Per round:
    one join + one map-side-combined min aggregate, all distributed;
    `localCheckpoint` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1. The label fixpoint is unique
    (min id reachable), so the result is deterministic regardless of
    iteration order — which is what makes it oracle-checkable against
    a recursive-CTE ground truth.

    Returns (id_col, cluster_id) for every node; cluster_id = the
    smallest node id in the component. Precondition (both paths):
    ``nodes`` covers every edge endpoint — all in-repo callers pass
    either the endpoint set itself or the whole collection.

    r16 optimization (guide §1.2 — fix the distributed algorithm
    first): near-dup EDGE sets are candidate-bounded and already
    eagerly checkpointed, so when |edges| ≤ DRIVER_MAX["cc_edges"] the
    components are solved in one vectorized NumPy pass on the driver
    (min-label propagation + full pointer-jumping per round, O(log d)
    rounds at memory bandwidth) and re-attached as a BROADCAST join
    of the ≤2·|edges| (node → comp) mapping — the exact memory
    contract of a broadcast-join build side, which this repo already
    accepts for id semi-joins. The fixture's semantic graph took
    ELEVEN distributed rounds (diameter ~10) at ~0.7 s of fixed
    per-round latency (3 shuffles + checkpoint + count against a
    32-task floor) for 4,060 edges — 9.2 s of wall for microseconds
    of actual work. Above the guard the distributed loop runs as
    before, now with POINTER-HALVING through the previous round's
    checkpointed labels (comp ← labels[comp], a reachable-min, so the
    fixpoint is unchanged — verified fixpoint-identical on the
    fixture graph) which roughly halves the round count on deep
    components (measured 11 → 8 on diameter ~10)."""
    # materialize the DIRECTED edge list once, BEFORE symmetrizing —
    # the union references `edges` twice, and without the checkpoint
    # each reference (and then every propagation round) replays the
    # possibly-expensive edge-generation plan (e.g. a blocked jaccard
    # self-join) from scratch.
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint(eager=True)

    ep = collect_under(e, DRIVER_MAX["cc_edges"])
    if ep is not None:
        import numpy as np

        spark = nodes.sparkSession
        if len(ep) == 0:
            return nodes.select(
                F.col(id_col), F.col(id_col).alias("cluster_id")
            )
        u = ep["u"].to_numpy(dtype=np.int64, copy=False)
        v = ep["v"].to_numpy(dtype=np.int64, copy=False)
        ids = np.unique(np.concatenate([u, v]))
        ui = np.searchsorted(ids, u)
        vi = np.searchsorted(ids, v)
        # index-space labels: ids is sorted ascending, so the minimum
        # INDEX in a component is the minimum node id — identical to
        # the distributed fixpoint (min reachable id).
        lab = np.arange(len(ids), dtype=np.int64)
        while True:
            old = lab.copy()
            m = np.minimum(lab[ui], lab[vi])
            np.minimum.at(lab, ui, m)
            np.minimum.at(lab, vi, m)
            while True:  # full pointer-jumping to the current root
                nl = lab[lab]
                if np.array_equal(nl, lab):
                    break
                lab = nl
            if np.array_equal(lab, old):
                break
        mp = spark.createDataFrame(
            pd.DataFrame({"node": ids, "comp": ids[lab]}),
            schema="node long, comp long",
        )
        return (
            nodes.select(F.col(id_col).alias("node"))
            .join(F.broadcast(mp), "node", "left")
            .select(
                F.col("node").alias(id_col),
                F.coalesce("comp", F.col("node")).alias("cluster_id"),
            )
        )

    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("comp")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nb = (
            sym.join(labels, sym["u"] == labels["node"])
            .groupBy("v")
            .agg(F.min("comp").alias("nb_comp"))
        )
        # carry the convergence flag THROUGH the propagation projection
        # (nb_comp < comp is known right here), so detecting the
        # fixpoint is one cheap count over the just-checkpointed rows —
        # not an extra join of the new labels against the old ones per
        # round (one fewer shuffle per iteration, same fixpoint).
        prop = labels.join(nb, labels["node"] == nb["v"], "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce("nb_comp", F.col("comp"))
            ).alias("pcomp"),
            F.col("comp").alias("_old"),
        )
        # pointer-halving against the PREVIOUS round's checkpointed
        # labels: comp ← labels[comp] is a reachable-min shortcut, so
        # hop coverage compounds geometrically instead of linearly —
        # same unique fixpoint, fewer rounds on deep components. Using
        # the old (checkpointed) labels avoids re-computing the
        # propagation subtree a second time in the same round.
        lb2 = labels.select(
            F.col("node").alias("_cn"), F.col("comp").alias("_cc")
        )
        new_comp = F.least(
            F.col("pcomp"), F.coalesce("_cc", F.col("pcomp"))
        )
        new = (
            prop.join(lb2, prop["pcomp"] == lb2["_cn"], "left")
            .select(
                "node",
                new_comp.alias("comp"),
                (new_comp < F.col("_old")).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.where(F.col("chg")).count()
        labels = new.select("node", "comp")
        if changed == 0:
            break
    else:
        # exiting by exhaustion means labels were still moving: a
        # component with diameter > max_iter would keep several
        # "canonical" labels and silently under-merge its cluster.
        import warnings

        warnings.warn(
            f"connected_components: {changed} labels still changing "
            f"after max_iter={max_iter} rounds — clusters may be "
            "split; raise max_iter for deep-chain graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("node").alias(id_col), F.col("comp").alias("cluster_id")
    )


def embedding_banded_pairs(
    df: DataFrame,
    cos_threshold: float = 0.8,
    num_hash_tables: int = 8,
    bucket_length: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidate_ratio: float | None = 32.0,
    fallback_n_bands: int = 24,
    fallback_band_bits: int | str = "auto",
) -> DataFrame:
    """Semantic near-dup over the WHOLE corpus: random-projection LSH
    self-join candidates, then exact-cosine verify — the unblocked
    scale twin of the label-blocked pairwise form
    (queries/text.py:q_dedup_embedding_cosine), same banding→verify
    contract as MinHash (minhash_native_pairs) but over embeddings.

    Reference parity: the reference's approx path rebuilds an index
    per request (ann.rs:432-509); here the same hash family serves
    dedup as a single bucket EQUI-join over the corpus.

    Math: on L2-normalized vectors, cos(a,b) ≥ t  ⟺
    ‖â−b̂‖ ≤ sqrt(2−2t), so the euclidean LSH join radius is derived
    from the cosine threshold; the verify step computes the exact
    cosine on the ORIGINAL arrays, so emitted pairs are never false
    positives (banding can only MISS pairs — recall grows with
    num_hash_tables; recall-gated in tests/test_dedup.py).

    100 TB shape: signatures are a projection in the scan stage; the
    self-join is an equi-join on (table, bucket) — candidates only,
    never all pairs; each pair verifies with one O(dim) expression.
    Zero-norm vectors pass through unscaled (cos undefined → they
    match nothing above any positive threshold).

    CANDIDATE GUARD (VERDICT r5): MLlib BRP's numHashTables is OR-only
    over SINGLE projections, so when the threshold sits at the bulk of
    an isotropic corpus the bucket join degrades toward all pairs
    (measured in SCALE.md — selectivity is geometry, not parameters).
    Before joining, the bucket histogram (one cheap agg over N·T tiny
    rows) upper-bounds the candidate volume as Σ n_b·(n_b−1)/2; if it
    exceeds ``max_candidate_ratio``·N, the call falls back to the
    AND-banded SimHash form (embedding_simhash_pairs with the
    ``fallback_*`` params), whose per-band collision prob falls
    exponentially in band_bits. Both paths exact-verify, so emitted
    pairs are true pairs either way; only the (family-specific) recall
    differs. Pass ``max_candidate_ratio=None`` to force the raw BRP
    join (the measured-twin behavior, used by the SCALE.md probes).
    """
    import math
    import warnings

    from vfs_spark.functions.distance import dot, l2_norm
    from vfs_spark.operators.ann import build_lsh_index

    model, vdf = build_lsh_index(
        df,
        vec_col=vec_col,
        bucket_length=bucket_length,
        num_hash_tables=num_hash_tables,
        metric="cosine",
    )
    if max_candidate_ratio is not None:
        from pyspark.ml.functions import vector_to_array

        n = df.count()
        # Sample-bounded estimate: the bucket histogram only needs the
        # COLLISION RATE, which a few thousand rows pin down — hashing
        # the whole corpus for the estimate would itself be a full pass.
        #
        # POLARITY (ADVICE r6): summing per-(table, bucket) pairs over
        # all T hash tables is a MULTISET bound — approxSimilarityJoin
        # dedups the union, which lies in [max_t pairs_t, Σ_t pairs_t],
        # so the estimate can exceed the true candidate volume by up
        # to T×. That is deliberate: the guard wants an UPPER bound
        # (firing early costs only a hash-family switch to the
        # AND-banded path, both exact-verified; firing late costs a
        # near-quadratic join). max_candidate_ratio is therefore a
        # conservative multiset ratio, not an exact union ratio —
        # callers forcing the raw BRP join pass None, as the SCALE.md
        # probes do.
        sample_cap = 2048
        svdf = vdf
        if n > sample_cap:
            svdf = vdf.sample(min(1.0, 1.3 * sample_cap / n), seed=7).limit(
                sample_cap
            )
        ns_row, est_row = (
            model.transform(svdf)
            .select(F.posexplode("hashes").alias("_t", "_h"))
            .select("_t", vector_to_array("_h")[0].cast("long").alias("_b"))
            .groupBy("_t", "_b")
            .agg(F.count("*").alias("_n"))
            .agg(
                F.sum("_n").alias("_rows"),
                F.sum(F.col("_n") * (F.col("_n") - 1) / 2).alias("_pairs"),
            )
            .first()
        )
        n_hashed = (ns_row or num_hash_tables) / num_hash_tables
        est = (est_row or 0.0) * (n / max(1.0, n_hashed)) ** 2
        if est > max_candidate_ratio * n:
            warnings.warn(
                f"embedding_banded_pairs: BRP bucket histogram estimates "
                f"{est:.0f} candidate pairs for {n} rows "
                f"(> {max_candidate_ratio}x) — no LSH contrast at this "
                f"threshold/geometry; falling back to AND-banded SimHash",
                stacklevel=2,
            )
            return embedding_simhash_pairs(
                df,
                cos_threshold=cos_threshold,
                n_bands=fallback_n_bands,
                band_bits=fallback_band_bits,
                id_col=id_col,
                vec_col=vec_col,
            )
    radius = math.sqrt(max(0.0, 2.0 - 2.0 * cos_threshold)) + 1e-9
    pairs = model.approxSimilarityJoin(vdf, vdf, radius, distCol="_dist")
    a_id = F.col(f"datasetA.{id_col}")
    b_id = F.col(f"datasetB.{id_col}")
    a_vec, b_vec = f"datasetA.{vec_col}", f"datasetB.{vec_col}"
    sim = dot(a_vec, b_vec) / (l2_norm(a_vec) * l2_norm(b_vec))
    # Threshold on the unrounded similarity; round only the emitted value.
    return (
        pairs.where(a_id < b_id)  # each unordered pair once, no self-pairs
        .select(
            a_id.alias("vec_a"), b_id.alias("vec_b"), sim.alias("_raw")
        )
        .where(F.col("_raw") >= cos_threshold)
        .select("vec_a", "vec_b", F.round("_raw", 6).alias("cos_sim"))
    )


def embedding_simhash_pairs(
    df: DataFrame,
    cos_threshold: float = 0.8,
    n_bands: int = 24,
    band_bits: int | str = 14,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates_per_row: int = 10,
    block_col: str | None = None,
) -> DataFrame:
    """Semantic near-dup via random-hyperplane SimHash banding — the
    AND-composed scale path that embedding_banded_pairs (MLlib BRP)
    cannot express: MLlib's numHashTables is OR-only over SINGLE
    projections, so for a corpus SELF-join its candidate volume
    degrades toward all pairs even with good geometry. Banding r sign
    bits per band (collision prob (1−θ/π)^r) suppresses random pairs
    exponentially while b OR-bands keep near-dup recall — the exact
    structure of the text MinHash/SimHash banding above, applied to
    vectors. Defaults (r=14, b=24): a true pair at cos 0.9 collides
    with prob ≈0.95; an orthogonal pair with prob ≈6e-5 per band.

    100 TB shape (mirrors minhash_native_pairs): signatures come from
    one Arrow kernel pass in the scan stage (BLAS matmul per batch —
    the sign bits of dim×(b·r) projections; the seeded plane matrix
    is a closure constant, ~dim·b·r·4 bytes); only (band_idx, band
    value, id) rows shuffle — the vectors never do. Candidates are
    band equi-join hits, distinct-ed and checkpointed; the verify
    scan is pruned by candidate id bounds + broadcast semi-join and
    computes the exact cosine, so emitted pairs are never false
    positives. Zero vectors project to all-zero bits but die in
    verify (cos undefined → excluded by the threshold).

    ``block_col``: optional extra blocking key — candidate pairs must
    agree on it in addition to the band value. Used by semdedup_pairs
    to band WITHIN oversized KMeans cells (the megacluster fallback)
    without emitting cross-cell pairs.

    r16 optimization (guide §2.3/§4.1 — shuffle keys, not payloads;
    ship only the columns the kernel needs): when the verify-touched
    id set is small enough (≤ DRIVER_MAX["embed_gather_bytes"] of
    float64 matrix — same memory class as a broadcast-join build
    side), the exact-cosine verify no longer
    attaches full vectors to every candidate pair via two joins
    (which shuffled the O(candidates) pair table three times with
    dim-sized array payloads and shipped 2·dim doubles per pair
    across the Arrow boundary). Instead the verify vectors are
    collected ONCE (bounded by the guard, exactly like a broadcast
    hash relation), broadcast, and the kernel gathers rows by id —
    only two int64s per pair cross the boundary. float64 math is
    op-for-op identical to the join-path kernel, so emitted values
    are bitwise unchanged; above the guard the join path runs as
    before. The kernel is marked nondeterministic so the optimizer
    cannot duplicate it below the threshold filter (guide §4.4 — the
    r16 plan audit caught TWO ArrowEvalPython nodes for one verify)."""
    import math

    import numpy as np

    if band_bits == "auto":
        # SCALE.md rule made executable: random candidates grow as
        # n_bands·N²/2^r, so r must track log2(N) to hold the
        # candidate volume at ~candidates_per_row·N (one count job;
        # recall then rides on n_bands — raise both together). The
        # 14..30 clamp keeps fixture corpora non-degenerate and the
        # band value inside an int64.
        n = df.count()
        target = max(1, candidates_per_row * n)
        band_bits = min(
            30, max(14, math.ceil(math.log2(max(2, n_bands * n * n // target))))
        )
    dim = int(df.select(F.size(F.col(vec_col))).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_bands * band_bits)).astype(
        np.float32
    )
    weights = (1 << np.arange(band_bits, dtype=np.int64))

    @pandas_udf("array<long>")
    def _band_vals(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy())  # (B, dim)
        bits = (x.astype(np.float32) @ planes) >= 0  # (B, b*r)
        packed = bits.reshape(len(x), n_bands, band_bits) @ weights
        return pd.Series(list(packed))

    keep_cols = [F.col(id_col)] + (
        [F.col(block_col)] if block_col else []
    )
    sig = (
        df.select(*keep_cols, _band_vals(F.col(vec_col)).alias("_bv"))
        .select(
            *keep_cols,
            F.posexplode("_bv").alias("band_idx", "band_val"),
        )
        # lazy checkpoint: a self-join duplicates its child subtree, so
        # without this the scan + projection matmul (the ArrowEvalPython
        # above) runs TWICE over the corpus — once per join side. The
        # checkpoint materializes (id, band_idx, band_val) rows once,
        # inside the candidate job (eager=False: no extra blocking job),
        # and both sides read it. N·n_bands small rows, never vectors.
        .localCheckpoint(eager=False)
    )
    a, b = sig.alias("a"), sig.alias("b")
    join_cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if block_col:
        join_cond = join_cond & (
            F.col(f"a.{block_col}") == F.col(f"b.{block_col}")
        )
    cand = (
        a.join(
            b,
            join_cond,
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # candidates only — never the corpus
    )
    bounds = cand.agg(F.min("vec_a"), F.max("vec_b")).first()
    verify_src = df
    if bounds[0] is not None:
        verify_src = df.where(F.col(id_col).between(bounds[0], bounds[1]))

    # Gather-path probe: the verify matrix only needs a SUPERSET of the
    # candidate-touched ids, so the id-range slice of the corpus (the
    # same bounds pruning the join path uses) is collected directly
    # with a limit(max_rows + 1) guard — ONE job, no ids-distinct and
    # no count round-trips (two fewer driver barriers per call).
    pdf_v = None
    if bounds[0] is not None:
        pdf_v = collect_under(
            verify_src.select(F.col(id_col), F.col(vec_col)),
            DRIVER_MAX["embed_gather_bytes"] // max(1, dim * 8),
        )
    if pdf_v is not None and len(pdf_v):
        # Gather path (guide §2.3/§8: decide with small rows, never
        # re-attach the payload through a shuffle join): collect the
        # verify vectors once — the collect is bounded by the guard
        # above, the same memory contract as a broadcast join build —
        # broadcast (ids_sorted, float64 matrix), and verify pairs by
        # id-gather. Only (vec_a, vec_b) int64s cross the JVM→Python
        # boundary, vs 2·dim float64 per candidate before. Assumes
        # unique ids (every in-repo corpus keys vectors by a unique
        # vec_id; the join path would emit duplicate pair rows on a
        # duplicate id, i.e. neither path supports them).
        idv = pdf_v[id_col].to_numpy()
        order = np.argsort(idv, kind="stable")
        ids_sorted = idv[order].astype(np.int64, copy=False)
        # np.stack → astype float64: the exact op sequence of the join
        # kernel, so gathered rows are bitwise the kernel's inputs
        mat = np.stack(pdf_v[vec_col].to_numpy())[order].astype(np.float64)
        bc = df.sparkSession.sparkContext.broadcast((ids_sorted, mat))

        @pandas_udf("double")
        def _cos_gather(a_ids: pd.Series, b_ids: pd.Series) -> pd.Series:
            import numpy as np

            ids_s, m = bc.value
            xa = m[np.searchsorted(ids_s, a_ids.to_numpy())]
            xb = m[np.searchsorted(ids_s, b_ids.to_numpy())]
            num = (xa * xb).sum(axis=1)
            den = np.linalg.norm(xa, axis=1) * np.linalg.norm(xb, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where(den > 0, num / den, np.nan)
            return pd.Series(out)

        # nondeterministic: stop the optimizer cloning the kernel below
        # the pushed threshold filter (guide §4.4) — one ArrowEvalPython
        _cos_gather = _cos_gather.asNondeterministic()
        return (
            cand.select(
                "vec_a",
                "vec_b",
                _cos_gather("vec_a", "vec_b").alias("_raw"),
            )
            .where(F.col("_raw") >= cos_threshold)
            .select(
                "vec_a", "vec_b", F.round("_raw", 6).alias("cos_sim")
            )
        )

    # Join path (above the gather guard): broadcast semi-join the
    # candidate-touched ids into the bounded scan, then attach vectors
    # to the pair table — the pre-r16 plan, unchanged.
    ids = cand.select(
        F.explode(F.array("vec_a", "vec_b")).alias(id_col)
    ).distinct()
    embn = verify_src.join(F.broadcast(ids), id_col).select(
        F.col(id_col), F.col(vec_col)
    )
    ea = embn.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va")
    )
    eb = embn.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb")
    )

    # Arrow verify kernel: the candidate set can be millions of pairs
    # (random band collisions scale as N²/2^band_bits per band), and
    # Catalyst's zip_with/aggregate HOFs are interpreted per element —
    # the measured 30× tax (SCALE.md). One BLAS-ish rowwise kernel
    # verifies the whole batch; math in float64.
    @pandas_udf("double")
    def _cos_kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        xa = np.stack(va.to_numpy()).astype(np.float64)
        xb = np.stack(vb.to_numpy()).astype(np.float64)
        num = (xa * xb).sum(axis=1)
        den = np.linalg.norm(xa, axis=1) * np.linalg.norm(xb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, np.nan)
        return pd.Series(out)

    _cos_kernel = _cos_kernel.asNondeterministic()  # guide §4.4
    # Threshold on the UNROUNDED similarity (rounding first could admit
    # pairs up to 5e-7 below the contract); round only the emitted value.
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a", "vec_b", _cos_kernel("_va", "_vb").alias("_raw")
        )
        .where(F.col("_raw") >= cos_threshold)
        .select(
            "vec_a", "vec_b", F.round("_raw", 6).alias("cos_sim")
        )
    )


def semdedup_pairs(
    df: DataFrame,
    cos_threshold: float = 0.8,
    n_clusters: int | str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int | None = 200_000,
    max_cluster_rows: int = 100_000,
    target_cluster_rows: int = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with KMeans, then find semantic near-duplicates
    by exact pairwise cosine WITHIN each cluster only. The third
    semantic-dedup strategy next to the LSH forms above
    (embedding_banded_pairs / embedding_simhash_pairs), trading their
    probabilistic per-pair recall for a deterministic candidate rule:
    every within-cluster pair is checked exactly (precision 1.0 by
    construction), every cross-cluster pair is missed (recall is a
    property of the clustering — measured in tests/test_dedup.py).

    100 TB shape: the KMeans FIT is bounded to a seeded sample
    (build_ivf_index policy — constant cost at any corpus size); the
    ASSIGN pass is one projection over the corpus; the pairwise step
    is embarrassingly parallel across clusters via applyInPandas with
    per-cluster cost (N/k)²·dim — pick k ~ N/target so clusters stay
    at 10⁴-10⁵ rows (the SemDeDup paper uses k=50k–110k for LAION-
    scale corpora) and the quadratic never sees N.

    ``n_clusters="auto"`` (the default, VERDICT r6 #5) applies that
    k ~ N/target rule directly: k = ceil(N / target_cluster_rows),
    so a fixture-sized corpus gets few/one cluster (recall → 1, cost
    N² but N is tiny) while a 10⁹-row corpus gets k ~ 50k (paper
    regime). target_cluster_rows sits 5× below max_cluster_rows so
    average-sized cells never trip the megacluster diversion — only
    genuinely skewed ones do. Recall at a FIXED small k on a bulk-
    threshold operating point is adversarial by geometry (pairs at
    the similarity bulk straddle cell boundaries); the auto rule is
    what makes the registered default honest at every scale. A skewed megacluster
    is the failure mode, and it is HANDLED, not just documented: any
    cell over ``max_cluster_rows`` is diverted to in-cell SimHash
    banding (embedding_simhash_pairs with block_col=cluster_id), so
    its cost is banded-candidate-bounded instead of |cell|² and the
    oversized pandas group never materializes in a Python worker.
    Emitted pairs stay cluster-scoped either way. Zero-norm vectors
    are dropped before pair formation (cosine undefined → they match
    nothing at any threshold, including non-positive ones).

    Reference parity: reuses the same coarse quantizer as the IVF
    index (ann.rs:432-509 is the reference's single approx family;
    this op turns that index structure into a dedup rule)."""
    import math

    import numpy as np

    from vfs_spark.operators.ann import build_ivf_index

    if n_clusters == "auto":
        n_rows = df.count()
        n_clusters = max(1, math.ceil(n_rows / target_cluster_rows))
    if n_clusters == 1:
        # one cell = exact all-pairs; MLlib KMeans needs k > 1 and a
        # fit would be a no-op anyway (every row lands together)
        assigned = df.withColumn("cluster_id", F.lit(0))
    else:
        _, assigned = build_ivf_index(
            df,
            vec_col=vec_col,
            n_clusters=n_clusters,
            fit_sample_rows=fit_sample_rows,
        )
    narrow = assigned.select("cluster_id", F.col(id_col), F.col(vec_col))

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        x_all = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms_all = np.linalg.norm(x_all, axis=1)
        ok = norms_all > 0  # zero-norm: cosine undefined, matches nothing
        ids = pdf[id_col].to_numpy()[ok]
        xn = x_all[ok] / norms_all[ok, None]
        n = len(ids)
        # Blocked upper-triangle sweep: a dense n×n float64 sims matrix
        # is ~3.2 GB at the auto rule's 20k-row target cell (plus ~3 GB
        # of triu index arrays) — a plausible executor OOM the fixture
        # tests never see. Row-blocking caps peak extra memory at
        # block×n×8 ≈ 330 MB while keeping the same float64 math and
        # the same unrounded-threshold contract.
        block = 2048
        frames: list[pd.DataFrame] = []
        for s in range(0, n, block):
            e = min(s + block, n)
            sims = xn[s:e] @ xn[s:].T  # rows s..e vs cols s..n
            # local coords: row ii ↔ global s+ii, col jj ↔ global s+jj;
            # upper triangle (col > row) ⇔ jj > ii, i.e. triu(k=1)
            ii, jj = np.nonzero(np.triu(sims >= cos_threshold, k=1))
            if len(ii) == 0:
                continue
            sim = sims[ii, jj]  # thresholded UNROUNDED; round on emit
            a, b = ids[s + ii], ids[s + jj]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            frames.append(
                pd.DataFrame(
                    {"vec_a": lo, "vec_b": hi, "cos_sim": np.round(sim, 6)}
                )
            )
        if not frames:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series([], dtype="int64"),
                    "vec_b": pd.Series([], dtype="int64"),
                    "cos_sim": pd.Series([], dtype="float64"),
                }
            )
        return pd.concat(frames, ignore_index=True)

    sizes = narrow.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    big = [
        r["cluster_id"]
        for r in sizes.where(F.col("_n") > max_cluster_rows).collect()
    ]  # bounded by n_clusters rows driver-side
    exact_src = narrow
    banded_part = None
    if big:
        exact_src = narrow.where(~F.col("cluster_id").isin(big))
        banded_part = embedding_simhash_pairs(
            narrow.where(F.col("cluster_id").isin(big)),
            cos_threshold=cos_threshold,
            band_bits="auto",
            id_col=id_col,
            vec_col=vec_col,
            block_col="cluster_id",
        )

    exact_part = exact_src.groupBy("cluster_id").applyInPandas(
        _pairs, schema="vec_a long, vec_b long, cos_sim double"
    )
    if banded_part is None:
        return exact_part
    return exact_part.unionByName(banded_part)


def containment_pairs_anchored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    containment_threshold: float = 0.6,
    anchor_rate: int = 4,
    emit: str = "e6",
) -> DataFrame:
    """Unblocked CONTAINMENT near-dup — candidates by ANCHOR SAMPLING,
    verified exactly. MinHash banding is the WRONG candidate generator
    here: its per-hash collision probability is the Jaccard, and the
    pairs containment exists to catch (a short doc inside a 10×-longer
    one) have Jaccard → |A|/|B| → 0, exactly the pairs banding then
    misses. Anchors fix the asymmetry: a shingle is an anchor iff
    xxhash64(shingle) ≡ 0 (mod anchor_rate), and a pair is a candidate
    iff it SHARES an anchor. A true pair with intersection size m
    escapes with probability (1−1/k)^m — k=4 and m≥10 shared shingles
    → ≤ 5.6% miss, independent of the length ratio (the intersection
    is what containment thresholds bound: m ≥ τ·min(|A|,|B|)). Short
    docs (small m) are the honest recall floor; raise recall by
    lowering anchor_rate (k=1 degrades gracefully to the exact
    shingle-inverted-index join).

    Verify recomputes shingle sets for CANDIDATE docs only (broadcast
    semi-join + id-bounds row-group pruning — the minhash_native_pairs
    discipline; corpus text never shuffles) and thresholds in EXACT
    integer arithmetic: i·10⁶ ≥ τ_e6·m, emitting (i·10⁶) div m.

    100 TB shape: the anchor join's shuffle carries (shingle-hash, id)
    rows for ~1/k of shingle occurrences; hot anchors are boilerplate
    shingles — cap or salt them with the same moves as the banded
    joins (a capped anchor only loses pairs whose entire intersection
    is boilerplate, which exact-dedup already collapsed upstream)."""
    t_e6 = int(round(containment_threshold * 1_000_000))
    sh = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col)).alias("_s")
    )
    anchors = sh.where(
        F.pmod(F.xxhash64("_s"), F.lit(anchor_rate)) == 0
    ).select(F.col(id_col), F.xxhash64("_s").alias("_a"))
    a, b = anchors.alias("a"), anchors.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._a") == F.col("b._a"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # candidates only — never the corpus
    )
    ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    ).distinct()
    bounds = cand.agg(F.min("doc_a"), F.max("doc_b")).first()
    verify_src = docs
    if bounds[0] is not None:
        verify_src = docs.where(F.col(id_col).between(bounds[0], bounds[1]))
    csh = verify_src.join(F.broadcast(ids), id_col).select(
        F.col(id_col), word_shingles(text_col).alias("sh")
    )
    sa = csh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = csh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    m = F.least(F.size("sh_a"), F.size("sh_b"))
    if emit not in ("e6", "counts"):
        raise ValueError(f"unknown emit {emit!r}")
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("_i"), m.alias("_m"))
        .where(
            (F.col("_m") > 0)
            & (F.col("_i") * 1_000_000 >= F.lit(t_e6) * F.col("_m"))
        )
    )
    if emit == "counts":
        # the containment_pairs_prefix output contract (r14 auto
        # router: both routes emit the same schema); pre-filtered at
        # the threshold, so a caller's integer predicate is idempotent
        return verified.select(
            "doc_a",
            "doc_b",
            F.col("_i").cast("bigint").alias("inter_size"),
            F.col("_m").cast("bigint").alias("min_size"),
        )
    return verified.select(
        "doc_a",
        "doc_b",
        F.expr("CAST((_i * 1000000L) DIV _m AS BIGINT)").alias(
            "containment_e6"
        ),
    )
