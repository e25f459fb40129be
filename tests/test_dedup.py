import pytest
from pyspark.sql import functions as F

from vfs_spark.functions.text import jaccard, word_shingles
from vfs_spark.operators import dedup as dedup_ops


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def exact_jaccard_pairs(docs, threshold):
    sh = docs.select("doc_id", word_shingles("text").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    j = jaccard(F.col("a.sh"), F.col("b.sh"))
    return {
        (r["da"], r["db"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"), j.alias("j")
        )
        .where(F.col("j") >= threshold)
        .collect()
    }


def test_minhash_recall_vs_exact(docs):
    truth = exact_jaccard_pairs(docs, 0.5)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.minhash_near_dup_pairs(
            docs, jaccard_threshold=0.5, num_hash_tables=5
        ).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8


def test_simhash_deterministic():
    a = dedup_ops._simhash64("the quick brown fox")
    b = dedup_ops._simhash64("the quick brown fox")
    assert a == b
    assert a != dedup_ops._simhash64("a completely different sentence here")


def test_simhash_near_identical_docs_within_hamming(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappb"),  # 1 token off
        (3, "totally unrelated words about completely other topics xyz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_ops.simhash_near_dup_pairs(df, max_hamming=16).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_hamming_banded_and_equals_or_form(spark):
    """The AND-composed band-pair join must return EXACTLY the pairs
    the single-band form returns (both are pigeonhole-complete for
    the budget and verify hamming exactly) — including pairs whose
    errors land to leave only ONE clean band-PAIR, and excluding
    pairs one bit over budget."""
    from pyspark.sql import functions as F

    # synthetic 64-bit fingerprints with planted hamming distances:
    # base vs base^(3 spread bits) = 3 (inside budget), base^(1<<40)
    # = 1, far = random-looking constant ~32 bits away
    base = 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0x0000100000400001),  # bits 0, 22, 44 → hamming 3
        (3, base ^ (1 << 40)),           # hamming 1
        (4, base ^ 0x00000000000000FF),  # hamming 8 → out of budget
        (5, 0x5A5A5A5A5A5A5A5A),         # unrelated
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    or_pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_ops.hamming_pairs_banded(fp, max_hamming=3).collect()
    }
    and_pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_ops.hamming_pairs_banded_and(
            fp, max_hamming=3
        ).collect()
    }
    assert and_pairs == or_pairs
    assert (1, 2, 3) in and_pairs and (1, 3, 1) in and_pairs
    assert not any(a == 4 or b == 4 for a, b, _ in and_pairs)


def test_hamming_banded_and_candidate_reduction(spark):
    """On a population where ONE 16-bit band is shared (low entropy)
    but the rest of the hash is distinct, the single-band key buckets
    everyone together (quadratic candidates) while the band-pair key
    needs a SECOND band to also agree — candidates collapse. Verified
    outputs must still be identical (here: empty — the planted rows
    are far apart in hamming)."""
    from pyspark.sql import functions as F

    # 300 fingerprints: low 16 bits identical, upper 48 bits unique
    # per row (spread patterns, pairwise hamming >> 3)
    def to_i64(v):
        v &= 0xFFFFFFFFFFFFFFFF
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [
        (i, to_i64(((i * 0x9E3779B97F4A7C15) & ~0xFFFF) | 0xBEEF))
        for i in range(300)
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")

    def cand_count(keys_df, group_cols):
        return (
            keys_df.groupBy(*group_cols)
            .agg(F.count("*").alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p"))
            .first()["p"]
        )

    # single-band candidate volume (4 x 16-bit bands, budget 3)
    or_bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_no"),
                        F.shiftrightunsigned("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_no", "b.band_val")
    or_cand = cand_count(or_bands, ["band_no", "band_val"])
    assert or_cand >= 300 * 299 / 2  # the shared band buckets everyone

    # band-pair candidate volume (5 bands, C(5,2) pairs, budget 3)
    widths = [13, 13, 13, 13, 12]
    offs = [0, 13, 26, 39, 52]
    combos = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    and_bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("pair_no"),
                        F.shiftrightunsigned("simhash", offs[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("v1"),
                        F.shiftrightunsigned("simhash", offs[j])
                        .bitwiseAND(F.lit((1 << widths[j]) - 1))
                        .alias("v2"),
                    )
                    for c, (i, j) in enumerate(combos)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.pair_no", "b.v1", "b.v2")
    and_cand = cand_count(and_bands, ["pair_no", "v1", "v2"])
    assert and_cand < or_cand / 10, (and_cand, or_cand)

    # verified outputs identical (both complete; here both empty)
    or_out = {tuple(r) for r in dedup_ops.hamming_pairs_banded(
        fp, max_hamming=3).collect()}
    and_out = {tuple(r) for r in dedup_ops.hamming_pairs_banded_and(
        fp, max_hamming=3).collect()}
    assert or_out == and_out == set()


def test_exact_dedup_keeps_lowest_id(spark):
    rows = [
        (10, "same words here"),
        (11, "here same words"),  # same token set → same fingerprint
        (12, "different content entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup_ops.exact_dedup(df).collect())
    assert kept == [10, 12]


def test_minhash_native_recall_and_precision(spark, sf_dir):
    """Native MinHash: every returned pair must truly have jaccard >=
    0.3 (exact verify is built in), and recall vs the exhaustive
    lang-blocked ground truth must be high."""
    from vfs_spark.queries.registry import QUERIES
    import vfs_spark.queries  # noqa: F401

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_minhash"](spark, sf_dir).collect()
    }
    truth = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    # ground truth is lang-blocked, native is unblocked -> superset ok;
    # precision: every returned pair is genuinely >= threshold
    assert all(j >= 0.3 for j in got.values())
    if truth:
        found = sum(1 for p in truth if p in got)
        assert found / len(truth) >= 0.8, (found, len(truth))


def test_simhash_jvm_no_python_and_finds_dups(spark, sf_dir):
    from pyspark.sql import Row
    from vfs_spark.operators import dedup
    from vfs_spark.plans import explain as ex

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta iota"),
            Row(doc_id=3, text="nothing in common with anything else at all"),
        ]
    )
    pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=16, impl="jvm")
    plan = ex.formatted_plan(pairs)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_connected_components_chain_and_isolates(spark, dispatch_path):
    """A 5-node chain (worst-case diameter), a 2-node pair, and two
    isolated nodes — every node must map to the smallest id reachable,
    across partitions, on the driver twin and the distributed loop."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long").repartition(4)
    edges = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (5, 6), (7, 8)], "src long, dst long"
    ).repartition(3)
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup_ops.connected_components(nodes, edges).collect()
    }
    want = {(1, 1), (2, 2), (3, 2), (4, 2), (5, 2), (6, 2), (7, 7), (8, 7), (9, 9)}
    assert got == want


def test_banded_clusters_group_exact_dups(spark, sf_dir):
    """Production clustering (banded MinHash edges): every exact-dup
    pair (same fingerprint) must land in the same cluster, and
    cluster_id is always the smallest doc_id of its cluster."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.functions.text import fingerprint
    from vfs_spark.queries.registry import QUERIES

    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["dedup_clusters_banded"](spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    by_fp = {}
    for r in docs.select("doc_id", fingerprint("text").alias("f")).collect():
        by_fp.setdefault(r["f"], []).append(r["doc_id"])
    dup_groups = [ids for ids in by_fp.values() if len(ids) > 1]
    assert dup_groups, "fixture should contain exact dups"
    for ids in dup_groups:
        assert len({clusters[i] for i in ids}) == 1, ids
    for doc, cid in clusters.items():
        assert cid <= doc


def test_simhash_agg_fingerprints_equal_jvm(spark, sf_dir):
    """The explode+groupBy fingerprint plan must produce bit-identical
    simhashes to the in-row aggregate plan (same xxhash64 + per-bit-sum
    math, different execution strategy)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash_fingerprints_jvm(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash_fingerprints_agg(docs).collect()}
    assert a == b


def test_minhash_signatures_independent_per_seed(spark):
    """Regression: the old signature builder created its five seeded
    min-hashes as five F.transform lambdas inside one projection, and
    they collapsed to a SINGLE seed's value (every doc's five sigs
    identical), degenerating OR-banding to one effective hash and
    silently dropping true near-dup candidates. The aggregate form
    must produce genuinely different minima across seeds."""
    from pyspark.sql import functions as F
    from vfs_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    ex = df.select("doc_id", F.explode(word_shingles("text")).alias("_s"))
    sig = ex.groupBy("doc_id").agg(
        *[F.min(F.xxhash64("_s", F.lit(i))).alias(f"h{i}") for i in range(5)]
    )
    row = sig.first()
    vals = [row[f"h{i}"] for i in range(5)]
    assert len(set(vals)) > 1, f"per-seed minima collapsed: {vals}"


def test_minhash_finds_all_banded_candidates(spark, sf_dir):
    """Every pair whose five min-hash signatures ALL match must reach
    the verify stage and, at jaccard >= threshold, the output — the
    pair the collapsed-lambda bug dropped (doc 285/301 at sf0.01,
    jaccard 0.989) is the canary shape: construct two near-identical
    docs and require the pair in the result."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + " omega"), (3, "totally different words here now")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.minhash_native_pairs(df, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs, pairs


def test_minhash_band_r2_finds_planted_near_dups(spark):
    """Signature-PAIR banding (band_r=2, n_hashes=8) must still find
    high-Jaccard planted near-dups (P(miss) ~ (1-J²)^28 ≈ 0 at
    J≥0.5) and must never emit a pair below the verify threshold —
    the same contract as the single-hash banding, cheaper background."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " omega"),          # high-J near-dup of 1
        (3, "totally different words here now appearing in this text"),
        (4, "more unrelated filler body content words across topics"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ops.minhash_native_pairs(
            df, jaccard_threshold=0.5, n_hashes=8, band_r=2
        ).collect()
    }
    assert (1, 2) in got
    assert all(j >= 0.5 for j in got.values())
    assert not any(3 in p or 4 in p for p in got)


def test_minhash_salted_skew_path_matches_plain(spark):
    """A hot band bucket (here: a 20-doc identical cluster — every
    signature collides, the straggler-reducer shape) routed through
    the salted self-join must produce EXACTLY the plain equi-join's
    pairs: salting redistributes the B² pair generation, it must not
    create or drop a single pair."""
    hot = "the quick brown fox jumps over the lazy dog again and again " * 2
    rows = [(i, hot) for i in range(20)]  # one identical cluster
    rows += [(100, "completely unrelated words appear in this document text")]
    rows += [(101, hot + " extra"), (102, "more unrelated filler text body")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.minhash_native_pairs(df, jaccard_threshold=0.5).collect()
    }
    salted = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.minhash_native_pairs(
            df, jaccard_threshold=0.5, skew_threshold=5, n_salts=4
        ).collect()
    }
    assert plain == salted
    assert len(plain) >= 20 * 19 / 2  # the cluster's pairs all survived


def test_embedding_banded_recall_and_precision(spark):
    """The unblocked semantic-dedup scale twin: banded candidates →
    exact verify. Precision is structural (every emitted pair is
    exact-verified ≥ t); recall vs the all-pairs truth must clear the
    gate at the slug's operating point (measured 0.996 at sf0.01)."""
    from vfs_spark.functions.distance import dot, l2_norm
    from vfs_spark.sources.parquet import load_table

    import pyspark.sql.functions as F  # noqa: N812

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    a, b = emb.alias("a"), emb.alias("b")
    sim = F.round(
        dot("a.embedding", "b.embedding")
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    truth = {
        (r["va"], r["vb"]): r["cs"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            sim.alias("cs"),
        )
        .where(F.col("cs") >= 0.35)
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_ops.embedding_banded_pairs(
            load_table(spark, sf, "embeddings"),
            cos_threshold=0.35,
            num_hash_tables=8,
            bucket_length=0.75,
            fallback_band_bits=4,  # slug's fixture geometry (θ≈69°)
        ).collect()
    }
    assert got  # non-degenerate at the operating point
    # precision 1.0: every emitted pair is in the exact truth set
    assert set(got) <= set(truth)
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-9
    # recall gate (banding may miss; 0.996 measured at these params)
    assert len(got) / len(truth) >= 0.9


def test_embedding_banded_candidate_guard(spark):
    """VERDICT r5 #3: at the adversarial isotropic operating point the
    BRP bucket histogram must detect candidate degradation and divert
    to the AND-banded SimHash path (same output contract — exact
    verify), while max_candidate_ratio=None preserves the raw BRP
    measured-twin behavior. On planted near-dup geometry the guarded
    call must still surface the dups (via whichever path fires: for
    unit vectors, BRP projections are N(0,1), so any bucketLength
    wide enough for the join radius admits ~1/3 of ALL pairs per
    table — the OR of 8 tables is near-total, which is exactly why
    the guard exists)."""
    import warnings as _warnings

    import numpy as np
    import pandas as pd

    from vfs_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out = dedup_ops.embedding_banded_pairs(
            emb,
            cos_threshold=0.35,
            num_hash_tables=8,
            bucket_length=0.75,
            fallback_band_bits=4,
        ).collect()
    assert any("falling back" in str(w.message) for w in caught)
    assert out and all(r["cos_sim"] >= 0.35 for r in out)
    # raw twin path still available for the SCALE.md probes
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        dedup_ops.embedding_banded_pairs(
            emb,
            cos_threshold=0.35,
            num_hash_tables=8,
            bucket_length=0.75,
            max_candidate_ratio=None,
        )
    assert not any("falling back" in str(w.message) for w in caught)
    # selective geometry: planted tight dups at cos>=0.9, bulk isotropic
    n, dim = 1000, 64
    rng = np.random.default_rng(5)
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    src = rng.choice(n, size=10, replace=False)
    dups = base[src] + 0.04 * rng.standard_normal((10, dim))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(n)) + [n + i for i in range(10)],
            "embedding": list(np.vstack([base, dups])),
        }
    )
    df = spark.createDataFrame(pdf)
    sel = dedup_ops.embedding_banded_pairs(
        df, cos_threshold=0.9, num_hash_tables=8, bucket_length=2.0
    ).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in sel}
    planted = {(int(s), n + i) for i, s in enumerate(src)}
    assert len(got & planted) / len(planted) >= 0.9
    assert all(r["cos_sim"] >= 0.9 for r in sel)


def _planted_embeddings(spark):
    """2k isotropic unit vectors + 1% planted dups at cos ≈ 0.95.
    Returns the corpus and the planted pairs at cos ≥ 0.9."""
    import numpy as np
    import pandas as pd

    n, dim = 2000, 64
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    p = n // 100
    src = rng.choice(n, size=p, replace=False)
    dups = base[src] + 0.04 * rng.standard_normal((p, dim)).astype(np.float32)
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    cos = (dups * base[src]).sum(axis=1)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n + p, dtype=np.int64),
            "embedding": [r for r in np.vstack([base, dups])],
        }
    )
    df = (
        spark.createDataFrame(pdf)
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    )
    planted = {
        (int(min(s, n + i)), int(max(s, n + i)))
        for i, s in enumerate(src)
        if cos[i] >= 0.9
    }
    return df, planted


def test_embedding_simhash_planted_near_dups(spark):
    """Default-parameter gate on REAL near-dup geometry: 2k isotropic
    vectors + 1% planted dups at cos ≈ 0.95. The banding must find
    them (recall ≥ 0.95) and emit nothing below the threshold
    (precision is structural — exact verify)."""
    df, planted = _planted_embeddings(spark)
    out = dedup_ops.embedding_simhash_pairs(df, cos_threshold=0.9).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in out}
    assert len(planted & got) / len(planted) >= 0.95
    assert all(r["cos_sim"] >= 0.9 for r in out)  # verify is exact


def test_embedding_simhash_gather_equals_join_path(spark, monkeypatch):
    """The verify gather (vectors collected under
    DRIVER_MAX["embed_gather_bytes"]) and the join-path verify emit
    the same rows with bitwise-equal cos_sim on the planted corpus."""
    from vfs_spark import dispatch

    df, planted = _planted_embeddings(spark)

    def run():
        return sorted(
            tuple(r)
            for r in dedup_ops.embedding_simhash_pairs(
                df, cos_threshold=0.9
            ).collect()
        )

    gather = run()
    monkeypatch.setitem(dispatch.DRIVER_MAX, "embed_gather_bytes", -1)
    join = run()
    assert gather == join
    assert planted & {(a, b) for a, b, _ in gather}


def test_embedding_simhash_fixture_recall(spark):
    """Fixture-geometry gate: at the slug's operating point (0.35,
    r=4) the banding must recover ≥0.9 of the 271 all-pairs truth
    pairs at sf0.01, every emitted pair exact-verified."""
    from vfs_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_ops.embedding_simhash_pairs(
            emb, cos_threshold=0.35, n_bands=24, band_bits=4
        ).collect()
    }
    assert len(got) >= 0.9 * 271  # vs the all-pairs truth count
    assert all(v >= 0.35 for v in got.values())


def test_dedup_clusters_semantic_properties(spark):
    """Cluster labels must be a valid components labeling of the
    banded edge set: every vector labeled, labels are cluster minima,
    and both endpoints of every (verified) near-dup edge share a
    label."""
    from vfs_spark.queries.registry import QUERIES
    from vfs_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    labels = {
        r["vec_id"]: r["cluster_id"]
        for r in QUERIES["dedup_clusters_semantic"](spark, sf).collect()
    }
    n = load_table(spark, sf, "embeddings").count()
    assert len(labels) == n  # total labeling, singletons included
    assert all(c <= v for v, c in labels.items())  # min-id canonical labels
    edges = dedup_ops.embedding_simhash_pairs(
        load_table(spark, sf, "embeddings"),
        cos_threshold=0.35,
        n_bands=24,
        band_bits=4,
    ).collect()
    assert edges
    for e in edges:
        assert labels[e["vec_a"]] == labels[e["vec_b"]]


def test_embedding_simhash_auto_band_bits(spark):
    """band_bits='auto' must reproduce the SCALE.md sizing rule: r
    tracks log2(N) so candidate volume stays ~linear, and the planted
    near-dups still surface at default recall."""
    import numpy as np
    import pandas as pd

    n, dim = 2000, 64
    rng = np.random.default_rng(11)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    p = 20
    src = rng.choice(n, size=p, replace=False)
    dups = base[src] + 0.04 * rng.standard_normal((p, dim)).astype(np.float32)
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n + p, dtype=np.int64),
            "embedding": [r for r in np.vstack([base, dups])],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = dedup_ops.embedding_simhash_pairs(
        df, cos_threshold=0.9, band_bits="auto"
    ).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in out}
    planted = {(int(min(s, n + i)), int(max(s, n + i))) for i, s in enumerate(src)}
    assert len(planted & got) / len(planted) >= 0.9
    assert all(r["cos_sim"] >= 0.9 for r in out)


def test_semdedup_recall_and_precision(spark):
    """SemDeDup (cluster-bounded exact pairwise): every emitted pair
    must be in the exact all-pairs truth with the exact cosine
    (precision 1.0 — within-cluster verification IS the exact
    computation), and recall vs the truth is the clustering's
    pair-capture rate — gated at the slug's fixture operating point."""
    from pyspark.sql import functions as F  # noqa: N812

    from vfs_spark.functions.distance import dot, l2_norm
    from vfs_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    a, b = emb.alias("a"), emb.alias("b")
    sim = F.round(
        dot("a.embedding", "b.embedding")
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    truth = {
        (r["va"], r["vb"]): r["cs"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            sim.alias("cs"),
        )
        .where(F.col("cs") >= 0.35)
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_ops.semdedup_pairs(
            load_table(spark, sf, "embeddings"),
            cos_threshold=0.35,
            n_clusters=8,
        ).collect()
    }
    assert got
    assert set(got) <= set(truth)  # precision 1.0
    for k, v in got.items():
        assert abs(v - truth[k]) < 1e-9
    # recall = P(pair lands in one KMeans cluster). The fixture's
    # 0.35 operating point is ADVERSARIAL for any locality rule
    # (pairs at the isotropic bulk's edge straddle cells): measured
    # 0.502 / 0.343 / 0.321 at k=4/8/16 — the finer the clustering,
    # the cheaper the quadratic and the lower the recall, which is
    # exactly SemDeDup's trade. Real near-dup geometry is the planted
    # test below (recall ≥ 0.9 at cos 0.95).
    assert len(got) / len(truth) >= 0.3


def test_semdedup_auto_k_fixture_is_exact(spark):
    """VERDICT r6 #5: the registered default is the paper's
    k ~ N/target rule (n_clusters='auto'). A fixture-sized corpus
    (N << target_cluster_rows) collapses to ONE exact cell, so the
    slug's output must EQUAL the all-pairs truth — recall 1.0 at the
    default operating point, replacing the adversarial fixed-k=8
    geometry r6 flagged (recall 0.40)."""
    from pyspark.sql import functions as F  # noqa: N812

    from vfs_spark.functions.distance import dot, l2_norm
    from vfs_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm")
    )
    a, b = emb.alias("a"), emb.alias("b")
    sim = F.round(
        dot("a.embedding", "b.embedding")
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    truth = {
        (r["va"], r["vb"]): r["cs"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            sim.alias("cs"),
        )
        .where(F.col("cs") >= 0.35)
        .collect()
    }
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in dedup_ops.semdedup_pairs(
            load_table(spark, sf, "embeddings"),
            cos_threshold=0.35,
            n_clusters="auto",
        ).collect()
    }
    # one cell -> exact all-pairs, recall 1.0. The two sides threshold
    # through DIFFERENT float paths (Catalyst column arithmetic rounded
    # to 6dp vs numpy float64 unrounded — ADVICE r7), so a pair sitting
    # within 1e-6 of the threshold may legitimately flip membership;
    # anything further from the boundary must match exactly.
    diff = set(truth) ^ set(got)
    assert all(
        abs((truth.get(p) if p in truth else got[p]) - 0.35) < 1e-6
        for p in diff
    ), f"non-boundary disagreement: {sorted(diff)[:5]}"
    assert truth and got  # fixture must actually exercise the threshold


def test_semdedup_planted_near_dups(spark):
    """On REAL near-dup geometry (cos ≈ 0.95 planted pairs), the
    planted twin sits essentially on top of its source, so KMeans
    puts both in the same cell and SemDeDup recall is near-total."""
    import numpy as np
    import pandas as pd

    n, dim = 2000, 64
    rng = np.random.default_rng(11)
    base = rng.standard_normal((n, dim)).astype(np.float64)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    p = n // 100
    src = rng.choice(n, size=p, replace=False)
    dups = base[src] + 0.04 * rng.standard_normal((p, dim))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(n)) + [n + i for i in range(p)],
            "embedding": list(np.vstack([base, dups])),
        }
    )
    df = spark.createDataFrame(pdf)
    pairs = dedup_ops.semdedup_pairs(
        df, cos_threshold=0.8, n_clusters=16
    ).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in pairs}
    planted = {(int(s), n + i) for i, s in enumerate(src)}
    found = len(got & planted) / len(planted)
    assert found >= 0.9
    # nothing below threshold sneaks out
    assert all(r["cos_sim"] >= 0.8 for r in pairs)


def test_semdedup_megacluster_fallback(spark):
    """VERDICT r5 #6: a planted megacluster (75% of the corpus in one
    tight cone) must NOT hit the |cell|² applyInPandas path — cells
    over max_cluster_rows divert to in-cell SimHash banding — while
    recall on planted near-dups holds and precision stays exact.
    The banded and exact forms are compared on the SAME data: the
    fallback may only MISS pairs (banding recall), never invent them."""
    import numpy as np
    import pandas as pd

    n, dim = 2000, 64
    rng = np.random.default_rng(23)
    axis = rng.standard_normal(dim)
    axis /= np.linalg.norm(axis)
    n_cone = (3 * n) // 4
    cone = axis[None, :] + 0.15 * rng.standard_normal((n_cone, dim))
    rest = rng.standard_normal((n - n_cone, dim))
    base = np.vstack([cone, rest])
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    p = 20
    src = rng.choice(n_cone, size=p, replace=False)  # dups INSIDE the cone
    dups = base[src] + 0.03 * rng.standard_normal((p, dim))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(n)) + [n + i for i in range(p)],
            "embedding": list(np.vstack([base, dups])),
        }
    )
    df = spark.createDataFrame(pdf)
    # cap far below the cone's cell size -> the megacluster MUST take
    # the banded path (an all-pairs pandas group of 1500 rows would
    # be the failure mode this guards against)
    capped = dedup_ops.semdedup_pairs(
        df, cos_threshold=0.9, n_clusters=4, max_cluster_rows=400
    ).collect()
    uncapped = dedup_ops.semdedup_pairs(
        df, cos_threshold=0.9, n_clusters=4, max_cluster_rows=10**9
    ).collect()
    got_c = {(r["vec_a"], r["vec_b"]) for r in capped}
    got_u = {(r["vec_a"], r["vec_b"]) for r in uncapped}
    planted = {(int(s), n + i) for i, s in enumerate(src)}
    # recall held through the fallback
    assert len(got_c & planted) / len(planted) >= 0.9
    # fallback only misses, never invents (both paths verify exactly)
    assert got_c <= got_u
    # precision: nothing below threshold
    assert all(r["cos_sim"] >= 0.9 for r in capped)


def test_semdedup_auto_k_megacluster_boundary(spark):
    """VERDICT r7 #5: the n_clusters='auto' path with a forced
    diversion — synthetic skew puts most rows in one cone so at least
    one KMeans cell exceeds max_cluster_rows and MUST divert to the
    banded fallback. Asserts the diversion actually fires (cell-size
    precondition), that the diverted output is a SUBSET of the exact
    all-pairs truth (banding may only miss, never invent — both paths
    verify cosine exactly), and that planted near-dup recall holds."""
    import numpy as np
    import pandas as pd

    n, dim = 3000, 32
    rng = np.random.default_rng(41)
    axis = rng.standard_normal(dim)
    axis /= np.linalg.norm(axis)
    n_cone = 2200
    cone = axis[None, :] + 0.12 * rng.standard_normal((n_cone, dim))
    rest = rng.standard_normal((n - n_cone, dim))
    base = np.vstack([cone, rest])
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    p = 25
    src = rng.choice(n_cone, size=p, replace=False)
    dups = base[src] + 0.02 * rng.standard_normal((p, dim))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    allv = np.vstack([base, dups])
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(n + p)),
            "embedding": list(allv),
        }
    )
    df = spark.createDataFrame(pdf)
    # auto rule: k = ceil(3025/500) = 7; the cone (~2200 rows) cannot
    # split into 7 cells all under 600 without the skew dominating at
    # least one -> diversion must fire. Assert the precondition with
    # the SAME seeded assignment the operator builds internally.
    from pyspark.sql import functions as F  # noqa: N812

    from vfs_spark.operators.ann import build_ivf_index

    _, assigned = build_ivf_index(df, n_clusters=7)
    cell_sizes = [
        r["n"]
        for r in assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert max(cell_sizes) > 600, (
        f"fixture no longer skewed enough to divert: {sorted(cell_sizes)}"
    )
    got = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_ops.semdedup_pairs(
            df,
            cos_threshold=0.93,
            n_clusters="auto",
            target_cluster_rows=500,
            max_cluster_rows=600,
        ).collect()
    }
    # exact all-pairs truth in the SAME float64 math as the kernel
    xn = allv / np.linalg.norm(allv, axis=1, keepdims=True)
    sims = xn @ xn.T
    ia, ib = np.triu_indices(len(xn), k=1)
    keep = sims[ia, ib] >= 0.93
    truth = {(int(x), int(y)) for x, y in zip(ia[keep], ib[keep])}
    planted = {(int(s), n + i) for i, s in enumerate(src)}
    assert got <= truth  # never invents (exact verify on both paths)
    assert len(got & planted) / len(planted) >= 0.9
    assert planted <= truth  # fixture sanity: planted pairs are real


def test_semdedup_blocked_kernel_multiblock_exact(spark):
    """The blocked upper-triangle sweep (ADVICE r7: avoid the dense
    n×n sims matrix) must produce EXACTLY the brute-force pair set
    when a single cell spans multiple 2048-row blocks — covers the
    block-boundary indexing (rows s..e vs cols s..n, triu k=1)."""
    import numpy as np
    import pandas as pd

    n, dim = 2500, 16  # > one 2048 block in a single cell
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"vec_id": list(range(n)), "embedding": list(base)}
    )
    got = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_ops.semdedup_pairs(
            spark.createDataFrame(pdf),
            cos_threshold=0.5,
            n_clusters=1,  # one cell -> pure blocked-kernel path
        ).collect()
    }
    sims = base @ base.T
    ia, ib = np.triu_indices(n, k=1)
    keep = sims[ia, ib] >= 0.5
    truth = {(int(x), int(y)) for x, y in zip(ia[keep], ib[keep])}
    assert got == truth
    assert truth  # threshold low enough that pairs exist


def test_semdedup_zero_norm_excluded(spark):
    """ADVICE r5: zero-norm vectors are dropped BEFORE pair formation,
    so they match nothing even at a non-positive threshold (previously
    they were zeroed into the similarity matrix at cos 0)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4, 5],
            "embedding": [
                [1.0, 0.0],
                [0.9, 0.1],
                [0.0, 0.0],  # zero-norm
                [-1.0, 0.0],
                [0.0, 1.0],
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    pairs = dedup_ops.semdedup_pairs(
        df, cos_threshold=-1.0, n_clusters=2, fit_sample_rows=None
    ).collect()
    # threshold -1 emits every within-cluster pair among NONZERO
    # vectors; some cluster holds >=2 of the 4 nonzero rows
    assert pairs
    touched = {r["vec_a"] for r in pairs} | {r["vec_b"] for r in pairs}
    assert 3 not in touched


def test_minhash_incremental_catches_history_near_dups(spark, tmp_path):
    """A batch doc paraphrasing a history doc (high shingle overlap)
    must surface as a (new, hist) pair with the exact jaccard; a fresh
    batch doc must not pair with anything; and history docs must never
    pair with each other (no history self-join by construction)."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (3, base, "s", "en", 60),                                   # history
        (7, "completely different historical content here", "s", "en", 40),
        (10, base + " tail", "s", "en", 60),                        # batch: near-dups 3
        (20, "fresh unseen words nothing shared at all", "s", "en", 40),  # batch
    ]
    d = str(tmp_path / "incmh")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.parquet(f"{d}/documents.parquet")

    out = QUERIES["dedup_incremental_minhash"](spark, d).collect()
    pairs = {(r["new_id"], r["hist_id"]) for r in out}
    assert (10, 3) in pairs
    assert all(n == 10 for n, _ in pairs), pairs  # doc 20 pairs with nothing
    jac = next(r["jaccard"] for r in out if (r["new_id"], r["hist_id"]) == (10, 3))
    # exact jaccard of the two shingle sets, independently computed
    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i+3]) for i in range(len(toks) - 2)}
    a, b = shingles(base + " tail"), shingles(base)
    want = round(len(a & b) / len(a | b), 6)
    assert jac == want


def test_minhash_incremental_salted_equals_plain(spark):
    """With a planted hot band (many near-identical docs on both
    sides) and skew_threshold forced low, the salted hot-band path
    must produce EXACTLY the plain join's pair set — salting spreads
    the reducer load, never changes candidates."""
    from pyspark.sql import functions as F

    from vfs_spark.operators.dedup import minhash_incremental_pairs

    boiler = "same boilerplate text repeated across the whole corpus here"
    rows = (
        # 30 history boilerplate docs + 5 batch boilerplate docs
        [(i, boiler + f" v{i % 3}") for i in range(1, 31)]
        + [(i * 10, boiler + f" v{i % 3}") for i in range(4, 9)]
        # plus unrelated docs on both sides
        + [(101, "nothing shared with anyone at all one")]
        + [(200, "nothing shared with anyone at all two")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new_docs = docs.where(F.col("doc_id") % 10 == 0)
    hist_docs = docs.where(F.col("doc_id") % 10 != 0)

    plain = {
        (r["new_id"], r["hist_id"], r["jaccard"])
        for r in minhash_incremental_pairs(
            new_docs, hist_docs, skew_threshold=None
        ).collect()
    }
    salted = {
        (r["new_id"], r["hist_id"], r["jaccard"])
        for r in minhash_incremental_pairs(
            new_docs, hist_docs, skew_threshold=3, n_salts=4
        ).collect()
    }
    assert plain  # the planted boilerplate must generate pairs
    assert salted == plain


def test_jaccard_prefix_equals_quadratic_on_fixture(spark, sf_dir):
    """The prefix-filtered similarity join (round 12) is EXACT: its
    output — pairs AND raw jaccard values — must equal the
    lang-blocked all-pairs self-join it replaced in dedup_clusters /
    dedup_ngram_jaccard. This is the gate that lets those slugs keep
    their quadratic recursive-CTE oracles."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    a, b = sh.alias("a"), sh.alias("b")
    j = jaccard(F.col("a.shingles"), F.col("b.shingles"))
    truth = {
        (r["da"], r["db"], round(r["j"], 9))
        for r in a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            j.alias("j"),
        )
        .where(F.col("j") >= 0.3)
        .collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dedup_ops.jaccard_pairs_prefix(sh, threshold=0.3)
        .where(F.col("jaccard") >= 0.3)
        .collect()
    }
    assert truth, "fixture should contain planted near-dups"
    assert got == truth


def test_jaccard_prefix_threshold_boundaries(spark):
    """Adversarial boundary sets: pairs with jaccard exactly AT, just
    BELOW, and just ABOVE the threshold, plus size-ratio extremes —
    the prefix-length arithmetic (floor vs ceil, the relaxed pruning
    bound) must never drop a qualifying pair."""
    rows = [
        # J(1,2) = 3/10 = 0.3 exactly (|a|=6, |b|=7, inter=3)
        (1, "x", ["a", "b", "c", "d", "e", "f"]),
        (2, "x", ["a", "b", "c", "g", "h", "i", "j"]),
        # J(3,4) = 2/10 = 0.2 (below threshold — must be excluded)
        (3, "x", ["k", "l", "m", "n", "o", "p"]),
        (4, "x", ["k", "l", "q", "r", "s", "t"]),
        # J(5,6) = 1.0 (identical sets)
        (5, "x", ["u", "v", "w"]),
        (6, "x", ["u", "v", "w"]),
        # J(7,8): size-ratio extreme — |a|=3 subset of |b|=10,
        # J = 3/10 = 0.3 exactly
        (7, "x", ["p1", "p2", "p3"]),
        (8, "x", ["p1", "p2", "p3", "p4", "p5", "p6", "p7", "p8", "p9", "p10"]),
        # different block: same sets as 5/6 but must NOT pair with them
        (9, "y", ["u", "v", "w"]),
        # singleton sets, J(10,11) = 1.0
        (10, "x", ["solo"]),
        (11, "x", ["solo"]),
    ]
    sh = spark.createDataFrame(
        rows, "doc_id long, lang string, shingles array<string>"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.jaccard_pairs_prefix(sh, threshold=0.3)
        .where(F.col("jaccard") >= 0.3)
        .collect()
    }
    assert got == {(1, 2), (5, 6), (7, 8), (10, 11)}


def test_banded_clusters_band_r2_operating_point(spark, sf_dir):
    """Regression gate for dedup_clusters_banded's round-11 operating
    point (n_hashes=8, band_r=2, skew_threshold=10000): on the fixture
    the banded candidate generator must reproduce the EXACT unblocked
    jaccard>=0.3 pair set — recall 1.0 on planted near-dups and exact
    precision from the verify step. A future banding change that
    silently shifts which near-dup edges (hence which cluster
    assignments) the slug emits fails here, not in a bench artifact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select("doc_id", word_shingles("text").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    j = jaccard(F.col("a.sh"), F.col("b.sh"))
    truth = {
        (r["da"], r["db"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            j.alias("j"),
        )
        .where(F.col("j") >= 0.3)
        .collect()
    }
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.minhash_native_pairs(
            docs,
            jaccard_threshold=0.3,
            n_hashes=8,
            band_r=2,
            skew_threshold=10000,
        ).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    assert banded == truth


def test_containment_prefix_equals_quadratic_on_fixture(spark, sf_dir):
    """The asymmetric prefix containment join (round 13) is EXACT:
    its surviving pairs AND exact integer (inter, min) values must
    equal the lang-blocked all-pairs self-join it replaced as
    dedup_containment's Spark plan. This is the gate that lets the
    slug keep its quadratic CTE oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(
        F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
    )
    m = F.least(
        F.size(F.col("a.shingles")), F.size(F.col("b.shingles"))
    )
    truth = {
        (r["da"], r["db"], r["i"], r["m"])
        for r in a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            inter.alias("i"),
            m.alias("m"),
        )
        .where((F.col("m") > 0) & (5 * F.col("i") >= 3 * F.col("m")))
        .collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], r["inter_size"], r["min_size"])
        for r in dedup_ops.containment_pairs_prefix(sh, threshold=0.6)
        .where(
            (F.col("min_size") > 0)
            & (5 * F.col("inter_size") >= 3 * F.col("min_size"))
        )
        .collect()
    }
    assert truth, "fixture should contain planted containment dups"
    assert got == truth


def test_containment_prefix_threshold_boundaries(spark):
    """Adversarial boundaries for the ASYMMETRIC scheme: exact-at-
    threshold, just-below, subset-in-superset at extreme size ratio
    (the regime jaccard's size-ratio filter would kill — containment
    must keep it), equal-size tie-break, block isolation, duplicate
    elements in the raw arrays (set semantics enforced in-operator),
    and singletons."""
    rows = [
        # C(1,2) = 3/5 = 0.6 exactly (|a|=5, |b|=8, inter=3)
        (1, "x", ["a", "b", "c", "d", "e"]),
        (2, "x", ["a", "b", "c", "f", "g", "h", "i", "j"]),
        # C(3,4) = 2/4 = 0.5 (below 0.6 — excluded)
        (3, "x", ["k", "l", "m", "n"]),
        (4, "x", ["k", "l", "o", "p", "q"]),
        # extreme ratio: 3-set fully inside a 15-set, C = 1.0,
        # jaccard = 0.2 — the pair containment exists to catch
        (5, "x", ["s1", "s2", "s3"]),
        (6, "x", ["s1", "s2", "s3"] + [f"t{i}" for i in range(12)]),
        # equal sizes, C(7,8) = 2/3 ≥ 0.6 (tie-break path)
        (7, "x", ["u", "v", "w"]),
        (8, "x", ["u", "v", "z"]),
        # different block: identical to 5 but must NOT pair
        (9, "y", ["s1", "s2", "s3"]),
        # duplicate elements in the raw array: as a SET, {d1,d2} ⊂
        # doc 11 → C = 1.0; inflated raw sizes must not mis-prune
        (10, "x", ["d1", "d1", "d1", "d2", "d2"]),
        (11, "x", ["d1", "d2", "d3", "d4"]),
        # singletons, C(12,13) = 1.0
        (12, "x", ["solo"]),
        (13, "x", ["solo"]),
    ]
    sh = spark.createDataFrame(
        rows, "doc_id long, lang string, shingles array<string>"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.containment_pairs_prefix(sh, threshold=0.6)
        .where(5 * F.col("inter_size") >= 3 * F.col("min_size"))
        .collect()
    }
    assert got == {(1, 2), (5, 6), (7, 8), (10, 11), (12, 13)}


def test_containment_prefix_random_equivalence_multi_threshold(spark):
    """Seeded-random equivalence sweep: 300 docs with skewed random
    vocab (heavy zipf-ish collisions, mixed set sizes 1-40, two
    blocks), prefix join vs brute force at thresholds 0.3/0.5/0.8 —
    the completeness argument must hold away from the fixture's
    planted structure and at thresholds other than the registered
    0.6."""
    import random

    rng = random.Random(1337)
    rows = []
    for i in range(300):
        size = rng.choice([1, 2, 3, 5, 8, 13, 21, 40])
        # zipf-ish: small ids drawn often -> dense overlap structure
        elems = {
            f"e{int(rng.paretovariate(1.2) * 3) % 400}"
            for _ in range(size)
        }
        rows.append((i, "x" if i % 3 else "y", sorted(elems)))
    sh = spark.createDataFrame(
        rows, "doc_id long, lang string, shingles array<string>"
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(
        F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
    )
    m = F.least(
        F.size(F.col("a.shingles")), F.size(F.col("b.shingles"))
    )
    brute = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            inter.alias("i"),
            m.alias("m"),
        )
        .where(F.col("m") > 0)
        .collect()
    )
    for t_num, t_den in ((3, 10), (1, 2), (4, 5)):
        truth = {
            (r["da"], r["db"], r["i"], r["m"])
            for r in brute
            if t_den * r["i"] >= t_num * r["m"]
        }
        got = {
            (r["doc_a"], r["doc_b"], r["inter_size"], r["min_size"])
            for r in dedup_ops.containment_pairs_prefix(
                sh, threshold=t_num / t_den
            )
            .where(
                t_den * F.col("inter_size")
                >= t_num * F.col("min_size")
            )
            .collect()
        }
        assert truth, "random corpus must contain qualifying pairs"
        assert got == truth, f"mismatch at threshold {t_num}/{t_den}"


def test_prefix_candidate_stats_upper_bounds_actual(spark, sf_dir):
    """The pre-flight estimator must upper-bound the prefix joins'
    ACTUAL emitted candidates (its estimate is pre-positional-filter,
    pre-distinct) on the fixture, for both modes, while costing only
    linear-stage work."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    sj = dedup_ops.prefix_candidate_stats(sh, 0.3, mode="jaccard")
    actual_j = dedup_ops.jaccard_pairs_prefix(sh, threshold=0.3).count()
    # all postings >= prefix postings (p = 1: exact) >= actual
    assert (
        sj["est_candidates_upper"]
        >= sj["est_candidates_prefix"]
        >= actual_j
    )
    assert sj["n_docs"] == docs.count()
    assert 0 < sj["prefix_postings"] <= sj["postings"]

    sc = dedup_ops.prefix_candidate_stats(sh, 0.6, mode="containment")
    actual_c = dedup_ops.containment_pairs_prefix(
        sh, threshold=0.6
    ).count()
    assert (
        sc["est_candidates_upper"]
        >= sc["est_candidates_prefix"]
        >= actual_c
    )


def test_prefix_candidate_stats_flags_degenerate_corpus(spark):
    """On a fully saturated corpus (every doc the same token set) the
    estimator must read ~C(n,2) — the signal a production router uses
    to pick the banded/anchored twin instead of the exact prefix
    join. On a disjoint-vocabulary corpus it must read ~0."""
    n = 200
    same = spark.createDataFrame(
        [(i, "x", ["a", "b", "c", "d"]) for i in range(n)],
        "doc_id long, lang string, shingles array<string>",
    )
    s = dedup_ops.prefix_candidate_stats(same, 0.6, mode="jaccard")
    assert s["est_candidates_upper"] >= n * (n - 1) / 2  # all-pairs
    disjoint = spark.createDataFrame(
        [(i, "x", [f"u{i}", f"v{i}", f"w{i}"]) for i in range(n)],
        "doc_id long, lang string, shingles array<string>",
    )
    d = dedup_ops.prefix_candidate_stats(disjoint, 0.6, mode="jaccard")
    assert d["est_candidates_upper"] == 0.0


def test_prefix_candidate_stats_sampled_router(spark):
    """The sampled all-postings estimate must still separate the two regimes:
    a saturated corpus reads orders-of-magnitude above a disjoint one
    after the 1/p² rescale, and the unbiasedness direction is right
    (sampled estimate within a reasonable factor of the full sum on
    the saturated corpus, where every key is heavy so variance is
    low). Also pins the API guard."""
    import pytest as _pytest

    n = 200
    same = spark.createDataFrame(
        [(i, "x", ["a", "b", "c", "d"]) for i in range(n)],
        "doc_id long, lang string, shingles array<string>",
    )
    full = dedup_ops.prefix_candidate_stats(same, 0.6, mode="jaccard")
    samp = dedup_ops.prefix_candidate_stats(
        same, 0.6, mode="jaccard", sample_fraction=0.3
    )
    assert samp["sampled"] == 0.3
    # heavy-key corpus: low variance, estimate lands near the truth
    assert (
        full["est_candidates_upper"] / 3
        <= samp["est_candidates_upper"]
        <= full["est_candidates_upper"] * 3
    )
    disjoint = spark.createDataFrame(
        [(i, "x", [f"u{i}", f"v{i}"]) for i in range(n)],
        "doc_id long, lang string, shingles array<string>",
    )
    dsamp = dedup_ops.prefix_candidate_stats(
        disjoint, 0.6, mode="jaccard", sample_fraction=0.3
    )
    # regime separation survives sampling: >=12x margin
    assert samp["est_candidates_upper"] >= 12 * max(
        dsamp["est_candidates_upper"], 1.0
    )
    with _pytest.raises(ValueError):
        dedup_ops.prefix_candidate_stats(same, 0.6, sample_fraction=0.0)


# --- r14: candidate-volume router (auto strategy) --------------------


def _router_corpus(spark, degenerate: bool):
    """60 docs. Degenerate = every doc the same 12-word text (closed
    vocabulary, all-pairs candidate volume — est_prefix/doc ≈ n/2).
    Open = realistic dup density: docs 0-9 form 5 planted duplicate
    PAIRS (doc 2k ≡ doc 2k+1), docs 10-59 each carry their own 12
    words — est_prefix/doc ≈ 0.8, the Heaps'-law-corpus shape."""
    rows = []
    for i in range(60):
        if degenerate:
            g = 0
        elif i < 10:
            g = 1000 + i // 2  # planted pair groups
        else:
            g = i  # unique vocabulary per doc
        words = " ".join(f"g{g}w{j}" for j in range(12))
        rows.append((i, "en", words))
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def test_route_prefix_join_separates_planted_regimes(spark, monkeypatch):
    """r13 VERDICT task #1 'Done' gate: a degenerate (closed-vocab)
    corpus routes to the banded twin, an open-vocab corpus stays on
    the exact prefix join — decided by the prefix-candidate
    estimate, with the absolute floor patched to fixture scale
    (the default 10⁷ floor exists precisely so real fixtures never
    route banded)."""
    deg = _router_corpus(spark, degenerate=True).select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    # and with DEFAULT constants even the degenerate toy corpus stays
    # exact: 60 docs cannot cross the absolute floor (documented:
    # small corpora are always cheapest run exactly)
    rd = dedup_ops.route_prefix_join(deg, 0.3, mode="jaccard")
    assert rd["strategy"] == "exact"
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 100.0)
    r = dedup_ops.route_prefix_join(deg, 0.3, mode="jaccard")
    assert r["strategy"] == "banded"
    assert r["est_prefix"] > 100.0
    assert (
        r["est_prefix_per_doc"]
        > dedup_ops.PREFIX_ROUTER_MAX_PREFIX_PER_DOC["jaccard"]
    )

    open_ = _router_corpus(spark, degenerate=False).select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    ro = dedup_ops.route_prefix_join(open_, 0.3, mode="jaccard")
    assert ro["strategy"] == "exact"


def test_jaccard_pairs_auto_fallback_warns_and_matches_planted(
    spark, monkeypatch
):
    """The banded fallback must (a) fire with a RuntimeWarning, (b)
    emit the exact path's schema, and (c) find every planted
    exact-duplicate pair (J=1.0 collides under every MinHash band,
    so recall on identical copies is deterministic)."""
    import warnings as _w

    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 100.0)
    docs = _router_corpus(spark, degenerate=True)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        pairs = dedup_ops.jaccard_pairs_auto(docs, 0.3)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in pairs.where(F.col("jaccard") >= 0.3).collect()
        }
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "jaccard_pairs_auto" in str(w.message)
        for w in rec
    ), "fallback must warn"
    assert set(pairs.columns) == {"doc_a", "doc_b", "jaccard"}
    # degenerate corpus: ALL C(60,2) identical pairs
    assert got == {(a, b) for a in range(60) for b in range(60) if a < b}


def test_jaccard_pairs_auto_exact_route_is_oracle_identical(
    spark, monkeypatch
):
    """On the open corpus the auto path must route exact and emit
    exactly the brute-force pair set (no warning)."""
    import warnings as _w

    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 100.0)
    docs = _router_corpus(spark, degenerate=False)
    truth = exact_jaccard_pairs(docs, 0.3)
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup_ops.jaccard_pairs_auto(docs, 0.3)
            .where(F.col("jaccard") >= 0.3)
            .collect()
        }
    assert truth and got == truth


def test_containment_pairs_auto_both_routes(spark, monkeypatch):
    """Containment twin of the auto tests: exact route matches the
    brute-force containment pair set on the open corpus; banded
    route on the degenerate corpus warns, emits the exact schema
    (inter_size/min_size counts), and finds every identical pair
    (identical docs always share an anchor: every shingle is
    common, and SOME shingle hash ≡ 0 mod 4 with prob 1−(3/4)^m —
    m=10 shingles ⇒ miss 5.6%; the planted corpus uses one shared
    text so a single anchor covers all pairs deterministically for
    a fixed hash family — asserted ≥ 90% of pairs to stay
    seed-robust)."""
    import warnings as _w

    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 100.0)
    open_docs = _router_corpus(spark, degenerate=False)
    sh = open_docs.select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ops.containment_pairs_prefix(sh, 0.6)
        .where(
            (F.col("min_size") > 0)
            & (5 * F.col("inter_size") >= 3 * F.col("min_size"))
        )
        .collect()
    }
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup_ops.containment_pairs_auto(open_docs, 0.6)
            .where(
                (F.col("min_size") > 0)
                & (5 * F.col("inter_size") >= 3 * F.col("min_size"))
            )
            .collect()
        }
    assert truth and got == truth

    deg = _router_corpus(spark, degenerate=True)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        fb = dedup_ops.containment_pairs_auto(deg, 0.6)
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in fb.where(
                5 * F.col("inter_size") >= 3 * F.col("min_size")
            ).collect()
        }
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "containment_pairs_auto" in str(w.message)
        for w in rec
    )
    assert set(fb.columns) == {"doc_a", "doc_b", "inter_size", "min_size"}
    all_pairs = {(a, b) for a in range(60) for b in range(60) if a < b}
    assert len(pairs & all_pairs) >= 0.9 * len(all_pairs)


def test_prefix_candidate_stats_two_sample_estimator(spark):
    """r14: the sampled estimator must rank prefix membership by df
    from the independent B sample, not the in-sample df — the r14
    router_probe measured the one-sample form ~20x under the p = 1
    volume and corpus-indistinguishable (saturated vs Heaps
    est literally identical), because a collision key shared by two
    sampled docs reads in-sample df>=2 while the docs' other keys
    read df=1, so the lowest-df-first prefix filter excludes exactly
    the candidate-generating keys. Planted geometry that isolates the
    bias: every gram is an 'edge' shared by exactly two docs (uniform
    true df=2, ranking ties broken by key hash exactly as the full
    pipeline breaks them), 12 grams/doc, t=0.6 so the prefix excludes
    6 of 12 — under in-sample ranking the sampled-collision keys
    float to the top and are excluded (est ~0); under B-ranking the
    selection is distribution-identical to the exact tier's."""
    n = 1200
    rows = []
    for i in range(n):
        grams = [f"e{i}_{(i + d) % n}" for d in range(1, 7)] + [
            f"e{(i - d) % n}_{i}" for d in range(1, 7)
        ]
        rows.append((i, "x", grams))
    sh = spark.createDataFrame(
        rows, "doc_id long, lang string, shingles array<string>"
    )
    exact = dedup_ops.prefix_candidate_stats(sh, 0.6, mode="jaccard")[
        "est_candidates_prefix"
    ]
    assert exact > 0
    sampled = dedup_ops.prefix_candidate_stats(
        sh, 0.6, mode="jaccard", sample_fraction=0.3
    )
    assert sampled["df_sample_fraction"] == 1.0  # q = min(1, 10*0.3)
    est = sampled["est_candidates_prefix"]
    # the one-sample form reads ~0 here; the two-sample form tracks
    # the exact tier within sampling noise (E raw pairs ~ p^2 * true)
    assert exact / 3 <= est <= exact * 3, (est, exact)
    # containment mode: same ranking, Sum pref*(df_hat - 1) weighting
    exact_c = dedup_ops.prefix_candidate_stats(sh, 0.6, mode="containment")[
        "est_candidates_prefix"
    ]
    est_c = dedup_ops.prefix_candidate_stats(
        sh, 0.6, mode="containment", sample_fraction=0.3
    )["est_candidates_prefix"]
    assert exact_c / 3 <= est_c <= exact_c * 3, (est_c, exact_c)


@pytest.mark.parametrize("mode", ["jaccard", "containment"])
def test_prefix_candidate_stats_p1_matches_numpy_oracle(spark, mode):
    """At p = 1 the estimator is the prefix join's exact candidate
    volume. NumPy recomputes it from Spark's own xxhash64 element keys:
    per-(block, key) df, each doc's (df, key) rank, the prefix of
    length n − ⌊t·n⌋ + 1, then Σ C(pref_df, 2) (jaccard) or
    Σ pref_df·(df − 1) (containment). The corpus holds a NULL set, an
    empty set and repeated elements; the first two emit no postings."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(0, "en", None), (1, "de", [])]
    for i in range(2, 400):
        words = rng.zipf(1.4, int(rng.integers(1, 14))) % 250
        rows.append((i, ["en", "de", "fr"][i % 3], [f"w{w}" for w in words]))
    sh = spark.createDataFrame(
        rows, "doc_id long, lang string, shingles array<string>"
    )
    threshold = 0.3 if mode == "jaccard" else 0.6
    got = dedup_ops.prefix_candidate_stats(sh, threshold, mode=mode)

    keyed = sh.select(
        "doc_id",
        "lang",
        F.transform(F.array_distinct("shingles"), lambda g: F.xxhash64(g))
        .alias("keys"),
    ).collect()
    keyed = [r for r in keyed if r["keys"]]
    doc = np.concatenate([np.full(len(r["keys"]), r["doc_id"]) for r in keyed])
    size = np.concatenate([np.full(len(r["keys"]), len(r["keys"])) for r in keyed])
    key = np.concatenate([np.asarray(r["keys"], dtype=np.int64) for r in keyed])
    blk = np.concatenate(
        [np.full(len(r["keys"]), "enfrde".index(r["lang"])) for r in keyed]
    )
    _, group, df = np.unique(
        np.stack([blk, key], axis=1), axis=0, return_inverse=True, return_counts=True
    )
    group = group.ravel()
    order = np.lexsort((key, df[group], doc))  # per doc, by (df, key)
    first = np.searchsorted(doc[order], doc[order], side="left")
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order)) - first + 1
    t = max(threshold - 0.01, 0.0)
    in_prefix = rank <= size - np.floor(t * size).astype(np.int64) + 1
    pref_df = np.bincount(group[in_prefix], minlength=len(df))
    if mode == "jaccard":
        want_prefix = int((pref_df * (pref_df - 1) // 2).sum())
        want_upper = int((df * (df - 1) // 2).sum())
    else:
        want_prefix = int((pref_df * (df - 1)).sum())
        want_upper = int((df * (df - 1)).sum())

    assert got["n_docs"] == got["n_docs_sampled"] == len(keyed) == 398
    assert got["postings"] == len(key)
    assert got["prefix_postings"] == int(in_prefix.sum())
    assert got["distinct_keys_sampled"] == len(df)
    assert got["est_candidates_upper"] == want_upper
    assert want_prefix > 0
    assert got["est_candidates_prefix"] == want_prefix


def test_router_caps_pinned_to_measured_brackets():
    """r13 VERDICT task #5: the route-to-banded cutoffs are measured
    operating points (like the band_r=2 pin), not tunables. Each cap
    must sit strictly inside its measured survived/died bracket and
    keep >=3x headroom above the Heaps'-law (realistic-corpus)
    ceiling so open-vocabulary data can never false-route to the
    recall-gated twin. Values from the r14 router_probe ladder
    (SCALE.md r14 calibration table, saturated generator, two-sample
    estimator):"""
    caps = dedup_ops.PREFIX_ROUTER_MAX_PREFIX_PER_DOC
    # jaccard: exact join survived 10M docs (est 12.506/doc), spill-
    # died at 20M (20.942/doc); Heaps ceiling 2.232/doc at 20M
    assert 12.506 < caps["jaccard"] < 20.942
    assert caps["jaccard"] >= 3 * 2.232
    # containment: survived 20M (0.681/doc); 40M scratch-bound,
    # extrapolated ~2.5/doc via candidate exponent 2.88; Heaps
    # ceiling 0.234/doc at 20M
    assert 0.681 < caps["containment"] < 2.5
    assert caps["containment"] >= 3 * 0.234
    # the absolute floor keeps every fixture/small corpus exact: the
    # largest committed fixture volume is ~6 orders below it
    assert dedup_ops.PREFIX_ROUTER_MIN_TOTAL == 10_000_000.0


def test_route_prefix_join_short_circuits_small_corpora(spark, monkeypatch):
    """When C(n,2) <= min_total no probe outcome can route banded, so
    the router must skip the probe (fixtures pay zero pre-flight
    cost) and still return the full decision shape."""
    docs = _router_corpus(spark, degenerate=True).select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    r = dedup_ops.route_prefix_join(docs, 0.3, mode="jaccard")
    assert r["strategy"] == "exact"
    assert r["stats"].get("skipped") == "C(n,2) <= min_total"
    # with the floor patched below C(60,2), the probe must RUN
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 100.0)
    r2 = dedup_ops.route_prefix_join(docs, 0.3, mode="jaccard")
    assert "skipped" not in r2["stats"]


def _skew_corpus(spark):
    """40,000 open-vocab docs (unique 12-gram sets — zero collision
    mass) + one 300-doc closed-vocab 'spam' block (identical sets —
    the template-spam-on-one-host production shape). Global prefix
    volume = 10·C(300,2) = 448,500 over 40,300 docs ≈ 11.1/doc:
    UNDER the jaccard cap (15.0), so the r14 corpus-mean rule would
    route exact — while the spam block alone reads ~1,495/doc, two
    orders past the measured spill bracket."""
    open_docs = spark.range(40_000).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.expr(
            "transform(sequence(1,12), j -> "
            "concat('o', cast(id as string), '_', cast(j as string)))"
        ).alias("shingles"),
    )
    spam = spark.range(300).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("spam").alias("lang"),
        F.expr(
            "transform(sequence(1,12), j -> "
            "concat('spamw', cast(j as string)))"
        ).alias("shingles"),
    )
    return open_docs.unionByName(spam)


def _force_router_sample(monkeypatch, p):
    """Make route_prefix_join probe at exactly ``p`` whatever the
    corpus size."""
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_SMALL_CORPUS_DOCS", 0)
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_TARGET_SAMPLED_DOCS", 0)
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_SAMPLE_FRACTION", p)


def test_route_prefix_join_skew_hot_block(spark, monkeypatch):
    """r14 VERDICT task #5 'Done' gate: a saturated subdomain inside
    a Heaps'-law corpus must route banded even though the corpus
    MEAN stays under the per-mode cap. Exact tier (n <= 200k uses
    the full prefix pipeline, so the per-block numbers here are not
    estimates) and the sampled tier (deterministic id-hash sample,
    so no flake) must both flag the spam block."""
    sh = _skew_corpus(spark)
    cap = dedup_ops.PREFIX_ROUTER_MAX_PREFIX_PER_DOC["jaccard"]
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 1000.0)
    r = dedup_ops.route_prefix_join(sh, 0.3, mode="jaccard")
    # the pre-skew mean rule would have said "exact":
    assert r["est_prefix_per_doc"] < cap
    assert r["strategy"] == "banded"
    hb = r["hot_block"]
    assert hb is not None and hb["block"] == "spam"
    assert hb["est_prefix_per_doc"] > cap
    assert hb["n_docs"] == 300
    # sampled tier: the per-block decomposition of the two-sample
    # estimator reaches the same decision
    _force_router_sample(monkeypatch, 0.5)
    r2 = dedup_ops.route_prefix_join(sh, 0.3, mode="jaccard")
    assert r2["stats"]["sampled"] == 0.5
    assert r2["est_prefix_per_doc"] < cap
    assert r2["strategy"] == "banded"
    hb2 = r2["hot_block"]
    assert hb2 is not None and hb2["block"] == "spam"
    assert hb2["est_prefix_per_doc"] > cap
    # noise guard: a sampled block below MIN_BLOCK_SAMPLED_DOCS must
    # NOT trigger the hot-block rule on its own (rule fires only on
    # adequately-probed blocks)
    assert (
        hb2["n_docs_sampled"]
        >= dedup_ops.PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS
    )


def test_route_prefix_join_unknown_mode_raises(spark):
    """ADVICE r14: an unknown mode must raise the friendly ValueError
    up front, not a bare KeyError from the caps dict."""
    docs = _router_corpus(spark, degenerate=False).select(
        "doc_id", "lang", word_shingles("text").alias("shingles")
    )
    with pytest.raises(ValueError, match="unknown mode"):
        dedup_ops.route_prefix_join(docs, 0.3, mode="cosine")


def _host_skew_corpus(spark):
    """The r15 VERDICT #4 production shape: 40,000 open-vocab docs
    spread across 1,000 hosts, ALL lang='en', plus one 300-doc
    template-spam block on a single HOST (also lang='en' — so the
    lang axis cannot see it). Global prefix volume 10·C(300,2) =
    448,500 over 40,300 docs ≈ 11.1/doc: under the jaccard cap, and
    the whole corpus is ONE lang block, so both the corpus-mean rule
    and a lang-blocked decomposition read clean."""
    open_docs = spark.range(40_000).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat(
            F.lit("host"),
            (F.col("id") % 1000).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.expr(
            "transform(sequence(1,12), j -> "
            "concat('o', cast(id as string), '_', cast(j as string)))"
        ).alias("shingles"),
    )
    spam = spark.range(300).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("spam-farm.example.com").alias("host"),
        F.expr(
            "transform(sequence(1,12), j -> "
            "concat('spamw', cast(j as string)))"
        ).alias("shingles"),
    )
    return open_docs.unionByName(spam)


def test_route_prefix_join_host_axis_detects_per_host_spam(
    spark, monkeypatch
):
    """r15 VERDICT #4 'Done' gate: template spam on ONE HOST inside a
    same-lang Heaps'-law corpus. The lang axis (single 'en' block ==
    the corpus mean) reads clean and routes exact — the host axis
    must flag the spam host and route banded, while the GLOBAL
    estimate (the join is still lang-blocked) stays byte-identical
    between the two probes."""
    sh = _host_skew_corpus(spark)
    cap = dedup_ops.PREFIX_ROUTER_MAX_PREFIX_PER_DOC["jaccard"]
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 1000.0)
    r_lang = dedup_ops.route_prefix_join(sh, 0.3, mode="jaccard")
    assert r_lang["est_prefix_per_doc"] < cap
    assert r_lang["strategy"] == "exact"
    assert r_lang["hot_block"] is None
    r_host = dedup_ops.route_prefix_join(
        sh, 0.3, mode="jaccard", route_block_col="host"
    )
    # same join, same global estimate (exact tier: both are the true
    # pre-positional-filter volume of the lang-blocked join)
    assert r_host["est_prefix"] == r_lang["est_prefix"]
    assert r_host["strategy"] == "banded"
    hb = r_host["hot_block"]
    assert hb is not None and hb["block"] == "spam-farm.example.com"
    assert hb["n_docs"] == 300
    assert hb["est_prefix_per_doc"] > cap
    assert r_host["stats"]["route_block_col"] == "host"
    # sampled tier reaches the same decision on the host axis
    _force_router_sample(monkeypatch, 0.5)
    r_s = dedup_ops.route_prefix_join(
        sh, 0.3, mode="jaccard", route_block_col="host"
    )
    assert r_s["stats"]["sampled"] == 0.5
    assert r_s["strategy"] == "banded"
    assert r_s["hot_block"]["block"] == "spam-farm.example.com"


def test_host_axis_block_decomposition_invariants(spark):
    """Attribution semantics of the routing-axis split (exact tier,
    so no sampling noise): containment terms are per-posting → the
    host blocks partition the global estimate EXACTLY; jaccard terms
    are per doc-pair → within-host credits are a lower bound (cross-
    host pairs belong to no block). The host-blocked detail must not
    change the global figures at all."""
    sh = _host_skew_corpus(spark).limit(0).unionByName(
        _host_skew_corpus(spark).where(
            (F.col("doc_id") >= 999_000) | (F.col("doc_id") < 3_000)
        )
    )
    for mode in ("jaccard", "containment"):
        plain = dedup_ops.prefix_candidate_stats(sh, 0.3, mode=mode)
        routed = dedup_ops.prefix_candidate_stats(
            sh, 0.3, mode=mode, route_block_col="host"
        )
        assert (
            routed["est_candidates_prefix"]
            == plain["est_candidates_prefix"]
        )
        assert routed["prefix_postings"] == plain["prefix_postings"]
        assert (
            routed["distinct_prefix_keys_sampled"]
            == plain["distinct_prefix_keys_sampled"]
        )
        block_sum = sum(
            b["est_candidates_prefix"] for b in routed["blocks"]
        )
        if mode == "containment":
            assert block_sum == pytest.approx(
                routed["est_candidates_prefix"]
            )
        else:
            assert block_sum <= routed["est_candidates_prefix"] + 1e-9


def test_sampled_top_blocks_rank_eligible_first(spark, monkeypatch):
    """r15 ADVICE (medium): >20 under-sampled blocks whose 1/p²-
    rescaled per-doc values are pure coincidence noise must NOT crowd
    an adequately-sampled hot block out of the bounded top-blocks
    report — the router scans only that report, so under the old
    pure-per-doc ordering it silently fell back to the corpus-mean
    rule in exactly the host-skew case the rule exists for."""
    p = 0.1
    # ids the deterministic id-hash sampler (salt 7) keeps at p=0.1
    assert dedup_ops.PREFIX_STATS_SEED == 7
    sampled_ids = [
        r["id"]
        for r in spark.range(2_000_000, 2_200_000)
        .where(
            F.abs(F.xxhash64(F.col("id"), F.lit(7))) % 1_000_000
            < int(p * 1_000_000)
        )
        .limit(50)
        .collect()
    ]
    assert len(sampled_ids) == 50
    # 25 noisy blocks: exactly 2 SAMPLED docs each, sharing a long
    # identical shingle set -> per-block noise reads ~150/doc after
    # the 1/p² rescale (true block volume is a single doc pair)
    noise_rows = [
        (
            sampled_ids[2 * i + k],
            "en",
            f"noise{i}.example.com",
            [f"n{i}_{j}" for j in range(40)],
        )
        for i in range(25)
        for k in range(2)
    ]
    noise = spark.createDataFrame(
        noise_rows, "doc_id long, lang string, host string, shingles array<string>"
    )
    # hot block: 1,500 docs on ONE host in templates of 9 near-
    # identical docs -> true ~40 candidates/doc (past the cap), and
    # ~150 sampled docs (eligible, unlike the noise blocks)
    hot = spark.range(1_500).select(
        (F.col("id") + 3_000_000).alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("hot.example.com").alias("host"),
        F.expr(
            "transform(sequence(1,12), j -> concat('hot', "
            "cast(id div 9 as string), '_', cast(j as string)))"
        ).alias("shingles"),
    )
    # open-vocab bulk keeps the corpus MEAN under the cap, so only
    # the hot-block rule can route banded
    bulk = spark.range(40_000).select(
        (F.col("id") + 4_000_000).alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat(
            F.lit("bulk"),
            (F.col("id") % 997).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.expr(
            "transform(sequence(1,12), j -> "
            "concat('b', cast(id as string), '_', cast(j as string)))"
        ).alias("shingles"),
    )
    sh = bulk.unionByName(hot).unionByName(noise)
    cap = dedup_ops.PREFIX_ROUTER_MAX_PREFIX_PER_DOC["jaccard"]
    monkeypatch.setattr(dedup_ops, "PREFIX_ROUTER_MIN_TOTAL", 500.0)
    _force_router_sample(monkeypatch, p)
    r = dedup_ops.route_prefix_join(
        sh, 0.3, mode="jaccard", route_block_col="host"
    )
    assert r["stats"]["sampled"] == p
    assert r["est_prefix_per_doc"] < cap  # mean rule alone says exact
    blocks = r["stats"]["blocks"]
    noisy_reported = [
        b for b in blocks if b["block"].startswith("noise")
    ]
    # the crowding precondition is real: the noise blocks DO out-rank
    # the hot block on raw per-doc value and there are >20 of them
    assert len(noise_rows) / 2 > dedup_ops.PREFIX_STATS_MAX_BLOCKS
    assert any(
        b["est_prefix_per_doc"]
        > next(
            hb["est_prefix_per_doc"]
            for hb in blocks
            if hb["block"] == "hot.example.com"
        )
        for b in noisy_reported
    )
    # eligible-first ranking: the adequately-sampled hot block leads
    # the report and the router flags it
    assert blocks[0]["block"] == "hot.example.com"
    assert (
        blocks[0]["n_docs_sampled"]
        >= dedup_ops.PREFIX_ROUTER_MIN_BLOCK_SAMPLED_DOCS
    )
    assert r["strategy"] == "banded"
    assert r["hot_block"]["block"] == "hot.example.com"


def test_prefix_driver_dispatch_equals_distributed(spark, monkeypatch):
    """r16 optimization gate: the driver-side prefix-join twin
    (_prefix_pairs_driver, dispatched when total postings ≤
    DRIVER_MAX["prefix_postings"]) must emit the same rows with the
    same exact values as the distributed prefix join — for BOTH modes,
    on a fixture with boundary pairs, multi-block rows, whitespace
    quirks and a NULL set, and on an envelope fixture whose
    positional-filter survivor (1, 2) is far under the threshold."""
    from vfs_spark import dispatch

    rows = [
        # J(1,2) = 3/10 = 0.3 exactly; containment 3/6 = 0.5
        (1, "x", ["a", "b", "c", "d", "e", "f"]),
        (2, "x", ["a", "b", "c", "g", "h", "i", "j"]),
        # subset pair: containment 1.0, jaccard 0.3
        (7, "x", ["p1", "p2", "p3"]),
        (8, "x", ["p1", "p2", "p3", "p4", "p5", "p6", "p7", "p8",
                  "p9", "p10"]),
        # identical sets across a block boundary must NOT pair
        (5, "x", ["u", "v", "w"]),
        (6, "x", ["u", "v", "w"]),
        (9, "y", ["u", "v", "w"]),
        # singletons
        (10, "x", ["solo"]),
        (11, "x", ["solo"]),
        # shared rare + disjoint bulk (sub-threshold candidate)
        (12, "x", ["rare1"] + [f"za{i}" for i in range(20)]),
        (13, "x", ["rare1"] + [f"zb{i}" for i in range(20)]),
        # a NULL set adds no postings on either path
        (14, "x", None),
    ]
    schema = "doc_id long, lang string, shingles array<string>"
    sh = spark.createDataFrame(rows, schema)
    envelope = spark.createDataFrame(
        [
            (1, "x", ["x", "p", "q"]),
            (2, "x", ["x", "r", "s"]),
            (3, "x", ["p", "q", "r", "s"]),
            (4, "x", ["p", "q", "r", "s"]),
        ],
        schema,
    )

    def collect_j(df):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in df.collect()
        }

    def collect_c(df):
        return {
            (r["doc_a"], r["doc_b"], r["inter_size"], r["min_size"])
            for r in df.collect()
        }

    def run():
        return [
            collect_j(dedup_ops.jaccard_pairs_prefix(sh, threshold=0.3)),
            collect_c(dedup_ops.containment_pairs_prefix(sh, threshold=0.6)),
            collect_j(dedup_ops.jaccard_pairs_prefix(envelope, threshold=0.6)),
            collect_c(
                dedup_ops.containment_pairs_prefix(envelope, threshold=0.6)
            ),
        ]

    got = run()  # driver path (fixtures are far under the default guard)
    monkeypatch.setitem(dispatch.DRIVER_MAX, "prefix_postings", -1)
    dist = run()  # forced distributed path
    assert got == dist and all(got)  # non-trivial equality
    assert got[2] == {(3, 4, 1.0)}
    # candidate-volume safety valve: a negative cap makes the driver
    # path bail (return None) and the distributed join produce the result
    monkeypatch.setitem(dispatch.DRIVER_MAX, "prefix_postings", 10**9)
    monkeypatch.setitem(dispatch.DRIVER_MAX, "prefix_candidates", -1)
    assert run() == dist
