"""⊕ Text-analysis + deduplication queries over ``documents`` (and
``embeddings`` for vector near-dup) — the LLM-training-data-pipeline
surface: token stats, quality scoring, language ID, fingerprinting,
exact dedup, n-gram Jaccard near-dedup, embedding-cosine near-dup.

Scale design: every per-document op is a pure projection (no
shuffle). Pairwise near-dup ops are BLOCKED joins (lang / label as
the blocking key here; MinHash-LSH band buckets in
operators/dedup.py are the real 100 TB path — same output contract,
sub-quadratic candidate generation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vfs_spark.dispatch import pinned
from vfs_spark.functions.text import (
    fingerprint,
    jaccard,
    lang_id,
    quality_score,
    token_count,
    tokens,
    word_shingles,
)
from vfs_spark.queries.registry import query
from vfs_spark.sources.parquet import file_signature, load_table, table_path

_TOKS = "string_split(lower(trim(text)), ' ')"
_STOP = "('the', 'a', 'of', 'and', 'to')"
_FP = f"md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))"
# distinct word 3-gram shingles (1-based inclusive list slicing)
_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, len(toks) - 1)])"
)


@query(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(CAST(n_chars AS DOUBLE) / len({_TOKS}), 6) AS chars_per_token
FROM documents
""",
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting — the unit-economics op of every
    corpus pipeline. Pure projection; scales embarrassingly."""
    docs = load_table(spark, sf_dir, "documents")
    n = token_count("text")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round(F.col("n_chars").cast("double") / n, 6).alias("chars_per_token"),
    )


@query(
    "text_quality_score",
    oracle=f"""
SELECT doc_id,
       CAST(least(n_chars, 500) * 800
            + ROUND(300000.0 * len(list_distinct({_TOKS})) / len({_TOKS}))
            + ROUND(300000.0 * (len({_TOKS})
                    - len(list_filter({_TOKS}, t -> t IN {_STOP})))
                    / len({_TOKS})) AS BIGINT) AS quality_e6
FROM documents
""",
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristic: length saturation + lexical diversity +
    non-stopword density, in integer micro-units (see
    functions/text.quality_score_e6: per-term integer rounding makes
    the value bit-identical across engines; a float sum + round(x,6)
    is ambiguous exactly at decimal boundaries — observed at sf0.1)."""
    from vfs_spark.functions.text import quality_score_e6

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return docs.select(
        "doc_id", quality_score_e6("text", "n_chars").alias("quality_e6")
    )


@query(
    "text_lang_id",
    oracle=f"""
SELECT doc_id,
       CASE
         WHEN list_contains({_TOKS}, 'el') OR list_contains({_TOKS}, 'la') THEN 'es'
         WHEN list_contains({_TOKS}, 'der') OR list_contains({_TOKS}, 'das') THEN 'de'
         WHEN list_contains({_TOKS}, 'le') OR list_contains({_TOKS}, 'une') THEN 'fr'
         WHEN list_contains({_TOKS}, 'the') OR list_contains({_TOKS}, 'and') THEN 'en'
         ELSE 'unk'
       END AS lang_guess
FROM documents
""",
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (functions/text.lang_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


@query(
    "text_fingerprint",
    oracle=f"SELECT doc_id, {_FP} AS fp FROM documents",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive md5 fingerprint over the sorted distinct
    token set — the key for exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@query(
    "dedup_exact",
    oracle=f"""
SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT doc_id, {_FP} AS fp FROM documents)
GROUP BY fp
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint, keep the lowest
    doc_id per group. One shuffle on the hash key; at 100 TB this is
    the canonical map-side-combine aggregation (the fingerprint is
    computed in the scan stage, only (fp, id) pairs shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, lang, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= 0.3
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup by word-3-gram Jaccard ≥ 0.3 over lang-blocked
    pairs. Round 12: computed with the EXACT prefix-filtered
    similarity join (operators/dedup.jaccard_pairs_prefix) — same
    pair set as the blocked O(n²) self-join the oracle runs (the
    prefix scheme is complete for the threshold, and candidates are
    verified with the exact jaccard), sub-quadratic cost. MinHash-LSH
    banding (`dedup_minhash`) remains the probabilistic comparison
    point; this is the exact production path.

    Round 14: the entry path is jaccard_pairs_auto — the measured
    candidate-volume pre-flight (operators/dedup.route_prefix_join,
    probed once per corpus and shared with dedup_clusters via the
    session route cache) keeps the exact prefix join on sane corpora
    (every fixture: the oracle still hash-matches) and
    warn-falls-back to the recall-gated banded twin on a
    degenerate-vocabulary corpus that would spill the exact join to
    death (the r13 20M-doc ladder kill)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    from vfs_spark.operators.dedup import jaccard_pairs_auto

    route = _corpus_prefix_route(spark, sf_dir, docs, "jaccard", 0.3)
    return (
        jaccard_pairs_auto(docs, threshold=0.3, route=route)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("jaccard"), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.3)
    )


@query(
    "dedup_containment",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, lang, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST((len(list_intersect(a.shingles, b.shingles)) * 1000000)
            // least(len(a.shingles), len(b.shingles)) AS BIGINT)
         AS containment_e6
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE least(len(a.shingles), len(b.shingles)) > 0
  AND 5 * len(list_intersect(a.shingles, b.shingles))
      >= 3 * least(len(a.shingles), len(b.shingles))
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ CONTAINMENT near-dup (Broder's other resemblance measure):
    max-containment |A∩B| / min(|A|,|B|) ≥ 0.6 over word-3-gram
    shingle sets, lang-blocked like the Jaccard twin. Containment
    catches what Jaccard structurally cannot: a short document
    embedded verbatim in a much longer one (boilerplate wrappers,
    quote-and-extend spam) has containment ≈ 1 but Jaccard ≈
    |A|/|B| → 0 as the length ratio grows — so a Jaccard gate alone
    keeps every superset copy. The decision value is EXACT integer
    arithmetic end to end (i·10⁶ div m, threshold 5i ≥ 3m), immune
    to cross-engine float rounding.

    Round 13: the Spark plan is the EXACT asymmetric prefix join
    (operators/dedup.containment_pairs_prefix — smaller-role prefix
    postings probed against larger-role full postings, PPJoin-style
    positional filter, exact integer verify). Same pair set as the
    lang-blocked O(n²) self-join the oracle runs, sub-quadratic cost
    — equality is test-pinned like the Jaccard twin
    (tests/test_dedup.py). The anchored sampler
    (dedup_containment_anchored) remains the UNBLOCKED probabilistic
    path; MinHash banding is deliberately NOT used because its
    collision rate is the Jaccard, which vanishes for precisely the
    subset pairs containment targets.

    Round 14: the entry path is containment_pairs_auto — the
    measured candidate-volume pre-flight (route_prefix_join) keeps
    the exact asymmetric prefix join on sane corpora (fixtures:
    oracle still hash-matches) and warn-falls-back to the
    recall-gated anchored sampler on degenerate vocabulary."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    from vfs_spark.operators.dedup import containment_pairs_auto

    route = _corpus_prefix_route(spark, sf_dir, docs, "containment", 0.6)
    return (
        containment_pairs_auto(docs, threshold=0.6, route=route)
        .where(
            (F.col("min_size") > 0)
            & (5 * F.col("inter_size") >= 3 * F.col("min_size"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST((inter_size * 1000000L) DIV min_size AS BIGINT)"
            ).alias("containment_e6"),
        )
    )


@query("dedup_containment_anchored")  # rows-only: anchor sample is hash-family-specific
def q_dedup_containment_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ The UNBLOCKED scale path for containment dedup: anchor-sampled
    candidates (a pair is a candidate iff it shares a shingle with
    xxhash64 ≡ 0 mod 4 — miss probability (3/4)^|A∩B|, independent of
    the length ratio) verified with the exact integer containment
    expression. Rows-only: the anchor sample is hash-family-specific
    (candidates can MISS small-intersection pairs); every emitted pair
    is exact-verified, and recall vs the blocked truth is gated in
    tests/test_text.py. See operators/dedup.containment_pairs_anchored
    for why MinHash banding is the wrong candidate generator here."""
    from vfs_spark.operators.dedup import containment_pairs_anchored

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return containment_pairs_anchored(
        docs, containment_threshold=0.6, anchor_rate=4
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS token FROM documents
),
tot AS (SELECT COUNT(*) AS t FROM tok)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok, tot
GROUP BY token, t
HAVING COUNT(*) * 500 >= t
""",
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Frequent-token heavy hitters (φ = 1/500 of all token
    occurrences) with EXACT counts — the vocabulary-pruning /
    stopword-discovery primitive of a corpus pipeline, and the
    canonical approximate-candidates → exact-verify pattern at
    vocabulary scale.

    Why not just groupBy(token).count(): at 100 TB the token→count
    shuffle moves ONE RECORD PER OCCURRENCE of a billion-key
    vocabulary — the full corpus re-keyed. Instead, a per-batch
    LOCAL threshold pass (Arrow value_counts, no Python loop) emits
    tokens with local_cnt·500 ≥ batch_len: by pigeonhole, any global
    heavy hitter must clear the local threshold in ≥1 batch (if
    cnt_b·500 < n_b in every batch, summing gives cnt·500 < T), so
    the candidate set — bounded at 500 per batch — is a guaranteed
    superset. The exact verify then shuffles ONLY candidate-token
    occurrences (broadcast semi-join in the scan stage); non-heavy
    tokens never leave their partitions. The threshold compare is
    pure integer (cnt·500 ≥ T) on both engines — no float epsilon.
    The same two-pass shape is Misra-Gries/SpaceSaving's guarantee
    with batch-exact counting in place of counter eviction.

    EXACTLY two corpus passes (VERDICT r6 #6): the candidate pass
    also emits one NULL-token marker row per Arrow batch carrying the
    batch length, so the global total is the sum of markers — no
    separate toks.count() scan. One driver action aggregates the
    candidate output ((token, Σbatch_len) — the SAME bounded rows the
    broadcast ships to the driver anyway, ≤500 candidates/batch + 1
    marker/batch), yielding both the candidate list and T."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = docs.select(F.explode(tokens("text")).alias("token"))

    def _local_candidates(batches):
        for pdf in batches:
            vc = pdf["token"].value_counts()
            keep = vc[vc * 500 >= len(pdf)]
            yield pd.DataFrame(
                {
                    "token": pd.array(
                        list(keep.index.astype(str)) + [None], dtype=object
                    ),
                    "batch_len": [0] * len(keep) + [len(pdf)],
                }
            )

    # Pass 1: candidates + per-batch totals in ONE scan. The collect
    # is candidate-bounded (what broadcast would pull to the driver).
    rows = (
        toks.mapInPandas(_local_candidates, "token string, batch_len long")
        .groupBy("token")
        .agg(F.sum("batch_len").alias("bl"))
        .collect()
    )
    total = sum(r["bl"] for r in rows if r["token"] is None)
    cand_tokens = [(r["token"],) for r in rows if r["token"] is not None]
    if not cand_tokens:
        return spark.createDataFrame([], "token string, cnt bigint")
    cands = spark.createDataFrame(cand_tokens, "token string")

    # Pass 2: exact verify — only candidate-token occurrences shuffle.
    return (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .where(F.col("cnt") * 500 >= F.lit(total))
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)^2)))
          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)^2)))),
         6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)^2)))
          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)^2)))),
         6) >= 0.3
""",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine similarity ≥ 0.3 over label-blocked
    pairs. Blocking bounds the join to |block|² work per key; the
    unblocked scale path is random-projection LSH bucketing
    (operators/ann.py).

    Perf: norms are computed once per row BEFORE the self-join (each
    row meets ~|block| partners; recomputing ‖·‖ per pair is O(dim)
    wasted work per partner). Same FP values → same oracle."""
    from vfs_spark.functions.distance import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", "embedding", l2_norm("embedding").alias("nrm")
    )
    a = emb.alias("a")
    b = emb.alias("b")
    sim = F.round(
        dot("a.embedding", "b.embedding")
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.3)
    )


@query(
    "filter_by_tag",
    oracle="""
SELECT doc_id, array_to_string([lang, source], ',') AS tags
FROM documents
WHERE list_contains([lang, source], 'en')
""",
)
def q_filter_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-membership filter over the reference's metadata model
    (vector.rs:15 — tags: Vec<String>; never queried there, queryable
    here): documents tagged by (lang, source), filtered with
    array_contains — a pure pushdown-friendly predicate. The tag list
    is returned array_join'd to a scalar: the driver's pandas
    canonicalizer can't hash list cells."""
    docs = load_table(spark, sf_dir, "documents")
    tags = F.array("lang", "source")
    return docs.withColumn("tags_arr", tags).where(
        F.array_contains("tags_arr", "en")
    ).select("doc_id", F.array_join("tags_arr", ",").alias("tags"))


_BPE_RE = "[a-z0-9]+|[^a-z0-9\\s]"


@query(
    "text_token_bpe",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT)
         AS n_pieces,
       CAST(len(list_distinct(regexp_extract_all(lower(text), '{_BPE_RE}')))
         AS BIGINT) AS n_distinct_pieces
FROM documents
""",
)
def q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word piece counting: alphanumeric runs + individual
    punctuation as separate pieces (the pre-tokenization split every
    BPE tokenizer applies). Regex evaluates in the JVM — no UDF."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pieces = F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0)
    return docs.select(
        "doc_id",
        F.size(pieces).cast("bigint").alias("n_pieces"),
        F.size(F.array_distinct(pieces)).cast("bigint").alias("n_distinct_pieces"),
    )


@query(
    "text_rolling_fingerprint",
    oracle="""
SELECT doc_id,
       array_to_string(
         list_sort(list_distinct([md5(substr(lower(text), CAST(i AS INTEGER), 8))
                   FOR i IN range(1, CAST(len(lower(text)) AS BIGINT) - 6)]))[1:4],
         ',') AS sketch
FROM documents
WHERE len(text) >= 8
""",
)
def q_text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document sketch: hash every char-8-gram (the
    rolling window), keep the 4 lexicographically-smallest distinct
    hashes — a bottom-k sketch (winnowing's batch cousin): identical
    or near-identical byte streams share sketch elements even under
    edits. Pure Catalyst (substring/transform/array_sort/slice);
    per-doc work is O(len·k) in the scan stage, no shuffle. The sketch
    is returned comma-joined (scalar) for the driver's hash compare."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    low = F.lower("text")
    idx = F.sequence(F.lit(1), F.length(low) - 7)
    sketch = F.slice(
        F.array_sort(
            F.array_distinct(
                F.transform(idx, lambda i: F.md5(F.encode(low.substr(i, F.lit(8)), "utf-8")))
            )
        ),
        1,
        4,
    )
    return docs.where(F.length("text") >= 8).select(
        "doc_id", F.array_join(sketch, ",").alias("sketch")
    )


@query(
    "text_bigram_top",
    oracle=f"""
WITH bg AS (
  SELECT lang, bigram FROM (
    SELECT lang, unnest([array_to_string(toks[i:i+1], ' ')
                 FOR i IN range(1, len(toks))]) AS bigram
    FROM (SELECT lang, {_TOKS} AS toks FROM documents)
  ) WHERE bigram <> ''
)
SELECT lang, bigram, n, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY COUNT(*) DESC, bigram ASC) AS rnk
  FROM bg GROUP BY lang, bigram
) WHERE rnk <= 5
""",
)
def q_text_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — the n-gram statistics pass of
    a corpus pipeline. Shape: explode bigrams in the scan stage, one
    count shuffle (map-side combined), rank-window with early
    WindowGroupLimit pruning. At 100 TB the explode multiplies rows
    ~token-count× but only (lang, bigram) pairs ever shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens("text")
    # Guard single-token docs: sequence(1, 0) yields a DESCENDING [1, 0]
    # and element_at(toks, 0) throws. The CASE keeps the transform from
    # ever evaluating on short docs (a later filter would NOT — the
    # projection runs first).
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bigrams = F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        docs.select("lang", F.explode(bigrams).alias("bigram"))
        .where(F.col("bigram") != "")
        .groupBy("lang", "bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
    )


@query(
    "text_repetition_score",
    oracle=f"""
WITH g AS (
  SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
                FOR i IN range(1, len(toks) - 1)]) AS g
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
  WHERE len(toks) >= 3
),
c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY doc_id, g)
SELECT doc_id,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_gram_frac,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS distinct_gram_frac
FROM c GROUP BY doc_id
""",
)
def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-quality signals (the Gopher-rule family every
    pretraining pipeline applies): per document, the frequency share of
    the most-repeated word 3-gram and the distinct-3-gram ratio —
    loopy/templated docs score high/low respectively. Shape: explode
    3-grams in the scan stage, count with map-side combine (only
    (doc, gram, cnt) rows shuffle), one per-doc aggregate on top.
    Both ratios are ONE integer/integer IEEE division → bit-identical
    across engines at ROUND(·, 6)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    from vfs_spark.functions.text import word_ngrams

    grams = docs.select("doc_id", F.explode(word_ngrams("text", 3)).alias("g"))
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    return counts.groupBy("doc_id").agg(
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias(
            "top_gram_frac"
        ),
        F.round(F.count("*").cast("double") / F.sum("cnt"), 6).alias(
            "distinct_gram_frac"
        ),
    )


_JACC = (
    "CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)"
    " / (len(a.shingles) + len(b.shingles)"
    " - len(list_intersect(a.shingles, b.shingles)))"
)


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE
fp AS (SELECT doc_id, {_FP} AS f FROM documents),
fpe AS (SELECT f, MIN(doc_id) AS root FROM fp GROUP BY f),
e1 AS (SELECT fp.doc_id AS u, fpe.root AS v
       FROM fp JOIN fpe USING (f) WHERE fp.doc_id <> fpe.root),
sh AS MATERIALIZED (
  SELECT doc_id, lang, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
),
e2 AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE {_JACC} >= 0.3
),
edges AS MATERIALIZED (
  SELECT u, v FROM e1 UNION SELECT v, u FROM e1
  UNION SELECT u, v FROM e2 UNION SELECT v, u FROM e2
),
cc AS (
  SELECT doc_id AS node, doc_id AS comp FROM documents
  UNION
  SELECT e.v AS node, cc.comp FROM cc JOIN edges e ON cc.node = e.u
  WHERE cc.comp < e.v
)
SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS cluster_id
FROM cc GROUP BY node
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup cluster assignment: exact-dup edges (doc →
    fingerprint-group root, a star per clique — linear, connectivity-
    equivalent to all pairs) UNION near-dup edges (lang-blocked
    3-gram jaccard ≥ 0.3), then distributed connected components
    (operators/dedup.connected_components, iterative min-label
    propagation). cluster_id = smallest doc_id in the component — the
    canonical document every pipeline keeps. The DuckDB oracle is a
    recursive CTE over the SAME edge set, so the iterative fixpoint
    is value-checked, not just row-counted.

    Round 12: the near-dup edge generator switched from the
    lang-blocked O(n²) self-join to the EXACT prefix-filtered
    similarity join (operators/dedup.jaccard_pairs_prefix, AllPairs
    candidate scheme + exact verify) — identical edge set by
    construction, so the quadratic recursive-CTE oracle still
    hash-checks it, but the Spark side is now sub-quadratic like the
    banded twin. dedup_clusters_banded remains the probabilistic-
    recall comparison point; this slug is the exact production path.

    Round 14: the near-dup edge generator goes through
    jaccard_pairs_auto — the measured candidate-volume pre-flight
    (route_prefix_join, one probe per corpus shared with
    dedup_ngram_jaccard via the session route cache) keeps the exact
    prefix join on sane corpora and warn-falls-back to the
    recall-gated banded twin on degenerate vocabulary — the r13
    ladder's 20M-doc spill death now routes to the twin that holds
    sub-linear through 20M instead of killing the job."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    from vfs_spark.operators.dedup import (
        connected_components,
        jaccard_pairs_auto,
    )

    fp = docs.select("doc_id", fingerprint("text").alias("f"))
    roots = fp.groupBy("f").agg(F.min("doc_id").alias("root"))
    e1 = (
        fp.join(roots, "f")
        .where(F.col("doc_id") != F.col("root"))
        .select(F.col("doc_id").alias("src"), F.col("root").alias("dst"))
    )
    route = _corpus_prefix_route(spark, sf_dir, docs, "jaccard", 0.3)
    e2 = (
        jaccard_pairs_auto(docs, threshold=0.3, route=route)
        .where(F.col("jaccard") >= 0.3)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components(
        docs.select("doc_id"), e1.union(e2), id_col="doc_id"
    )
    manifest = cc.select(
        "doc_id", F.col("cluster_id").cast("bigint")
    ).localCheckpoint(eager=True)
    # Evict superseded manifests for the same (application, sf_dir)
    # before publishing: the fingerprint changing means the old
    # manifest is stale, and a dict entry pins its checkpoint blocks
    # in executor storage for the session's life (clearCache cannot
    # free referenced checkpoints) — the r12 ladder session retained
    # one multi-million-row manifest per rung (r12 ADVICE #1).
    key = _manifest_key(spark, sf_dir)
    for k in [
        k
        for k in _CLUSTER_MANIFEST_CACHE
        if k[:2] == key[:2] and k != key
    ]:
        del _CLUSTER_MANIFEST_CACHE[k]
    _CLUSTER_MANIFEST_CACHE[key] = manifest
    return manifest


# Session-scoped dedup-cluster manifest, keyed by (application, sf_dir,
# data fingerprint). In a production pipeline the dedup stage WRITES
# its cluster manifest once and every downstream consumer (qrels
# mining, keep-best, stats) READS that artifact — nothing recomputes
# connectivity per query. The in-session analogue: q_dedup_clusters
# stores its eagerly-checkpointed result here every time it runs (it
# never reads the cache, so its own bench/driver runs always measure
# the full computation), and consumers call _cluster_manifest() to
# reuse the artifact or compute it once. The fingerprint (file names +
# sizes + mtimes of the documents table) guards against the same PATH
# holding different data within one session — the r12 ladder rebuilt
# its tmp corpus per rung and the path-only key silently served the
# previous rung's clusters.
_CLUSTER_MANIFEST_CACHE: dict = {}


def _manifest_key(spark: SparkSession, sf_dir: str):
    # the schema memo's signature: every file under the table, nested
    # partition directories included; None (path-only key) off a
    # locally visible filesystem
    sig = file_signature(table_path(sf_dir, "documents"), None)
    return (spark.sparkContext.applicationId, sf_dir, sig)


# Session-scoped pre-flight route decisions for the exact-prefix
# dedup family (r13 VERDICT task #1), keyed like the cluster manifest
# — (application, sf_dir, data fingerprint) — plus (mode, threshold):
# dedup_clusters and dedup_ngram_jaccard share one jaccard@0.3 probe
# per corpus instead of re-probing per query, and a rebuilt corpus at
# the same path re-probes (fingerprint change), the r12 ladder lesson.
_PREFIX_ROUTE_CACHE: dict = {}


def _corpus_prefix_route(
    spark: SparkSession, sf_dir: str, docs: DataFrame, mode: str, threshold: float
) -> dict:
    from vfs_spark.functions.text import normalize_url, url_domain
    from vfs_spark.operators.dedup import route_prefix_join

    key = _manifest_key(spark, sf_dir) + (mode, threshold)
    r = _PREFIX_ROUTE_CACHE.get(key)
    if r is None:
        # r15 VERDICT #4: the skew axis for the hot-block rule is the
        # canonical HOST (the same derivation corpus_domain_stats
        # aggregates by) — production template spam lives on one
        # domain, and a lang-level decomposition dilutes it into the
        # 'en' megablock. The JOIN itself still blocks on lang (the
        # slugs' pinned pair semantics); only the routing detail and
        # hot_block attribution change, and the global estimate is
        # byte-identical, so fixture routes are unchanged.
        sh = docs.select(
            "doc_id",
            "lang",
            url_domain(normalize_url(_synth_url_col())).alias("host"),
            word_shingles("text").alias("shingles"),
        )
        r = route_prefix_join(
            sh, threshold, mode=mode, route_block_col="host"
        )
        _PREFIX_ROUTE_CACHE[key] = r
    return r


def _cluster_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _CLUSTER_MANIFEST_CACHE.get(_manifest_key(spark, sf_dir))
    if df is None:
        df = q_dedup_clusters(spark, sf_dir)  # populates the cache
    return df


def cluster_manifest_cached(spark: SparkSession, sf_dir: str) -> bool:
    """Whether a current-fingerprint cluster manifest is already
    published for this (session, sf_dir). Bench artifacts record this
    next to retrieval_eval_ndcg's timings so a manifest-hit serving
    time can't be read as a full-recompute time (r12 ADVICE #3)."""
    return _manifest_key(spark, sf_dir) in _CLUSTER_MANIFEST_CACHE


@query("dedup_clusters_banded")  # rows-only: MinHash candidate edges are hash-family-specific
def q_dedup_clusters_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of dedup_clusters: same exact-dup star
    edges, but near-dup edges from banded MinHash (sub-quadratic,
    ~10× cheaper than the blocked jaccard self-join at sf0.1) feeding
    the same connected_components. Candidate edges are verified
    against exact jaccard inside minhash_native_pairs, so precision
    is exact; recall is the LSH banding guarantee (tested). This is
    the pair the 100 TB pipeline runs; dedup_clusters is its
    oracle-checked twin.

    Round 11: banding switched to signature-PAIR keys (band_r=2 over
    8 hashes, C(8,2)=28 bands) after the isolated ladder caught the
    single-hash OR-banding at exponent 1.58 over 2.5M→5M docs — one
    shared common-shingle min value bucketed a constant FRACTION of
    the corpus (operators/dedup.minhash_native_pairs docstring). The
    pair keys collapse the low-J background quadratically AND raise
    recall at the 0.3 threshold (0.93 vs 0.83); skew_threshold stays
    on as the belt for genuine giant near-dup clusters. Ladder after
    the switch: SCALE.md round-11 clusters table."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    from vfs_spark.operators.dedup import (
        connected_components,
        minhash_native_pairs,
    )

    fp = docs.select("doc_id", fingerprint("text").alias("f"))
    roots = fp.groupBy("f").agg(F.min("doc_id").alias("root"))
    e1 = (
        fp.join(roots, "f")
        .where(F.col("doc_id") != F.col("root"))
        .select(F.col("doc_id").alias("src"), F.col("root").alias("dst"))
    )
    e2 = minhash_native_pairs(
        docs,
        jaccard_threshold=0.3,
        n_hashes=8,
        band_r=2,
        skew_threshold=10000,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    cc = connected_components(docs.select("doc_id"), e1.union(e2), id_col="doc_id")
    return cc.select("doc_id", F.col("cluster_id").cast("bigint"))


@query(
    "sample_stable_split",
    oracle="""
SELECT doc_id,
       CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 90
            THEN 'train' ELSE 'val' END AS split
FROM documents
""",
)
def q_sample_stable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val split (90/10): the split a
    doc lands in depends only on its BYTES, so it is stable across
    runs, engines, repartitions, and re-ingests — the property random
    sampling lacks and every leak-free training pipeline needs.
    Pure projection (md5 prefix mod 100), no shuffle, no state."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return docs.select(
        "doc_id",
        F.when(h % 100 < 90, "train").otherwise("val").alias("split"),
    )


@query(
    "text_redact_pii",
    oracle="""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or call 55512345' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g'),
         '[0-9]{9,}', '<NUM>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(
         t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails
FROM seeded
""",
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ PII scrub — the redaction pass a pretraining pipeline runs
    before anything else: emails → <EMAIL>, long digit runs → <NUM>.
    The fixture corpus contains no PII, so the query SEEDS a
    deterministic email + phone per doc (same expression in the
    oracle) and the hash compare proves both engines redact them
    identically — the regex semantics are value-checked, not assumed.
    Pure scan-stage projection: regexp_replace is codegen'd, nothing
    shuffles, and at 100 TB this runs at read bandwidth."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 55512345"),
        F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(seeded, email_re, "<EMAIL>"),
            r"[0-9]{9,}",
            "<NUM>",
        ).alias("clean_text"),
        F.regexp_count(seeded, F.lit(email_re)).cast("bigint").alias("n_emails"),
    )


@query(
    "sample_stratified",
    oracle="""
SELECT doc_id, source FROM documents
WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 <
      CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 80
           WHEN source IN ('src5','src6','src7','src8','src9') THEN 50
           ELSE 20 END
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Deterministic stratified sampling: per-source keep rates
    (src0-4 80% / src5-9 50% / rest 20% — the up/down-weighting every
    corpus mixture applies), decided by the same content-hash idiom
    as sample_stable_split, so membership is stable across runs,
    engines, and repartitions — no RNG, no seed coordination across
    1000 executors. Scan-stage predicate only; at 100 TB sampling
    costs one projection, and the SAME hash mod drives the split op
    so strata stay consistent between pipeline stages."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 80)
        .when(F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 50)
        .otherwise(20)
    )
    return docs.select("doc_id", "source").where((h % 100) < rate)


@query(
    "text_bigram_logprob",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
doc_bg AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                         for i in range(1, len(toks))]) AS bg
  FROM t WHERE len(toks) >= 2
),
counts AS (
  SELECT bg, COUNT(*) AS c12 FROM doc_bg GROUP BY bg
),
heads AS (
  SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1
  FROM counts GROUP BY 1
)
SELECT d.doc_id,
       ROUND(AVG(LN(CAST(c.c12 AS DOUBLE) / h.c1)), 6) AS avg_logprob,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM doc_bg d
JOIN counts c USING (bg)
JOIN heads h ON h.w1 = split_part(d.bg, ' ', 1)
GROUP BY d.doc_id
""",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ n-gram LM fluency scoring: train a bigram model ON the corpus
    (MLE, no smoothing — every doc bigram is observed by construction)
    and score each doc by its average log P(w2|w1). The statistical
    quality signal real pipelines (CCNet-style) use to rank documents
    — low scores flag token salads that the heuristic gates
    (length/diversity) miss.

    Shape: bigrams explode in the scan stage; the model is two
    map-side-combined count aggregations shuffling (token-pair, count)
    rows — never text; scoring joins the doc bigram stream to the
    count table on the bigram key. At 100 TB the observed-bigram
    table outgrows broadcast: partition both sides on the bigram key
    (one co-located shuffle), or cap the model to top-V bigrams with
    an <unk> backoff probability and broadcast — the standard LM
    serving trade. Exact MLE form kept here for the oracle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    t = docs.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") >= 2
    )
    doc_bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks)-1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
            )
        ).alias("bg"),
    )
    counts = doc_bg.groupBy("bg").agg(F.count("*").alias("c12"))
    heads = counts.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    return (
        doc_bg.join(counts, "bg")
        .join(heads, F.substring_index(doc_bg["bg"], " ", 1) == heads["w1"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("c12").cast("double") / F.col("c1"))), 6
            ).alias("avg_logprob"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
    )


@query(
    "text_pack_blocks",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split(lower(trim(text)), ' ')) AS n FROM documents
),
c AS (
  SELECT doc_id, n,
         CAST(SUM(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS start
  FROM t
),
b AS (
  SELECT doc_id, unnest(range(start // 512, (start + n - 1) // 512 + 1)) AS block_id
  FROM c
)
SELECT CAST(block_id AS BIGINT) AS block_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM b GROUP BY block_id
""",
)
def q_text_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: lay the corpus token stream end-to-end in
    doc_id order and cut fixed 512-token training blocks; emit which
    docs each block draws from (a doc spanning a boundary appears in
    both blocks) — the packing manifest an LLM pretraining loader
    materializes. Running offsets come from the SCALE-TRUE
    range-partitioned two-pass (operators/ids.running_offsets): output
    identical to SUM(n) OVER (ORDER BY doc_id) — the oracle
    hash-checks it — with no single-partition window; block assembly
    is embarrassingly parallel after it."""
    from vfs_spark.operators.ids import running_offsets

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", token_count("text").alias("n"))
    c = running_offsets(t, "n", "doc_id")
    b = c.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.expr("start div 512"), F.expr("(start + n - 1) div 512")
            )
        ).alias("block_id"),
    )
    return b.groupBy("block_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


_SHINGLES5 = (
    "list_distinct([array_to_string(toks[i:i+4], ' ') "
    "for i in range(1, len(toks) - 3)])"
)


_DECONTAM_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT unnest({_SHINGLES5}) AS g
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id < 10)
),
cor AS (
  SELECT doc_id, unnest({_SHINGLES5}) AS g
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id >= 10)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM cor JOIN ev USING (g)
GROUP BY doc_id
"""


@query("decontaminate_against_eval", oracle=_DECONTAM_ORACLE)
def q_decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    distinct word 5-gram with the eval set (here: doc_id < 10 stands
    in for the benchmark corpus), with the shared-shingle count as
    evidence. The must-run hygiene pass of every pretraining pipeline.
    Shape: the eval shingle set is tiny → broadcast; corpus shingles
    explode in the scan stage; one map-side-combined count per doc.
    The corpus never self-joins and never shuffles its text."""
    # eval side: NO fan_out — the doc_id<10 filter pushes to the scan
    # (fan_out's repartition would read+shuffle the whole corpus to
    # keep 10 rows; measured 7 s of the query's 11-23 s at sf0.1)
    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 10)
        .select(F.explode(word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    cor = docs.where(F.col("doc_id") >= 10).select(
        "doc_id", F.explode(word_shingles("text", 5)).alias("g")
    )
    return (
        cor.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


_LANG_CASE = (
    "CASE "
    "WHEN list_contains(" + _TOKS + ", 'el') OR list_contains(" + _TOKS + ", 'la') THEN 'es' "
    "WHEN list_contains(" + _TOKS + ", 'der') OR list_contains(" + _TOKS + ", 'das') THEN 'de' "
    "WHEN list_contains(" + _TOKS + ", 'le') OR list_contains(" + _TOKS + ", 'une') THEN 'fr' "
    "WHEN list_contains(" + _TOKS + ", 'the') OR list_contains(" + _TOKS + ", 'and') THEN 'en' "
    "ELSE 'unk' END"
)


@query(
    "pipeline_quality_filter",
    oracle=f"""
SELECT doc_id,
       CASE
         WHEN ({_LANG_CASE}) = 'unk' THEN 'lang'
         WHEN len({_TOKS}) < 20 THEN 'too_short'
         WHEN CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) < 0.3
           THEN 'repetitive'
         WHEN CAST(n_chars AS DOUBLE) / len({_TOKS}) > 12 THEN 'gibberish'
         ELSE 'keep'
       END AS verdict
FROM documents
""",
)
def q_pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed keep/drop gate a pretraining pipeline actually
    ships: language known, length floor, lexical-diversity floor,
    chars-per-token ceiling — evaluated in rule order so the verdict
    names the FIRST failing rule (the triage signal reviewers want).
    One projection over the scan; each ratio is a single exact
    integer/integer division, so the thresholds compare identically
    across engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    cpt = F.col("n_chars").cast("double") / n
    verdict = (
        F.when(lang_id("text") == "unk", "lang")
        .when(n < 20, "too_short")
        .when(distinct_ratio < 0.3, "repetitive")
        .when(cpt > 12, "gibberish")
        .otherwise("keep")
    )
    return docs.select("doc_id", verdict.alias("verdict"))


@query(
    "sample_token_mixture",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, len({_TOKS}) AS n,
         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1000000 AS h
  FROM documents
),
tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens FROM tok GROUP BY source),
gt AS (SELECT CAST(SUM(src_tokens) AS DOUBLE) / COUNT(*) AS target FROM tot),
cut AS (
  SELECT source,
         LEAST(CAST(1000000 AS BIGINT),
               CAST(ROUND(1000000.0 * (SELECT target FROM gt) / src_tokens, 0)
                    AS BIGINT)) AS cutoff
  FROM tot
)
SELECT t.doc_id, t.source
FROM tok t JOIN cut c USING (source)
WHERE t.h < c.cutoff
""",
)
def q_sample_token_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: rebalance the corpus toward a UNIFORM token budget
    per source — over-represented sources are down-sampled to
    total_tokens/n_sources, under-represented ones keep everything.
    Selection is the content-hash threshold (md5 mod 1e6 under the
    per-source cutoff), so the sample is deterministic and stable
    across runs/engines — the mixture-weights pass of a pretraining
    pipeline, with per-source keep rates derived IN-QUERY from the
    actual token counts. Two tiny aggregates broadcast back over one
    corpus scan; no shuffle of document text."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        token_count("text").alias("n"),
        (F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint") % 1000000).alias("h"),
    )
    tot = tok.groupBy("source").agg(F.sum("n").cast("bigint").alias("src_tokens"))
    gt = tot.agg(
        (F.sum("src_tokens").cast("double") / F.count("*")).alias("target")
    )
    cut = tot.crossJoin(F.broadcast(gt)).select(
        "source",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.round(1000000.0 * F.col("target") / F.col("src_tokens"), 0).cast(
                "bigint"
            ),
        ).alias("cutoff"),
    )
    return (
        tok.join(F.broadcast(cut), "source")
        .where(F.col("h") < F.col("cutoff"))
        .select("doc_id", "source")
    )


@query(
    "text_chunk_overlap",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
       CAST(len(t[i*48+1 : i*48+64]) AS INTEGER) AS n_tokens,
       md5(array_to_string(t[i*48+1 : i*48+64], ' ')) AS chunk_hash
FROM toks,
     UNNEST(generate_series(0, CAST((len(t) - 1) // 48 AS BIGINT))) AS g(i)
""",
)
def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: cut each document into 64-token
    chunks on a 48-token stride (16-token overlap) — the
    context-window prep step for embedding models and RAG indexing,
    where overlap preserves sentences that straddle a boundary.
    Unlike text_pack_blocks (which packs the CORPUS stream into
    fixed blocks), this is per-document: chunk starts are multiples
    of the stride while they fall inside the doc, the tail chunk may
    run short, and each chunk carries its content hash for
    downstream chunk-level dedup. Pure projection + explode — no
    shuffle, embarrassingly parallel at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text: tokens(NULL) is NULL, size -> -1, and the sequence()
    # grid would emit one bogus chunk row where the DuckDB twin emits
    # none (generate_series over NULL is empty) — drop NULLs up front
    t = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens("text").alias("t")
    )
    c = t.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.expr("(size(t) - 1) div 48"))
        ).alias("i"),
    )
    chunk = F.expr("slice(t, i*48 + 1, 64)")
    return c.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
WITH v AS (
  SELECT g AS token, COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKS}) AS g FROM documents)
  GROUP BY g
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM v),
r AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rnk,
         SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM v
)
SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS INTEGER) AS rnk,
       ROUND(CAST(cum AS DOUBLE) / (SELECT t FROM tot), 6) AS cum_coverage
FROM r WHERE rnk <= 200
""",
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction: the top-200 corpus unigrams
    with rank and CUMULATIVE token-mass coverage — the curve a
    tokenizer team reads to size a vocab ("how many types cover 95%
    of tokens?"). Scale: the explode+count is map-side combined (only
    (token, count) pairs shuffle); the top-k is ``orderBy().limit(k)``
    which Catalyst plans as TakeOrderedAndProject — every partition
    keeps its LOCAL top-200 in a bounded heap and only k·|partitions|
    (token, count) pairs ever concentrate, so NO |vocab|-sized global
    window exists anywhere in the plan (at 100 TB vocab is tens of
    millions of types; ranking them all through one partition was the
    prior shape, removed round 11). The rank/running-sum window that
    remains runs over the ≤200-row take-ordered result — bounded by
    the CONSTANT k, not by any corpus-derived cardinality. The
    coverage ratio is one exact-int/exact-int division, stable across
    engines at 6 decimals."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    v = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    tot = v.agg(F.sum("cnt").cast("bigint").alias("t"))
    top = v.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(200)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = top.select(
        "token",
        "cnt",
        F.row_number().over(w).alias("rnk"),
        F.sum("cnt").over(wc).alias("cum"),
    )
    return r.crossJoin(F.broadcast(tot)).select(
        "token",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("rnk").cast("int").alias("rnk"),
        F.round(F.col("cum").cast("double") / F.col("t"), 6).alias("cum_coverage"),
    )


@query(
    "dedup_chunk_hash",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
c AS (
  SELECT doc_id,
         md5(array_to_string(t[i*48+1 : i*48+64], ' ')) AS chunk_hash
  FROM toks,
       UNNEST(generate_series(0, CAST((len(t) - 1) // 48 AS BIGINT))) AS g(i)
)
SELECT chunk_hash,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM c GROUP BY chunk_hash
HAVING COUNT(DISTINCT doc_id) > 1
""",
)
def q_dedup_chunk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: 64-token windows (the
    text_chunk_overlap grid) whose content hash recurs across
    DIFFERENT documents — catches boilerplate and partial copies that
    whole-document fingerprints miss (a doc that shares one paragraph
    with another is invisible to dedup_exact). Scale: hashes are
    computed in the scan stage; only (hash, doc_id) pairs shuffle —
    never chunk text; the HAVING prunes singleton hashes after a
    map-side-combined aggregate."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # NULL text: tokens(NULL) is NULL, size -> -1, and the sequence()
    # grid would emit one bogus chunk row where the DuckDB twin emits
    # none (generate_series over NULL is empty) — drop NULLs up front
    t = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens("text").alias("t")
    )
    c = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.expr("(size(t) - 1) div 48"))).alias("i"),
        "t",
    ).select(
        "doc_id",
        F.md5(F.array_join(F.expr("slice(t, i*48 + 1, 64)"), " ")).alias(
            "chunk_hash"
        ),
    )
    return (
        c.groupBy("chunk_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
),
tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
df AS (SELECT term, COUNT(DISTINCT source) AS df FROM tok GROUP BY term),
n AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS n FROM documents),
s AS (
  SELECT source, term, tf, df,
         CAST(tf AS DOUBLE) * (SELECT n FROM n) / df AS score
  FROM tf JOIN df USING (term)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY score DESC, term ASC) AS rnk
  FROM s
)
SELECT source, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 6) AS score, CAST(rnk AS INTEGER) AS rnk
FROM r WHERE rnk <= 5
""",
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per source by tf·idf, with the LINEAR
    idf variant (tf·N/df instead of tf·ln(N/df)): the ranking is
    identical for fixed tf whenever df ranks the same, and the score
    is a single division of exact integers — bit-identical across
    engines, where ln() could differ in the last ulp and flip a
    near-tie (the cross-engine float policy, NOTES.md). Shape: tf and
    df are both map-side-combined aggregates over the exploded token
    stream; the scalar N broadcasts; the rank window runs over
    |sources|·|vocab| aggregate rows, never the corpus."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("source").alias("df"))
    n = docs.agg(F.countDistinct("source").cast("double").alias("n"))
    s = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            "tf",
            "df",
            (F.col("tf").cast("double") * F.col("n") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select(
            "source",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 6).alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "pipeline_pretraining_corpus",
    oracle=f"""
WITH keepers AS (
  SELECT doc_id, text,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         {_FP} AS fp
  FROM documents
  WHERE doc_id >= 10
    AND ({_LANG_CASE}) <> 'unk'
    AND len({_TOKS}) >= 20
    AND CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) >= 0.3
    AND CAST(n_chars AS DOUBLE) / len({_TOKS}) <= 12
),
dedup AS (
  SELECT k.* FROM keepers k
  JOIN (SELECT fp, MIN(doc_id) AS keep_id FROM keepers GROUP BY fp) m
    ON k.fp = m.fp AND k.doc_id = m.keep_id
),
ev AS (
  SELECT DISTINCT unnest({_SHINGLES5}) AS g
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id < 10)
),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({_SHINGLES5}) AS g
        FROM (SELECT doc_id, {_TOKS} AS toks FROM dedup)) c
  JOIN ev USING (g)
)
SELECT d.doc_id,
       CASE WHEN CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT) % 100 < 90
            THEN 'train' ELSE 'val' END AS split,
       d.n_tokens
FROM dedup d
WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
)
def q_pipeline_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining data pipeline COMPOSED, end to end:
    quality gate (language / length / diversity / chars-per-token) →
    exact dedup (lowest doc_id per fingerprint wins) → benchmark
    decontamination (drop docs sharing any 5-gram with the eval set,
    doc_id < 10) → deterministic content-hash 90/10 train/val split.
    Output: one manifest row per surviving doc (doc_id, split,
    n_tokens) — what a loader actually consumes.

    Every stage keeps its individual operator's scale shape when
    composed: quality predicate + fingerprint + token count evaluate
    in the scan stage; dedup is a key-only shuffle on fp (map-side
    min) + a (fp, id) join-back; the eval shingle set broadcasts;
    contamination ids are a scan-stage explode → broadcast equi-join
    → distinct on ids only; the final anti join carries ids; the
    split is a pure projection. The document TEXT itself never
    shuffles and never broadcasts at any stage — every exchange
    carries fingerprints/ids — which is the property that holds at
    100 TB. Measured sf0.1: ~1.6 s, 0 Python nodes, 0 cartesians."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens("text")
    n = F.size(toks)
    keep = (
        (F.col("doc_id") >= 10)
        & (lang_id("text") != "unk")
        & (n >= 20)
        & (F.size(F.array_distinct(toks)).cast("double") / n >= 0.3)
        & (F.col("n_chars").cast("double") / n <= 12.0)
    )
    keepers = docs.where(keep).select(
        "doc_id",
        "text",
        fingerprint("text").alias("fp"),
        n.cast("bigint").alias("n_tokens"),
    )
    winners = keepers.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = keepers.join(winners, ["fp", "doc_id"])
    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 10)
        .select(F.explode(word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    contaminated = (
        deduped.select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
        .join(F.broadcast(ev), "g")
        .select("doc_id")
        .distinct()
    )
    h = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return (
        deduped.join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.when(h % 100 < 90, "train").otherwise("val").alias("split"),
            "n_tokens",
        )
    )


@query(
    "sample_shuffle_order",
    oracle="""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY md5(text || CAST(doc_id AS VARCHAR)))
            AS BIGINT) AS shuffle_rank
FROM documents
""",
)
def q_sample_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle — the training-order manifest a
    pretraining loader consumes: each doc's rank in a pseudo-random
    permutation keyed by a content+id hash, so the order is stable
    across runs, engines, and repartitions (the property
    random.shuffle lacks), and re-shuffling for a new epoch is just a
    different salt. Scale shape: the hash is a scan-stage projection
    and the rank comes from the range-partitioned two-pass assigner
    (operators/ids.assign_dense_ids_ranged) — identical output to
    row_number() OVER (ORDER BY key), hash-checked by the oracle, with
    no single-partition sort."""
    from vfs_spark.operators.ids import assign_dense_ids_ranged

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat("text", F.col("doc_id").cast("string"))).alias("_k"),
    )
    out = assign_dense_ids_ranged(keyed, order_col="_k", id_name="shuffle_rank")
    return out.select("doc_id", "shuffle_rank")


@query("decontaminate_bloom", oracle=_DECONTAM_ORACLE)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination — IDENTICAL output to
    decontaminate_against_eval (same oracle), different 100 TB cost
    model: the exact form ships every corpus 5-gram into the broadcast
    hash-join probe; here a Bloom filter over the eval shingles
    discards the overwhelmingly-common non-matching grams INSIDE the
    scan stage, so the join probe only sees the contaminated tail.
    Bloom has false positives only — the exact broadcast join
    afterwards removes them, so equality to the exact form is
    structural, not statistical (asserted in tests/test_text.py).

    Spark 4 does not expose `bloom_filter_agg` as a callable function
    (it is optimizer-internal, used by runtime join pruning — see
    tests/test_plans.py), so the filter is built from first
    principles and stays scale-true end to end:

    - BUILD (distributed): each eval gram sets 3 bits at
      pmod(xxhash64(g, seed), 65536); per-word masks are OR-combined
      with a map-side-combinable `bit_or` aggregate into ≤1024
      (word_idx, word) rows. The driver collect is BOUNDED by the
      filter size (8 KB), never by |eval|.
    - PROBE (pure codegen): the 1024-long array rides a 1-row
      broadcast; membership is element_at + shiftleft + bitwise AND
      per seed — no Python, no UDF, whole-stage codegen."""
    _NBITS, _NWORDS, _SEEDS = 65536, 1024, (1, 2, 3)

    def _pos(seed: int) -> str:
        return f"cast(pmod(xxhash64(g, {seed}L), {_NBITS}) as int)"

    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 10)
        .select(F.explode(word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    word_rows = (
        ev.select(
            F.explode(
                F.array(*[F.expr(_pos(s)) for s in _SEEDS])
            ).alias("p")
        )
        .select(
            F.expr("p div 64").alias("w"),
            F.expr("shiftleft(1L, p % 64)").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("word"))
        .collect()
    )
    words = [0] * _NWORDS
    for r in word_rows:
        words[r["w"]] = r["word"]
    bloom_df = spark.createDataFrame([(words,)], "_bloom array<long>")

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    cor = docs.where(F.col("doc_id") >= 10).select(
        "doc_id", F.explode(word_shingles("text", 5)).alias("g")
    )
    hit = None
    for s in _SEEDS:
        p = _pos(s)
        test = F.expr(
            f"(element_at(_bloom, cast(({p}) div 64 + 1 as int))"
            f" & shiftleft(1L, ({p}) % 64)) != 0"
        )
        hit = test if hit is None else (hit & test)
    pre = cor.crossJoin(F.broadcast(bloom_df)).where(hit).drop("_bloom")
    return (
        pre.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


_SOURCE_CAP_ORACLE = """
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= 8
"""


def _source_cap_hash():
    """Engine-neutral multiplicative hash (Knuth 2654435761), exact in
    int64 on Spark and DuckDB — same expression text in the oracle."""
    return (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)


def source_cap_twopass(
    docs: DataFrame, cap: int = 8, hot_threshold: int = 32, margin: int = 4
) -> DataFrame:
    """Skew-safe per-source quota: the two-pass form whose output is
    EXACTLY the single-pass window's (asserted in tests/test_text.py,
    incl. a synthetic hot-source case).

    MEASURED VERDICT (SCALE.md, round 5): on Spark this twin is NOT
    needed for skew safety — Catalyst plans `rank <= k` windows with
    a PARTIAL WindowGroupLimit below the exchange (plan-asserted in
    tests/test_plans.py), so every map partition ships at most `cap`
    rows per source and the hot reducer receives ≤ cap·num_maps rows
    no matter how hot the domain. The plain window beat this form at
    every probed size (0.7 s vs 4.8 s at 5M docs, 4.4 s vs 19 s at
    50M, one source holding 50%). Kept as the portable statement of
    the PRE-TRUNCATION pattern — the shape needed when the per-group
    computation has no group-limit pushdown (full-group aggregates,
    percentile ranks) or on engines without the rewrite.

    Pass 1 computes per-source counts (map-side-combined, |sources|
    rows, broadcast back). Hot sources (count > hot_threshold) are
    PRE-TRUNCATED in the scan stage with a hash threshold derived
    from uniformity: the cap-th smallest of `count` uniform draws in
    [0, 2^32) sits near cap/count·2^32, so keeping
    h < margin·cap/count·2^32 leaves ~margin·cap survivors per hot
    source before any sort.

    Exactness does NOT ride on the uniformity estimate: pass 1.5
    counts survivors, and any source left with fewer than
    min(cap, count) rows (pathologically clustered hashes) falls
    back to unfiltered ranking for that source alone. Given
    ≥ cap survivors under a pure h-threshold, the cap smallest
    (h, doc_id) of the whole source all survive (boundary h-ties are
    kept wholesale), so the final rank ≤ cap set is identical."""
    from pyspark.sql.window import Window

    h = _source_cap_hash()
    counts = docs.groupBy("source").agg(F.count("*").alias("_n"))
    # exact int64 arithmetic: margin·cap·2^32 div count
    thresh = F.expr(f"least({1 << 32}L, {margin * cap * (1 << 32)}L div _n)")
    stats = counts.select("source", F.col("_n"), thresh.alias("_t"))
    pre = (
        docs.join(F.broadcast(stats), "source")
        .where((F.col("_n") <= hot_threshold) | (h < F.col("_t")))
    )
    surv = pre.groupBy("source").agg(F.count("*").alias("_s"))
    # LEFT join from stats: a source whose prefilter kept ZERO rows
    # has no surv group at all — it must still reach the fallback
    bad = (
        stats.join(surv, "source", "left")
        .where(
            F.coalesce(F.col("_s"), F.lit(0))
            < F.least(F.lit(cap), F.col("_n"))
        )
        .select("source")
    )
    kept = pre.join(F.broadcast(bad), "source", "left_anti").select(
        "doc_id", "source"
    )
    fallback = docs.join(F.broadcast(bad), "source", "left_semi").select(
        "doc_id", "source"
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        kept.unionByName(fallback)
        .select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= cap)
    )


@query("sample_source_cap_twopass", oracle=_SOURCE_CAP_ORACLE)
def q_sample_source_cap_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe scale twin of sample_source_cap (same oracle —
    the outputs are provably identical; see source_cap_twopass).
    Registered separately so both plans stay driver-checked: the
    window form is the readable contract, this is the one a
    billion-doc hot domain runs."""
    return source_cap_twopass(
        load_table(spark, sf_dir, "documents"), cap=8, hot_threshold=32
    )


@query("sample_source_cap", oracle=_SOURCE_CAP_ORACLE)
def q_sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap — the domain-balancing pass of a web-scale
    corpus (no single domain may dominate the mixture): keep at most
    8 docs per source, chosen by a DETERMINISTIC engine-neutral hash
    (Knuth multiplicative, exact in int64 on both engines) so the
    sample is reproducible and order-independent, with doc_id as the
    tiebreaker (SURVEY Q8).

    Shape: one shuffle by source + per-key window — and this IS the
    skew-safe plan: Catalyst inserts a PARTIAL WindowGroupLimit
    below the exchange (plan-asserted in tests/test_plans.py), so
    each map partition ships at most `cap` rows per source; a
    billion-doc hot domain reaches its reducer as ≤ cap·num_maps
    rows. Measured faster than the two-pass pre-truncation twin at
    every probed size (SCALE.md)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = _source_cap_hash()
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).cast("bigint").alias("rk")
        )
        .where(F.col("rk") <= 8)
    )


@query(
    "corpus_mixture_stats",
    oracle=f"""
WITH g AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens * 1000000 // (SELECT SUM(n_tokens) FROM g) AS BIGINT)
         AS share_e6
FROM g
""",
)
def q_corpus_mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture table a pretraining run is provisioned from: docs
    and tokens per (source, lang) plus each cell's ppm share of the
    total token budget. Share is exact INTEGER arithmetic
    (tokens·1e6 div total) — no float division to drift across
    engines. Shape: one map-side-combined groupBy over a projection;
    the grand total is a 1-row broadcast joined back to |groups|
    rows (never to the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    grp = docs.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
    )
    total = grp.agg(F.sum("n_tokens").alias("_total"))
    return grp.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000000 div _total").cast("bigint").alias("share_e6"),
    )


@query("dedup_embedding_banded")  # rows-only: LSH candidate set is hash-family-specific
def q_dedup_embedding_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup over the WHOLE corpus (no blocking key):
    random-projection LSH self-join candidates → exact-cosine verify,
    emitted pairs all genuinely ≥ the threshold. The scale twin the
    label-blocked q_dedup_embedding_cosine docstring promises: banding
    replaces the |block|² pairwise join with a bucket equi-join, the
    same candidates→verify contract as MinHash text dedup. Rows-only:
    banding can MISS pairs (hash-family-specific recall, gated in
    tests/test_dedup.py); every emitted pair is exact-verified."""
    from vfs_spark.operators.dedup import embedding_banded_pairs

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    # Fixture embeddings are near-isotropic (max pairwise cos ≈ 0.51),
    # so the slug's threshold sits where "near"-dups actually live
    # there — an ADVERSARIAL operating point for any LSH: radius
    # sqrt(2−2·0.35)=1.14 vs bulk inter-point distance ≈ 1.41 leaves
    # almost no contrast, and BRP's OR-of-single-projections candidate
    # set approaches all pairs (measured: identical output and ~flat
    # runtime across bucket_length 0.5–2.0 × 8–12 tables; SCALE.md).
    # The operator now GUARDS that regime: a bucket-histogram estimate
    # detects the degradation and falls back to AND-banded SimHash
    # (fallback params = the simhash slug's fixture geometry, r=4 —
    # the only r with recall at θ≈69°), so this slug never executes a
    # candidate volume that degrades toward n². On a real near-dup
    # corpus (cos ≥ 0.8 ⇒ radius ≤ 0.63) the BRP plan is selective
    # and runs as-is — that regime is what the defaults target.
    return embedding_banded_pairs(
        emb,
        cos_threshold=0.35,
        num_hash_tables=8,
        bucket_length=0.75,
        fallback_n_bands=24,
        fallback_band_bits=4,
    )


@query("dedup_embedding_simhash")  # rows-only: candidate set is hash-family-specific
def q_dedup_embedding_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus semantic near-dup via random-hyperplane SimHash
    BANDING (r sign bits per band × b OR-bands) → exact-cosine
    verify — the true scale path. Unlike the MLlib BRP form
    (dedup_embedding_banded), banding is AND-composed, so random-pair
    collisions fall as (1−θ/π)^r per band while b bands hold recall:
    measured on planted near-dups (cos ≈ 0.95, 1% of corpus) —
    200 k vectors in 57 s with recall 0.999 / precision 1.0, where
    the BRP self-join needs 176 s at 10 k and does not finish 20 k
    in 9 min (SCALE.md). band_bits must scale with log2(N) to keep
    candidates ~linear; defaults here are FIXTURE-geometry params
    (threshold 0.35 sits at θ≈69°, so only r=4 keeps any recall —
    see the selectivity-needs-geometry note on the banded twin).

    OR-crossover audit (r11 verdict #3): the OR is across the 24
    bands, but each band KEY is already an AND of r=4 sign bits, so
    random-pair candidates grow as 24·N²/2^r — at r=4 that crosses
    candidates-per-row·N around N ≈ 2^r·candidates_per_row ≈ a few
    hundred rows, i.e. exactly fixture scale and no further. The
    registered point is therefore honest ONLY at the fixture; the
    scale default is band_bits="auto" (operators/dedup.py), which
    re-derives r = log2(24·N/candidates_per_row) per corpus so the
    candidate volume stays ~linear, at the cost of needing more
    bands for the same recall when θ is this close to random (the
    0.616-vs-0.5 per-bit gap at θ≈69° — recall per band is 0.616^r,
    so n_bands must grow as 0.616^-r; that trade is the corpus
    owner's threshold decision, not a constant the engine can pick)."""
    from vfs_spark.operators.dedup import embedding_simhash_pairs

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    return embedding_simhash_pairs(
        emb, cos_threshold=0.35, n_bands=24, band_bits=4
    )


@query("dedup_clusters_semantic")  # rows-only: banded candidate edges are hash-family-specific
def q_dedup_clusters_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate CLUSTERS over embeddings: SimHash-banded
    near-dup edges (dedup_embedding_simhash's candidates, exact-cosine
    verified) fed to the same iterative connected_components the text
    cluster ops use — every vector labeled with its cluster's min
    vec_id, singletons label themselves. The embeddings analogue of
    dedup_clusters_banded: pick-one-per-cluster is then a groupBy
    min, the canonical dedup decision over SEMANTIC duplicates
    (paraphrases, re-encodes) rather than token overlap.

    100 TB shape: edges are the banding op's output (candidates only,
    vectors never shuffle); label propagation runs ONLY over the
    edge-touched subgraph — a node with no near-dup edge is a
    singleton by definition and labels itself without entering the
    iteration, so the per-round joins scale with |dup pairs|, not
    |corpus| (near-dups are a sparse minority at scale); components
    converge in O(diameter) rounds — shallow stars, 2-3 rounds."""
    from vfs_spark.operators.dedup import (
        connected_components,
        embedding_simhash_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    edges = embedding_simhash_pairs(
        emb, cos_threshold=0.35, n_bands=24, band_bits=4
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    edges = edges.localCheckpoint(eager=True)  # banding runs once
    touched = (
        edges.select(F.col("src").alias("vec_id"))
        .union(edges.select(F.col("dst").alias("vec_id")))
        .distinct()
    )
    cc = connected_components(touched, edges, id_col="vec_id")
    singles = emb.select("vec_id").join(
        F.broadcast(touched), "vec_id", "left_anti"
    ).select("vec_id", F.col("vec_id").alias("cluster_id"))
    return (
        cc.select("vec_id", F.col("cluster_id").cast("bigint"))
        .unionByName(singles.select("vec_id", F.col("cluster_id").cast("bigint")))
    )


_WIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
w AS (
  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS k
  FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS g(i)
  WHERE len(toks) >= 8
),
s AS (
  SELECT k, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY k
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       CAST((1000000 * SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS dup_frac_e6
FROM w JOIN s USING (k)
GROUP BY doc_id
"""


@query("dedup_window_exact", oracle=_WIN_ORACLE)
def q_dedup_window_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Exact duplicated-SUBSTRING detection (the ExactSubstr strategy
    of Lee et al. 2022, arXiv:2107.06499, window-hash approximation):
    every 8-token window of every doc, flagged when the identical
    window occurs in ≥2 distinct docs; per-doc output is the
    position-level duplicated-window count and fraction (integer
    micro-units) — the signal pipelines use to strip boilerplate spans
    or drop mostly-copied docs that document-level MinHash misses
    (partial overlap below the doc-level jaccard threshold).

    100 TB shape: windows explode in the scan stage (text never
    shuffles — only window keys do); duplicate detection is one
    map-side-combined two-level aggregate (key,doc)→key; the per-doc
    rollup joins window rows to key stats on the SAME key the
    aggregate just shuffled on. At scale, group on xxhash64(window)
    instead of the window string to cut the shuffle key to 8 bytes
    (collisions only overcount dup windows at ~2⁻⁶⁴); the string key
    is kept here for engine-neutral oracle parity. The window width
    trades recall for key volume exactly like shingle width in
    MinHash; 8 is this fixture's analogue of the paper's 50-token
    spans (docs here average ~30 tokens)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # short-doc guard lives INSIDE the expression (CASE, not a filter):
    # sequence(1, size-7) with size<8 would descend (step defaults to
    # -1 when start > stop) and feed slice() garbage — and the
    # optimizer may evaluate the projection before any filter.
    wins = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 8 "
                "THEN transform(sequence(1, size(toks) - 7), "
                "i -> array_join(slice(toks, i, 8), ' ')) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("k"),
    )
    # three aggregations over the window stream, each the cheap shape
    # for its key: the per-doc counts are map-side-combined doc_id
    # rollups (window strings never shuffle for them), and the one
    # string-keyed shuffle (distinct-doc counts per key) immediately
    # reduces to the sparse DUPLICATED key set, which AQE broadcasts
    # into the position join — the full window stream never
    # shuffle-joins against all keys (measured 15 s → ~3 s at 200k
    # docs vs the all-keys stats join; re-deriving `wins` per branch
    # beats checkpointing 4.6M string-keyed rows). The strip op below
    # exploits the same dup-key sparsity.
    dup_keys = (
        wins.groupBy("k")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("k")
    )
    dups = (
        wins.join(dup_keys, "k")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_d"))
    )
    agg = (
        wins.groupBy("doc_id")
        .agg(F.count("*").alias("_n"))
        .join(dups, "doc_id", "left")
    )
    return agg.select(
        "doc_id",
        F.col("_n").cast("bigint").alias("n_windows"),
        F.coalesce("_d", F.lit(0)).cast("bigint").alias("n_dup_windows"),
        F.expr("(1000000 * coalesce(_d, 0)) div _n")
        .cast("bigint")
        .alias("dup_frac_e6"),
    )


_PPL_BUCKET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
doc_bg AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
                         for i in range(1, len(toks))]) AS bg
  FROM t WHERE len(toks) >= 2
),
counts AS (
  SELECT bg, COUNT(*) AS c12 FROM doc_bg GROUP BY bg
),
heads AS (
  SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1
  FROM counts GROUP BY 1
),
lp AS (
  SELECT d.doc_id,
         ROUND(AVG(LN(CAST(c.c12 AS DOUBLE) / h.c1)), 6) AS avg_logprob
  FROM doc_bg d
  JOIN counts c USING (bg)
  JOIN heads h ON h.w1 = split_part(d.bg, ' ', 1)
  GROUP BY d.doc_id
),
r AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS rk,
         COUNT(*) OVER () AS n
  FROM lp
)
SELECT doc_id,
       CAST(rk AS BIGINT) AS rk,
       CASE (3 * (rk - 1)) // n
         WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM r
"""


@query("text_perplexity_buckets", oracle=_PPL_BUCKET_ORACLE)
def q_text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ CCNet-style head/middle/tail bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): rank every doc by its corpus-trained bigram-LM
    fluency (text_bigram_logprob) and cut the ranking into terciles —
    the standard language-model-filtering scheme where 'head' is the
    most fluent third kept for pretraining, 'tail' the least. Docs
    with <2 tokens are unscored and unbucketed, as in the LM slug.

    Scale shape: the scoring stage is the bigram slug's (model counts
    shuffle, text doesn't). The global rank does NOT use a
    single-partition window: assign_dense_ids_ranged range-partitions
    on the composite (−score_e6, doc_id) key so partition order IS
    rank order and the row_number stays partition-local (two-pass,
    asserted equal to the global window in tests/test_ids.py). The
    tercile edge is pure arithmetic on (rank, N) — NTILE semantics
    without NTILE's single-partition plan. Ranking on the e6 integer
    of the ROUNDED score keeps the order identical across engines
    (raw-double ties are ambiguous at the last ulp; rounded ties
    break on doc_id)."""
    from vfs_spark.operators.ids import assign_dense_ids_ranged

    lp = q_text_bigram_logprob(spark, sf_dir).select(
        "doc_id",
        (-F.round(F.col("avg_logprob") * 1e6)).cast("bigint").alias("_neg"),
    )
    ranked = assign_dense_ids_ranged(lp, ["_neg", "doc_id"], id_name="rk")
    tot = ranked.groupBy().agg(F.count("*").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("rk").cast("bigint"),
            F.expr(
                "CASE (3 * (rk - 1)) div _n "
                "WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"
            ).alias("bucket"),
        )
    )


@query("dedup_semdedup")  # rows-only: cross-cluster pairs are missed by design
def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ SemDeDup (Abbas et al. 2023): KMeans-cluster the embedding
    space, exact pairwise cosine WITHIN clusters only — the
    deterministic-candidate semantic dedup next to the two LSH forms
    (banded BRP / SimHash banding). Same output contract (every
    emitted pair is exactly verified ≥ threshold; precision 1.0 by
    construction); recall = P(near-dup pair lands in one cluster),
    measured against the all-pairs truth in tests/test_dedup.py.

    Registered at the paper's own k ~ N/target rule
    (n_clusters="auto", VERDICT r6 #5): a FIXED small k on a
    bulk-threshold operating point is adversarial by geometry
    (0.502/0.343/0.321 recall at k=4/8/16 on this fixture — bulk-edge
    pairs straddle cells, finer clustering is cheaper and blinder),
    while the auto rule keeps cells at ~target rows at every scale:
    fixture-sized corpora collapse to one exact cell (recall 1.0),
    LAION-scale corpora get the paper's k=50k–110k regime. See
    operators/dedup.semdedup_pairs for the 100 TB analysis
    (bounded-sample fit, (N/k)² per-cluster cost, megacluster
    diversion)."""
    from vfs_spark.operators.dedup import semdedup_pairs

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    return semdedup_pairs(emb, cos_threshold=0.35, n_clusters="auto")


_STRIP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
w AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS k
  FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS g(i)
  WHERE len(toks) >= 8
),
r AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
  FROM w
),
cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS i
  FROM r WHERE rn >= 2
),
tok AS (
  SELECT doc_id, i, toks[i] AS tk
  FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
),
kept AS (
  SELECT tok.doc_id, tok.i, tok.tk
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
  WHERE cov.i IS NULL
),
agg AS (
  SELECT doc_id,
         array_to_string(list(tk ORDER BY i), ' ') AS cleaned_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(agg.cleaned_text, '') AS cleaned_text,
       CAST(len(t.toks) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


@query("text_strip_dup_spans", oracle=_STRIP_ORACLE)
def q_text_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Exact-substring REMOVAL — the second half of the Lee et al.
    2022 ExactSubstr strategy (dedup_window_exact is the detection
    half): for every 8-token window occurring ≥2 times in the corpus,
    keep only the canonical first occurrence (minimum (doc_id, pos))
    and strip every token covered by a non-canonical occurrence,
    reassembling each doc's surviving tokens in order. Exact duplicate
    docs collapse to empty text (every window is non-canonical);
    partially-copied docs lose exactly the copied spans — the
    span-level dedup that document-level drop decisions can't express.

    100 TB shape: canonical selection is a map-side-combined
    min(struct(doc_id,pos)) AGGREGATE per window key — deliberately
    not a per-key row_number window, whose hot keys (ubiquitous
    boilerplate spans occurring millions of times) would each pin one
    reducer; with the agg, hot keys cost one combiner cell. Coverage
    explodes spans→positions (≤8 rows per removed span), the kept-
    token anti-join runs on (doc_id, position), and reassembly is a
    per-doc sort_array over surviving tokens — each stage shuffles
    ids+positions, never text beyond the final per-doc rebuild."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    t = docs.select("doc_id", tokens("text").alias("toks"))
    wins = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 8 "
                "THEN transform(sequence(1, size(toks) - 7), "
                "i -> struct(i AS pos, array_join(slice(toks, i, 8), ' ') AS k)) "
                "ELSE CAST(array() AS array<struct<pos:int,k:string>>) END"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.k").alias("k"))
    canon = wins.groupBy("k").agg(
        F.min(F.struct("doc_id", "pos")).alias("c0"),
        F.count("*").alias("c"),
    )
    spans = (
        wins.join(canon.where(F.col("c") >= 2), "k")
        .where(
            ~(
                (F.col("doc_id") == F.col("c0.doc_id"))
                & (F.col("pos") == F.col("c0.pos"))
            )
        )
    )
    cov = spans.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("i")
    ).distinct()
    tok = t.select(
        "doc_id", F.posexplode("toks").alias("i0", "tk")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tk")
    kept = tok.join(cov, ["doc_id", "i"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(i, tk))), "
            "x -> x.tk), ' ')"
        ).alias("cleaned_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        t.select("doc_id", F.size("toks").alias("n_toks"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            (F.col("n_toks") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


_QREPORT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, text, len({_TOKS}) AS n_tokens FROM documents
),
d AS (
  SELECT source, doc_id, COUNT(*) AS c FROM t GROUP BY source, doc_id
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blank,
       CAST((SELECT COALESCE(SUM(c - 1), 0) FROM d
             WHERE d.source = t.source AND d.c > 1) AS BIGINT) AS n_dup_ids,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       quantile_cont(n_tokens, 0.5) AS median_tokens
FROM t
GROUP BY t.source
"""


@query("corpus_quality_report", oracle=_QREPORT_ORACLE)
def q_corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Corpus integrity report — the validation pass every ingest
    runs before anything downstream trusts the data: per source,
    document counts, blank/null text, duplicate-id occurrences, and
    the token-length distribution (total/min/max/median). Catches
    the classic corruption modes (double-loaded shards → dup ids,
    extraction failures → blank text, truncation → collapsed token
    lengths) as one cheap aggregate.

    Shape: token counting happens in the scan stage; everything else
    is two map-side-combined aggregates ((source, doc_id) for dup
    detection, source for the rollup). The exact median is the one
    non-mergeable aggregate — fine per-source (group cardinality =
    |sources|); at 100 TB swap it for percentile_approx and keep the
    rest exact. Median interpolates midpoints of INTEGER token
    counts, so the value is exact in double on both engines (NOTES
    float-rounding rule: no ambiguous decimal boundary)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    t = docs.select(
        "doc_id",
        "source",
        "text",
        token_count("text").alias("n_tokens"),
    )
    dups = (
        t.groupBy("source", "doc_id")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).alias("n_dup_ids"))
    )
    base = t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(
                F.col("text").isNull() | (F.trim("text") == ""), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_blank"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.expr("percentile(n_tokens, 0.5)").alias("median_tokens"),
    )
    return (
        base.join(dups, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_blank",
            F.coalesce("n_dup_ids", F.lit(0)).cast("bigint").alias("n_dup_ids"),
            "total_tokens",
            "min_tokens",
            "max_tokens",
            "median_tokens",
        )
    )


@query("bpe_train_merges")  # rows-only: iterative argmax chain is outside SQL oracles
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ BPE vocabulary TRAINING on the corpus (operators/bpe.py):
    learn the first 30 merge rules from character level, emitted as
    (rank, left, right, pair_count). Deterministic (ties break on
    count DESC, left, right) and pinned against a pure-Python
    reference implementation in tests/test_bpe.py — the correctness
    gate SQL oracles can't express (each round's input depends on the
    previous argmax). The 100 TB story is in the module docstring:
    training runs on the word-TYPE table, so the corpus is touched
    exactly once."""
    from vfs_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    merges = bpe_train(docs, n_merges=30)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    )


_SHARD_ORACLE = """
WITH r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rid FROM documents
)
SELECT CAST((rid - 1) // 200 AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(rid) AS BIGINT) AS first_rid,
       CAST(MAX(rid) AS BIGINT) AS last_rid
FROM r GROUP BY 1
"""


@query("export_training_shards", oracle=_SHARD_ORACLE)
def q_export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Training-shard EXPORT (sources/parquet.write_training_shards):
    cut the corpus into deterministic 200-doc shards in doc_id order,
    write one parquet file per shard plus a _MANIFEST.json with
    per-shard counts and order-insensitive checksums, then read the
    store back WITH verification — the loader contract of a
    webdataset/Megatron-style data pipeline, exercised end to end.
    The oracle checks the manifest (shard boundaries, counts, rank
    ranges); the checksum column is Spark-hash-specific and verified
    structurally by the read-back (a tampered manifest raises —
    tests/test_storage.py)."""
    import shutil
    import tempfile

    from vfs_spark.sources.parquet import (
        read_training_shards,
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = tempfile.mkdtemp(prefix="vfs_shards_")
    try:
        write_training_shards(docs, out, order_col="doc_id", rows_per_shard=200)
        back = read_training_shards(spark, out, verify=True)
        # materialize the aggregate-sized summary DISTRIBUTED (eager
        # localCheckpoint) before deleting the scratch store — no
        # driver collect, and no leaked corpus copy per run
        return (
            back.groupBy("shard_id")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.min("_rid").cast("bigint").alias("first_rid"),
                F.max("_rid").cast("bigint").alias("last_rid"),
            )
            .select(
                F.col("shard_id").cast("int").alias("shard_id"),
                "n_rows",
                "first_rid",
                "last_rid",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


_TRIGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
),
tg AS (
  SELECT doc_id, unnest([struct_pack(w1 := toks[i], w2 := toks[i+1], w3 := toks[i+2])
                         for i in range(1, len(toks) - 1)]) AS g
  FROM t WHERE len(toks) >= 3
),
d AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM tg),
uni AS (
  SELECT w, COUNT(*) AS c1 FROM (
    SELECT unnest({_TOKS}) AS w FROM documents
  ) GROUP BY w
),
n_tot AS (SELECT SUM(c1) AS n FROM uni),
bg AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM (
    SELECT doc_id, unnest([struct_pack(w1 := toks[i], w2 := toks[i+1])
                           for i in range(1, len(toks))]) AS g
    FROM t WHERE len(toks) >= 2
  ) x, LATERAL (SELECT x.g.w1 AS w1, x.g.w2 AS w2) y
  GROUP BY y.w1, y.w2
),
tgc AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM d GROUP BY w1, w2, w3
)
SELECT d.doc_id,
       ROUND(AVG(LN(
         0.6 * (CAST(tgc.c3 AS DOUBLE) / b12.c2)
         + 0.3 * (CAST(b23.c2 AS DOUBLE) / u2.c1)
         + 0.1 * (CAST(u3.c1 AS DOUBLE) / n_tot.n)
       )), 6) AS avg_logprob,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams
FROM d
JOIN tgc ON d.w1 = tgc.w1 AND d.w2 = tgc.w2 AND d.w3 = tgc.w3
JOIN bg b12 ON d.w1 = b12.w1 AND d.w2 = b12.w2
JOIN bg b23 ON d.w2 = b23.w1 AND d.w3 = b23.w2
JOIN uni u2 ON d.w2 = u2.w
JOIN uni u3 ON d.w3 = u3.w
CROSS JOIN n_tot
GROUP BY d.doc_id
"""


@query("text_trigram_logprob", oracle=_TRIGRAM_ORACLE)
def q_text_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Interpolated trigram LM scoring — the next LM order above
    text_bigram_logprob, with the standard fixed-weight interpolation
    (0.6·P(w3|w1w2) + 0.3·P(w3|w2) + 0.1·P(w3)) so unseen-context
    backoff is built into the score rather than crashing on zero
    counts (every component IS observed here since the model trains
    on the scored corpus, but the interpolation is what makes the
    score transfer to held-out text). Per-doc average log-prob —
    the CCNet-style ranking signal at one order deeper.

    Shape: identical to the bigram slug one order up — n-gram counts
    are map-side-combined aggregates shuffling (gram, count) rows;
    scoring joins the doc trigram stream to five count tables on
    their gram keys; text never shuffles. At 100 TB: same trade as
    the bigram slug (co-partition on gram keys or cap to top-V with
    <unk> backoff and broadcast). Single-division doubles, LN, AVG,
    ROUND(6) — the float discipline the bigram oracle already proved
    cross-engine-stable at all three fixture scales."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # persisted (r16): the count tables and the scored stream rebuilt
    # the scan + tokenize SIX times (u2/u3, b12/b23, tgc, d were each
    # a fresh parquet subtree in the plan); pinning the token table
    # and the two shared count aggregates makes it one tokenize pass
    # and one aggregate per n-gram order.
    t = docs.select("doc_id", tokens("text").alias("toks")).persist()
    d = (
        t.where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2), i -> struct("
                    "element_at(toks, i) AS w1, "
                    "element_at(toks, i + 1) AS w2, "
                    "element_at(toks, i + 2) AS w3))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2", "g.w3")
    )
    uni = (
        t.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
        .persist()
    )
    n_tot = uni.groupBy().agg(F.sum("c1").alias("n"))
    bg = (
        t.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> struct("
                    "element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
        .persist()
    )
    tgc = d.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    b12 = bg.select(
        F.col("w1").alias("b12_w1"), F.col("w2").alias("b12_w2"),
        F.col("c2").alias("c12"),
    )
    b23 = bg.select(
        F.col("w1").alias("b23_w1"), F.col("w2").alias("b23_w2"),
        F.col("c2").alias("c23"),
    )
    u2 = uni.select(F.col("w").alias("u2_w"), F.col("c1").alias("c_w2"))
    u3 = uni.select(F.col("w").alias("u3_w"), F.col("c1").alias("c_w3"))
    scored = (
        d.join(tgc, ["w1", "w2", "w3"])
        .join(b12, (F.col("w1") == F.col("b12_w1")) & (F.col("w2") == F.col("b12_w2")))
        .join(b23, (F.col("w2") == F.col("b23_w1")) & (F.col("w3") == F.col("b23_w2")))
        .join(u2, F.col("w2") == F.col("u2_w"))
        .join(u3, F.col("w3") == F.col("u3_w"))
        .crossJoin(F.broadcast(n_tot))
    )
    p = (
        0.6 * (F.col("c3").cast("double") / F.col("c12"))
        + 0.3 * (F.col("c23").cast("double") / F.col("c_w2"))
        + 0.1 * (F.col("c_w3").cast("double") / F.col("n"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg(F.log(p)), 6).alias("avg_logprob"),
        F.count("*").cast("bigint").alias("n_trigrams"),
    )


@query("text_quality_classifier")  # rows-only: LR weights are solver floats
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Learned quality classifier, fasttext-style (the CCNet /
    GPT-3-era pipeline pattern): weak labels from the heuristic
    score's terciles (top third = good, bottom third = bad, middle
    left unlabeled), bag-of-words HashingTF features, MLlib logistic
    regression — then score EVERY doc with P(good). This is the
    standard bootstrap from a hand heuristic to a learned filter
    that generalizes beyond it; gated in tests/test_text.py by AUC
    vs the weak labels (not hash equality — solver floats are
    seed/partitioning-sensitive in the last ulps).

    100 TB shape: featurization is a scan-stage projection (hashing
    trick — no vocabulary shuffle at all); LR training is MLlib's
    treeAggregate over (numFeatures)-sized gradients — constant-size
    driver traffic per iteration; scoring is one projection. The
    label join rides the tercile boundaries computed as two scalars
    (exact percentile over the e6 integers, driver-side)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF
    from pyspark.ml.functions import vector_to_array

    from vfs_spark.functions.text import quality_score_e6

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # persisted (r16): base feeds the tercile percentile action, the
    # training filter and the full scoring pass — three evaluations of
    # the tokenize + quality projection without the pin.
    base = docs.select(
        "doc_id",
        tokens("text").alias("toks"),
        quality_score_e6("text", "n_chars").alias("q"),
    ).persist()
    lo, hi = base.select(
        F.expr("percentile(q, 1.0/3)"), F.expr("percentile(q, 2.0/3)")
    ).first()
    if not (lo < hi):
        # Degenerate score distribution (terciles collapse): the weak
        # labels would be single-class and LR.fit would fail at runtime.
        # Fall back to strict min/max labeling; if even that collapses
        # (constant scores), fail with a clear error instead of a solver
        # traceback.
        mn, mx = base.select(F.min("q"), F.max("q")).first()
        if not (mn < mx):
            raise ValueError(
                "text_quality_classifier: quality-score distribution is "
                "constant — cannot derive two-class weak labels"
            )
        lo, hi = mn, mx
    labeled = base.withColumn(
        "label",
        F.when(F.col("q") >= hi, F.lit(1.0))
        .when(F.col("q") <= lo, F.lit(0.0)),
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 12)
    feats = tf.transform(labeled)
    train = feats.where(F.col("label").isNotNull())
    lr = LogisticRegression(
        maxIter=50, regParam=0.01, featuresCol="features", labelCol="label"
    )
    model = lr.fit(train)
    scored = model.transform(feats)
    return scored.select(
        "doc_id",
        F.round(vector_to_array("probability")[1], 4).alias("p_good"),
        F.col("prediction").cast("int").alias("pred"),
    )


@query("pipeline_semantic_corpus")  # rows-only: banded candidate edges are hash-family-specific
def q_pipeline_semantic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ The embedding-side pipeline composed end-to-end, the vector
    analogue of pipeline_pretraining_corpus: SimHash-banded semantic
    near-dup edges → exact-cosine verify → connected components →
    a KEEP/DROP manifest (keep = each cluster's min vec_id, the same
    canonical rule every dedup family here uses), emitted for the
    WHOLE collection — singletons keep themselves. Downstream, the
    kept set is what feeds PQ/IVF index builds and training-shard
    export, so this manifest is the handoff between semantic dedup
    and everything after it.

    100 TB shape: inherits dedup_clusters_semantic's bounds (banding
    candidates only, label propagation over the edge-touched subgraph,
    vectors never shuffle) plus one broadcast join of the cluster
    labels back onto the id column. Gated in tests/test_text.py:
    exactly one keeper per cluster, keep ∪ drop = collection."""
    from vfs_spark.operators.dedup import (
        connected_components,
        embedding_simhash_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    edges = embedding_simhash_pairs(
        emb, cos_threshold=0.35, n_bands=24, band_bits=4
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    edges = edges.localCheckpoint(eager=True)  # banding runs once
    touched = (
        edges.select(F.col("src").alias("vec_id"))
        .union(edges.select(F.col("dst").alias("vec_id")))
        .distinct()
    )
    cc = connected_components(touched, edges, id_col="vec_id")
    labels = emb.select("vec_id").join(
        F.broadcast(cc), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("cluster_id", F.col("vec_id")).cast("bigint").alias("cluster_id"),
    )
    return labels.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.col("cluster_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# URL / domain-level curation (VERDICT r7 #8). The fixture's documents
# table has no URL column, so each slug derives one DETERMINISTICALLY
# from (doc_id, source) — four surface variants per logical page
# (scheme/case/www/trailing-slash/query/fragment noise) so the
# normalizer has real work and both engines must agree on every rule.
# The normalizer itself (functions/text.py normalize_url) is the
# production op; the synthesis is fixture plumbing, identical in both
# engines below.
# ---------------------------------------------------------------------------

def _synth_url_col() -> Column:
    """Spark twin of _URL_SYNTH_SQL — keep the two in lockstep."""
    page = (F.col("doc_id") % 23).cast("string")
    m = (F.col("doc_id") % 4).cast("int")
    return (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/page/"), page,
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("HTTPS://WWW."), F.upper("source"),
                F.lit(".EXAMPLE.COM/page/"), page, F.lit("/"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("http://"), F.col("source"),
                F.lit(".example.com/page/"), page,
                F.lit("?utm_source=feed&ref=home"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://m."), F.col("source"),
                F.lit(".example.com/page/"), page, F.lit("#section-2"),
            )
        )
    )


_URL_SYNTH_SQL = """CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN 'https://' || source || '.example.com/page/' || CAST(doc_id % 23 AS VARCHAR)
  WHEN 1 THEN 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM/page/' || CAST(doc_id % 23 AS VARCHAR) || '/'
  WHEN 2 THEN 'http://' || source || '.example.com/page/' || CAST(doc_id % 23 AS VARCHAR) || '?utm_source=feed&ref=home'
  ELSE 'https://m.' || source || '.example.com/page/' || CAST(doc_id % 23 AS VARCHAR) || '#section-2'
END"""


def _url_norm_sql(u: str) -> str:
    """DuckDB twin of functions/text.py normalize_url — same rule
    chain in the same order."""
    s = f"lower({u})"
    for pat in ("^https?://", "^(www|m)\\.", "#.*$", "\\?.*$", "/+$"):
        s = f"regexp_replace({s}, '{pat}', '')"
    return s


@query(
    "dedup_url",
    oracle=f"""
WITH u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents)
SELECT {_url_norm_sql('url')} AS url_norm,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM u GROUP BY 1
""",
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonicalize each document's URL
    (scheme/case/www/mobile-host/query/fragment/trailing-slash
    stripped) and keep the lowest doc_id per canonical URL — the
    CCNet/RefinedWeb pre-pass that removes refetches of the same page
    BEFORE any content hashing, at string cost instead of token cost.
    Scale: the normalizer is a Catalyst regexp chain evaluated in the
    scan stage; one map-side-combined groupBy on the canonical string
    is the only shuffle — same shape as dedup_exact, so it holds at
    100 TB for the same reason. Reference parity: the reference has
    no URL surface (vfs is a vector store); this is ⊕ LLM-pipeline
    surface per SURVEY §2's extension contract."""
    from vfs_spark.functions.text import normalize_url

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", normalize_url(_synth_url_col()).alias("url_norm")
        )
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )


@query(
    "corpus_domain_stats",
    oracle=f"""
WITH u AS (
  SELECT doc_id, n_chars, {_FP} AS fp,
         {_url_norm_sql(_URL_SYNTH_SQL)} AS url_norm
  FROM documents
)
SELECT regexp_replace(url_norm, '/.*$', '') AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_docs,
       ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM u GROUP BY 1
""",
)
def q_corpus_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation stats: per registrable host, document
    volume, distinct canonical URLs, content-unique documents (by the
    dedup_exact fingerprint), the intra-domain duplication rate, and
    mean document length — the table a RefinedWeb-style pipeline
    thresholds to blocklist template-heavy or mirror domains before
    paying for near-dedup. Scale: fingerprint and canonical URL are
    computed in the scan stage; the aggregate shuffles one record per
    document keyed by domain, and the two COUNT(DISTINCT)s expand to
    at most two shuffles over (domain, value) pairs — no joins, no
    Python. Skewed megadomains are exactly the AQE skew-agg case the
    session config enables."""
    from vfs_spark.functions.text import normalize_url, url_domain

    docs = load_table(spark, sf_dir, "documents")
    u = docs.select(
        "n_chars",
        fingerprint("text").alias("fp"),
        normalize_url(_synth_url_col()).alias("url_norm"),
    )
    return (
        u.select(
            url_domain("url_norm").alias("domain"), "url_norm", "fp",
            "n_chars",
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("url_norm").cast("bigint").alias("n_urls"),
            F.countDistinct("fp").cast("bigint").alias("n_unique_docs"),
            F.round(
                1.0
                - F.countDistinct("fp").cast("double") / F.count("*"),
                6,
            ).alias("dup_rate"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias(
                "avg_chars"
            ),
        )
    )


@query(
    "text_chunk_provenance",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
       CAST(i * 48 AS INTEGER) AS token_start,
       CAST(len(t[i*48+1 : i*48+64]) AS INTEGER) AS n_tokens,
       array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk_text
FROM toks,
     UNNEST(generate_series(0, CAST((len(t) - 1) // 48 AS BIGINT))) AS g(i)
""",
)
def q_text_chunk_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-shaped chunking with provenance: the text_chunk_overlap
    grid (64-token chunks, 48-token stride) but emitting the chunk
    TEXT plus its exact token offset in the source document — what a
    retrieval index ingests when answers must cite back to the span
    they came from. token_start is 0-based; a consumer reconstructs
    the char span from the tokenization deterministically. Scale:
    pure projection + explode like text_chunk_overlap — no shuffle,
    though this one widens the output by the chunk text itself, so
    downstream ops should project chunk_text away before any
    exchange (the plan test pins the no-shuffle shape)."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text: tokens(NULL) is NULL, size -> -1, and the sequence()
    # grid would emit one bogus chunk row where the DuckDB twin emits
    # none (generate_series over NULL is empty) — drop NULLs up front
    t = docs.where(F.col("text").isNotNull()).select(
        "doc_id", tokens("text").alias("t")
    )
    c = t.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.expr("(size(t) - 1) div 48"))
        ).alias("i"),
    )
    chunk = F.expr("slice(t, i*48 + 1, 64)")
    return c.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_id"),
        (F.col("i") * 48).cast("int").alias("token_start"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def _gopher_metric_cols(toks):
    """The five Gopher-rule metric columns (n_tokens, mean_word_len,
    stop_frac, sym_frac, distinct_frac) — the ONE place the rule
    metrics live, shared by text_gopher_rules and the composed
    curation pipeline so the two can never drift (and wired to the
    same STOPWORDS list every other quality operator uses)."""
    from vfs_spark.functions.text import distinct_ratio, stopword_ratio

    n = F.size(toks)
    return [
        n.cast("bigint").alias("n_tokens"),
        (F.length(F.array_join(toks, "")).cast("double") / n).alias(
            "mean_word_len"
        ),
        stopword_ratio(toks).alias("stop_frac"),
        (
            F.size(F.filter(toks, lambda x: x.rlike("[^a-z0-9]"))).cast(
                "double"
            )
            / n
        ).alias("sym_frac"),
        distinct_ratio(toks).alias("distinct_frac"),
    ]


@query(
    "text_gopher_rules",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(array_to_string(t, '')) AS DOUBLE) / len(t)
           AS mean_word_len,
         CAST(len(list_filter(t, x -> x IN {_STOP})) AS DOUBLE) / len(t)
           AS stop_frac,
         CAST(len(list_filter(t, x -> regexp_matches(x, '[^a-z0-9]')))
              AS DOUBLE) / len(t) AS sym_frac,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_frac
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
)
SELECT doc_id,
       n_tokens,
       ROUND(mean_word_len, 6) AS mean_word_len,
       (n_tokens BETWEEN 10 AND 100000) AS rule_len,
       (mean_word_len BETWEEN 3.0 AND 10.0) AS rule_word_len,
       (stop_frac >= 0.02) AS rule_stopwords,
       (sym_frac <= 0.1) AS rule_symbols,
       (distinct_frac >= 0.3) AS rule_repetition,
       CAST(CAST(NOT (n_tokens BETWEEN 10 AND 100000) AS INTEGER)
            + CAST(NOT (mean_word_len BETWEEN 3.0 AND 10.0) AS INTEGER)
            + CAST(NOT (stop_frac >= 0.02) AS INTEGER)
            + CAST(NOT (sym_frac <= 0.1) AS INTEGER)
            + CAST(NOT (distinct_frac >= 0.3) AS INTEGER) AS INTEGER)
         AS n_failed
FROM m
""",
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality rules (Rae et al. 2021,
    arXiv:2112.11446 §A1.1, adapted to this corpus' signals): token
    count bounds, mean-word-length band, minimum stopword density,
    symbol-token ceiling, and a repetition floor via distinct-token
    fraction — emitted as one boolean per rule plus the failure count,
    so a pipeline can either hard-filter (n_failed = 0) or stratify by
    which rule fired. Unlike text_quality_score's single blended
    score, the rule bits are auditable individually — the form every
    published pretraining pipeline (Gopher, RefinedWeb, FineWeb)
    actually ships.

    Scale: one scan, all rules are Catalyst higher-order functions
    over the token array in the scan stage — no shuffle at all, no
    Python. Threshold compares happen on unrounded doubles in BOTH
    engines (identical IEEE sums in document order), so the booleans
    are bit-stable; only the reported mean is rounded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = docs.select("doc_id", *_gopher_metric_cols(toks))
    rule_len = F.col("n_tokens").between(10, 100000)
    rule_wl = F.col("mean_word_len").between(3.0, 10.0)
    rule_sw = F.col("stop_frac") >= 0.02
    rule_sym = F.col("sym_frac") <= 0.1
    rule_rep = F.col("distinct_frac") >= 0.3
    return t.select(
        "doc_id",
        "n_tokens",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        rule_len.alias("rule_len"),
        rule_wl.alias("rule_word_len"),
        rule_sw.alias("rule_stopwords"),
        rule_sym.alias("rule_symbols"),
        rule_rep.alias("rule_repetition"),
        (
            (~rule_len).cast("int")
            + (~rule_wl).cast("int")
            + (~rule_sw).cast("int")
            + (~rule_sym).cast("int")
            + (~rule_rep).cast("int")
        ).alias("n_failed"),
    )


def _gopher_pass_cond():
    """The all-five-rules conjunction over _gopher_metric_cols columns
    — the ONE place the hard-filter thresholds live, shared by the
    composed batch curation pipeline and its streaming twin
    (streaming/ingest.stream_curation_ingest) so the two gates can
    never drift."""
    return (
        F.col("n_tokens").between(10, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("stop_frac") >= 0.02)
        & (F.col("sym_frac") <= 0.1)
        & (F.col("distinct_frac") >= 0.3)
    )


def _sqrt_w6(tot):
    """Per-source floor-quantized micro-unit sqrt weights over a
    (source, src_tokens) table — the exact-arithmetic temperature
    weighting shared by sample_temperature, the composed curation
    pipeline, and sample_mixture_epochs."""
    return tot.select(
        "source",
        "src_tokens",
        F.floor(F.sqrt(F.col("src_tokens").cast("double")) * 1000000.0)
        .cast("bigint")
        .alias("w6"),
    )


def _temperature_cutoffs(tot):
    """(source, cutoff) keep-thresholds for a half-corpus token budget
    split by sqrt-temperature weights — one |sources|-row table ready
    to broadcast against per-doc hashes."""
    w = _sqrt_w6(tot)
    tw = w.agg(
        F.sum("w6").cast("bigint").alias("sum_w6"),
        F.sum("src_tokens").cast("bigint").alias("total_tokens"),
    )
    return w.crossJoin(F.broadcast(tw)).select(
        "source",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.round(
                1000000.0
                * (
                    (F.col("w6").cast("double") / F.col("sum_w6"))
                    * (F.col("total_tokens").cast("double") * 0.5)
                    / F.col("src_tokens")
                ),
                0,
            ).cast("bigint"),
        ).alias("cutoff"),
    )


@query(
    "sample_temperature",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n,
         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1000000 AS h
  FROM documents
),
tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens
  FROM tok GROUP BY source
),
w AS (
  SELECT source, src_tokens,
         CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS w6
  FROM tot
),
tw AS (
  SELECT CAST(SUM(w6) AS BIGINT) AS sum_w6,
         CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
  FROM w
),
cut AS (
  SELECT source,
         LEAST(CAST(1000000 AS BIGINT),
               CAST(ROUND(1000000.0 * ((CAST(w6 AS DOUBLE) / sum_w6)
                          * (CAST(total_tokens AS DOUBLE) * 0.5)
                          / src_tokens), 0) AS BIGINT)) AS cutoff
  FROM w, tw
)
SELECT t.doc_id, t.source
FROM tok t JOIN cut c USING (source)
WHERE t.h < c.cutoff
""",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture (the alpha-smoothed sampling of
    multilingual/multi-source LLM recipes — mBERT/XLM-R/mT5 style):
    per-source keep probability proportional to p_s^alpha / p_s, which
    up-weights small sources and down-weights dominant ones without the
    hard uniform target of sample_token_mixture. alpha = 0.5 here, and
    that choice is deliberate: sqrt is the ONE power IEEE-754 requires
    correctly rounded, so the per-source weight is bit-identical in
    Spark (Math.sqrt) and DuckDB (std::sqrt) — a general pow() could
    differ in the last ulp and flip a cutoff at a rounding boundary.
    The sqrt weights are floor-quantized to integer micro-units before
    the cross-source SUM so the normalizer is order-independent exact
    integer arithmetic (the multi-term double-sum lesson from NOTES).
    The token budget is half the corpus; selection is the same
    deterministic content-hash threshold as the other samplers.

    Scale: one corpus scan emits (doc_id, source, n, h); a per-source
    aggregate (map-side combined, |sources| rows) and a 1-row total are
    broadcast back as cutoffs — document text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        token_count("text").cast("bigint").alias("n"),
        (
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
            % 1000000
        ).alias("h"),
    )
    tot = tok.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("src_tokens")
    )
    cut = _temperature_cutoffs(tot)
    return (
        tok.join(F.broadcast(cut), "source")
        .where(F.col("h") < F.col("cutoff"))
        .select("doc_id", "source")
    )


@query(
    "decontaminate_report",
    oracle=f"""
WITH ev AS (
  SELECT doc_id AS eval_id, unnest({_SHINGLES5}) AS g
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 10)
),
hits AS (
  SELECT e.eval_id,
         CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_contaminating_docs,
         CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
  FROM ev e
  JOIN (
    SELECT doc_id, unnest({_SHINGLES5}) AS g
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id >= 10)
  ) c USING (g)
  GROUP BY e.eval_id
)
SELECT d.doc_id AS eval_id,
       COALESCE(h.n_contaminating_docs, 0) AS n_contaminating_docs,
       COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles
FROM (SELECT doc_id FROM documents WHERE doc_id < 10) d
LEFT JOIN hits h ON h.eval_id = d.doc_id
""",
)
def q_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-side contamination audit that complements
    decontaminate_against_eval: for EVERY benchmark document (doc_id <
    10 stands in for the eval corpus), how many training documents
    share a distinct word 5-gram with it and how many (eval-shingle,
    train-doc) matches exist in total — including explicit zeros for
    clean eval items. This is the report a model card cites ("N of M
    eval items had verbatim n-gram overlap with training data"); the
    training-side op answers "what do I drop", this answers "which
    benchmarks are compromised and how badly".

    Scale: the eval shingle set is tiny and broadcast; corpus shingles
    explode in the scan stage and only matched (shingle, eval_id,
    doc_id) rows reach the aggregate. The final zero-fill join touches
    |eval| rows. The corpus never self-joins, its text never
    shuffles."""
    docs_eval = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 10
    )
    ev = docs_eval.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(word_shingles("text", 5)).alias("g"),
    )
    cor = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .where(F.col("doc_id") >= 10)
        .select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
    )
    hits = (
        cor.join(F.broadcast(ev), "g")
        .groupBy("eval_id")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias(
                "n_contaminating_docs"
            ),
            F.count("*").cast("bigint").alias("n_shared_shingles"),
        )
    )
    return (
        docs_eval.select(F.col("doc_id").alias("eval_id"))
        .join(hits, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce(F.col("n_contaminating_docs"), F.lit(0).cast("bigint"))
            .alias("n_contaminating_docs"),
            F.coalesce(F.col("n_shared_shingles"), F.lit(0).cast("bigint"))
            .alias("n_shared_shingles"),
        )
    )


# The five Gopher rule bits as one DuckDB predicate over a token
# array named `t` — the SQL twin of _gopher_pass_cond(), shared by
# _CURATION_FULL_ORACLE and the multimodal text-stage cross-check
# (tests/test_text.py) so the two can't drift apart.
_GOPHER_PASS_SQL = f"""CAST(len(t) AS BIGINT) BETWEEN 10 AND 100000
    AND (CAST(len(array_to_string(t, '')) AS DOUBLE) / len(t))
          BETWEEN 3.0 AND 10.0
    AND CAST(len(list_filter(t, x -> x IN {_STOP})) AS DOUBLE) / len(t)
          >= 0.02
    AND CAST(len(list_filter(t, x -> regexp_matches(x, '[^a-z0-9]')))
             AS DOUBLE) / len(t) <= 0.1
    AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.3"""

# Shared by pipeline_curation_full AND the streaming twin
# (stream_curation_full in queries/streaming_queries.py): the two
# paths claim identical semantics, so they must be held to the SAME
# oracle, defined once.
_CURATION_FULL_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, source, {_TOKS} AS t,
         {_url_norm_sql(_URL_SYNTH_SQL)} AS u, {_FP} AS fp
  FROM documents WHERE doc_id >= 10
),
u1 AS (
  SELECT b.* FROM base b
  JOIN (SELECT u, MIN(doc_id) AS doc_id FROM base GROUP BY u) w
    USING (u, doc_id)
),
q1 AS (
  SELECT doc_id, text, source, t, fp FROM u1
  WHERE {_GOPHER_PASS_SQL}
),
d1 AS (
  SELECT q.* FROM q1 q
  JOIN (SELECT fp, MIN(doc_id) AS doc_id FROM q1 GROUP BY fp) w
    USING (fp, doc_id)
),
ev AS (
  SELECT DISTINCT unnest({_SHINGLES5}) AS g
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id < 10)
),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({_SHINGLES5}) AS g
        FROM (SELECT doc_id, t AS toks FROM d1)) c
  JOIN ev USING (g)
),
d2 AS (
  SELECT doc_id, text, source, CAST(len(t) AS BIGINT) AS n,
         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1000000 AS h
  FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
tot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS src_tokens FROM d2 GROUP BY source
),
w AS (
  SELECT source, src_tokens,
         CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS w6
  FROM tot
),
tw AS (
  SELECT CAST(SUM(w6) AS BIGINT) AS sum_w6,
         CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
  FROM w
),
cut AS (
  SELECT source,
         LEAST(CAST(1000000 AS BIGINT),
               CAST(ROUND(1000000.0 * ((CAST(w6 AS DOUBLE) / sum_w6)
                          * (CAST(total_tokens AS DOUBLE) * 0.5)
                          / src_tokens), 0) AS BIGINT)) AS cutoff
  FROM w, tw
)
SELECT d.doc_id, d.source, d.n AS n_tokens
FROM d2 d JOIN cut c USING (source)
WHERE d.h < c.cutoff
"""


@query("pipeline_curation_full", oracle=_CURATION_FULL_ORACLE)
def q_pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 curation stack COMPOSED end to end, in the order a
    RefinedWeb/FineWeb-style pipeline actually runs it: URL-level
    dedup (cheapest first — canonical-URL keep-min collapses refetches
    at string cost) → Gopher rule gate (all five rule bits must pass)
    → exact content dedup (fingerprint keep-min over the survivors) →
    benchmark decontamination (drop docs sharing a word 5-gram with
    the eval set, doc_id < 10) → temperature mixture (alpha=0.5
    sqrt-smoothed per-source keep rates computed over what SURVIVED
    the earlier stages, against a half-corpus token budget). Output:
    the loader manifest (doc_id, source, n_tokens).

    Composition preserves each stage's scale shape, and the composed
    plan is deliberately SLIM: every per-doc signal the pipeline ever
    needs downstream (canonical URL, fingerprint, token count, the
    five rule fractions, the selection hash) is computed ONCE in the
    scan stage and the text column is dropped right there, so the two
    keep-min dedups, the contamination anti-join, and the mixture join
    move only (id, key, small-int) rows — at 100 TB the winners tables
    are NOT broadcastable, so a text-bearing join-back would reshuffle
    the corpus; this shape never does. Contamination ids are computed
    against the RAW corpus scan (a superset of the survivors — the
    anti-join result is identical, and it keeps the shingle explode in
    the scan stage instead of joining survivor ids into it). The eval
    shingle set and per-source cutoffs broadcast. Mixture weights
    follow sample_temperature's exact-arithmetic discipline (sqrt is
    IEEE-correctly-rounded; integer micro-unit normalizer), so the
    composed oracle stays bit-stable."""
    from pyspark.sql.window import Window

    from vfs_spark.functions.text import normalize_url

    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("doc_id") >= 10
    )
    toks = tokens("text")
    pass_q = _gopher_pass_cond()
    slim = docs.select(
        "doc_id",
        "source",
        normalize_url(_synth_url_col()).alias("u"),
        fingerprint("text").alias("fp"),
        *_gopher_metric_cols(toks),
        (
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
            % 1000000
        ).alias("h"),
    )
    # Both keep-min dedups are row_number()==1 windows, NOT
    # aggregate + join-back: Catalyst plans them as WindowGroupLimit
    # with a PARTIAL map-side prune below the exchange (the
    # sample_source_cap lesson, NOTES.md), so each is ONE shuffle of
    # slim rows with per-reducer input bounded even on a megadomain
    # hot key — and, critically, the heavy scan projection evaluates
    # exactly once (the agg+join-back twin references `slim` from two
    # DAG branches and re-runs the Gopher HOFs per branch; measured
    # 87 s vs 56 s at 5M docs for the window form, tools/curation_ab.py).
    wu = Window.partitionBy("u").orderBy("doc_id")
    q1 = (
        slim.withColumn("rn", F.row_number().over(wu))
        .where((F.col("rn") == 1) & pass_q)
        .select("doc_id", "source", "fp", "n_tokens", "h")
    )
    wf = Window.partitionBy("fp").orderBy("doc_id")
    d1 = (
        q1.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 10)
        .select(F.explode(word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    contaminated = (
        docs.select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
        .join(F.broadcast(ev), "g")
        .select("doc_id")
        .distinct()
    )
    # d2 feeds both the mixture totals and the final selection —
    # persist() so the contamination explode runs exactly once: the
    # cutoff broadcast (derived from d2) materializes the cache before
    # the final probe stage scans d2 again. persist, NOT
    # localCheckpoint: checkpointing executes the whole corpus job at
    # query-BUILD time under AQE (even with eager=False — adaptive
    # planning finalizes the RDD by running its stages), which made
    # merely constructing this DataFrame cost the full pipeline and
    # blinded the plan audit to everything above d2. The cached rows
    # are the slim (id, source, n, h) manifest; MEMORY_AND_DISK
    # eviction only ever costs a recompute, never correctness.
    d2 = (
        d1.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", F.col("n_tokens").alias("n"), "h")
        .persist()
    )
    tot = d2.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("src_tokens")
    )
    cut = _temperature_cutoffs(tot)
    return (
        d2.join(F.broadcast(cut), "source")
        .where(F.col("h") < F.col("cutoff"))
        .select("doc_id", "source", F.col("n").alias("n_tokens"))
    )


@query(
    "text_bm25_retrieval",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id >= 8
),
q AS (
  SELECT DISTINCT doc_id AS query_id, unnest(({_TOKS})[1:5]) AS term
  FROM documents WHERE doc_id < 8
),
postings AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(MAX(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM corpus)
  WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id, term
),
dfs AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM postings GROUP BY term
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM corpus
),
scored AS (
  SELECT query_id, doc_id,
         CAST(SUM(CAST(ROUND(
           (1000000.0
            * LN(1 + CAST(2 * (n_docs - df) + 1 AS DOUBLE)
                     / CAST(2 * df + 1 AS DOUBLE))
            * (22 * tf))
           / (10 * tf + 3 + (9 * dl) / avgdl), 0) AS BIGINT)) AS BIGINT)
           AS score_u6
  FROM postings JOIN q USING (term) JOIN dfs USING (term), stats
  GROUP BY query_id, doc_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, score_u6
FROM (SELECT query_id, doc_id, score_u6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score_u6 DESC, doc_id) AS rnk
      FROM scored)
WHERE rnk <= 10
""",
)
def q_text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BM25 top-10 retrieval (k1=1.2, b=0.75) — the
    lexical-search operator the reference's vector engine pairs with
    in a RAG stack (reference serves only vector search,
    /root/reference/vfs/src/vfs/tcp.rs; BM25 is the ⊕ lexical twin).
    Queries are the first 5 tokens of docs 0-7; the corpus is every
    other document. No inverted index is materialized: _bm25_scored
    matches each document's tokens against the broadcast query-term
    set in the scan stage (array_intersect) and explodes only the
    matched (term, tf) pairs, so only matching postings ever shuffle —
    at 100 TB the shuffle is |query terms| x docs-containing, not the
    corpus. df and the corpus stats are tiny aggregates that broadcast
    back; per-(query,doc) scores are one map-side-combined SUM; top-10
    per query is a rank window Catalyst executes as WindowGroupLimit
    (partial per-mapper prune). Each term's score rounds ONCE to
    integer micro-units, which keeps the cross-engine sum exact
    (NOTES.md float policy)."""
    from pyspark.sql.window import Window

    scored = _bm25_doc_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u6").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("int"), "doc_id", "score_u6")
    )


# Shared serving CTEs for the retrieval evals (MRR and nDCG): the
# phrase-BM25 pipeline the Spark helper _phrase_bm25_ranked mirrors —
# one definition so the two eval oracles can never drift on scoring.
_PHRASE_BM25_RANKED_SQL = f"""corpus AS (
  SELECT doc_id, {_SHINGLES5} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id >= 8)
),
q AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest([array_to_string(toks[i:i+4], ' ')
                 for i in range(1, 4)]) AS term
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE doc_id >= 10 AND doc_id < 18 AND len({_TOKS}) >= 7)
),
postings AS (
  SELECT doc_id, term, CAST(1 AS BIGINT) AS tf,
         CAST(MAX(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, len(sh) AS dl, unnest(sh) AS term FROM corpus)
  WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id, term
),
dfs AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM postings GROUP BY term
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(sh)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM corpus
),
scored AS (
  SELECT query_id, doc_id,
         CAST(SUM(CAST(ROUND(
           (1000000.0
            * LN(1 + CAST(2 * (n_docs - df) + 1 AS DOUBLE)
                     / CAST(2 * df + 1 AS DOUBLE))
            * (22 * tf))
           / (10 * tf + 3 + (9 * dl) / avgdl), 0) AS BIGINT)) AS BIGINT)
           AS score_u6
  FROM postings JOIN q USING (term) JOIN dfs USING (term), stats
  GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_u6 DESC, doc_id) AS rnk
  FROM scored
)"""


@query(
    "retrieval_eval_mrr",
    oracle=f"""
WITH {_PHRASE_BM25_RANKED_SQL},
hits AS (
  SELECT query_id, rnk FROM ranked WHERE rnk <= 10 AND doc_id = query_id
)
SELECT qq.query_id, CAST(COALESCE(h.rnk, 0) AS INTEGER) AS hit_rank,
       CAST(COALESCE(CAST(ROUND(1000000.0 / h.rnk, 0) AS BIGINT), 0)
            AS BIGINT) AS rr_u6
FROM (SELECT DISTINCT query_id FROM q) qq
LEFT JOIN hits h USING (query_id)
""",
)
def q_retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Known-item retrieval evaluation — per-query reciprocal rank
    of PHRASE-BM25 top-10 where each query is the first three 5-token
    shingles OF a corpus document and the relevant answer IS that
    document (the standard known-item protocol when no labeled
    relevance exists). Shingle queries, not unigrams, deliberately:
    the fixture vocabulary is 31 words, so every unigram appears in
    ~every doc (idf ~ 0) and unigram known-item is structurally
    impossible — 5-gram phrases are near-unique even over a tiny
    vocabulary, exactly why passage-retrieval stacks index phrases.
    hit_rank 0 is the miss sentinel; rr is exact integer micro-units.

    Shape: text_bm25_retrieval's scorer (_bm25_scored) with shingles
    as terms — each doc's distinct 5-word shingles meet the broadcast
    |queries|·3 phrase set by array_intersect in the scan stage, so
    only matching postings shuffle; df/stats broadcast back; one
    map-side-combined score SUM; rank window; |queries|-row eval
    join. Eval cost = serving cost + nothing."""
    qt, ranked = _phrase_bm25_ranked(spark, sf_dir)
    hits = ranked.where(
        (F.col("rnk") <= 10) & (F.col("doc_id") == F.col("query_id"))
    ).select("query_id", "rnk")
    queries = qt.select("query_id").distinct()
    # hits holds at most one row per query: broadcast it, as AQE would
    # once it saw the shuffle sizes
    return queries.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("rnk"), F.lit(0)).cast("int").alias("hit_rank"),
        F.coalesce(
            F.round(1000000.0 / F.col("rnk"), 0).cast("bigint"), F.lit(0)
        )
        .cast("bigint")
        .alias("rr_u6"),
    )


def _phrase_bm25_ranked(spark, sf_dir):
    """Shared phrase-BM25 serving pipeline for the retrieval evals
    (MRR and nDCG): known-item queries = the first three 5-token
    shingles of docs 10..17, corpus = doc_id >= 8, scored by
    _bm25_scored with the distinct 5-word shingles as terms (so every
    tf is 1) and ranked per query. Returns (qt, ranked) where qt
    is the (query_id, term) phrase table and ranked carries
    (query_id, doc_id, score_u6, rnk). One definition so the two
    eval metrics can never drift on the serving side."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    corpus = docs.where(F.col("doc_id") >= 8)
    toks = tokens("text")
    # first three 5-gram phrases, POSITIONAL (pre-dedup: slicing a
    # distinct-set would depend on engine dedup order)
    qt = (
        docs.where(
            F.col("doc_id").between(10, 17) & (F.size(toks) >= 7)
        )
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(3)),
                    lambda i: F.concat_ws(
                        " ", F.slice(toks, i, 5)
                    ),
                )
            ).alias("term"),
        )
        .distinct()
    )
    scored = _bm25_scored(corpus, ["doc_id"], word_shingles("text", 5), qt)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u6").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return qt, ranked


# nDCG@10 gain tables, precomputed ONCE in Python and interpolated as
# literals into BOTH engines — log2 never evaluates inside either
# engine, so there is zero float-divergence surface. Gain(rank, rel)
# = (2^rel - 1) / log2(rank + 1) in integer micro-units; _NDCG_S1[j]
# is the ideal-ranking prefix sum of rel-1 gains at ranks 2..j (the
# rel-2 known item always occupies ideal rank 1).
import math as _math  # noqa: E402

_NDCG_K = 10
_NDCG_G1 = [
    int(round(1_000_000.0 / _math.log2(i + 1))) for i in range(1, _NDCG_K + 1)
]
_NDCG_G2 = [
    int(round(3_000_000.0 / _math.log2(i + 1))) for i in range(1, _NDCG_K + 1)
]
_NDCG_S1 = []
_acc = 0
for _j in range(1, _NDCG_K + 1):
    if _j >= 2:
        _acc += _NDCG_G1[_j - 1]
    _NDCG_S1.append(_acc)
del _acc, _j


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
WITH RECURSIVE {_PHRASE_BM25_RANKED_SQL},
fp AS (SELECT doc_id, {_FP} AS f FROM documents),
fpe AS (SELECT f, MIN(doc_id) AS root FROM fp GROUP BY f),
e1 AS (SELECT fp.doc_id AS u, fpe.root AS v
       FROM fp JOIN fpe USING (f) WHERE fp.doc_id <> fpe.root),
shn AS MATERIALIZED (
  SELECT doc_id, lang, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
),
e2 AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM shn a JOIN shn b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE {_JACC} >= 0.3
),
edges AS MATERIALIZED (
  SELECT u, v FROM e1 UNION SELECT v, u FROM e1
  UNION SELECT u, v FROM e2 UNION SELECT v, u FROM e2
),
cc AS (
  SELECT doc_id AS node, doc_id AS comp FROM documents
  UNION
  SELECT e.v AS node, cc.comp FROM cc JOIN edges e ON cc.node = e.u
  WHERE cc.comp < e.v
),
clus AS (SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS cluster_id
         FROM cc GROUP BY node),
qids AS (SELECT DISTINCT query_id FROM q),
qc AS (SELECT qids.query_id, clus.cluster_id
       FROM qids JOIN clus ON clus.doc_id = qids.query_id),
members AS (
  SELECT qc.query_id, clus.doc_id
  FROM qc JOIN clus USING (cluster_id)
  WHERE clus.doc_id >= 8 AND clus.doc_id <> qc.query_id
),
n1 AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
       FROM members GROUP BY query_id),
hits AS (
  SELECT r.query_id, r.rnk,
         CASE WHEN r.doc_id = r.query_id THEN 2
              WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM ranked r LEFT JOIN members m
    ON m.query_id = r.query_id AND m.doc_id = r.doc_id
  WHERE r.rnk <= {_NDCG_K}
),
dcg AS (
  SELECT query_id,
         CAST(SUM(CASE rel
             WHEN 2 THEN list_extract({_NDCG_G2}, rnk)
             WHEN 1 THEN list_extract({_NDCG_G1}, rnk)
             ELSE 0 END) AS BIGINT) AS dcg_u6
  FROM hits GROUP BY query_id
),
per AS (
  SELECT qids.query_id,
         CAST(COALESCE(n1.n_rel, 0) AS BIGINT) AS n_rel,
         CAST(COALESCE(dcg.dcg_u6, 0) AS BIGINT) AS dcg_u6,
         CAST({_NDCG_G2[0]} + list_extract({_NDCG_S1},
              LEAST({_NDCG_K}, CAST(COALESCE(n1.n_rel, 0) AS INTEGER) + 1))
              AS BIGINT) AS idcg_u6
  FROM qids LEFT JOIN n1 USING (query_id) LEFT JOIN dcg USING (query_id)
)
SELECT query_id, n_rel, dcg_u6, idcg_u6,
       ROUND(CAST(dcg_u6 AS DOUBLE) / idcg_u6, 6) AS ndcg
FROM per
""",
)
def q_retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Graded-relevance retrieval eval (nDCG@10) — the known-item
    protocol of retrieval_eval_mrr extended with PARTIAL qrels mined
    from the corpus's own near-duplicate structure: the query document
    itself is relevance 2, every other member of its dedup cluster
    (dedup_clusters semantics — exact-fingerprint groups UNION
    lang-blocked 3-gram jaccard >= 0.3, closed under connectivity) is
    relevance 1. That is how graded qrels are bootstrapped when no
    human labels exist: near-dups of the answer are partially right,
    and a retriever that surfaces them should score above one that
    surfaces noise, which binary MRR cannot distinguish.

    Arithmetic: gain tables (2^rel - 1)/log2(rank+1) are precomputed
    in PYTHON as integer micro-units and interpolated as literals
    into both engines (_NDCG_G1/_NDCG_G2/_NDCG_S1) — DCG and IDCG are
    exact integer sums; the single nDCG division rounds once at the
    boundary. IDCG places the rel-2 known item at ideal rank 1 (it is
    always in the corpus by construction) and the n_rel cluster
    members at ranks 2..min(10, n_rel+1) via the prefix-sum lookup.

    Shape: serving is _phrase_bm25_ranked (shared with MRR — eval
    cost = serving cost); qrels consume the dedup stage's cluster
    MANIFEST via _cluster_manifest — the session-scoped artifact
    q_dedup_clusters publishes when it runs (production evals mine
    qrels from the dedup output that already exists; they never
    recompute corpus connectivity — the r11 verdict's scale-killer) —
    then one key-only join of (cluster_id) and a |queries|-bounded
    membership join against the top-10 rows. Nothing here shuffles
    text or vectors; cluster semantics (and their oracle) stay pinned
    at the dedup_clusters slug, whose generator is now the exact
    sub-quadratic prefix join in either case."""
    cc = _cluster_manifest(spark, sf_dir)
    qt, ranked = _phrase_bm25_ranked(spark, sf_dir)
    qids = qt.select("query_id").distinct()
    qc = qids.join(
        cc.withColumnRenamed("doc_id", "query_id"), "query_id"
    )
    members = (
        qc.join(cc, "cluster_id")
        .where((F.col("doc_id") >= 8) & (F.col("doc_id") != F.col("query_id")))
        .select("query_id", "doc_id")
    )
    n1 = members.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_rel")
    )
    g1 = F.array(*[F.lit(x) for x in _NDCG_G1])
    g2 = F.array(*[F.lit(x) for x in _NDCG_G2])
    s1 = F.array(*[F.lit(x) for x in _NDCG_S1])
    hits = (
        ranked.where(F.col("rnk") <= _NDCG_K)
        .join(
            members.withColumn("_rel1", F.lit(1)),
            ["query_id", "doc_id"],
            "left",
        )
        .select(
            "query_id",
            F.when(
                F.col("doc_id") == F.col("query_id"),
                F.element_at(g2, F.col("rnk")),
            )
            .when(F.col("_rel1").isNotNull(), F.element_at(g1, F.col("rnk")))
            .otherwise(F.lit(0))
            .alias("gain_u6"),
        )
    )
    dcg = hits.groupBy("query_id").agg(
        F.sum("gain_u6").cast("bigint").alias("dcg_u6")
    )
    per = (
        qids.join(n1, "query_id", "left")
        .join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint").alias("n_rel"),
            F.coalesce(F.col("dcg_u6"), F.lit(0))
            .cast("bigint")
            .alias("dcg_u6"),
            (
                F.lit(_NDCG_G2[0])
                + F.element_at(
                    s1,
                    F.least(
                        F.lit(_NDCG_K),
                        (F.coalesce(F.col("n_rel"), F.lit(0)) + 1).cast("int"),
                    ),
                )
            )
            .cast("bigint")
            .alias("idcg_u6"),
        )
    )
    return per.select(
        "query_id",
        "n_rel",
        "dcg_u6",
        "idcg_u6",
        F.round(F.col("dcg_u6").cast("double") / F.col("idcg_u6"), 6).alias(
            "ndcg"
        ),
    )


def _bm25_queries(spark, sf_dir):
    """(query_id, term): the distinct first five tokens of docs 0-7,
    the query set of the doc- and chunk-level BM25 slugs."""
    return (
        load_table(spark, sf_dir, "documents")  # no fan-out: prunable
        .where(F.col("doc_id") < 8)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct(F.slice(tokens("text"), 1, 5))).alias(
                "term"
            ),
        )
        .distinct()
    )


def _bm25_doc_scored(spark, sf_dir):
    """Doc-level BM25 scores (query_id, doc_id, score_u6) over the
    corpus doc_id >= 8: text_bm25_retrieval's top-10 and the hybrid
    fusion's lexical side."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return _bm25_scored(
        docs.where(F.col("doc_id") >= 8),
        ["doc_id"],
        tokens("text"),
        _bm25_queries(spark, sf_dir),
    )


def _bm25_scored(units, keys, terms, qt):
    """BM25 (k1=1.2, b=0.75) of every unit of ``units`` against the
    (query_id, term) table ``qt``: rows (query_id, *keys, score_u6)
    for each unit that holds a query term. ``keys`` identify a unit
    (a document, a chunk); ``terms`` is the Column of its term array.

    One pass over the units: ``terms`` is projected once into a
    column, matched against the one-row broadcast set of query terms
    with array_intersect (one hash probe per term; each match once),
    and tf is counted for the matched terms only. The narrow per-unit
    (keys, dl, (term, tf) pairs) table is the one pin, lazy and read
    by the returned plan (so it is the caller's BUILDER_PINS entry);
    it feeds both the postings and the collection stats, so the
    corpus is read and tokenized once and no term-row Generate, join
    or groupBy runs over the whole corpus. df = count(*) over
    postings, since a unit holds a matched term once. Scoring is
    integer-exact: idf = LN of the rational (2(N-df)+1)/(2df+1), the
    tf normalizer's constants are scaled integral (22*tf / (10*tf + 3
    + 9*dl/avgdl)), and each term rounds ONCE to micro-units before
    the per-(query, unit) SUM."""
    phr = qt.agg(F.collect_set("term").alias("_terms"))
    per_unit = (
        units.select(*keys, terms.alias("_t"))
        .crossJoin(F.broadcast(phr))
        .select(
            *keys,
            F.size("_t").cast("bigint").alias("dl"),
            F.transform(
                F.array_intersect("_t", "_terms"),
                lambda t: F.struct(
                    t.alias("term"),
                    F.size(F.filter("_t", lambda x: x == t))
                    .cast("bigint")
                    .alias("tf"),
                ),
            ).alias("_p"),
        )
        .persist()
    )
    postings = per_unit.select(*keys, "dl", F.inline("_p"))
    dfs = postings.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    stats = per_unit.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    n, df, tf = F.col("n"), F.col("df"), F.col("tf")
    term_u6 = F.round(
        F.lit(1000000.0)
        * F.log(1 + (2 * (n - df) + 1).cast("double") / (2 * df + 1).cast("double"))
        * (22 * tf)
        / (10 * tf + 3 + (9 * F.col("dl")) / F.col("avgdl")),
        0,
    ).cast("bigint")
    return (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", *keys)
        .agg(F.sum(term_u6).cast("bigint").alias("score_u6"))
    )


@query(
    "sample_dsir",
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(bigram), 1, 8)) AS BIGINT) % 256 AS b
  FROM (SELECT doc_id, lang, unnest([array_to_string(t[i:i+1], ' ')
               FOR i IN range(1, len(t))]) AS bigram FROM toks)
  WHERE bigram <> ''
),
model AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
  FROM bg GROUP BY b
),
tots AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS t_tot, CAST(SUM(cr) AS BIGINT) AS r_tot
  FROM model
),
lr AS (
  SELECT g.b,
         CAST(ROUND(1000000.0 * LN(
           (CAST(COALESCE(m.ct, 0) + 1 AS DOUBLE) * (r_tot + 256))
           / (CAST(COALESCE(m.cr, 0) + 1 AS DOUBLE) * (t_tot + 256))), 0)
           AS BIGINT) AS lr_u6
  FROM (SELECT unnest(range(256)) AS b) g
  LEFT JOIN model m ON g.b = m.b, tots
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(lr_u6) AS BIGINT) AS score_u6
  FROM bg JOIN lr USING (b) GROUP BY doc_id
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM scored)
SELECT doc_id, n_bigrams, score_u6,
       CAST(ROW_NUMBER() OVER (ORDER BY score_u6 DESC, doc_id) AS BIGINT)
         AS rank,
       CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY score_u6 DESC, doc_id)
                      <= n_docs // 2 THEN 1 ELSE 0 END AS INTEGER)
         AS selected
FROM scored, n
""",
)
def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    importance-resample the corpus toward a target distribution using
    hashed-n-gram bag models. Target = the English slice; features =
    word bigrams hashed into 256 buckets (md5-int — the engine-neutral
    string hash, NOTES.md). Both bucket models fit in ONE explode pass
    (cr and the FILTERed ct come from the same 256-cell map-side
    aggregate; the totals are an agg over that 256-row table, never a
    second corpus pass). Per-bucket log-likelihood-ratios are rounded
    ONCE to integer micro-units, so every per-doc score is an EXACT
    int64 sum — the per-term-round float discipline; the only floats
    are 256 LN calls on the driver-sized model table. Scoring is a
    second explode pass joined to the broadcast 256-row ratio table.
    Selection keeps the top half by (score, doc_id) via the
    range-partitioned two-pass ranker (assign_dense_ids_ranged) — no
    single-partition window at any stage, so the op holds at 100 TB
    where the paper's offline reservoir would not. Deterministic
    top-k selection replaces the paper's Gumbel noise: reproducible
    manifests beat sampled ones for training-data lineage."""
    return _dsir_select(spark, sf_dir, fit_pred=None)


def _dsir_select(spark, sf_dir, fit_pred):
    """Shared DSIR body: ``fit_pred`` (a Column predicate on doc_id)
    restricts the MODEL-FIT pass; scoring and selection always see
    the whole corpus."""
    from vfs_spark.operators.ids import assign_dense_ids_ranged

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens("text")
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    bigrams = F.when(
        F.size(toks) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )
    )
    # r16 single-hash restructure (guide §2.3 partial aggregation +
    # §1.2 algorithm-first): the old shape evaluated the bigram
    # explode + md5 hash once per CONSUMER of the score table — model
    # fit, range-sampling, checkpoint and count jobs each re-ran the
    # full corpus hash pass (~6 passes measured, 42-50 cpu-s isolated
    # at sf0.1). The per-(doc, bucket) count table is the exact
    # sufficient statistic for BOTH the model fit (sum of counts per
    # bucket) and the per-doc scores (dot product with the broadcast
    # lr table), is bounded at 256 rows/doc at any corpus size, and is
    # persisted so the md5 pass runs exactly once. Sums of per-doc
    # counts are integer-exact, so model and scores are unchanged.
    bg_counts = (
        docs.select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        .where(F.col("bigram") != "")
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("bigram"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % 256
            ).alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    fit_bg = bg_counts.where(fit_pred) if fit_pred is not None else bg_counts
    model = fit_bg.groupBy("b").agg(
        F.sum("cnt").cast("bigint").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
    )
    tots = model.agg(
        F.sum("ct").cast("bigint").alias("t_tot"),
        F.sum("cr").cast("bigint").alias("r_tot"),
    )
    lr = (
        spark.range(256)
        .select(F.col("id").alias("b"))
        .join(model, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.lit(1000000.0)
                * F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                        * (F.col("r_tot") + 256)
                    )
                    / (
                        (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                        * (F.col("t_tot") + 256)
                    )
                ),
                0,
            )
            .cast("bigint")
            .alias("lr_u6"),
        )
    )
    scored = (
        bg_counts.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("lr_u6")).cast("bigint").alias(
                "score_u6"
            ),
        )
    )
    # the ranker's sampling and checkpoint jobs read scored, and scored
    # reads bg_counts twice (model fit and scoring): pin both until the
    # ranker's eager checkpoint, which everything returned reads.
    with pinned(bg_counts, scored):
        ranked = assign_dense_ids_ranged(
            scored.withColumn("neg", -F.col("score_u6")),
            ["neg", "doc_id"],
            id_name="rank",
        ).drop("neg")
    n = ranked.agg(F.count("*").cast("bigint").alias("n_docs"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_bigrams",
        "score_u6",
        F.col("rank").cast("bigint"),
        F.when(F.col("rank") <= F.floor(F.col("n_docs") / 2), 1)
        .otherwise(0)
        .cast("int")
        .alias("selected"),
    )


@query(
    "pipeline_rag_retrieval",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id >= 8
),
chunks AS (
  SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
         CAST(i * 48 AS INTEGER) AS token_start,
         t[i*48+1 : i*48+64] AS ct
  FROM toks,
       UNNEST(generate_series(0, CAST((len(t) - 1) // 48 AS BIGINT))) AS g(i)
),
q AS (
  SELECT DISTINCT doc_id AS query_id, unnest(({_TOKS})[1:5]) AS term
  FROM documents WHERE doc_id < 8
),
postings AS (
  SELECT doc_id, chunk_id, token_start, term,
         CAST(COUNT(*) AS BIGINT) AS tf, CAST(MAX(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, chunk_id, token_start, len(ct) AS dl,
               unnest(ct) AS term FROM chunks)
  WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id, chunk_id, token_start, term
),
dfs AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(len(ct)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM chunks
),
scored AS (
  SELECT query_id, doc_id, chunk_id, token_start,
         CAST(SUM(CAST(ROUND(
           (1000000.0
            * LN(1 + CAST(2 * (n_chunks - df) + 1 AS DOUBLE)
                     / CAST(2 * df + 1 AS DOUBLE))
            * (22 * tf))
           / (10 * tf + 3 + (9 * dl) / avgdl), 0) AS BIGINT)) AS BIGINT)
           AS score_u6
  FROM postings JOIN q USING (term) JOIN dfs USING (term), stats
  GROUP BY query_id, doc_id, chunk_id, token_start
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, chunk_id,
       token_start, score_u6
FROM (SELECT query_id, doc_id, chunk_id, token_start, score_u6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score_u6 DESC, doc_id, chunk_id)
               AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def q_pipeline_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval composed end-to-end at CHUNK granularity: the
    text_chunk_provenance grid (64-token chunks, 48 stride) scored
    with text_bm25_retrieval's BM25 (k1=1.2, b=0.75) and returned as
    top-5 chunks per query WITH provenance (doc_id, chunk_id,
    token_start) — what a retrieval-augmented consumer actually
    ingests: spans it can cite, not whole documents. The chunk
    explode runs inside the scan stage and each chunk is one unit of
    _bm25_scored (the doc-level scorer, keyed by (doc_id, chunk_id,
    token_start)): its tokens meet the broadcast query-term set by
    array_intersect, so the shuffle is again |query terms| x
    matching-chunks — chunk TEXT is never materialized at all here,
    only (ids, offsets, counts). Rank ties break on (doc_id,
    chunk_id)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    t = docs.where(
        (F.col("doc_id") >= 8) & F.col("text").isNotNull()
    ).select("doc_id", tokens("text").alias("t"))
    c = t.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.expr("(size(t) - 1) div 48"))
        ).alias("i"),
    )
    chunks = c.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_id"),
        (F.col("i") * 48).cast("int").alias("token_start"),
        F.expr("slice(t, i*48 + 1, 64)").alias("ct"),
    )
    scored = _bm25_scored(
        chunks,
        ["doc_id", "chunk_id", "token_start"],
        F.col("ct"),
        _bm25_queries(spark, sf_dir),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u6").desc(), F.col("doc_id").asc(), F.col("chunk_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("rank").cast("int"),
            "doc_id",
            "chunk_id",
            "token_start",
            "score_u6",
        )
    )


@query(
    "sample_weighted",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(GREATEST(len({_TOKS}), 1) AS BIGINT) AS weight,
         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h
  FROM documents
),
keyed AS (
  SELECT doc_id, weight,
         CAST(ROUND(1000000.0 * LN((h + 1) / 4294967297.0) / weight, 0)
              AS BIGINT) AS key_u6
  FROM t
)
SELECT doc_id, weight, key_u6, CAST(rnk AS INTEGER) AS rank
FROM (SELECT doc_id, weight, key_u6,
             ROW_NUMBER() OVER (ORDER BY key_u6 DESC, doc_id) AS rnk
      FROM keyed)
WHERE rnk <= 100
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (k=100, weight = token
    count): Efraimidis-Spirakis A-ES (Inf. Proc. Letters 97(5), 2006)
    — each doc draws u from a content-hash (md5 prefix -> exact
    rational in (0,1), the sample_stable_split discipline, so the
    sample is stable across runs/engines/partitionings), keyed by
    ln(u)/w; the k largest keys ARE a weighted sample without
    replacement. This is the op that picks a fair eval/inspection
    subset where long docs count proportionally to their token mass.
    Scale: key is a scan-stage projection; top-k runs as
    TakeOrderedAndProject (per-partition heap of k, merge of k·P rows
    on the driver — no global sort, no single-partition window); the
    rank window after the limit touches exactly k rows. Float
    discipline: u = (h+1)/2^32+1 is one correctly-rounded division,
    the key is one LN and one division rounded ONCE to integer
    micro-units (the BM25/DSIR per-term-round rule)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    w = F.greatest(F.size(tokens("text")), F.lit(1)).cast("bigint")
    h = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    keyed = (
        docs.select("doc_id", w.alias("weight"), h.alias("_h"))
        .select(
            "doc_id",
            "weight",
            F.round(
                F.lit(1000000.0)
                * F.log((F.col("_h") + 1) / F.lit(4294967297.0))
                / F.col("weight"),
                0,
            )
            .cast("bigint")
            .alias("key_u6"),
        )
    )
    top = keyed.orderBy(F.col("key_u6").desc(), F.col("doc_id").asc()).limit(
        100
    )
    rw = Window.orderBy(F.col("key_u6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(rw).cast("int"))


@query(
    "dedup_incremental",
    oracle=f"""
WITH fps AS (SELECT doc_id, {_FP} AS fp FROM documents),
hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 <> 0),
batch AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 = 0),
ranked AS (
  SELECT doc_id, fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM batch
)
SELECT r.doc_id, r.fp,
       CASE WHEN h.fp IS NOT NULL THEN 'dup_of_history'
            WHEN r.rn > 1 THEN 'dup_in_batch'
            ELSE 'unique' END AS verdict
FROM ranked r LEFT JOIN hist h ON r.fp = h.fp
""",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the snapshot-over-snapshot form every
    crawl-fed pipeline actually runs: dedup the NEW batch (doc_id %
    10 = 0 stands in for this month's crawl) against the accumulated
    HISTORY fingerprint set (the rest) AND within itself, with a
    3-way verdict per new doc (dup_of_history / dup_in_batch /
    unique; history wins when both hold, matching "drop it either
    way" semantics with the more actionable label). Scale: both
    sides' fingerprints are scan-stage projections; history reduces
    to DISTINCT fp (map-side combine) BEFORE the join, so the join
    moves (fp) keys only — at 100 TB history this is the sort-merge
    join on fp you want, and the within-batch window is one
    fp-keyed shuffle of (fp, id) pairs. Text never shuffles."""
    from pyspark.sql.window import Window

    fps = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    hist = (
        fps.where(F.col("doc_id") % 10 != 0)
        .select("fp")
        .distinct()
        .withColumn("_in_hist", F.lit(1))
    )
    batch = fps.where(F.col("doc_id") % 10 == 0)
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    return (
        batch.withColumn("rn", rn)
        .join(hist, "fp", "left")
        .select(
            "doc_id",
            "fp",
            F.when(F.col("_in_hist").isNotNull(), "dup_of_history")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("unique")
            .alias("verdict"),
        )
    )


@query(
    "corpus_snapshot_diff",
    oracle=f"""
WITH old AS (
  SELECT doc_id, {_FP} AS fp FROM documents WHERE doc_id % 11 <> 3
),
new AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           string_split(lower(trim(CASE WHEN doc_id % 5 = 0
                                        THEN text || ' rev2 marker'
                                        ELSE text END)), ' '))), ' ')) AS fp
  FROM documents WHERE doc_id % 13 <> 5
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.fp <> n.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
""",
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the dataset-versioning audit between two corpus
    releases: per doc_id, added / removed / changed / unchanged, where
    "changed" means the CONTENT fingerprint moved (not byte identity —
    a reshuffled-whitespace re-crawl stays "unchanged", the property
    curation lineage wants). The two snapshots are synthesized from
    the one fixture table (old drops doc_id%11=3, new drops %13=5 and
    revises %5=0) so the hash compare exercises all four states.
    Scale: fingerprints are scan-stage projections; the FULL OUTER
    join on doc_id moves (id, fp) pairs only — with both snapshots
    stored id-bucketed this is a co-located merge; text never
    shuffles. The same plan diffs 100 TB snapshots because its
    shuffle volume is two fingerprint columns, not the corpus."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    old = docs.where(F.col("doc_id") % 11 != 3).select(
        F.col("doc_id").alias("o_id"), fingerprint("text").alias("o_fp")
    )
    new_text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2 marker"))
    ).otherwise(F.col("text"))
    new = docs.where(F.col("doc_id") % 13 != 5).select(
        F.col("doc_id").alias("n_id"), fingerprint(new_text).alias("n_fp")
    )
    j = old.join(new, old["o_id"] == new["n_id"], "full_outer")
    return j.select(
        F.coalesce(F.col("o_id"), F.col("n_id")).alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


from vfs_spark.queries.registry import ORACLES as _ORACLES  # noqa: E402

_DSIR_FIT_SAMPLE_SQL = (
    "FROM bg WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 5 = 0 GROUP BY b"
)


@query(
    "sample_dsir_fitsample",
    oracle=_ORACLES["sample_dsir"].replace(
        "FROM bg GROUP BY b", _DSIR_FIT_SAMPLE_SQL
    ),
)
def q_sample_dsir_fitsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR with the MODEL FIT restricted to a deterministic 20%
    doc-hash sample (md5(doc_id) % 5 = 0 — the engine-neutral md5-int
    rule, so the twin stays ORACLE-EXACT, not rows-only) while scoring
    and selection still see every document. This is the production
    operating point the exact twin's docstring promises: the 256-bucket
    LLR model is a DISTRIBUTION estimate, so a bounded sample fits it
    to within sampling noise (the DSIR paper itself fits hashed-ngram
    models on corpus subsets), and the fit pass — half of
    sample_dsir's wall, SCALE.md — shrinks by the sample rate. At
    100 TB the fit side reads 20 TB (or any fixed-rate/fixed-size
    sample you pick) while the scoring pass stays one full linear
    explode. Same per-bucket micro-unit rounding, same ranged 2-pass
    ranker, same output schema as sample_dsir."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return _dsir_select(spark, sf_dir, fit_pred=h % 5 == 0)


@query(
    "dedup_keep_best",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_FP} AS fp,
         CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS frac
  FROM documents
),
r AS (
  SELECT doc_id, fp, frac,
         ROW_NUMBER() OVER (PARTITION BY fp
                            ORDER BY frac DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY fp) AS n
  FROM t
)
SELECT fp, CAST(doc_id AS BIGINT) AS keep_id, CAST(n AS BIGINT) AS n_docs,
       CAST(ROUND(1000000.0 * frac, 0) AS BIGINT) AS keep_quality_u6
FROM r WHERE rn = 1
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: per fingerprint group keep the
    HIGHEST-QUALITY member (lexical-diversity ratio, doc_id
    tiebreak), not the lowest id — the curation-correct keep rule
    when near-identical docs differ in cruft (dedup_exact's keep-min
    is the lineage-stable twin; this is the quality-stable one).
    Scale: fingerprint and the diversity ratio are scan-stage
    projections; the whole keep rule is ONE map-side-combined
    aggregate — max_by over the (frac, -doc_id) ordering struct plus
    a count — so each mapper pre-reduces every fingerprint to a
    single candidate row before the exchange and per-reducer input is
    bounded even on a megacluster fingerprint. (A rank-window twin
    would NOT get that bound: pairing row_number with a count(*)
    partition window blocks Catalyst's InferWindowGroupLimit —
    verified against the executed plan — which is why this op is an
    aggregate, not a window.) The quality value is one exact int/int
    division; both engines order the same doubles, and it is reported
    rounded ONCE to micro-units."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = tokens("text")
    t = docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "frac"
        ),
    )
    ord_key = F.struct(
        F.col("frac").alias("f"), (-F.col("doc_id")).alias("neg_id")
    )
    return t.groupBy("fp").agg(
        F.max_by("doc_id", ord_key).cast("bigint").alias("keep_id"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(1000000.0 * F.max_by("frac", ord_key), 0)
        .cast("bigint")
        .alias("keep_quality_u6"),
    )


@query(
    "sample_mixture_epochs",
    oracle=f"""
WITH tot AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, src_tokens,
         CAST(FLOOR(SQRT(CAST(src_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS w6
  FROM tot
),
tw AS (
  SELECT CAST(SUM(w6) AS BIGINT) AS sum_w6,
         CAST(SUM(src_tokens) AS BIGINT) AS total_tokens
  FROM w
)
SELECT source, src_tokens,
       CAST(ROUND((CAST(w6 AS DOUBLE) / sum_w6)
                  * (CAST(total_tokens AS DOUBLE) * 0.5), 0) AS BIGINT)
         AS target_tokens,
       CAST(ROUND(1000000.0 * ((CAST(w6 AS DOUBLE) / sum_w6)
                  * (CAST(total_tokens AS DOUBLE) * 0.5)) / src_tokens, 0)
            AS BIGINT) AS epochs_u6
FROM w, tw
""",
)
def q_sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source MIXTURE PLAN behind sample_temperature: for a
    half-corpus token budget split by sqrt-temperature weights, how
    many tokens each source should contribute and the implied epoch
    count (repeat factor, in micro-units — >1e6 means the source is
    seen more than once per pass, the small-source up-weighting
    regime every LLM data recipe documents). sample_temperature
    APPLIES a mixture by thresholding doc hashes; this op REPORTS the
    plan itself — the artifact a training run records as lineage.
    Same exact-arithmetic discipline (sqrt correctly rounded,
    floor-quantized micro-unit weights, integer normalizer); the
    whole op is one map-side-combined per-source aggregate + two
    |sources|-row projections — nothing but source keys ever
    shuffles, identical at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("src_tokens")
    )
    w = _sqrt_w6(tot)
    tw = w.agg(
        F.sum("w6").cast("bigint").alias("sum_w6"),
        F.sum("src_tokens").cast("bigint").alias("total_tokens"),
    )
    target = (F.col("w6").cast("double") / F.col("sum_w6")) * (
        F.col("total_tokens").cast("double") * 0.5
    )
    return w.crossJoin(F.broadcast(tw)).select(
        "source",
        "src_tokens",
        F.round(target, 0).cast("bigint").alias("target_tokens"),
        F.round(1000000.0 * target / F.col("src_tokens"), 0)
        .cast("bigint")
        .alias("epochs_u6"),
    )


@query(
    "pipeline_hybrid_retrieval",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id >= 8
),
q AS (
  SELECT DISTINCT doc_id AS query_id, unnest(({_TOKS})[1:5]) AS term
  FROM documents WHERE doc_id < 8
),
postings AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(MAX(dl) AS BIGINT) AS dl
  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM corpus)
  WHERE term IN (SELECT term FROM q)
  GROUP BY doc_id, term
),
dfs AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM postings GROUP BY term
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM corpus
),
lex_scored AS (
  SELECT query_id, doc_id,
         CAST(SUM(CAST(ROUND(
           (1000000.0
            * LN(1 + CAST(2 * (n_docs - df) + 1 AS DOUBLE)
                     / CAST(2 * df + 1 AS DOUBLE))
            * (22 * tf))
           / (10 * tf + 3 + (9 * dl) / avgdl), 0) AS BIGINT)) AS BIGINT)
           AS score_u6
  FROM postings JOIN q USING (term) JOIN dfs USING (term), stats
  GROUP BY query_id, doc_id
),
lrank AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score_u6 DESC, doc_id) AS r_lex
  FROM lex_scored QUALIFY r_lex <= 20
),
vq AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 8
),
vc AS (
  SELECT vec_id AS doc_id, embedding AS ev FROM embeddings
  WHERE vec_id >= 8
),
sims AS (
  SELECT query_id, doc_id,
         ROUND(list_sum(list_transform(list_zip(ev, qv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(ev,
                    x -> CAST(x AS DOUBLE)^2)))
                  * sqrt(list_sum(list_transform(qv,
                      x -> CAST(x AS DOUBLE)^2)))), 6) + 0.0 AS sim
  FROM vc, vq
),
vrank AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id) AS r_vec
  FROM sims QUALIFY r_vec <= 20
),
fused AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         CAST(ROUND(1000000000.0 * (
           CASE WHEN l.r_lex IS NOT NULL THEN 1.0 / (60 + l.r_lex)
                ELSE 0.0 END
           + CASE WHEN v.r_vec IS NOT NULL THEN 1.0 / (60 + v.r_vec)
                  ELSE 0.0 END), 0) AS BIGINT) AS rrf_u9
  FROM lrank l FULL OUTER JOIN vrank v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, rrf_u9
FROM (SELECT query_id, doc_id, rrf_u9,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_u9 DESC, doc_id) AS rnk
      FROM fused)
WHERE rnk <= 10
""",
)
def q_pipeline_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the fusion a production RAG stack actually
    serves: BM25 (text_bm25_retrieval's scorer) and embedding cosine
    (the reference's own vector-search modality, rank.rs:290-300) each
    produce a top-20 list per query, fused by Reciprocal Rank Fusion
    (Cormack et al., SIGIR 2009: score = sum 1/(60+rank)); top-10
    fused docs returned. Queries are docs/vectors with id < 8 (the
    synthetic tables are id-aligned). Scale: the lexical side's
    shuffle is query-term-restricted postings (the BM25 shape); the
    vector side is a broadcast of 8 query vectors across the
    embedding scan (at 100 TB you'd swap in ann_ivf's routed scan —
    same (query, doc, rank) interface, the fusion does not change);
    both rankers prune per-mapper via WindowGroupLimit; the fusion
    joins two ≤20-row-per-query lists. Float discipline: BM25 is the
    integer micro-unit scorer; cosine is ROUND 6 with doc_id
    tiebreak (the dist_cosine discipline); each RRF term is ONE
    correctly-rounded division and the pair-sum is rounded once to
    nano-units."""
    from pyspark.sql.window import Window

    from vfs_spark.functions.distance import cosine_similarity

    scored = _bm25_doc_scored(spark, sf_dir)
    wl = Window.partitionBy("query_id").orderBy(
        F.col("score_u6").desc(), F.col("doc_id").asc()
    )
    lex = (
        scored.withColumn("r_lex", F.row_number().over(wl))
        .where(F.col("r_lex") <= 20)
        .select("query_id", "doc_id", "r_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    qe = (
        load_table(spark, sf_dir, "embeddings")  # no fan-out: prunable
        .where(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    ce = emb.where(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("ev")
    )
    sims = ce.crossJoin(F.broadcast(qe)).select(
        "query_id",
        "doc_id",
        (F.round(cosine_similarity("ev", "qv"), 6) + F.lit(0.0)).alias("sim"),
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("doc_id").asc()
    )
    vec = (
        sims.withColumn("r_vec", F.row_number().over(wv))
        .where(F.col("r_vec") <= 20)
        .select("query_id", "doc_id", "r_vec")
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer")
    rrf = F.when(
        F.col("r_lex").isNotNull(), F.lit(1.0) / (F.col("r_lex") + 60)
    ).otherwise(0.0) + F.when(
        F.col("r_vec").isNotNull(), F.lit(1.0) / (F.col("r_vec") + 60)
    ).otherwise(0.0)
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_u9").desc(), F.col("doc_id").asc()
    )
    return (
        fused.select(
            "query_id",
            "doc_id",
            F.round(F.lit(1000000000.0) * rrf, 0).cast("bigint").alias(
                "rrf_u9"
            ),
        )
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("int"), "doc_id", "rrf_u9")
    )


@query("dedup_incremental_minhash")  # rows-only: band candidates are hash-family-specific
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: this batch (doc_id % 10 = 0, the same
    stand-in split as dedup_incremental) MinHash-banded against the
    accumulated history — the snapshot-over-snapshot near-dedup every
    crawl-fed pipeline runs next to the exact-fingerprint pass.
    History NEVER self-joins: candidates are new-vs-history band
    matches only, so join volume is |batch| x collision-rate even
    when history is 100 TB (operators/dedup.py:
    minhash_incremental_pairs). Exact Jaccard >= 0.3 verified on
    candidates; recall is the OR-banding guarantee, gated against
    blocked truth in tests/test_dedup.py."""
    from vfs_spark.operators.dedup import minhash_incremental_pairs

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return minhash_incremental_pairs(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        jaccard_threshold=0.3,
    )


@query("pipeline_multimodal_curation")  # rows-only: the phash stage
# (PNG/BMP decode + banded hamming) is not SQL-expressible; planted
# image-group recall is gated in tools/recallcheck.py instead
def q_pipeline_multimodal_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """⊕ Curation with IMAGES as a first-class stage (r14 VERDICT
    #7): the text gates of pipeline_curation_full (URL keep-min →
    Gopher rules → exact-fp keep-min) composed with the image
    near-dup stage of dedup_image_phash (mixed-codec BMP/PNG decode
    → 64-bit perceptual hash → AND-banded hamming pairs → connected
    components), emitting ONE keep/drop manifest over the corpus:
    (doc_id, source, keep, reason, image_dup).

    Semantics — deterministic and order-free:
    - reason is the FIRST failing stage in pipeline order
      ('url_dup' → 'quality' → 'exact_dup' → 'image_neardup' →
      'kept'); exact_dup is judged among URL/quality survivors,
      exactly as in pipeline_curation_full.
    - the image stage runs over the FULL media population (docs with
      an attached image), not just text survivors — the decontam
      discipline ('contamination over the RAW corpus scan'): a doc
      is its image-cluster's canonical representative iff it holds
      the cluster's min doc_id, so the verdict never depends on
      which cluster-mates happened to die earlier, and a canonical
      doc killed by a text gate takes its near-dup copies down with
      it (the batch keep-min semantics: refetches of dropped content
      stay dropped).
    - docs without media (doc_id ≥ SYNTH_MEDIA_DOCS) pass
      the image stage vacuously (image_dup = false).

    100 TB shape: images collapse to 8-byte phashes in the scan
    stage (pixels never shuffle); text signals are computed once in
    a slim scan and dropped of text immediately; every join below
    moves (id, key, flag) rows only; the final assembly is one
    id-keyed join of the text manifest with the (small) image
    verdicts — broadcastable whenever the media population is, an
    id-only shuffle when it is not."""
    from pyspark.sql.window import Window

    from vfs_spark.functions.text import normalize_url
    from vfs_spark.operators import multimodal
    from vfs_spark.operators.dedup import (
        connected_components,
        hamming_pairs_banded_and,
    )
    from vfs_spark.queries.similarity import SYNTH_MEDIA_DOCS, _synth_bmp_media

    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("doc_id") >= 10
    )
    toks = tokens("text")
    slim = docs.select(
        "doc_id",
        "source",
        normalize_url(_synth_url_col()).alias("u"),
        fingerprint("text").alias("fp"),
        *_gopher_metric_cols(toks),
    )
    wu = Window.partitionBy("u").orderBy("doc_id")
    # persisted (r16): flags feeds the exact-dup window AND the final
    # manifest join — without the pin the fingerprint/Gopher scan and
    # the url window re-run per consumer. Narrow (id, source, fp, 2
    # booleans) rows, the same O(n_docs) class as the other pins.
    flags = (
        slim.withColumn("url_dup", F.row_number().over(wu) > 1)
        .withColumn("quality_fail", ~_gopher_pass_cond())
        .select("doc_id", "source", "fp", "url_dup", "quality_fail")
        .persist()
    )
    wf = Window.partitionBy("fp").orderBy("doc_id")
    exact_dups = (
        flags.where(~F.col("url_dup") & ~F.col("quality_fail"))
        .withColumn("exact_dup", F.row_number().over(wf) > 1)
        .select("doc_id", "exact_dup")
    )
    # image stage: planted media population (docs 10-63 carry a
    # 32×32 image, mixed BMP/PNG codecs — see _synth_bmp_media),
    # phash in the scan stage, AND-banded hamming pairs (pigeonhole-
    # complete for the budget, exact bit_count verify), min-label
    # components; a doc is image_dup iff it is NOT its component min
    media = _synth_bmp_media(spark, sf_dir).where(F.col("media_id") >= 10)
    fps = multimodal.phash(media)
    pairs = hamming_pairs_banded_and(
        fps,
        id_col="media_id",
        hash_col="phash",
        max_hamming=10,
        out_a="media_a",
        out_b="media_b",
    )
    # node list from the docs SCAN, not from fps (r16): as_media and
    # phash are 1:1 on media_id, so the component node set equals the
    # media-population ids — reading them from the pruned parquet scan
    # avoids re-running the image synth + decode UDFs just to list ids.
    cc = connected_components(
        docs.where(F.col("doc_id") < SYNTH_MEDIA_DOCS).select("doc_id"),
        pairs.select(
            F.col("media_a").alias("src"), F.col("media_b").alias("dst")
        ),
        id_col="doc_id",
    )
    image_dups = cc.select(
        "doc_id",
        (F.col("doc_id") != F.col("cluster_id")).alias("image_dup"),
    )
    m = (
        flags.join(exact_dups, "doc_id", "left")
        .join(image_dups, "doc_id", "left")
        .withColumn("exact_dup", F.coalesce("exact_dup", F.lit(False)))
        .withColumn("image_dup", F.coalesce("image_dup", F.lit(False)))
    )
    reason = (
        F.when(F.col("url_dup"), "url_dup")
        .when(F.col("quality_fail"), "quality")
        .when(F.col("exact_dup"), "exact_dup")
        .when(F.col("image_dup"), "image_neardup")
        .otherwise("kept")
    )
    return m.select(
        "doc_id",
        "source",
        reason.alias("reason"),
        (reason == F.lit("kept")).alias("keep"),
        "image_dup",
    )
