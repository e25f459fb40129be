"""Byte-pair-encoding vocabulary training (Sennrich et al. 2016,
arXiv:1508.07909) — learn merge rules FROM the corpus, the tokenizer-
construction step of every LLM pretraining pipeline (queries/text.py's
``text_token_bpe`` applies a fixed regex; this learns the vocab).

Scale design — the part that matters at 100 TB: BPE statistics live on
the WORD-TYPE table (distinct words + occurrence counts), not the
corpus. One corpus pass builds (word, count) — a map-side-combined
aggregate shuffling only distinct words — and every one of the
n_merges iterations then runs over |vocab| rows (10⁴-10⁶ types
regardless of corpus size; Heaps' law keeps it sublinear). Each round
is: adjacent-pair count (weighted by word count, map-side combined) →
argmax (1 collected row — inherent to BPE's sequential dependency;
reference trainers pay the same n_merges sync points) → merge applied
with a left-to-right fold, layout pinned by an eager localCheckpoint
so the O(n_merges) lineage never re-executes.

The merge fold is a Catalyst ``aggregate`` HOF — interpreted per
element, but over |vocab|·|word| symbols per round, not the corpus;
at 10⁵ types that is ~10⁶ steps/round (the interpreted-HOF tax
documented in SCALE.md is paid where it is O(vocab), not O(corpus)).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vfs_spark.dispatch import DRIVER_MAX, collect_under

EOW = "▁"  # end-of-word marker (SentencePiece-style block char)


def _bpe_train_driver(
    wt: DataFrame, n_merges: int, min_pair_count: int
) -> list[tuple[str, str, int]] | None:
    """Pure-Python BPE merge loop over a guard-sized word-type table;
    None above the guard. The merge loop is inherently sequential
    (each round's input is the previous argmax), so the distributed
    form pays n_merges × ~3 blocking jobs of per-job floor over a
    |vocab|-row table. Byte-for-byte the distributed algorithm:
    pair counts are exact integer sums weighted by word count, the
    argmax tie-breaks on (count DESC, left, right) — Python's
    code-point string order equals Spark's UTF8String binary order
    because UTF-8 byte order preserves code-point order — and the
    merge is the same left-to-right non-overlapping fold."""
    probe = collect_under(wt, DRIVER_MAX["bpe_types"])
    if probe is None:
        return None
    syms: list[tuple[list[str], int]] = [
        (list(w) + [EOW], int(c)) for w, c in zip(probe["word"], probe["cnt"])
    ]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s, c in syms:
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_pair_count:
            break
        merges.append((a, b, int(c)))
        ab = a + b
        nxt: list[tuple[list[str], int]] = []
        for s, cnt in syms:
            out: list[str] = []
            for sym in s:
                if out and out[-1] == a and sym == b:
                    out[-1] = ab
                else:
                    out.append(sym)
            nxt.append((out, cnt))
        syms = nxt
    return merges


def word_type_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass: whitespace words → (word, count). The only
    stage that ever sees the corpus."""
    from vfs_spark.functions.text import tokens

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_expr(a: str, b: str) -> str:
    """Left-to-right non-overlapping merge of adjacent (a, b) into
    a||b via a fold — 'aaa' + (a,a) yields [aa, a], never [aa, aa].
    Symbols are corpus-derived, so backslashes must be escaped BEFORE
    quotes or a trailing '\\' escapes the literal's closing quote."""

    def _q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    qa, qb = _q(a), _q(b)
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, s) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{qa}' "
        f"     AND s = '{qb}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')) "
        "ELSE concat(acc, array(s)) END)"
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 30,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules; returns
    [(left, right, pair_count), ...] in merge order. Deterministic:
    ties break on (count DESC, left, right). Stops early when the best
    remaining pair falls under ``min_pair_count``."""
    wt = word_type_table(docs, text_col)
    cheap = _bpe_train_driver(wt, n_merges, min_pair_count)
    if cheap is not None:
        return cheap
    syms = wt.select(
        "cnt",
        F.expr(
            f"concat(transform(split(word, ''), c -> c), array('{EOW}'))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # fully-merged single-symbol words have no pairs; filtering
        # here (not a CASE) is safe because the guard is ON the same
        # column the expression reads — and sequence(1, 0) would
        # DESCEND into element_at(syms, 0), an ANSI error
        pairs = (
            syms.where(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), i -> "
                        "struct(element_at(syms, i) AS a, "
                        "element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not top or top[0]["c"] < min_pair_count:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((a, b, c))
        syms = syms.select(
            "cnt", F.expr(_merge_expr(a, b)).alias("syms")
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merges to tokenize text — an Arrow kernel (the
    per-document merge loop is data-dependent sequential work; one
    batched kernel beats n_merges chained Catalyst folds over the
    CORPUS, which is exactly where the HOF tax must not be paid).
    Same greedy lowest-rank-first strategy as reference BPE encoders."""
    from pyspark.sql.functions import pandas_udf

    rank = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    def _enc_word(word: str) -> list[str]:
        s = list(word) + [EOW]
        while len(s) > 1:
            best, bi = None, -1
            for i in range(len(s) - 1):
                r = rank.get((s[i], s[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            s = s[:bi] + [s[bi] + s[bi + 1]] + s[bi + 2 :]
        return s

    @pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}
        out = []
        for t in texts:
            toks: list[str] = []
            # match word_type_table's tokenizer exactly: Spark trim()
            # strips SPACES only, so Python must use .strip(' ') — a
            # bare .strip() would drop '\n' etc. and desync encode
            # from the trained word-type statistics
            for w in (t or "").lower().strip(" ").split(" "):
                if not w:
                    continue
                if w not in memo:
                    memo[w] = _enc_word(w)
                toks.extend(memo[w])
            out.append(toks)
        return pd.Series(out)

    return docs.select(id_col, _enc(F.col(text_col)).alias(out_col))
