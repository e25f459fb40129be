"""BPE training/encoding vs a pure-Python reference implementation
(same algorithm run in plain dicts — the oracle SQL cannot express an
iterative argmax chain, so the reference IS the correctness gate)."""

from collections import Counter

import pytest

from vfs_spark.operators.bpe import EOW, bpe_encode, bpe_train


def _ref_bpe(word_counts: dict[str, int], n_merges: int, min_pair: int = 2):
    vocab = {tuple(list(w) + [EOW]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # ties: count DESC then (left, right) ASC — the operator's rule
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_pair:
            break
        merges.append((a, b, c))
        new_vocab = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    return merges


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (1, "low low low low low"),
        (2, "lower lower newest newest"),
        (3, "newest newest newest newest"),
        (4, "widest widest widest"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_train_matches_reference(spark, tiny_docs):
    words = Counter()
    for _, t in tiny_docs.collect():
        words.update(t.split())
    want = _ref_bpe(dict(words), n_merges=12)
    got = bpe_train(tiny_docs, n_merges=12)
    assert got == want
    # the classic result: 'est'-family merges dominate this corpus
    assert len(got) >= 8


def test_bpe_encode_greedy_and_lossless(spark, tiny_docs):
    merges = bpe_train(tiny_docs, n_merges=12)
    enc = {r["doc_id"]: r["bpe_tokens"]
           for r in bpe_encode(tiny_docs, merges).collect()}
    for did, text in tiny_docs.collect():
        toks = enc[did]
        # lossless: concatenating tokens and splitting on the EOW
        # marker reconstructs the original words
        joined = "".join(toks)
        assert joined == "".join(w + EOW for w in text.split())
        # trained units actually fire: fewer symbols than characters
        assert len(toks) < sum(len(w) + 1 for w in text.split())


def test_bpe_driver_dispatch_matches_distributed(spark, tiny_docs, monkeypatch):
    """The r16 driver-side merge loop (vocab under the size guard)
    must be merge-for-merge identical to the distributed iteration —
    same argmax tie-break, same left-to-right fold, same early stop."""
    from vfs_spark import dispatch

    fast = bpe_train(tiny_docs, n_merges=12)          # driver path
    monkeypatch.setitem(dispatch.DRIVER_MAX, "bpe_types", 0)
    slow = bpe_train(tiny_docs, n_merges=12)          # distributed path
    assert fast == slow


def test_bpe_merge_no_overlap(spark):
    """'aaaa' with merge (a,a) must fold to [aa, aa, EOW]-style
    non-overlapping units, matching the reference exactly."""
    docs = spark.createDataFrame([(1, "aaaa aaaa aaaa")], "doc_id long, text string")
    got = bpe_train(docs, n_merges=3)
    want = _ref_bpe({"aaaa": 3}, n_merges=3)
    assert got == want
