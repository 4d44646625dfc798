"""Distributed BPE merge learning vs a pure-Python reference."""

from collections import Counter

from linkgraph.pipeline.bpe import learn_bpe_merges, word_freq


def _ref_bpe(word_counts: dict[str, int], n_merges: int, min_pair: int = 2):
    """Sennrich'16 reference: greedy left-to-right merge on word shapes."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # tiebreak: count desc, then lexicographic (a, b)
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair:
            break
        merges.append((a, b, n))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges, vocab


TEXTS = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new"),
    (2, "wide wider widest new low"),
    (3, "low new low new"),
]


def test_word_freq(spark):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = {r.word: r.cnt for r in word_freq(docs).collect()}
    exp = Counter(w for _, t in TEXTS for w in t.split(" "))
    assert got == dict(exp)


def test_learn_bpe_merges_matches_reference(spark):
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    wc = Counter(w for _, t in TEXTS for w in t.split(" "))
    exp_merges, _ = _ref_bpe(dict(wc), 8)
    got = learn_bpe_merges(docs, 8)
    assert got == exp_merges


def test_early_stop_below_min_pair_count(spark):
    docs = spark.createDataFrame([(0, "ab cd ef")], "doc_id long, text string")
    # every adjacent pair occurs once — below the min_pair_count=2 floor
    assert learn_bpe_merges(docs, 4) == []


def test_learn_bpe_merges_matches_reference_16(spark):
    """r4 VERDICT task 8: parity with the Sennrich reference at 2x the
    prior merge count — exercises deeper serial merge rounds (ties,
    early-stop interplay) without inflating test wall time."""
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    wc = Counter(w for _, t in TEXTS for w in t.split(" "))
    exp_merges, _ = _ref_bpe(dict(wc), 16)
    got = learn_bpe_merges(docs, 16)
    assert got == exp_merges
