"""Seeded word-count corpus for the benchmark.

:func:`make_corpus` is a pure function of ``seed`` and writes only the
file it is given, so the same seed always yields byte-for-byte the same
corpus.  It runs before any clock starts.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

CORPUS_VOCAB = 50_000


def make_corpus(path: str, seed: int, n_words: int) -> Counter:
    """Write ``n_words`` words drawn from a Zipf distribution over
    ``CORPUS_VOCAB`` random lowercase words, twelve to a line, and return
    the exact count of every word written.  The vocabulary and its Zipf
    ranks are the same for every seed; the seed draws the words, so the
    corpus size and the skew barely differ between seeds."""
    vocab, words_per_line = CORPUS_VOCAB, 12
    vocab_rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < vocab:
        k = int(vocab_rng.integers(2, 11))
        words.add("".join(letters[vocab_rng.integers(0, 26, k)]))
    names = np.array(sorted(words))
    vocab_rng.shuffle(names)
    weights = 1.0 / np.arange(1, vocab + 1)
    idx = np.random.default_rng([seed, 2]).choice(vocab, n_words, p=weights / weights.sum())
    toks = names[idx]
    n_lines = -(-n_words // words_per_line)
    with open(path, "w") as f:
        for i in range(n_lines):
            f.write(" ".join(toks[i * words_per_line:(i + 1) * words_per_line]))
            f.write("\n")
    counts = np.bincount(idx, minlength=vocab)
    return Counter({str(names[i]): int(counts[i]) for i in np.nonzero(counts)[0]})
