"""Seeded inputs for the benchmark workloads.

:func:`make_corpus` writes a newline-delimited text file whose words
follow a Zipf(1.2) law over a fixed-size vocabulary, the input of the
reference map/reduce job; it is deterministic in ``seed``. (The query
workload reads the committed test-fixture tables in ``fixture/``.)

:func:`cached` keeps generated inputs under a directory keyed by
(kind, seed, size), so a second run with the same seed reuses them.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

import numpy as np

VOCAB_SIZE = 200_000
ZIPF_S = 1.2
WORDS_PER_LINE = 12


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words: a random prefix of 1-5 letters
    plus the word's index as a fixed-width base-26 number, so the suffix,
    and with it the word, is unique. The prefix length follows the index,
    not the seed, so every seed's corpus has the same word lengths by
    rank and with them the same size in words and bytes."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    prefix = letters[rng.integers(0, 26, (size, 5))]
    prefix_len = 1 + np.arange(size) % 5
    width = 1
    while 26**width < size:
        width += 1
    digits = np.empty((size, width), dtype=np.uint8)
    rest = np.arange(size)
    for col in range(width - 1, -1, -1):
        digits[:, col] = letters[rest % 26]
        rest //= 26
    return np.array(
        [(p[:n].tobytes() + d.tobytes()).decode() for p, n, d in zip(prefix, prefix_len, digits)],
        dtype=object,
    )


def make_corpus(path: str, seed: int, size_mb: float) -> None:
    """Write about ``size_mb`` MB of text, ``WORDS_PER_LINE`` words a line,
    word ranks drawn from Zipf(``ZIPF_S``) truncated to ``VOCAB_SIZE``."""
    rng = np.random.default_rng([seed, int(size_mb * 1000)])
    vocab = _vocabulary(rng, VOCAB_SIZE)
    weights = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(weights / weights.sum())
    mean_len = float((np.vectorize(len)(vocab) * (weights / weights.sum())).sum())
    n_words = int(size_mb * 1_000_000 / (mean_len + 1))
    n_words -= n_words % WORDS_PER_LINE
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n_words)), VOCAB_SIZE - 1)
    rows = vocab[ranks].reshape(-1, WORDS_PER_LINE)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for start in range(0, len(rows), 50_000):
            block = rows[start : start + 50_000]
            fh.write("\n".join(" ".join(r) for r in block))
            fh.write("\n")
    os.replace(tmp, path)


def cached(cache_dir: str, key: str, build: Callable[[str], None]) -> str:
    """Return ``<cache_dir>/<key>``, building it with ``build(dir)`` first
    if absent. The directory appears only once complete."""
    final = os.path.join(cache_dir, key)
    if not os.path.isdir(final):
        os.makedirs(cache_dir, exist_ok=True)
        scratch = f"{final}.building-{os.getpid()}"
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        build(scratch)
        os.rename(scratch, final)
    return final
