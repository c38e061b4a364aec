"""Seeded synthetic ``documents`` table for the dedup operators.

Same schema as the repository's ``documents`` test table
(``doc_id int64, text string, lang string, source string, n_chars
int64``).  A share ``dup_share`` of the documents copies an earlier one:
half of those verbatim (exact duplicates), half with a few words
replaced (near duplicates, which minhash and simhash may pair).

Everything is a pure function of the arguments: the same seed gives the
same rows.
"""

from __future__ import annotations

import random

VOCAB_SIZE = 2000
SOURCES = ["crawl", "forum", "wiki", "news"]


def _vocab(rng: random.Random) -> list[str]:
    """Words of 3 to 9 random letters, so that unrelated documents share
    few character 3-grams and the minhash candidates are mostly the
    duplicates."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
            for _ in range(VOCAB_SIZE)]


def documents(seed: int, n_docs: int, dup_share: float) -> list[dict]:
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < dup_share:
            words = rng.choice(texts).split()
            if rng.random() < 0.5:  # near duplicate: a few words replaced
                for _ in range(rng.randint(1, 3)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(20, 80))))
    return [
        {"doc_id": i, "text": t, "lang": "en", "source": SOURCES[i % len(SOURCES)],
         "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]


def write_documents(path: str, seed: int, n_docs: int, dup_share: float) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = documents(seed, n_docs, dup_share)
    pq.write_table(pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
        "source": [r["source"] for r in rows],
        "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
    }), path)
