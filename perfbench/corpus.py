"""Seeded synthetic inputs: a document corpus and the query streams.

Everything here is a pure function of the seed, so the same seed gives the
same corpus and the same queries. The library only ever sees the generated
rows, never the seed.

Documents draw their tokens from a Zipf-shaped vocabulary of syllable
words, so a few terms are very common (long postings lists) and most are
rare, as in natural text.
"""

from __future__ import annotations

import itertools
import random

SYLLABLES = (
    "ka lo mi ne su ta ri po ve da gu ze fa bo chi xu".split()
)
VOCAB_TARGET = 6000
ZIPF_EXPONENT = 1.05
DOC_TOKENS = (8, 60)
SOURCES = 7
GOLDEN_QUERY_TOKENS = 5


class Corpus:
    """The documents of one seed plus the vocabulary they were drawn from."""

    def __init__(self, seed: int, n_docs: int) -> None:
        rng = random.Random(f"corpus:{seed}")
        words = {
            "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(1, 4)))
            for _ in range(VOCAB_TARGET)
        }
        self.vocab = sorted(words)
        rng.shuffle(self.vocab)
        self._cum = list(
            itertools.accumulate(
                1.0 / (i + 1) ** ZIPF_EXPONENT for i in range(len(self.vocab))
            )
        )
        self.docs = [
            (i, self._text(rng), f"src{i % SOURCES}") for i in range(n_docs)
        ]

    def _text(self, rng: random.Random) -> str:
        n = rng.randint(*DOC_TOKENS)
        return " ".join(rng.choices(self.vocab, cum_weights=self._cum, k=n))

    def raw_bytes(self) -> int:
        """UTF-8 bytes of the user-visible document fields."""
        return sum(
            len(str(d).encode()) + len(t.encode()) + len(s.encode())
            for d, t, s in self.docs
        )

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids, texts, sources = zip(*self.docs)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array(texts, pa.string()),
                    "source": pa.array(sources, pa.string()),
                }
            ),
            path,
        )

    def free_text_queries(self, seed: int, n: int) -> list[str]:
        """Ad-hoc user queries: 2-4 terms, weighted like the documents,
        so most queries match something and some match a lot."""
        rng = random.Random(f"queries:{seed}")
        return [
            " ".join(
                rng.choices(self.vocab, cum_weights=self._cum, k=rng.randint(2, 4))
            )
            for _ in range(n)
        ]

    def golden_set(self, seed: int, n: int) -> list[tuple[int, str]]:
        """(query_id, query) pairs whose relevant document is the doc the
        query was cut from: its first GOLDEN_QUERY_TOKENS tokens. The
        query_id IS the relevant doc_id."""
        rng = random.Random(f"golden:{seed}")
        picks = rng.sample(self.docs, min(n, len(self.docs)))
        return [
            (d, " ".join(t.split()[:GOLDEN_QUERY_TOKENS]))
            for d, t, _ in sorted(picks)
        ]
