"""Seeded batch generator for the ``ingest`` workload.

Each batch holds ``BATCH_ROWS`` documents.  A share ``DUP_FRAC`` of
them are one-token edits, so they collide in the near-dup LSH: half of
the edits are of distinct fresh documents of the same batch (pairs
inside the batch), half of distinct documents already in the corpus or
in earlier batches.  The rest are fresh draws from a vocabulary large
enough that fresh documents rarely collide.  Every batch has this shape
whatever the seed, so the seed changes the tokens but not the work: with
the edits drawn at random, a batch's CPU time moved by a tenth from seed
to seed (4-core host).  The same seed gives the same corpus and batches.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

BATCH_ROWS = 200
DUP_FRAC = 0.3
CORPUS_ROWS = 200
DOC_TOKENS = 40
VOCAB = [f"tok{i}" for i in range(5000)]


class BatchStream:
    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.corpus = [self._doc() for _ in range(CORPUS_ROWS)]
        self.pool = list(self.corpus)
        self.next_id = 1_000_000
        self.n = 0

    def _doc(self) -> str:
        return " ".join(self.rng.choices(VOCAB, k=DOC_TOKENS))

    def _edit(self, doc: str) -> str:
        toks = doc.split()
        toks[self.rng.randrange(len(toks))] = self.rng.choice(VOCAB)
        return " ".join(toks)

    def corpus_rows(self) -> list[tuple[int, str]]:
        return list(enumerate(self.corpus))

    def write_next(self, in_dir: str) -> tuple[str, list[int]]:
        """Write the next batch file and return its path and doc ids."""
        dups = round(BATCH_ROWS * DUP_FRAC)
        fresh = [self._doc() for _ in range(BATCH_ROWS - dups)]
        inner = [self._edit(d) for d in fresh[:dups // 2]]
        outer = [self._edit(d) for d in self.rng.sample(self.pool, dups - dups // 2)]
        self.pool.extend(fresh)
        texts = fresh + inner + outer
        ids = list(range(self.next_id, self.next_id + BATCH_ROWS))
        self.next_id += BATCH_ROWS
        path = os.path.join(in_dir, f"b{self.n:05d}.parquet")
        tmp = os.path.join(os.path.dirname(in_dir), f".b{self.n:05d}.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": texts}), tmp)
        # the file source orders files by modification time
        t = 1_000_000_000 + self.n
        os.utime(tmp, (t, t))
        os.replace(tmp, path)
        self.n += 1
        return path, ids
