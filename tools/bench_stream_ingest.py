"""Per-batch cost benchmark for the streaming near-dup ingest
(streaming/dedup.stream_ingest_neardup) — VERDICT r5 stretch item:
run 10× the test's batch count and pin empirically that per-batch wall
time tracks BAND COLLISIONS, not accumulated corpus size.

Design: N batches of B docs each.  Every batch carries a controlled
near-dup fraction (docs that are 1-token edits of already-kept docs →
guaranteed LSH collisions) and fresh random docs (vocab large enough
that cross-batch collisions are rare).  Per batch the sink MinHashes
the batch and the caller's corpus, O(batch + corpus); kept rows carry
their stored signatures and are never re-hashed.  The term that grows
with batch index is the band join, which scans O(corpus + kept) band
rows every batch (the kept state is read back as (id, sig)); the tool
reports the kept count next to each batch's time so that growth can be
read against it.

Usage: python tools/bench_stream_ingest.py [n_batches] [batch_rows]
Prints one line per batch: batch id, wall seconds, kept rows so far —
and a JSON summary line.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _doc(rng: random.Random, vocab: list[str], k: int = 40) -> str:
    return " ".join(rng.choices(vocab, k=k))


def _near(text: str, rng: random.Random, vocab: list[str]) -> str:
    toks = text.split()
    i = rng.randrange(len(toks))
    toks[i] = rng.choice(vocab)
    return " ".join(toks)


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    dup_frac = 0.3

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rick_and_morty_data_pipeline_project_spark.session import get_spark
    from rick_and_morty_data_pipeline_project_spark.streaming.dedup import (
        stream_ingest_neardup,
    )

    spark = get_spark(app_name="bench-stream-ingest")
    spark.sparkContext.setLogLevel("ERROR")

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(5000)]

    work = "/tmp/bench_stream_ingest"
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "incoming")
    out_dir = os.path.join(work, "curated")
    os.makedirs(in_dir)

    corpus_texts = [_doc(rng, vocab) for _ in range(200)]
    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), ["doc_id", "text"]
    )

    kept_pool = list(corpus_texts)  # source for guaranteed near-dups
    next_id = 1_000
    per_batch: list[dict] = []

    for b in range(n_batches):
        ids, texts = [], []
        for _ in range(batch_rows):
            if rng.random() < dup_frac and kept_pool:
                texts.append(_near(rng.choice(kept_pool), rng, vocab))
            else:
                fresh = _doc(rng, vocab)
                texts.append(fresh)
                kept_pool.append(fresh)
            ids.append(next_id)
            next_id += 1
        pq.write_table(
            pa.table({"doc_id": ids, "text": texts}),
            os.path.join(in_dir, f"b{b:04d}.parquet"),
        )
        # distinct mtimes: FileStreamSource orders by modification time
        t = time.time() - (n_batches - b) * 10
        os.utime(os.path.join(in_dir, f"b{b:04d}.parquet"), (t, t))

        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        t0 = time.time()
        q = stream_ingest_neardup(
            stream, corpus, out_dir, os.path.join(work, "ckpt")
        )
        q.awaitTermination()
        wall = time.time() - t0
        kept = spark.read.parquet(out_dir).count()
        per_batch.append({"batch": b, "sec": round(wall, 3), "kept": kept})
        print(f"batch {b:3d}  {wall:6.2f} s  kept={kept}", flush=True)

    secs = [r["sec"] for r in per_batch]
    if len(secs) < 2:
        print(json.dumps({"metric": "stream_ingest_neardup_per_batch",
                          "per_batch": per_batch,
                          "note": "need >=2 batches for growth stats"}))
        return 0
    half = len(secs) // 2
    summary = {
        "metric": "stream_ingest_neardup_per_batch",
        "n_batches": n_batches,
        "batch_rows": batch_rows,
        "dup_frac": dup_frac,
        "first_half_mean_sec": round(sum(secs[:half]) / half, 3),
        "second_half_mean_sec": round(sum(secs[half:]) / (len(secs) - half), 3),
        "growth_ratio": round(
            (sum(secs[half:]) / (len(secs) - half))
            / (sum(secs[:half]) / half),
            3,
        ),
        "kept_final": per_batch[-1]["kept"],
        "per_batch": per_batch,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
