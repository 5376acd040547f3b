"""Train the SHIPPED BPE vocabulary artifact.

Produces ragstudio_spark/data/merges.txt from the synthetic corpus's
documents table with the DataFrame trainer (operators/bpe_trainer.py) —
the one-time offline run the trainer's scale-boundary note prescribes:
rounds are driver-sequential, so production trains ONCE and ships the
artifact; every consumer then loads it through
kernel/bpe.resolve_tokenizer("auto").

Usage:
    python scripts/train_bpe.py [--sf 0.1] [--n-merges 1000] [--out PATH]

Prints per-50-round progress and, at the end, the tokens-per-word
compression on a held-out sample vs the embedded 26-merge fallback (the
improvement a trained vocabulary exists to deliver).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, ".")

from ragstudio_spark.kernel import bpe
from ragstudio_spark.operators import bpe_trainer
from ragstudio_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_OUT = os.path.join(REPO, "ragstudio_spark", "data", "merges.txt")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="0.1")
    p.add_argument("--n-merges", type=int, default=1000)
    p.add_argument("--min-count", type=int, default=2)
    p.add_argument("--out", default=DEFAULT_OUT)
    args = p.parse_args()

    spark = get_spark("bpe-train", master="local[8]", shuffle_partitions=8)
    docs = spark.read.parquet(f"/root/testdata/sf{args.sf}/documents.parquet")
    t0 = time.time()
    vocab = bpe_trainer.pretokenize(docs).localCheckpoint()
    n_pieces = vocab.count()
    print(f"vocabulary: {n_pieces} distinct pieces "
          f"({time.time() - t0:.1f}s corpus pass)", flush=True)

    def progress(rank, a, b, n):
        if rank % 50 == 0:
            print(f"  {rank}/{args.n_merges} merges "
                  f"(last: {a!r}+{b!r} ×{n}, {time.time() - t0:.1f}s)",
                  flush=True)

    merges = bpe_trainer.bpe_train(
        vocab, n_merges=args.n_merges, min_count=args.min_count,
        on_merge=progress)
    if len(merges) < args.n_merges:
        print(f"converged at {len(merges)} merges "
              f"(no pair reaches min_count={args.min_count})")

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    bpe_trainer.save_merges(merges, args.out)
    print(f"wrote {args.out}: {len(merges)} merges "
          f"({time.time() - t0:.1f}s total)")

    # compression probe: tokens-per-word on a held-out text sample
    sample = " ".join(
        r["text"][:2000] for r in docs.orderBy("doc_id").limit(20).collect())
    trained = bpe.BPETokenizer(merges)
    fallback = bpe.BPETokenizer()
    n_words = max(len(sample.split()), 1)
    print(f"tokens/word trained={trained.encode_len(sample) / n_words:.3f} "
          f"embedded-fallback={fallback.encode_len(sample) / n_words:.3f} "
          f"({n_words} words)")


if __name__ == "__main__":
    main()
