"""BPE merge-table TRAINER — deterministic, DataFrame-side.

Closes the "real tokenizer vocabulary" gap the same way ml_trainer.py made
ml_strategy.py honest: kernel/bpe.py *consumes* a merges table (the
tiktoken contract of the reference's token path,
/root/reference/src/core/chunk/langchain_chunker.py:156-161); this module
*produces* one from a corpus, with no dependency — classic byte-pair-
encoding training (Sennrich et al. 2016, public algorithm) shaped for
Spark:

    corpus ──(one groupBy)──▶ (piece, cnt) vocabulary
    per merge round over the VOCABULARY only:
        explode adjacent symbol pairs weighted by piece count
        ──▶ one groupBy(pair) agg ──▶ driver takes THE top pair
        ──▶ JVM fold rewrites each piece's symbol array
        ──▶ localCheckpoint (vocab is tiny; lineage must not grow)

Why this shape at 100 TB: the corpus is scanned exactly once (the
pretokenize groupBy); every training round touches only the distinct-
piece vocabulary (≤ millions of rows at web scale — Zipf), so 50 merge
rounds are 50 tiny jobs, not 50 corpus scans. The driver holds one
(pair, count) row per round.

Scale boundary, stated plainly: merge rounds are DRIVER-SEQUENTIAL by
construction — exact BPE is inherently iterative (merge r+1's counts
depend on merge r having been applied), so ``bpe_train`` issues one tiny
Spark job per round (a pair-count aggregate over the vocabulary plus a
localCheckpoint; the corpus itself is never re-touched). Each round is
vocab-sized, not data-sized, but a production 32k-merge vocabulary means
~64k sequential driver jobs — hours of scheduler latency regardless of
cluster size. The production pattern is therefore: train ONCE (offline,
modest n_merges budget or a dedicated run), ``save_merges`` the
artifact, and ship merges.txt to every consumer via ``bpe_merges_path``
— exactly how ragstudio_spark/data/merges.txt was produced.

Determinism: the winning pair is argmax by (count DESC, a ASC, b ASC) —
independent of row order and partitioning (tested). The merge fold is
greedy left-to-right, provably identical to kernel/bpe.py's merge loop:
after merging (a,b)→ab the fold's last element becomes "ab" which can
never equal `a` again (b is non-empty), so the fold's no-remerge behavior
matches the loop's i += 2 skip exactly — trained merges drop straight
into ``BPETokenizer`` / ``tokenizer_from`` / the fused path's
``bpe_merges_path``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: kernel/bpe.py's pre-tokenizer (GPT-2-style, public pattern) in Java
#: regex form: (?U) lifts \w to Unicode word characters, matching Python
#: `re`'s default — parity pinned by tests on accented/mixed fixtures.
PRETOKEN_JAVA = r"(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\w+| ?[^\s\w]+|\s+"


def pretokenize(df: DataFrame) -> DataFrame:
    """(piece, cnt) vocabulary — the single corpus-wide pass. One explode
    + one groupBy; everything downstream runs on this (small) frame.
    ``df`` carries ``text``."""
    return (
        df.select(F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(PRETOKEN_JAVA),
                                 F.lit(0))).alias("piece"))
        .groupBy("piece")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def _chars(piece: Column) -> Column:
    """Character symbol array (split('', …) yields no empty strings for
    non-empty input, but filter defensively — an empty symbol would make
    merges unsound)."""
    return F.filter(F.split(piece, ""), lambda c: c != F.lit(""))


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(a, b, n): adjacent-pair totals weighted by piece count — the
    per-round aggregate. Overlapping pairs both count ("aaa" contributes
    (a,a) twice), the standard BPE counting rule. One explode, one
    shuffle on the pair key.
    ``vocab`` carries ``symbols`` (array<string>) and ``cnt``."""
    sym = F.col("symbols")
    pairs = F.zip_with(
        sym, F.slice(sym, 2, F.greatest(F.size(sym), F.lit(1))),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")))
    return (
        vocab.select(F.explode(pairs).alias("p"), F.col("cnt"))
        .filter(F.col("p.b").isNotNull())
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").cast("bigint").alias("n"))
    )


def _apply_merge(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) — one fold, no
    Python. Equivalence with kernel/bpe.py's loop argued in the module
    docstring."""
    return F.aggregate(
        symbols,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(pieces: DataFrame, n_merges: int = 50, min_count: int = 2,
              on_merge=None) -> list[tuple[str, str]]:
    """Train up to ``n_merges`` merges from a (``piece``, ``cnt``) vocabulary;
    stops early when no pair reaches ``min_count``. Returns the ordered
    merge list (rank = position), ready for ``save_merges`` /
    ``BPETokenizer``. ``on_merge(rank, a, b, count)`` is called after
    each accepted merge (progress reporting on long offline runs)."""
    vocab = pieces.select(
        _chars(F.col("piece")).alias("symbols"),
        F.col("cnt").cast("bigint").alias("cnt"),
    ).filter(F.size("symbols") >= 2).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (pair_counts(vocab)
               .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top or top[0]["n"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        if on_merge is not None:
            on_merge(len(merges), a, b, top[0]["n"])
        vocab = vocab.select(
            _apply_merge(F.col("symbols"), a, b).alias("symbols"), "cnt"
        ).filter(F.size("symbols") >= 2).localCheckpoint()
    return merges


def train_from_corpus(df: DataFrame, n_merges: int = 50,
                      min_count: int = 2) -> list[tuple[str, str]]:
    """corpus → merges, end to end (pretokenize + bpe_train).
    ``df`` carries ``text``."""
    return bpe_train(pretokenize(df), n_merges=n_merges,
                     min_count=min_count)


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Standard merges.txt (the format kernel/bpe.py:load_merges reads):
    '#version' header then one space-separated pair per line, rank =
    line order. Whitespace-bearing tokens (space-prefixed pieces are the
    COMMON case under the GPT-2-style pre-tokenizer) are serialized with
    ``escape_merge_token`` (backslash-doubling + ``\\uXXXX`` for
    whitespace) so the line format round-trips exactly —
    load(save(merges)) == merges for every trainable token."""
    from ragstudio_spark.kernel.bpe import escape_merge_token

    with open(path, "w", encoding="utf-8") as f:
        f.write("#version: ragstudio_spark bpe_trainer\n")
        for a, b in merges:
            f.write(f"{escape_merge_token(a)} {escape_merge_token(b)}\n")
