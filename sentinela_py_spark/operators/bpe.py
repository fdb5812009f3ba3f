"""Distributed BPE tokenizer training (byte-pair-encoding merge learning).

The tokenizer-training step of a pretraining pipeline, Spark-first:

- ONE corpus-sized pass builds the word-frequency table; every merge
  iteration after that runs on |vocab| rows (the classic Sennrich BPE
  formulation trains on word counts, not the raw corpus) — at 100 TB the
  corpus is touched once and 50k merges iterate over a few million vocab
  rows.
- Per iteration: adjacent symbol pairs explode from the vocab's symbol
  arrays (slice+zip_with — no per-element indexing), a count aggregation
  finds the most frequent pair (ties broken lexicographically so training
  is deterministic across partitionings and engines), and the merge is
  applied to every word with a PURE COLUMN FOLD — a left-to-right
  ``aggregate`` carrying (emitted, pending) state that implements the
  leftmost-greedy non-overlapping merge rule without any Python UDF.
- Only the single best (pair, count) row crosses to the driver per
  iteration; ``localCheckpoint`` truncates the growing lineage so the
  plan stays O(1) per merge, the same discipline as connected_components.

Output: the ranked merge table (the tokenizer artifact) and the final
vocab segmentation (word → subword symbols), whose join against a corpus
IS the subword encoding of every in-vocab word.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sentinela_py_spark.barrier import barrier_eager

__all__ = ["bpe_train", "apply_merge", "bpe_encode"]


def apply_merge(syms: Column, a: str, b: str) -> Column:
    """Replace every leftmost non-overlapping adjacent (a, b) in a symbol
    array with the merged symbol a+b — a single left-to-right fold whose
    accumulator carries the emitted prefix plus one pending symbol."""
    merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc: Column, s: Column) -> Column:
        return F.when(
            (acc["carry"] == a) & (s == F.lit(b)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("carry"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["carry"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["carry"])))
                .alias("out"),
                s.alias("carry"),
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        )

    return F.aggregate(syms, init, step, finish)


def bpe_train(
    documents: DataFrame,
    n_merges: int,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, vocab)``: ``merges`` is the ranked merge table
    [(rank, left, right, pair_count), ...] — the tokenizer artifact — and
    ``vocab`` is a DataFrame (word, n, syms) holding the final subword
    segmentation of every corpus word. Training stops early when no pair
    occurs at least twice. Deterministic: the winning pair is chosen by
    (count DESC, left ASC, right ASC)."""
    spark = documents.sparkSession
    vocab = (
        documents.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select("word", "n", F.split("word", "").alias("syms"))
        .transform(barrier_eager)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        sz = F.size("syms")
        pairs = vocab.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.greatest(sz - 1, F.lit(0))),
                    F.slice("syms", 2, F.greatest(sz - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
            "n",
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < 2:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        vocab = vocab.select(
            "word", "n", apply_merge(F.col("syms"), a, b).alias("syms")
        ).transform(barrier_eager)
    return merges, vocab


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge table to arbitrary text — the MAP-ONLY
    inference path a pipeline runs corpus-wide after training. Each word
    starts as characters and replays the merges in rank order (leftmost-
    greedy, the training rule), so in-vocab words reproduce the trained
    segmentation exactly and unseen words degrade gracefully to the
    subwords their pairs support.

    This is an Arrow pandas UDF by design: the per-word merge replay is a
    data-dependent loop no Column fold expresses for an UNBOUNDED merge
    table (training applies ONE merge per pass; encode applies thousands),
    and the broadcast merge list is exactly the model-in-UDF pattern the
    NER adapter uses. Cost is rows × merge hits, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    ranked = [(a, b) for (_, a, b, _) in sorted(merges)]

    def _encode(texts):  # pd.Series -> pd.Series (hints omitted: pandas is
        # imported lazily, so string annotations would not resolve)
        def enc_word(word: str) -> list[str]:
            syms = list(word)
            for a, b in ranked:
                if len(syms) < 2:
                    break
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        return texts.map(
            lambda t: [s for w in (t or "").split(" ") if w for s in enc_word(w)]
        )

    encode = pandas_udf(_encode, "array<string>")
    return df.withColumn(out_col, encode(F.col(text_col)))
