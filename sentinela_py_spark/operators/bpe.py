"""BPE tokenizer inference: apply a ranked byte-pair-encoding merge table
to text, map-only (the tokenize step of a pretraining pipeline)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bpe_encode"]


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
