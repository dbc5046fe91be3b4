"""The one word tokenizer and JVM-side word n-gram construction.

``WORD_RE`` (lowercased ``[a-z0-9]+`` runs) is the repo-wide word
definition: every Spark tokenizer goes through ``word_tokens`` and every
DuckDB oracle interpolates the same constant, so Java regex, Python ``re``
and DuckDB's RE2 split text identically.

Spark has no whole-stage-codegen n-gram expression, and the two native ways
to build sliding word windows differ by ~8x (measured at sf0.1, 250k grams,
same partition count):

  * a higher-order ``transform(sequence(...), lambda: slice/get + join)``
    is CodegenFallback — every ELEMENT of every row's index array is
    evaluated interpreted (and the surrounding CASE WHEN arm blocks
    subexpression elimination): 5.4 s
  * ``pyspark.ml.feature.NGram`` — a compiled Scala sliding-window
    transformer (``sliding(n).withPartial(false)``): 0.65 s

so gram construction goes through NGram: still zero Python in the plan, no
shuffle, one narrow projection. Edge semantics (verified): fewer than n
tokens -> empty array (withPartial(false)); a NULL token array would crash
the Scala function, so it is coalesced to empty first — downstream
``explode`` drops empty arrays exactly as it dropped the old NULL grams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

WORD_RE = "[a-z0-9]+"


def word_tokens(text: Column | str) -> Column:
    """``array<string>`` of the lowercased WORD_RE tokens of ``text``."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), 0)


def with_gram_array(df: DataFrame, tk_col: str, n: int) -> DataFrame:
    """Append ``grams``: the space-joined word n-grams of the
    ``array<string>`` column ``tk_col`` (empty array when the row has
    fewer than n tokens)."""
    from pyspark.ml.feature import NGram  # lazy: keeps import light
    safe = df.withColumn(
        tk_col, F.coalesce(F.col(tk_col), F.array().cast("array<string>")))
    return NGram(n=n, inputCol=tk_col, outputCol="grams").transform(safe)
