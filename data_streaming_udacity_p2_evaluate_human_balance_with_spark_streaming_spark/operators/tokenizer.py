"""BPE tokenizer training as an iterative Spark job.

`bpe_pair_merge_counts` (plans/warehouse.py) is one round's statistic;
this module runs the actual merge LOOP: count adjacent symbol pairs on
the word-frequency dictionary, pick the argmax, rewrite every word's
symbol sequence, repeat. The classic trick keeps it cheap at 100 TB:
after the initial word-count shuffle, every round touches only the
DISTINCT-WORD dictionary (vocab ≪ corpus), and the only driver traffic
is ONE (pair, count) row per round — the same legitimate-scalar budget
as connected_components' convergence check.

Iterative contract mirrors operators.dedup.connected_components:
localCheckpoint per round (the next round reads the rewritten symbols
twice — pair counting and the rewrite itself — so an un-truncated plan
doubles per round), eager release of the superseded frontier.

The reference has no tokenizer surface (north-star extension,
BASELINE.json). No DuckDB oracle — the loop is driver-controlled like
the recursive CTE variants — so certification is a hand-computable
corpus in tests/test_models.py (known merge sequence, known final
vocabulary), plus the single-round statistic's oracle in
plans/warehouse.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graphs import _free


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (a, b)
    with the merged symbol a+b, as a pure Column fold — symbols are
    passed through `F.lit`, never spliced into SQL text, so arbitrary
    corpus characters (quotes, backslashes) are safe."""
    merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(st: Column, x: Column) -> Column:
        return (
            F.when(
                st["prev"].isNull(),
                F.struct(st["out"].alias("out"), x.alias("prev")),
            )
            .when(
                (st["prev"] == F.lit(a)) & (x == F.lit(b)),
                F.struct(
                    F.concat(st["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("prev"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(st["out"], F.array(st["prev"])).alias("out"),
                    x.alias("prev"),
                )
            )
        )

    def finish(st: Column) -> Column:
        return F.when(st["prev"].isNull(), st["out"]).otherwise(
            F.concat(st["out"], F.array(st["prev"]))
        )

    return F.aggregate(syms, init, step, finish)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train `n_merges` BPE merges on the corpus; returns the ordered
    merge list and the final (symbol, count) vocabulary DataFrame.

    Round structure: pair counts come from a vocab-bounded explode
    (transform over the already-split symbol attribute — never re-split
    inside a lambda), the argmax is a deterministic (count DESC, pair
    ASC) orderBy(...).limit(1) — TakeOrdered, one row to the driver —
    and the rewrite is the `_merge_pair` fold over the dictionary.
    Stops early when no adjacent pair remains."""
    words = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .select(F.expr("split(w, '')").alias("syms"), "wf")
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # guard size >= 2 BEFORE the transform: Spark's sequence(1, 0)
        # is DESCENDING [1, 0] (NOTES rule), so a 1-symbol word would
        # fabricate a pair from a negative index instead of exploding
        # to nothing
        pairs = words.filter(F.size("syms") >= 2).select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i - 1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("wf").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        new_words = words.select(
            _merge_pair(F.col("syms"), a, b).alias("syms"), "wf"
        ).localCheckpoint()
        _free(words)
        words = new_words
    vocab = (
        words.select(F.explode("syms").alias("symbol"), "wf")
        .groupBy("symbol")
        .agg(F.sum("wf").alias("count"))
    )
    return merges, vocab


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
) -> DataFrame:
    """Apply a trained merge list to the corpus: every word is split to
    characters, then each merge rewrites adjacent pairs IN TRAINING
    ORDER (the BPE encoding rule). The merges chain into one nested
    Column expression per word — no driver loop at encode time, no
    Python in the row path — so encoding is a single narrow projection
    at any corpus size. Token count per doc is `size(flatten(...))`.
    """
    word_syms = F.expr(f"transform(split({text_col}, ' '), w -> split(w, ''))")

    def encode_word(syms: Column) -> Column:
        for a, b in merges:
            syms = _merge_pair(syms, a, b)
        return syms

    # transform over words with the merge chain applied via a Python
    # closure is not possible inside `transform`'s lambda (it takes a
    # Column function) — but _merge_pair IS a Column function, so the
    # chain composes directly.
    toks = F.flatten(
        F.transform(word_syms, lambda w: encode_word(w))
    )
    return docs.withColumn(out_col, toks)
