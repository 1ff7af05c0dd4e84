"""Distributed BPE (byte-pair-encoding) merge training over the
`documents` corpus.

The classic tokenizer-training loop: start from characters, repeatedly
merge the most frequent adjacent symbol pair. The standard efficiency
trick makes it tractable at corpus scale: train on the WORD-FREQUENCY
table, not the corpus — pair counts are Σ freq(word)·pairs(word), and
the word table is vocabulary-sized (sub-linear in corpus bytes), so
after one corpus-wide word count every iteration touches only the
vocab.

Per iteration: one explode + sum aggregation for pair counts (map-side
combined), a 1-row argmax collect (deterministic tie-break: count desc,
then (left, right) asc), and a codegen'd `aggregate` fold that applies
the merge greedy-left-to-right inside each word. The driver holds only
the merge table (n_merges rows); lineage is cut per round with
localCheckpoint — the standard Spark iterative pattern (same shape as
dedup.star_components' contraction loop).

No SQL oracle: the loop's argmax feeds the next iteration's
re-tokenization, which a single SQL string cannot express — behavior is
pinned instead by tests/test_bpe.py on hand-computable fixtures
(including the greedy-overlap case) plus corpus determinism. Test-only
component (SURVEY §2 F27), intentionally NOT in the registry so the
oracle-able share of the registry stays honest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from saurav_nayak_recipe_etl_project_spark.functions.text_fn import tokens

N_MERGES = 10


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol
    pairs inside one symbol array, as a codegen'd fold: the accumulator
    carries (emitted prefix, pending symbol); a pending `left` followed
    by `right` emits the merged symbol and clears, so overlapping
    occurrences (a a a with merge a+a) resolve to [aa, a] exactly like
    reference BPE implementations."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(st, s):
        return (
            F.when(st["pend"].isNull(),
                   F.struct(st["acc"].alias("acc"), s.alias("pend")))
            .when(
                (st["pend"] == F.lit(left)) & (s == F.lit(right)),
                F.struct(
                    F.concat(st["acc"], F.array(F.lit(merged))).alias("acc"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(st["acc"], F.array(st["pend"])).alias("acc"),
                    s.alias("pend"),
                )
            )
        )

    def finish(st):
        return F.when(st["pend"].isNull(), st["acc"]).otherwise(
            F.concat(st["acc"], F.array(st["pend"]))
        )

    return F.aggregate(syms, init, step, finish)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, count) over adjacent symbol pairs, weighted by
    word frequency. The slice/zip avoids exploding per-character rows
    twice: one explode of (len-1) pair structs per word."""
    pairs = vocab.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("left"), b.alias("right")),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(F.sum("freq").alias("n"))


def bpe_train(docs: DataFrame, n_merges: int = N_MERGES,
              text_col: str = "text") -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus; returns the ordered
    merge table [(left, right, pair_count), ...]. Deterministic: ties
    break on (count desc, left asc, right asc)."""
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.split("w", "").alias("syms"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] is None:
            break
        left, right, n = top[0]["left"], top[0]["right"], int(top[0]["n"])
        merges.append((left, right, n))
        vocab = vocab.select(
            _apply_merge(F.col("syms"), left, right).alias("syms"), "freq"
        ).localCheckpoint()
    return merges


def bpe_segment(docs: DataFrame, merges: list[tuple[str, str, int]],
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge table to a corpus: per doc, the BPE symbol
    sequence of each token (merges replayed in training order — the
    standard encode rule) and the resulting symbol count."""
    out = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    ).filter(F.length("w") > 0).select(id_col, F.split("w", "").alias("syms"))
    for left, right, _ in merges:
        out = out.select(
            id_col, _apply_merge(F.col("syms"), left, right).alias("syms")
        )
    return out.groupBy(id_col).agg(
        F.sum(F.size("syms")).cast("long").alias("n_bpe_symbols"),
        F.count("*").cast("long").alias("n_words"),
    )
