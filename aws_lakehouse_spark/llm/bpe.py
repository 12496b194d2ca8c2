"""Distributed BPE tokenizer training (byte-pair encoding, Sennrich
et al. 2016 — the subword vocabulary construction every modern LLM
pipeline runs over its curated corpus).

Scale shape — the part that matters at 100 TB: the corpus is scanned
EXACTLY ONCE, collapsing to a (word, count) frequency table that is
VOCABULARY-sized (~10⁵-10⁷ rows regardless of corpus bytes); every
merge iteration then runs over that table only — one pair-count
aggregate (map-side combined, weighted by word frequency) plus one
symbol-sequence rewrite, each a vocabulary-sized job. The driver
holds nothing but the winning pair per round (a 2-string scalar),
and per-round lazy ``localCheckpoint`` keeps the plan tree flat
(same discipline as connected components, ``llm/dedup.py``).

Merge semantics match the reference implementation: per round, the
globally most frequent adjacent symbol pair (ties broken
lexicographically — deterministic across engines and partitionings)
is replaced left-to-right and NON-OVERLAPPING in every word, with
simultaneous-pass semantics: a symbol produced by a merge this round
never re-merges as the LEFT side within the same round (the fold
carries a just-merged flag to enforce it).

No query trains: ``text_bpe_encode`` applies a frozen merge table.
``bpe_train`` and its helpers stay as the training half that
produces such a table.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def word_frequency_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """ONE corpus scan → (word, count). Everything downstream of BPE
    training touches only this vocabulary-sized frame."""
    return (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<a,b>> of adjacent symbol pairs in a sequence."""
    n = F.size(syms)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0)))
    return F.when(n < 2, F.array()).otherwise(
        F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"),
            ),
        )
    )


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Replace adjacent (a, b) with a||b, left-to-right,
    non-overlapping, simultaneous-pass semantics via a fold carrying
    (out, just_merged)."""
    merged = F.lit(a + b)
    init = F.struct(
        F.expr("array()").cast("array<string>").alias("out"),
        F.lit(False).alias("jm"),
    )

    def step(acc: Column, x: Column) -> Column:
        can_merge = (
            (F.size(acc["out"]) > 0)
            & ~acc["jm"]
            & (F.element_at(acc["out"], -1) == F.lit(a))
            & (x == F.lit(b))
        )
        return F.when(
            can_merge,
            F.struct(
                F.concat(
                    F.slice(acc["out"], 1, F.size(acc["out"]) - 1),
                    F.array(merged),
                ).alias("out"),
                F.lit(True).alias("jm"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(x)).alias("out"),
                F.lit(False).alias("jm"),
            )
        )

    return F.aggregate(syms, init, step, lambda acc: acc["out"])


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> list[dict]:
    """Learn ``n_merges`` BPE merge rules over the corpus.

    Returns the ordered merge table: one dict per round with
    ``{"rank", "left", "right", "pair_count"}`` — the artifact a
    tokenizer ships. Stops early when no pair reaches
    ``min_pair_count``.
    """
    vocab = word_frequency_table(docs, text_col)
    seqs = vocab.select(
        "count", F.split("word", "").alias("syms")
    ).localCheckpoint(eager=False)

    merges: list[dict] = []
    for rank in range(n_merges):
        best = (
            seqs.select(
                "count", F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
            )
            .groupBy("p")
            .agg(F.sum("count").alias("n"))
            # deterministic winner: max count, then lexicographic pair
            .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .first()
        )
        if best is None or best["n"] < min_pair_count:
            break
        a, b = best["p"]["a"], best["p"]["b"]
        merges.append(
            {"rank": rank, "left": a, "right": b, "pair_count": best["n"]}
        )
        seqs = seqs.withColumn(
            "syms", _merge_pair(F.col("syms"), a, b)
        ).localCheckpoint(eager=False)
    return merges


_US = "\x1f"


def bpe_apply(
    docs: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned merge table: per doc,
    per word, apply the merge rules in rank order. Pure scan-side
    column expressions — the hot tokenize path stays in the JVM.

    Each merge pass is ONE literal string replace over a
    separator-framed encoding of the symbol sequence: every symbol
    is wrapped as ``<US>sym<US>``, so rule (a, b) is
    ``replace("<US>a<US><US>b<US>" -> "<US>ab<US>")``. This is exactly
    the fold's left-to-right, non-overlapping, simultaneous-pass
    semantics — string replace scans the pre-replacement text, so a
    freshly merged symbol can never cascade within the same rule,
    and the double separator between symbols means a pattern can
    only align on whole-symbol boundaries (a suffix of a longer
    symbol has no leading separator). Replacing the per-rule
    ``F.aggregate`` array fold (which rebuilt an O(n) array per
    element, O(n²) per word per rule) with linear string scans took
    the sf0.1 tokenize pass from 15.6 s to well under a second.
    Assumes the corpus does not contain U+001F (the framing byte);
    U+001F is a C0 control code no real text tier lets through the
    quality gate.
    """

    def encode_word(w: Column) -> Column:
        # (?s): symbols are EVERY char, including newlines inside a
        # word (split only breaks on spaces)
        s = F.regexp_replace(w, "(?s)(.)", _US + "$1" + _US)
        for m in merges:
            pat = _US + m["left"] + _US + _US + m["right"] + _US
            rep = _US + m["left"] + m["right"] + _US
            s = F.replace(s, F.lit(pat), F.lit(rep))
        # symbols are never empty, so dropping empty fragments of the
        # single-separator split recovers exactly the token list
        return F.filter(F.split(s, _US), lambda x: x != "")

    toks = F.flatten(
        F.transform(
            F.filter(F.split(F.col(text_col), " "), lambda w: w != ""),
            encode_word,
        )
    )
    return docs.select(
        F.col(id_col),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tokens"),
    )
