"""Distributed BPE tokenizer training.

The GPT-2/SentencePiece reality at corpus scale: the CORPUS is huge
but the WORD HISTOGRAM is bounded (Heaps' law — a few million types
at 100 TB), so byte-pair-merge training is
  1. ONE distributed pass collapsing the corpus to (word, count) —
     the only data-scaled step, a map-side-combinable groupBy;
  2. a merge loop over the histogram, which fits the driver by
     construction (this is how the reference GPT-2 tokenizer and
     HuggingFace `tokenizers` train too — the corpus never re-scans).

Determinism: merge ties (equal pair counts) break on the
lexicographically smallest pair, so the vocab is reproducible across
engines, partitionings and runs — the property a training pipeline
needs so re-tokenizing yesterday's shards yields identical ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_histogram_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The distributed step: (word `w`, count `n`) over the corpus —
    one explode + one map-side-combinable groupBy. The histogram is
    Heaps'-law-bounded but NOT driver-bounded at 100 TB; callers pick
    a collection strategy (see bpe_train)."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def word_histogram(
    docs: DataFrame, text_col: str = "text", max_types: int = 1_000_000
) -> list[tuple[str, int]]:
    """Driver-side histogram collect, for corpora whose type count
    fits comfortably in driver heap. Raises ValueError when the type
    count exceeds `max_types` — callers that can exceed it route to
    the distributed merge loop instead (bpe_train does this
    automatically); the cap is a PATH SELECTOR, never a silent
    truncation."""
    rows = word_histogram_df(docs, text_col).limit(max_types + 1).collect()
    if len(rows) > max_types:
        raise ValueError(
            f"word type count exceeds max_types={max_types}; "
            "use the distributed merge loop"
        )
    rows.sort(key=lambda r: (-r["n"], r["w"]))
    return [(r["w"], r["n"]) for r in rows]


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    max_types: int = 1_000_000,
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges: returns [(left, right, pair_count)]
    in merge order. Word-internal pairs only (the </w> boundary is a
    word end marker, never merged across words).

    Two-tier execution with IDENTICAL results: when the type count
    fits the driver (≤ max_types) the merge loop runs locally over
    the collected histogram — the fast path for every realistic
    per-day batch; above it, bpe_train_distributed keeps the
    histogram as a DataFrame and runs each merge as one
    pair-count aggregation + a fold-based rewrite, so driver memory
    stays flat at ANY corpus size (no type is ever dropped)."""
    try:
        hist = word_histogram(docs, text_col, max_types=max_types)
    except ValueError:
        return bpe_train_distributed(docs, n_merges, text_col)
    # each word as a symbol tuple; counts never change, only symbols
    words: list[tuple[list[str], int]] = [
        (list(w) + ["</w>"], n) for w, n in hist
    ]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        # deterministic: max count, then lexicographically smallest
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        merged = a + b
        for syms, _ in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i: i + 2] = [merged]
                else:
                    i += 1
    return merges


def bpe_train_distributed(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Fully distributed BPE merge loop — the path for corpora whose
    word-type count exceeds driver heap (Heaps' law passes any fixed
    cap at 100 TB of web text). State is the (symbol-array, count)
    histogram as a DataFrame; per merge:

    1. adjacent-pair counts: one explode over symbol positions + one
       map-side-combinable SUM groupBy;
    2. argmax with the (count desc, pair asc) tie-break via
       orderBy().limit(1) — a 1-row collect, the only driver traffic;
    3. merge application as an `aggregate` fold over each symbol
       array (append-or-merge-with-last — equivalent to the
       left-to-right scan: within one merge step the merged token can
       never re-match its own left side);
    4. localCheckpoint to keep the plan O(1) deep across iterations.

    Results are IDENTICAL to the driver loop (property-tested); cost
    is n_merges shuffles over the histogram — the histogram, never
    the corpus."""
    spark = docs.sparkSession
    hist = word_histogram_df(docs, text_col)
    state = hist.select(
        F.concat(
            F.expr("filter(split(w, ''), x -> x <> '')"),
            F.array(F.lit("</w>")),
        ).alias("syms"),
        "n",
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # guard: a fully merged 1-symbol word would make
        # sequence(1, 0) run DESCENDING — filter it out first
        pairs = state.filter(F.size("syms") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS a, "
                    "element_at(syms, i + 1) AS b))"
                )
            ).alias("p"),
            "n",
        )
        pc = (
            pairs.select("p.a", "p.b", "n")
            .groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
        )
        best = (
            pc.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        )
        if not best or best[0]["cnt"] < 2:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        merged = a + b
        # fold: append x, or merge it into the last symbol when
        # (last, x) == (a, b) — Column-parameterized, so arbitrary
        # characters in learned symbols never touch SQL text
        state = state.select(
            F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
            "n",
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode_expr(merges: list[tuple[str, str, int]]):
    """Arrow-batched encoder: text -> token count under the learned
    vocab (the metric shard planning consumes). Ships the merge list
    in the closure; map-only."""
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    def encode_word(w: str) -> int:
        syms = list(w) + ["</w>"]
        while len(syms) > 1:
            best_i, best_r = -1, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            syms[best_i: best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return len(syms)

    def part(batches):
        import re

        import pandas as pd

        ws = re.compile(r"\s+")
        cache: dict[str, int] = {}
        for pdf in batches:
            out = []
            for txt in pdf["text"]:
                total = 0
                for w in ws.split(txt.lower()):
                    if not w:
                        continue
                    if w not in cache:
                        cache[w] = encode_word(w)
                    total += cache[w]
                out.append(total)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bpe_tokens": out}
            )

    return part
