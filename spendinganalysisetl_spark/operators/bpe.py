"""Distributed BPE tokenizer induction + encoding — the
vocabulary-training step of an LLM data pipeline (SURVEY.md §2.11 /
north_star extension; the reference has no tokenizer story, its text
ops stop at category strings — transformer.py:135-285).

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — the standard byte-pair-encoding recipe,
public knowledge): words split to character symbols plus a ``</w>``
end-marker; each round merges the most frequent adjacent symbol pair
corpus-wide; encoding replays the learned merges in rank order.

Scale shape — the distributed formulation every real trainer uses:
the 100 TB corpus is scanned EXACTLY ONCE (word-count collapse, one
shuffle on the word key, map-side combined); the merge loop then runs
on the distinct-WORD table weighted by counts — vocab-sized (millions
of rows at corpus scale, not billions). The merge loop itself is
SEQUENTIAL by nature (each round's best pair depends on the last
round's rewrite), so the right execution split is the one every
production trainer (HuggingFace tokenizers, SentencePiece) uses:
distribute the corpus→word-count collapse, then run the rounds
in memory on the bounded word table when it fits
(``driver_vocab_rows``, default 2^18 rows ≈ a few MB — the same
bounded-collect budget as the k-means/IVF codebook samples in
operators/similarity.py). Above the bound the rounds stay fully
distributed: pair counting and merge application as Catalyst
sequence/transform/aggregate HOFs over the cached, per-round
re-checkpointed symbol table, one top-1 collect per round. Both
paths implement the identical frequency/tie-break rule and are
pinned equal bit-for-bit in tests/test_bpe.py. Encoding is
Arrow-batched ``mapInPandas`` with a per-batch word cache — the
sanctioned Python path — because replaying N data-dependent merges
is imperative by nature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spendinganalysisetl_spark.catalog import local_table as _local_table

#: Word inventory for vocabulary induction: lowercase letter runs.
#: Digits/punct are excluded to keep the demo alphabet small; a
#: production run would use byte-level pre-tokens instead.
WORD_RE = r"[a-z]+"

END = "</w>"


def _word_counts(documents: DataFrame, min_freq: int) -> DataFrame:
    """(word, cnt) — the ONE corpus scan. Map-side combine collapses
    each partition to its distinct words before the exchange."""
    return (
        documents.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_freq)
    )


def _symbolized(words: DataFrame) -> DataFrame:
    """(cnt, symbols) — word exploded to single-char symbols plus the
    end-of-word marker (so 'low' != prefix-of-'lower' share no final
    symbol; the classic formulation)."""
    w = F.col("word")
    chars = F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )
    return words.select(
        "cnt", F.concat(chars, F.array(F.lit(END))).alias("symbols")
    )


def _pair_col() -> F.Column:
    """Adjacent symbol pairs as 'a b' strings (symbols never contain
    spaces — letters, ``</w>``, and their concatenations — so the
    space join is unambiguous and groupable)."""
    s = F.col("symbols")
    return F.when(F.size(s) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(s) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(s, i), F.element_at(s, i + 1)
            ),
        )
    )


def _merge_expr(left: str, right: str) -> F.Column:
    """Fold that rewrites every non-overlapping left-to-right (left,
    right) adjacency into the concatenated symbol — the exact greedy
    replacement the reference algorithm specifies. The accumulator
    re-check (last == left) after a merge naturally prevents overlap:
    'aaa' under (a,a) folds to [aa, a]."""
    merged = left + right
    return F.aggregate(
        F.col("symbols"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _merge_rounds_local(
    counts: dict[str, int], n_merges: int, min_freq: int
) -> list[tuple[int, str, str, str, int]]:
    """In-memory merge rounds over a COMPLETE (word, cnt) table — the
    driver-side fast path of ``bpe_train``. Same frequency count and
    (pair_count desc, 'left right' asc) tie-break as the distributed
    rounds; the equivalence is pinned bit-for-bit in tests/test_bpe.py
    against both the HOF path and the independent Sennrich reference."""
    vocab = {w: list(w) + [END] for w in counts}
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            c = counts[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        if cnt < min_freq:
            break
        merged = left + right
        merges.append((rank, left, right, merged, int(cnt)))
        for w, syms in vocab.items():
            if left not in syms:
                continue
            out: list[str] = []
            j = 0
            while j < len(syms):
                if (
                    j < len(syms) - 1
                    and syms[j] == left
                    and syms[j + 1] == right
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            vocab[w] = out
    return merges


_MERGE_SCHEMA = (
    "merge_rank int, left string, right string, merged string, pair_count bigint"
)


def bpe_train(
    documents: DataFrame,
    n_merges: int = 32,
    min_freq: int = 2,
    driver_vocab_rows: int = 1 << 18,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns (merge_rank, left, right,
    merged, pair_count) in learned order. Deterministic: ties on pair
    frequency break lexicographically on the pair string — the Python
    differential reference (tests/test_bpe.py) replays the identical
    rule.

    Execution split: the corpus scan (word counting) is always
    distributed; the sequential merge rounds run in memory when the
    distinct-word table has at most ``driver_vocab_rows`` rows (a
    bounded collect — the table the rounds iterate on is vocab-sized
    either way), and as distributed Catalyst-HOF rounds above that.
    Pass ``driver_vocab_rows=0`` to force the distributed rounds."""
    spark = documents.sparkSession
    words = _word_counts(documents, min_freq)
    if driver_vocab_rows:
        # Persisted across the probe: the bounded collect must not
        # force a SECOND corpus scan when the vocab exceeds the bound
        # and the distributed rounds take over — the checkpoint below
        # reads the cached word table, keeping the corpus scan at
        # exactly one either way.
        words = words.persist()
        try:
            head = words.limit(driver_vocab_rows + 1).collect()
            if len(head) <= driver_vocab_rows:
                return _local_table(
                    spark,
                    _merge_rounds_local(
                        {r["word"]: int(r["cnt"]) for r in head},
                        n_merges,
                        min_freq,
                    ),
                    _MERGE_SCHEMA,
                )
            vocab = _symbolized(words).localCheckpoint()
        finally:
            words.unpersist()
    else:
        vocab = _symbolized(words).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            vocab.select("cnt", F.explode(_pair_col()).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] < min_freq:
            break
        pair, cnt = top[0]["pair"], int(top[0]["pair_count"])
        left, right = pair.split(" ", 1)
        merges.append((rank, left, right, left + right, cnt))
        # Re-materialize per round: the fold would otherwise nest one
        # level deeper per merge and the analysis cost would grow
        # quadratically in n_merges. The table is vocab-sized — the
        # checkpoint is a few MB even at corpus scale.
        vocab = vocab.withColumn(
            "symbols", _merge_expr(left, right)
        ).localCheckpoint()
    return _local_table(spark, merges, _MERGE_SCHEMA)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference single-word encoder (also used executor-side): replay
    merges by rank until no learned pair remains. Pure Python on a
    symbol list — O(len²·log) worst case, cached per distinct word by
    the callers."""
    symbols = list(word) + [END]
    while len(symbols) > 1:
        best = None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        _, i = best
        pair = (symbols[i], symbols[i + 1])
        # merge ALL non-overlapping occurrences of this pair, left to
        # right — same replacement rule as the training fold
        out: list[str] = []
        j = 0
        while j < len(symbols):
            if (
                j < len(symbols) - 1
                and (symbols[j], symbols[j + 1]) == pair
            ):
                out.append(symbols[j] + symbols[j + 1])
                j += 2
            else:
                out.append(symbols[j])
                j += 1
        symbols = out
    return symbols


def bpe_ranks(merges: DataFrame) -> dict[tuple[str, str], int]:
    """The ``(left, right) → merge_rank`` mapping of a learned merge
    table (``bpe_train``), collected once — the form ``encode_word`` and
    ``bpe_encode_stats`` read."""
    return {
        (r["left"], r["right"]): r["merge_rank"]
        for r in merges.select("left", "right", "merge_rank").collect()
    }


def bpe_encode_stats(
    documents: DataFrame, ranks: dict[tuple[str, str], int]
) -> DataFrame:
    """Per-document BPE stats under learned merge ranks (``bpe_ranks``):
    (doc_id, n_words, n_tokens, n_chars, compression = chars/token).
    The ranks broadcast as a plain dict inside the Arrow workers; a
    per-batch word→tokens cache collapses the Zipf-heavy word
    distribution so the O(len²) encoder runs once per DISTINCT word
    per batch."""
    spark_schema = (
        "doc_id long, n_words long, n_tokens long, n_chars long, compression double"
    )

    def run(batches):
        import re

        import pandas as pd

        word_re = re.compile(WORD_RE)
        cache: dict[str, int] = {}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = word_re.findall(str(text).lower())
                n_tokens = 0
                n_chars = 0
                for w in words:
                    t = cache.get(w)
                    if t is None:
                        t = len(encode_word(w, ranks))
                        cache[w] = t
                    n_tokens += t
                    n_chars += len(w)
                rows.append(
                    (
                        int(doc_id),
                        len(words),
                        n_tokens,
                        n_chars,
                        round(n_chars / n_tokens, 6) if n_tokens else 0.0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_words",
                    "n_tokens",
                    "n_chars",
                    "compression",
                ],
            )

    return documents.select("doc_id", "text").mapInPandas(run, spark_schema)


def train_reference(
    texts: list[str], n_merges: int = 32, min_freq: int = 2
) -> list[tuple[int, str, str, str, int]]:
    """Pure-Python reference implementation (Sennrich pseudocode) for
    the differential tests — independent of the Spark code paths above
    except for the shared END constant and tie-break rule."""
    import collections
    import re

    wc = collections.Counter()
    for t in texts:
        wc.update(re.findall(WORD_RE, t.lower()))
    vocab = {
        w: list(w) + [END] for w, c in wc.items() if c >= min_freq
    }
    counts = {w: c for w, c in wc.items() if c >= min_freq}
    merges = []
    for rank in range(n_merges):
        pairs: collections.Counter = collections.Counter()
        for w, syms in vocab.items():
            c = counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # max frequency, ties broken lexicographically on "left right"
        best_pair, best_cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        if best_cnt < min_freq:
            break
        left, right = best_pair
        merges.append((rank, left, right, left + right, best_cnt))
        for w, syms in vocab.items():
            out: list[str] = []
            j = 0
            while j < len(syms):
                if (
                    j < len(syms) - 1
                    and syms[j] == left
                    and syms[j + 1] == right
                ):
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            vocab[w] = out
    return merges
