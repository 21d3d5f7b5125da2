"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — all pure column expressions (JVM-side,
whole-stage codegen; no UDFs), so they scan 100 TB at parquet-read
speed with zero Python overhead.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the documents table's text and id columns
TEXT_COL = "text"
ID_COL = "doc_id"
# small English function-word list for the language heuristic, and the
# share of a document's tokens above which it is guessed English
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
EN_STOPWORD_RATIO = 0.08


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (single-space convention of the corpus)."""
    return F.split(F.col(col) if isinstance(col, str) else col, " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def stopword_count(col: Column | str) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*EN_STOPWORDS)))


def lang_guess(col: Column | str) -> Column:
    """n-gram-free language ID heuristic: English function-word density.
    (Real pipelines plug a fastText-style model in as a Pandas UDF; the
    heuristic keeps the operator UDF-free and oracle-checkable.)"""
    ratio = stopword_count(col) / token_count(col)
    return F.when(ratio > EN_STOPWORD_RATIO, F.lit("en")).otherwise(F.lit("unknown"))


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: collapse whitespace, lowercase, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint (md5 of normalized text).
    Exact-dedup joins group on this instead of the full text — at 100 TB
    the shuffle carries 16 bytes per doc, not the document body."""
    return F.md5(normalized_text(col))


# BPE-ish pre-tokenizer: the GPT-2-style split of text into word /
# number / punctuation-run pieces (optionally space-prefixed), kept to
# a subset that Java regex and RE2 (DuckDB) interpret identically.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
BPE_ALPHA_PATTERN = r" ?[A-Za-z]+"
BPE_NUM_PATTERN = r" ?[0-9]+"


def bpe_token_stats(df: DataFrame) -> DataFrame:
    """Token counting with a BPE-ish regex pre-tokenizer (the unit a
    byte-pair encoder would merge within). Pure codegen: one
    regexp_extract_all per class, no Python."""
    t = F.col(TEXT_COL)
    # idx=0: whole-match extraction (the patterns have no capture groups)
    return (
        df.withColumn("n_bpe_pieces", F.size(F.regexp_extract_all(t, F.lit(BPE_SPLIT_PATTERN), 0)))
        .withColumn("n_alpha_pieces", F.size(F.regexp_extract_all(t, F.lit(BPE_ALPHA_PATTERN), 0)))
        .withColumn("n_num_pieces", F.size(F.regexp_extract_all(t, F.lit(BPE_NUM_PATTERN), 0)))
    )


# Rabin-Karp rolling hash parameters (fit BIGINT exactly on both engines:
# max accumulator < 1114112 * MOD * WINDOW ≈ 2^60)
RH_BASE = 131
RH_MOD = 1_000_000_007
RH_WINDOW = 8


def rolling_hash_signature(df: DataFrame) -> DataFrame:
    """Document fingerprint via Rabin-Karp rolling hash (winnowing-lite).

    h_k = Σ_j cp(t[k+j])·B^(w-1-j) mod M over every length-w character
    window; the signature is (min window hash, #windows). The kernel is
    an Arrow-batched numpy correlation — true O(n) per doc with the
    sliding dot product vectorized; nothing about it is sequential
    Python per character.
    """
    pows = np.array(
        [pow(RH_BASE, RH_WINDOW - 1 - j, RH_MOD) for j in range(RH_WINDOW)],
        dtype=np.int64,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, mins, counts = [], [], []
            for vid, text in zip(pdf["__id"], pdf["__text"]):
                # UTF-32-LE bytes ARE the codepoints — vectorized ord()
                cps = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if cps.size < RH_WINDOW:
                    continue
                # windows·pows < 1114112·131^7·8 — compute mod M per term
                windows = sliding_window_view(cps, RH_WINDOW)
                terms = (windows * (pows % RH_MOD)) % RH_MOD
                hashes = terms.sum(axis=1) % RH_MOD
                ids.append(vid)
                mins.append(int(hashes.min()))
                counts.append(int(hashes.size))
            yield pd.DataFrame({"doc_id": ids, "min_hash": mins, "n_windows": counts})

    return df.select(
        F.col(ID_COL).cast("long").alias("__id"), F.col(TEXT_COL).alias("__text")
    ).mapInPandas(kernel, "doc_id long, min_hash long, n_windows long")


def rolling_hash_sql(table: str = "documents") -> str:
    """DuckDB oracle for :func:`rolling_hash_signature` — the naive
    O(n·w) expansion of the same polynomial, exact BIGINT arithmetic."""
    terms = " + ".join(
        f"CAST(ord(substring(text, k + {j + 1}, 1)) AS BIGINT) * "
        f"{pow(RH_BASE, RH_WINDOW - 1 - j, RH_MOD)} % {RH_MOD}"
        for j in range(RH_WINDOW)
    )
    return f"""
WITH ks AS (
  SELECT doc_id, text,
         unnest(range(0, length(text) - {RH_WINDOW} + 1)) AS k
  FROM {table} WHERE length(text) >= {RH_WINDOW}
),
hashes AS (
  SELECT doc_id, ({terms}) % {RH_MOD} AS h FROM ks
)
SELECT doc_id, min(h) AS min_hash, count(*) AS n_windows
FROM hashes GROUP BY doc_id
"""


def rolling_hash_windows(df: DataFrame, w: int = RH_WINDOW) -> DataFrame:
    """ALL Rabin-Karp window hashes per doc, pre-aggregated to
    (doc_id, h, c) inside the Arrow kernel (np.unique), so the Arrow
    transfer carries one row per DISTINCT hash per doc, not one per
    character position.  Feeds cross-document duplicated-substring
    analysis (q144): a window hash held by ≥2 docs marks a length-w
    span shared verbatim across documents — the hashed relaxation of
    suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").
    Same polynomial/modulus as :func:`rolling_hash_signature`, so the
    naive SQL expansion stays the oracle."""
    pows = np.array([pow(RH_BASE, w - 1 - j, RH_MOD) for j in range(w)], dtype=np.int64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, hs, cs = [], [], []
            for vid, text in zip(pdf["__id"], pdf["__text"]):
                cps = np.frombuffer(
                    text.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                if cps.size < w:
                    continue
                terms = (sliding_window_view(cps, w) * (pows % RH_MOD)) % RH_MOD
                hashes = terms.sum(axis=1) % RH_MOD
                u, c = np.unique(hashes, return_counts=True)
                ids.append(np.full(u.size, vid, dtype=np.int64))
                hs.append(u)
                cs.append(c.astype(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "h": np.concatenate(hs),
                        "c": np.concatenate(cs),
                    }
                )

    return df.select(
        F.col(ID_COL).cast("long").alias("__id"), F.col(TEXT_COL).alias("__text")
    ).mapInPandas(kernel, "doc_id long, h long, c long")


def rolling_hash_windows_sql(w: int = RH_WINDOW) -> str:
    """DuckDB CTE body matching :func:`rolling_hash_windows` — yields
    rows (doc_id, h, c): per-doc distinct window hash + occurrence
    count, via the same naive O(n·w) polynomial expansion as
    :func:`rolling_hash_sql`."""
    terms = " + ".join(
        f"CAST(ord(substring(text, k + {j + 1}, 1)) AS BIGINT) * "
        f"{pow(RH_BASE, w - 1 - j, RH_MOD)} % {RH_MOD}"
        for j in range(w)
    )
    return f"""
  SELECT doc_id, h, count(*) AS c FROM (
    SELECT doc_id, ({terms}) % {RH_MOD} AS h
    FROM (
      SELECT doc_id, text,
             unnest(range(0, length(text) - {w} + 1)) AS k
      FROM documents WHERE length(text) >= {w}
    )
  ) GROUP BY 1, 2
"""


HEX_DIGITS = "0123456789abcdef"


def hash_bucket_sql(dialect: str, col: str = "doc_id", mod: int = 100) -> str:
    """Deterministic [0, mod) bucket from the md5 of a key — the
    reproducible-sampling primitive. Production pipelines sample by key
    hash, never RNG: the decision is stable across reruns, engines, and
    partitionings, and downstream joins on the same key see a
    consistent universe. Emits the first-4-hex-digit value via per-digit
    position lookup so the same generator yields the Spark expression
    ('spark') and the DuckDB oracle ('duckdb') — provably one function.
    """
    pos = "instr" if dialect == "spark" else "strpos"
    stype = "STRING" if dialect == "spark" else "VARCHAR"
    d = [
        f"({pos}('{HEX_DIGITS}', substring(md5(CAST({col} AS {stype})), {i + 1}, 1)) - 1)"
        for i in range(4)
    ]
    return f"((({d[0]} * 16 + {d[1]}) * 16 + {d[2]}) * 16 + {d[3]}) % {mod}"


def hash_sign_sql(dialect: str, col: str) -> str:
    """±1 sign hash from the parity of md5's FIFTH hex digit — the
    feature-hashing sign function (Weinberger et al. 2009), kept
    independent of :func:`hash_bucket_sql`'s bucket fold (which reads
    digits 1-4) so bucket and sign are decorrelated. Same per-digit
    position-lookup trick: one generator emits both the Spark
    expression ('spark') and the DuckDB oracle ('duckdb')."""
    pos = "instr" if dialect == "spark" else "strpos"
    stype = "STRING" if dialect == "spark" else "VARCHAR"
    digit = (
        f"({pos}('{HEX_DIGITS}', substring(md5(CAST({col} AS {stype})), 5, 1)) - 1)"
    )
    return f"(1 - 2 * ({digit} % 2))"


def repetition_features(df: DataFrame, n: int = 2) -> DataFrame:
    """Within-document repetition scores (Gopher/C4-style quality rule):
    per doc, the fraction of duplicated word n-grams and the share of
    the single most-repeated n-gram. High values mark boilerplate,
    keyword stuffing, and degenerate generations — a standard drop rule
    in pretraining curation.

    Linear in document length: n-grams are exploded and counted per
    (doc, gram) — never the O(L²) pairwise form a per-row higher-order
    function would need for the top-gram share. Tokenization is
    materialized through the fan-out exchange, and the explode is the
    guard + explode_outer pattern (plain explode re-inlines the
    generator below the exchange via InferFiltersFromGenerate).
    """
    from .partitioning import fanout

    toks = fanout(df.select(F.col(ID_COL), tokens(TEXT_COL).alias("__tokens")))
    t = F.col("__tokens")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )
    ex = (
        toks.filter(F.size(t) >= n)
        .select(F.col(ID_COL), F.explode_outer(grams).alias("gram"))
    )
    per_gram = ex.groupBy(ID_COL, "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy(ID_COL).agg(
        F.sum("cnt").alias("n_grams"),
        F.round(F.lit(1) - F.count("*") / F.sum("cnt"), 6).alias("dup_gram_frac"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_gram_frac"),
    )


def quality_features(df: DataFrame) -> DataFrame:
    """Quality-scoring feature block: length, token stats, lexical
    diversity, stopword density. Downstream filters compose on these."""
    t = F.col(TEXT_COL)
    n_tok = token_count(t)
    return (
        df.withColumn("n_chars_q", F.length(t))
        .withColumn("n_tokens", n_tok)
        .withColumn("n_distinct_tokens", distinct_token_count(t))
        .withColumn("lexical_diversity", F.round(distinct_token_count(t) / n_tok, 6))
        .withColumn("stopword_ratio", F.round(stopword_count(t) / n_tok, 6))
        .withColumn(
            "avg_token_len",
            F.round((F.length(t) - (n_tok - 1)) / n_tok, 6),
        )
    )


BPE_SEP = "\x1f"


def bpe_train(df: DataFrame, *, n_merges: int = 20) -> DataFrame:
    """FULL iterative BPE tokenizer training on ``df.text``:
    ``n_merges`` rounds of (count adjacent symbol pairs → pick the most
    frequent → merge it everywhere), returning the learned merge table
    — THE tokenizer artifact: (rk, left_sym, right_sym, merged, cnt).

    Scale shape (the classic BPE trick, one step of which is
    :func:`bpe_pair_counts`): the corpus collapses ONCE to the
    (word, freq) vocabulary — the only corpus-sized aggregation — and
    every training round touches only the vocab table. Words are held
    as separator-padded symbol strings (``\\x1f`` + symbols joined by
    ``\\x1f`` + ``\\x1f``), so applying a merge is ONE codegen
    ``replace`` of ``SEP+x+SEP+y+SEP`` with ``SEP+x+y+SEP`` — the
    boundary separators stop a pattern from matching across symbol
    boundaries. Merge-application semantics are DEFINED as this
    left-to-right non-overlapping replace (identical in Spark, DuckDB,
    and Python str.replace — pinned by tests/test_bpe_train.py): a
    match consumes its trailing separator, so inside a run of ≥4
    consecutive same-boundary symbols it skips the immediately-adjacent
    overlapping occurrence where greedy tuple-scan BPE would take it —
    a deterministic, engine-reproducible variant of the greedy pass
    (real tokenizers differ in exactly this class of tie/overlap
    handling too). Each round runs one vocab-sized pair aggregate and one
    1-row argmax collect (bounded driver state, same class as the
    pagerank/k-core convergence scalars); the vocab is checkpointed per
    round (SCALING rule 3). Ties break on exact integer count DESC,
    then (left, right) symbol strings ASC — fully deterministic, which
    is what lets q188's DuckDB oracle replay the identical 20 rounds
    unrolled and hash-match the merge table.
    """
    spark = df.sparkSession
    words = df.select(F.explode(F.split("text", " ")).alias("w")).filter(
        (F.length("w") > 0) & (~F.col("w").contains(BPE_SEP))
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    # the training loop runs 2·n_merges vocab-sized jobs: repartition
    # the vocab once (a vocab-sized shuffle — coalesce would instead
    # cap the corpus-sized aggregation's own parallelism) so per-round
    # task-launch overhead doesn't dominate the rounds; 8 partitions
    # cover millions of words
    cur = (
        vocab.repartition(8)
        .select(
            F.concat(
                F.lit(BPE_SEP), F.regexp_replace("w", "(.)", "$1" + BPE_SEP)
            ).alias("s"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )

    # split(s, SEP) on the padded string yields ["", sym1…symk, ""]
    # (1-based element_at positions 2…k+1); adjacent pairs live at
    # (i, i+1) for i in 2…k. The size guard matters: Spark's
    # sequence(2, 1) DESCENDS instead of being empty.
    #
    # INLINE split (round-12): round 11 hoisted the split into its own
    # Project on the O(len²)-re-split theory, but both round-11
    # cross-session detail files (q188 ×1.13, q189 ×1.31) and a clean
    # round-12 isolated alternating A/B (inline beat the projected form
    # in 6/6 paired reps, min 3.22 vs 3.43 s, mean −6.5%) show the
    # projected form is SLOWER at real word lengths: the extra Project
    # materializes a full array per row and breaks the codegen stage,
    # which costs more than the interpreted re-splits save on ≤~20-symbol
    # words. Reverted to the inline form; the cadence-4 lazy checkpoint
    # chain (the round-11 change that DID hold up) is kept below.
    pair_expr = (
        "CASE WHEN size(split(s, '{sep}')) >= 4 THEN "
        "transform(sequence(2, size(split(s, '{sep}')) - 2), "
        "i -> struct(element_at(split(s, '{sep}'), i) AS x, "
        "element_at(split(s, '{sep}'), i + 1) AS y)) "
        "ELSE array() END"
    ).format(sep=BPE_SEP)

    # Lineage control: a LAZY chain of replace()s between periodic
    # eager checkpoints. Each round's argmax collect already forces the
    # chain since the last checkpoint (re-running ≤ CKPT-1 vocab-sized
    # replace projections inside the same job — cheap), so an eager
    # per-round materialization job is pure overhead: 2 jobs/round → 1.
    # The periodic checkpoint still bounds plan depth for large
    # n_merges (the connected-components lesson).
    ckpt_every = 4
    merges: list[tuple] = []
    for rk in range(1, n_merges + 1):
        best = (
            cur.select("freq", F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("x"), F.asc("y"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        x, y, cnt = best[0]["x"], best[0]["y"], best[0]["cnt"]
        merges.append((rk, x, y, x + y, cnt))
        cur = cur.select(
            F.replace(
                F.col("s"),
                F.lit(BPE_SEP + x + BPE_SEP + y + BPE_SEP),
                F.lit(BPE_SEP + x + y + BPE_SEP),
            ).alias("s"),
            "freq",
        )
        if rk % ckpt_every == 0 and rk < n_merges:
            cur = cur.localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "rk int, left_sym string, right_sym string, merged string, cnt long"
    )


def bpe_word_tokens(words_df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a trained BPE merge list (rank order) to a word column and
    attach the resulting token count — the ENCODE side of
    :func:`bpe_train`, with byte-identical merge semantics: the same
    separator-padded representation and the same single left-to-right
    ``replace`` per merge, folded into ONE codegen expression chain (no
    Python in the path). Run it on the DISTINCT word table and join
    back: encoding cost is vocab-sized, not corpus-sized.
    """
    s = F.concat(
        F.lit(BPE_SEP), F.regexp_replace("w", "(.)", "$1" + BPE_SEP)
    )
    for x, y in merges:
        s = F.replace(
            s,
            F.lit(BPE_SEP + x + BPE_SEP + y + BPE_SEP),
            F.lit(BPE_SEP + x + y + BPE_SEP),
        )
    n_seps = F.length(s) - F.length(F.replace(s, F.lit(BPE_SEP), F.lit("")))
    return words_df.withColumn("w_tokens", (n_seps - 1).cast("long"))


def bpe_pair_counts(df: DataFrame, *, top_k: int = 20) -> DataFrame:
    """One merge step of BPE tokenizer training: the top-k most frequent
    adjacent character pairs, corpus-weighted.

    The scalability trick is the classic one from BPE training: collapse
    the corpus to a (word, frequency) VOCABULARY first (the only
    corpus-sized aggregation), then enumerate adjacent pairs over the
    vocabulary — so pair counting costs O(|vocab| · word_len), not
    O(corpus tokens). At 100 TB the vocab table is millions of rows
    regardless of corpus size; every later merge iteration reuses it.

    All counting is exact integer arithmetic; ties at the top-k boundary
    break on the pair string, so the selected set is deterministic.
    """
    t = F.col(TEXT_COL)
    words = df.select(F.explode(F.split(t, " ")).alias("w")).filter(
        F.length("w") > 0
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    # sequence(1, n-1) DESCENDS when n < 2 on Spark — the size guard is
    # semantics, not just perf. substring(w, i, 2) == the (i, i+1) pair.
    pairs = vocab.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_k)
    )


def bfd_pack(df: DataFrame, *, capacity: int, group_col: str = "source") -> DataFrame:
    """Best-fit-decreasing sequence packing, one packing domain per group.

    The real LLM-pretraining layout step q58's concat-and-chunk
    approximates: items sorted by length DESC are placed into the open
    bin with the SMALLEST residual that still fits (ties: lowest bin
    id); no fit opens a new bin. Deterministic by contract — the order
    inside a length tie is (h, doc_id) (an md5 column + id, never
    partition order), so reruns, engines, and partitionings agree
    bin-for-bin.

    Scale shape: packing is embarrassingly parallel ACROSS groups (bins
    never span groups) and inherently sequential WITHIN one — exactly a
    per-shard `applyInPandas`. At 100 TB the group key is
    `pmod(hash(doc_id), k)` with k sized so one shard's (id, len) pairs
    fit an executor (lengths only — text never enters the kernel); here
    the demo key is the corpus `source`. The in-kernel best-fit pick is
    a bisect on a (residual, bin_id)-sorted list: O(n log n) compares +
    O(bins) memmove per item, no O(n·bins) scan.

    Emits one row per bin: group, bin_id (creation order), n_docs,
    used_tokens, waste = capacity − used.
    """
    from bisect import insort_left, bisect_left

    out_schema = (
        f"{group_col} string, bin_id long, n_docs long, "
        "used_tokens long, waste long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cap_len", "h", "doc_id"], ascending=[False, True, True]
        )
        group = pdf[group_col].iloc[0]
        residuals: list[int] = []   # by bin_id
        counts: list[int] = []
        open_bins: list[tuple[int, int]] = []  # sorted (residual, bin_id)
        for ln in pdf["cap_len"].to_numpy():
            ln = int(ln)
            i = bisect_left(open_bins, (ln, -1))
            if i < len(open_bins):
                res, bid = open_bins.pop(i)
                residuals[bid] = res - ln
                counts[bid] += 1
                insort_left(open_bins, (res - ln, bid))
            else:
                bid = len(residuals)
                residuals.append(capacity - ln)
                counts.append(1)
                insort_left(open_bins, (capacity - ln, bid))
        return pd.DataFrame(
            {
                group_col: group,
                "bin_id": range(len(residuals)),
                "n_docs": counts,
                "used_tokens": [capacity - r for r in residuals],
                "waste": residuals,
            }
        )

    return df.groupBy(group_col).applyInPandas(pack, out_schema)
