"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design:

- **Exact** dedup groups on a 16-byte md5 fingerprint, never the text —
  the shuffle is O(docs × 16 B).
- **n-gram Jaccard** uses an inverted shingle index (explode → self-join
  on shingle → per-pair intersection counts) instead of the O(n²)
  cross-join: only pairs that SHARE at least one shingle are ever
  materialized, which is the standard way this survives 100 TB.
- **MinHash-LSH** banding: per-doc signatures (K minhashes), grouped
  into bands; docs sharing a band bucket become candidates. Hash
  functions are ``md5(seed_k || shingle)`` kept as fixed-width hex
  strings — lexicographic min over fixed-width lowercase hex equals
  numeric min, which makes the whole operator expressible in portable
  SQL (and therefore oracle-checkable in DuckDB) with no Python UDFs.
- **SimHash**: 16-bit signatures from md5 hex digits via pure bit
  arithmetic — again portable and codegen'd.

All operators are deterministic: no RNG, no partition-order dependence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .partitioning import fanout
from .text import ID_COL, TEXT_COL, fingerprint, tokens

HEX = "0123456789abcdef"
# MinHash-LSH banding: 8 minhashes in 4 bands of 2 rows
NUM_HASHES = 8
BANDS = 4
# connected_components raises rather than propagate for more rounds
# than this (25 covers any graph under ~2^25 nodes of pure path)
CC_MAX_ROUNDS = 25


# -- exact ------------------------------------------------------------------

def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative of each distinct normalized text."""
    return (
        df.withColumn("__fp", fingerprint(TEXT_COL))
        .groupBy("__fp")
        .agg(F.min(ID_COL).alias("keep_id"), F.count("*").alias("n_copies"))
        .drop("__fp")
    )


# -- shingling --------------------------------------------------------------

def with_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc (docs with < n tokens drop out).

    Tokenize FIRST and materialize the token array through the fan-out
    exchange. If the gram lambda referenced ``split(text)`` directly,
    Catalyst would inline the split into every ``element_at`` call and
    re-tokenize the document 3·(#grams) times — that, not the explode,
    is the classic hot spot. The exchange also decouples parallelism
    from however few files the corpus arrived in.
    """
    toks = fanout(df.select(F.col(id_col), tokens(text_col).alias("__tokens")))
    t = F.col("__tokens")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)]),
    )
    return (
        toks.filter(F.size(t) >= n)
        .select(F.col(id_col), F.array_distinct(grams).alias("shingles"))
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # `size(shingles) > 0` filter (InferFiltersFromGenerate) and push it
    # below the fan-out exchange — re-inlining the whole shingle
    # expression into a pre-shuffle, file-layout-parallel Filter that
    # then runs AGAIN post-shuffle. The size >= n guard in with_shingles
    # already guarantees non-empty arrays, so outer ≡ inner here.
    return with_shingles(df, text_col, id_col, n).select(
        id_col, F.explode_outer("shingles").alias("shingle")
    )


def _sorted_pairs(ids: Column) -> Column:
    """All (id_a < id_b) pairs from a sorted id array, as structs."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


# -- n-gram Jaccard ---------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard ≥ threshold.

    ``exploded`` lets the caller pass a prebuilt (id, shingle) index
    (e.g. a session-shared localCheckpoint) so sibling queries skip
    re-tokenizing the corpus.

    Inverted-index plan: one explode, one self-join on `shingle`
    (co-occurrence counts = intersection size), one broadcast join for
    set sizes. Hot shingles are the skew risk at scale — AQE skew-join
    handles moderate skew; ``max_df`` is the pathological-case guard:
    shingles appearing in more than max_df documents are dropped from
    the index BEFORE the self-join (each contributes O(df²) pairs while
    carrying almost no similarity signal — the standard stop-shingle
    cut). Note: capping makes the result an under-approximation of
    exact Jaccard (intersections lose capped shingles; set sizes keep
    them), which is the usual trade — the exact form is max_df=None.
    """
    ex = exploded if exploded is not None else _exploded_shingles(df, TEXT_COL, ID_COL, n)
    sizes = ex.groupBy(ID_COL).agg(F.count("*").alias("set_size"))
    if max_df is not None:
        hot = (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")

    # codegen'd hash self-join on the shingle — measured faster than a
    # posting-list groupBy + in-list pair expansion (the HOF pair
    # lambda is interpreted; the join stays in whole-stage codegen).
    # Hot shingles make |posting|² pairs either way; the upstream
    # mitigation at scale is a document-frequency cap.
    a = ex.select(F.col(ID_COL).alias("id_a"), "shingle")
    b = ex.select(F.col(ID_COL).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter_size"))
    )
    sz_a = sizes.select(F.col(ID_COL).alias("id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col(ID_COL).alias("id_b"), F.col("set_size").alias("size_b"))
    jacc = F.col("inter_size") / (F.col("size_a") + F.col("size_b") - F.col("inter_size"))
    # no broadcast hint: `sizes` is one row per document, which scales
    # with the corpus — the size threshold / AQE decides (broadcasts at
    # test SFs, shuffle-joins at 100 TB where it would not fit)
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("jaccard", F.round(jacc, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame, n: int = 3, threshold: float = 0.2, exploded: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family) — provably the same answer as
    ``ngram_jaccard_pairs``, reached through a different candidate
    generator: index only each doc's first ``|s| − ⌈t·|s|⌉ + 1``
    shingles under a global rarest-first ordering. Pigeonhole: a pair
    with overlap ≥ ⌈t·|s|⌉ (implied by Jaccard ≥ t for both sets of
    the pair) must share a prefix element, so no false negatives; the
    prefix hits the RAREST shingles, so posting lists in the candidate
    join are short where the full inverted index is long.

    Plan shape: one document-frequency aggregate (shuffle on shingle),
    one per-doc array build (shuffle on id; the rarest-first sort is
    ROW-LOCAL — array_sort inside the row, no global sort), a prefix
    posting-list join, then a verify step joining the two full sorted
    shingle arrays per candidate pair (array_intersect is row-local).
    Verification is candidate-sized, not corpus-sized.
    """
    import math

    ex = exploded if exploded is not None else _exploded_shingles(df, TEXT_COL, ID_COL, n)
    # document frequency attaches as count(*) OVER (PARTITION BY
    # shingle) — the q144 round-11 trick: one Exchange(shingle) pass
    # instead of a groupBy aggregate + rejoin that shuffles ex twice
    # (round-12 A/B: per-doc stage min 1.07 → 0.75 s, won 4/4 reps;
    # identical integers — same count over the same partition multiset)
    per_doc = (
        ex.withColumn("__df", F.count("*").over(W.partitionBy("shingle")))
        .groupBy(ID_COL)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("__ordered")
        )
        .select(
            ID_COL,
            F.transform("__ordered", lambda s: s.getField("shingle")).alias("__toks"),
        )
        .select(
            ID_COL,
            "__toks",
            F.size("__toks").alias("__sz"),
            F.slice(
                "__toks",
                1,
                F.greatest(
                    F.lit(1),
                    # ceil over (product − ε): if t·|d| is mathematically an
                    # integer but the float product lands a hair above it,
                    # a bare ceil would shorten the prefix by one and could
                    # drop an exactly-at-threshold pair — same conservative-
                    # boundary rule as the length filter below
                    F.size("__toks")
                    - F.ceil(F.size("__toks") * threshold - 1e-9).cast("int")
                    + 1,
                ),
            ).alias("__prefix"),
        )
        .localCheckpoint(eager=True)  # feeds the candidate join twice + verify twice
    )
    pref = per_doc.select(
        ID_COL, "__sz", F.posexplode("__prefix").alias("__p", "shingle")
    )
    a = pref.select(
        F.col(ID_COL).alias("id_a"),
        F.col("__sz").alias("__sza"),
        (F.col("__p") + 1).alias("__pa"),
        "shingle",
    )
    b = pref.select(
        F.col(ID_COL).alias("id_b"),
        F.col("__sz").alias("__szb"),
        (F.col("__p") + 1).alias("__pb"),
        "shingle",
    )
    # AllPairs length filter (exactness-preserving): Jaccard >= t forces
    # t·max(|a|,|b|) <= min(|a|,|b|), so size-mismatched collisions are
    # dropped BEFORE the distinct and the array verify — at low t this
    # is the only cheap prune (the prefix itself is ~(1-t) of each doc).
    # The bound is relaxed by an epsilon so float rounding can never
    # evict an exactly-at-threshold pair (e.g. |a|/|b| == t where
    # size*threshold rounds a hair above the integer): the verify step
    # keeps jaccard >= t INCLUSIVE, so the prune must be conservative
    # at the boundary — extra candidates are verified away, dropped
    # true pairs are gone for good.
    # PPJoin positional filter (exactness-preserving): Jaccard ≥ t ⇒
    # |A∩B| ≥ t/(1+t)·(|A|+|B|); a match at (1-based) prefix positions
    # (pa, pb) bounds the overlap by 1 + min(|A|−pa, |B|−pb) — every
    # common element sits at-or-after the matched one in the shared
    # global shingle order. A true pair always survives through its
    # FIRST common shingle (which prefix filtering guarantees both
    # prefixes contain), so pruning matches that fail the bound drops
    # candidates, never answers. On length-homogeneous corpora (where
    # the length filter is inert) this is the prune that actually
    # bites: late-prefix collisions can no longer reach the verify
    # join. Epsilons keep both bounds conservative under float
    # rounding, as above.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__sza") + F.col("__szb"))
        - 1e-9
    )
    pos_bound = F.lit(1) + F.least(
        F.col("__sza") - F.col("__pa"), F.col("__szb") - F.col("__pb")
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__szb") * threshold <= F.col("__sza") + 1e-9)
            & (F.col("__sza") * threshold <= F.col("__szb") + 1e-9)
            & (pos_bound >= min_overlap)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify-join strategy (round-11, guide §3.1): the build side is the
    # per-doc array table (the smaller side — docs, not candidates); the
    # shuffle_hash hint avoids SORTING the candidate set and the array
    # payloads that a sort-merge join pays twice. Measured −45% on the
    # verify stage at sf0.1 (4.60 → 2.53 s) with identical output; the
    # per-partition hash build is per_doc/n_partitions, the standard SHJ
    # memory contract.
    sa = per_doc.select(
        F.col(ID_COL).alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__sz").alias("__na"),
    ).hint("shuffle_hash")
    sb = per_doc.select(
        F.col(ID_COL).alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__sz").alias("__nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("__ta", "__tb"))
    jac = F.round(
        inter / (F.col("__na") + F.col("__nb") - inter), 6
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_containment_pairs(
    df: DataFrame, threshold: float = 0.4, exploded: DataFrame | None = None
) -> DataFrame:
    """Exact asymmetric-containment pairs (max direction ≥ threshold)
    via CONTAINMENT-ADAPTED prefix filtering — same answer as the
    brute inverted-index full×full join, reached through an ASYMMETRIC
    candidate generator: because
    max(C(A→B), C(B→A)) = |A∩B| / min(|A|,|B|), a qualifying pair has
    overlap ≥ ⌈t·|S|⌉ where S is the SMALLER set, so (pigeonhole, under
    the shared global rarest-first shingle order) at least one shared
    shingle sits in S's first |S| − ⌈t·|S|⌉ + 1 positions — and that
    shingle is somewhere in the larger doc L's FULL list. Candidates
    therefore come from joining SMALLER-doc prefixes against FULL
    posting lists (the larger side gets no prefix bound — its required
    overlap t·|S| can be an arbitrarily small fraction of |L|, which is
    exactly why symmetric Jaccard-style prefixes are unsound for
    containment). No false negatives; verify is candidate-sized
    (row-local array_intersect on the full sorted arrays).

    Scale shape vs the naive join: the full×full inverted-index join
    costs Σ_g df_g² and the stop-shingle head makes that quadratic in
    corpus size (measured 53× wall at 10× data before this rewrite);
    here one side is prefix-only, and rarest-first prefixes exclude
    exactly the high-df head, so per-shingle cost m_g·df_g has m_g ≈ 0
    wherever df_g is large. PPJoin positional filter carries over
    unchanged: common elements appear in the same relative order in
    both docs, so a candidate matched at (1-based) positions (p_s,
    p_l) bounds overlap by 1 + min(|S|−p_s, |L|−p_l); a true pair
    always survives through its FIRST common shingle. The threshold is
    relaxed to t − 1e-6 in every bound because the verify step rounds
    the ratio to 6 dp BEFORE comparing (round(x, 6) ≥ t can hold at
    x = t − 5e-7); epsilons keep ceil conservative under float
    rounding, as in the Jaccard twin above.
    """
    ex = exploded if exploded is not None else _exploded_shingles(df, TEXT_COL, ID_COL, 3)
    t_eff = threshold - 1e-6  # 6-dp-round-then-compare relaxation
    k_req = F.ceil(F.size("__toks") * t_eff - 1e-9).cast("int")
    # window-attached document frequency — same rewrite as the Jaccard
    # twin above (one Exchange(shingle) pass, identical integers)
    per_doc = (
        ex.withColumn("__df", F.count("*").over(W.partitionBy("shingle")))
        .groupBy(ID_COL)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("__ordered")
        )
        .select(
            ID_COL,
            F.transform("__ordered", lambda s: s.getField("shingle")).alias("__toks"),
        )
        .select(
            ID_COL,
            "__toks",
            F.size("__toks").alias("__sz"),
            F.slice(
                "__toks",
                1,
                F.greatest(F.lit(1), F.size("__toks") - k_req + 1),
            ).alias("__prefix"),
        )
        .localCheckpoint(eager=True)  # feeds candidate join twice + verify twice
    )
    s = per_doc.select(
        F.col(ID_COL).alias("id_s"),
        F.col("__sz").alias("__szs"),
        F.posexplode("__prefix").alias("__p", "shingle"),
    ).select("id_s", "__szs", (F.col("__p") + 1).alias("__ps"), "shingle")
    l = per_doc.select(
        F.col(ID_COL).alias("id_l"),
        F.col("__sz").alias("__szl"),
        F.posexplode("__toks").alias("__p", "shingle"),
    ).select("id_l", "__szl", (F.col("__p") + 1).alias("__pl"), "shingle")
    min_overlap = F.ceil(F.lit(t_eff) * F.col("__szs") - 1e-9)
    pos_bound = F.lit(1) + F.least(
        F.col("__szs") - F.col("__ps"), F.col("__szl") - F.col("__pl")
    )
    cand = (
        s.join(l, "shingle")
        .filter(
            # s is the strictly-smaller doc, or the smaller id on a size
            # tie — each unordered pair is generated through exactly one
            # (smaller, larger) role assignment
            (
                (F.col("__szs") < F.col("__szl"))
                | ((F.col("__szs") == F.col("__szl")) & (F.col("id_s") < F.col("id_l")))
            )
            & (pos_bound >= min_overlap)
        )
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
        )
        .distinct()
    )
    # shuffle_hash on the per-doc array side — same rationale and
    # measurement as the Jaccard twin's verify join above (§3.1).
    sa = per_doc.select(
        F.col(ID_COL).alias("id_a"),
        F.col("__toks").alias("__ta"),
        F.col("__sz").alias("__na"),
    ).hint("shuffle_hash")
    sb = per_doc.select(
        F.col(ID_COL).alias("id_b"),
        F.col("__toks").alias("__tb"),
        F.col("__sz").alias("__nb"),
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("__ta", "__tb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("long").alias("inter_size"),
            F.col("__na").cast("long").alias("size_a"),
            F.col("__nb").cast("long").alias("size_b"),
            F.round(inter / F.col("__na"), 6).alias("cont_ab_r"),
            F.round(inter / F.col("__nb"), 6).alias("cont_ba_r"),
        )
        .filter(
            (F.col("cont_ab_r") >= threshold) | (F.col("cont_ba_r") >= threshold)
        )
    )


def contamination(train: DataFrame, eval_set: DataFrame, n: int = 4) -> DataFrame:
    """Benchmark decontamination: train docs sharing ≥1 word n-gram with
    any eval doc, with the shared-gram and touched-eval-doc counts.

    The standard pretraining hygiene pass (GPT-3-style n-gram overlap):
    eval benchmarks are tiny relative to the corpus, so the eval shingle
    index is BROADCAST — the train side streams through a map-side hash
    join with no shuffle of the corpus, then aggregates per train doc.
    Only contaminated docs survive (inner join), so the aggregate input
    is overlap-sized, not corpus-sized. Downstream either drops flagged
    docs (strict) or masks the spans (surgical); both consume exactly
    this output.
    """
    tr = _exploded_shingles(train, TEXT_COL, ID_COL, n)
    ev = _exploded_shingles(eval_set, TEXT_COL, ID_COL, n).select(
        F.col(ID_COL).alias("__eval_id"), "shingle"
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(ID_COL)
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("__eval_id").alias("n_eval_docs"),
        )
    )


# -- MinHash-LSH ------------------------------------------------------------

def band_struct_array(num_hashes: int, bands: int) -> Column:
    """LSH banding of an mh_0..mh_{K-1} signature row: an array of
    (band, key) structs, key = the band's r=K/b hashes joined — shared
    by the batch incremental path (q153) and the streaming ingest job
    so both bucket identically."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * r + i}") for i in range(r)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_signature(num_hashes: int) -> list[Column]:
    """K minhash aggregates over an exploded `shingle` column.

    h_k(S) = min over shingles of md5("k:" || shingle) — fixed-width
    lowercase hex, so min(string) == numeric min of the 128-bit value.
    """
    return [
        F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("shingle")))).alias(f"mh_{k}")
        for k in range(num_hashes)
    ]


def minhash_lsh_candidates(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ALL rows of ≥1 band.

    rows-per-band r = num_hashes/bands; P(candidate) ≈ 1-(1-J^r)^bands.
    Scale: signatures are num_hashes × 32 B per doc; the band self-join
    shuffles on the band bucket key, and genuinely-duplicate clusters are
    the only large buckets (that skew is inherent and AQE-split).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    ex = exploded if exploded is not None else _exploded_shingles(df, TEXT_COL, ID_COL, n)
    sig = ex.groupBy(ID_COL).agg(*minhash_signature(num_hashes))

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", *[F.col(f"mh_{b * r + i}") for i in range(r)]).alias("key"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select(
        F.col(ID_COL), F.explode(band_structs).alias("bk")
    ).select(ID_COL, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    # same posting-list plan as ngram_jaccard_pairs: one shuffle on the
    # band bucket, pairs expanded in-bucket (a self-join would shuffle
    # and recompute the signature pipeline twice)
    return (
        buckets.groupBy("band", "key")
        .agg(F.array_sort(F.collect_list(F.col(ID_COL))).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode_outer(_sorted_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def incremental_lsh_neardups(
    exploded: DataFrame, new_ids: DataFrame, threshold: float = 0.2
) -> DataFrame:
    """Near-dups of a NEW batch against the EXISTING corpus — the daily
    ingestion shape: the increment must never trigger a corpus×corpus
    comparison, only increment×corpus through the LSH band buckets.

    ``exploded`` is the (id, shingle) index over corpus ∪ batch (build
    signatures in ONE pass — at scale the corpus signatures are a
    maintained artifact and only the batch side is computed fresh);
    ``new_ids`` holds the batch's ids. Steps: band buckets split into
    new/old via semi/anti joins on ``new_ids``; candidates = bucket
    equi-join of new against old (the corpus never self-joins); exact
    Jaccard refine runs only over candidate docs' posting lists
    (semi-join shrink first), so refine cost is output-sized, not
    corpus-sized. Returns (id_a=new, id_b=old, jaccard ≥ threshold)
    for band-colliding pairs — the same verify-after-LSH contract as
    minhash_lsh_candidates + ngram_jaccard_pairs composed.
    """
    sig = exploded.groupBy(ID_COL).agg(*minhash_signature(NUM_HASHES))
    band_structs = band_struct_array(NUM_HASHES, BANDS)
    # the new/old split consumes buckets twice (semi + anti) inside one
    # join — materialize so the 8-md5-min signature aggregate runs ONCE.
    # At production scale this table (4 small rows per doc) is exactly
    # the maintained corpus-signature artifact incremental ingestion
    # keeps around between batches.
    buckets = (
        sig.select(F.col(ID_COL), F.explode(band_structs).alias("bk"))
        .select(ID_COL, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .localCheckpoint(eager=True)
    )

    nb = buckets.join(new_ids, ID_COL, "left_semi").withColumnRenamed(
        ID_COL, "id_a"
    )
    ob = buckets.join(new_ids, ID_COL, "left_anti").withColumnRenamed(
        ID_COL, "id_b"
    )
    # cand feeds THREE consumers (both posting-list shrinks + the final
    # semi-join); without a barrier each one re-runs the signature
    # pipeline (8 md5-min aggregates over every shingle). It is
    # output-sized — checkpointing it is the lesson-8 move.
    cand = (
        nb.join(ob, ["band", "key"])
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)
    )

    sizes = exploded.groupBy(ID_COL).agg(F.count("*").alias("set_size"))
    sh_a = exploded.join(
        cand.select(F.col("id_a").alias(ID_COL)).distinct(), ID_COL, "left_semi"
    ).withColumnRenamed(ID_COL, "id_a")
    sh_b = exploded.join(
        cand.select(F.col("id_b").alias(ID_COL)).distinct(), ID_COL, "left_semi"
    ).withColumnRenamed(ID_COL, "id_b")
    inter = (
        sh_a.join(sh_b, "shingle")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter_size"))
        .join(cand, ["id_a", "id_b"], "left_semi")
    )
    j = F.round(
        F.col("inter_size")
        / (F.col("sa") + F.col("sb") - F.col("inter_size")),
        6,
    )
    return (
        inter.join(sizes.select(F.col(ID_COL).alias("id_a"), F.col("set_size").alias("sa")), "id_a")
        .join(sizes.select(F.col(ID_COL).alias("id_b"), F.col("set_size").alias("sb")), "id_b")
        .select("id_a", "id_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -- connected components (near-dup clustering) -----------------------------

def connected_components(edges: DataFrame) -> DataFrame:
    """Cluster ids for every node of an undirected (id_a, id_b) edge set.

    Min-label propagation: label(v) starts at min(v, neighbors(v)) and
    each round takes the min over the neighborhood; fixpoint = connected
    components, cluster_id = min node id in the component. This is the
    step that turns pairwise near-dup evidence into dedup groups — the
    pair relation is not transitive, the component is.

    Scale: each round shuffles twice — neighbor-label propagation
    (edges ⨝ labels) AND pointer jumping (labels ⨝ labels: take your
    label's label). The jump halves remaining chain depth per round, so
    convergence is O(log diameter) instead of O(diameter) — a 1M-node
    path needs ~20 rounds, not 1M (same doubling idea as the
    large-star/small-star MapReduce CC algorithm of Kiveris et al.).
    ``localCheckpoint`` truncates lineage so round N's plan does not
    replay rounds 1..N-1 (on a production cluster, prefer a reliable
    ``checkpoint`` dir — localCheckpoint pins blocks to executors).
    Convergence piggybacks on a 1-row aggregate: labels only ever
    decrease, so an unchanged sum IS the fixpoint — no extra join.
    Raises rather than returning silently-unconverged labels if
    ``CC_MAX_ROUNDS`` is exhausted.
    """
    a, b = F.col("id_a"), F.col("id_b")
    sym = edges.select(a.alias("node"), b.alias("nbr")).union(
        edges.select(b.alias("node"), a.alias("nbr"))
    )
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.groupBy("node")
        .agg(F.min("nbr").alias("min_nbr"))
        .select("node", F.least("node", "min_nbr").alias("label"))
        .localCheckpoint(eager=True)
    )
    prev = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(CC_MAX_ROUNDS):
        nbr_labels = sym.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "label")
        jumped = (
            labels.select("node", F.col("label").alias("__via"))
            .join(
                labels.select(
                    F.col("node").alias("__via"), F.col("label").alias("jlabel")
                ),
                "__via",
            )
            .select("node", F.col("jlabel").alias("label"))
        )
        labels = (
            labels.union(nbr_labels)
            .union(jumped)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur = labels.agg(F.sum("label")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# -- SimHash ----------------------------------------------------------------

def simhash_bit_exprs(dialect: str) -> tuple[list[str], list[str]]:
    """Generate the per-token hex-digit exprs and 16 per-bit ±1 exprs.

    Returns ([digit_expr_0..3], [bit_expr_0..bit_expr_15]) in the
    given dialect ('spark' uses instr/shiftright, 'duckdb' uses
    strpos/>>). Shared generator so the Spark plan and the DuckDB oracle
    are provably the same function.
    """
    pos = "instr" if dialect == "spark" else "strpos"
    digits = [
        f"{pos}('{HEX}', substring(md5(token), {i + 1}, 1)) - 1 AS d{i}" for i in range(4)
    ]
    bits = []
    for j in range(16):
        i, s = j // 4, 3 - (j % 4)
        if dialect == "spark":
            bit = f"(shiftright(d{i}, {s}) & 1)"
        else:
            bit = f"((d{i} >> {s}) & 1)"
        bits.append(f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END AS c{j}")
    return digits, bits


def simhash16(df: DataFrame) -> DataFrame:
    """16-bit SimHash per document (token-multiset weighted)."""
    ex = fanout(df).select(F.col(ID_COL), F.explode(tokens(TEXT_COL)).alias("token"))
    digits, bits = simhash_bit_exprs("spark")
    with_digits = ex.selectExpr(ID_COL, "token", *digits)
    with_bits = with_digits.selectExpr(ID_COL, *bits)
    summed = with_bits.groupBy(ID_COL).agg(
        *[F.sum(f"c{j}").alias(f"s{j}") for j in range(16)]
    )
    sim = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return summed.select(F.col(ID_COL), sim.cast("long").alias("simhash"))


def simhash16_sql() -> str:
    """The DuckDB oracle for :func:`simhash16`, from the same generator."""
    digits, bits = simhash_bit_exprs("duckdb")
    sim_terms = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16)
    )
    sums = ", ".join(f"sum(c{j}) AS s{j}" for j in range(16))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dig AS (
  SELECT doc_id, token, {", ".join(digits)} FROM tok
),
bits AS (
  SELECT doc_id, {", ".join(bits)} FROM dig
),
summed AS (
  SELECT doc_id, {sums} FROM bits GROUP BY doc_id
)
SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash FROM summed
"""


def sorted_neighborhood_pairs(
    df: DataFrame, key_len: int = 24, window: int = 5
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995)
    with distinct-token Jaccard scores — the third blocking strategy in
    this engine next to hash buckets (LSH) and posting-list prefixes.

    Records sort by a cheap blocking key (first ``key_len`` chars of
    the lowered text, NULLs as ''); each record pairs with the next
    ``window`` records in that order — O(n·w) candidates, never O(n²).

    Scale shape: the global order comes from
    :func:`..operators.partitioning.with_global_rank` (two-pass bucket
    offsets, bucket = the key's first character — bounded domain,
    monotone in the sort) instead of a single-partition window, and the
    rank band becomes an EQUI-join after a bounded explode of the
    ``window`` offsets — no range-join BNLJ. Token arrays ride through
    the one 5×-expanded join; Jaccard is array_intersect arithmetic,
    fully JVM-side.

    Returns (id_a, id_b, jaccard) for every candidate pair with a
    non-empty token union; jaccard is rounded to 6 dp. Thresholding is
    the caller's policy.
    """
    from .partitioning import with_global_rank

    keyed = df.select(
        F.col(ID_COL),
        F.substring(
            F.lower(F.coalesce(F.col(TEXT_COL), F.lit(""))), 1, key_len
        ).alias("__bk"),
        F.array_distinct(
            F.split(F.coalesce(F.col(TEXT_COL), F.lit("")), " ")
        ).alias("__toks"),
    )
    ranked = with_global_rank(
        keyed,
        [],
        [F.asc("__bk"), F.asc(ID_COL)],
        bucket=F.substring("__bk", 1, 1),
        rank_col="__rnk",
        # two consumers below (left/right of the band join)
    ).localCheckpoint(eager=True)
    left = (
        ranked.select(
            F.col(ID_COL).alias("id_a"),
            F.col("__toks").alias("__ta"),
            F.col("__rnk").alias("__ra"),
        )
        .withColumn("__dr", F.explode(F.sequence(F.lit(1), F.lit(window))))
        .withColumn("__rnk", F.col("__ra") + F.col("__dr"))
    )
    right = ranked.select(
        F.col(ID_COL).alias("id_b"), F.col("__toks").alias("__tb"), "__rnk"
    )
    inter = F.size(F.array_intersect("__ta", "__tb"))
    uni = F.size("__ta") + F.size("__tb") - inter
    return (
        left.join(right, "__rnk")
        .filter(uni > 0)
        .select(
            "id_a",
            "id_b",
            F.round(inter / uni, 6).alias("jaccard"),
        )
    )
