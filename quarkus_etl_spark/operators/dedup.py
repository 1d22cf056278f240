"""Deduplication operators for training-data pipelines (SURVEY.md Tier C
q_dedup_*): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Every near-dup operator is one pipeline: build a hashed feature table,
generate CANDIDATE pairs cheaply, then verify the candidates exactly.

- Features: `_ngram_sets` hashes each document's word n-grams to longs
  once (`__set`, `__len`, block key `__blk`); multi-consumer callers
  materialize it once.
- Candidates, one generator per strategy:
  - exhaustive: `_size_bucket_join`, the length-bucketed blocked join
    (exact by construction — it verifies inside the join condition);
  - prefix: AllPairs/PPJoin prefix filtering (`_jaccard_prefix`, exact);
  - MinHash-LSH: `_banded` signatures + bands, then `_bucket_pairs`
    in-bucket pair expansion (recall bounded by the LSH S-curve);
  - SimHash: 16-bit fingerprint bands through the same `_bucket_pairs`
    (pigeonhole: hamming <= 3 on 4 bands guarantees one equal band),
    verified with bit_count(xor).
- Verification: `_verify`, the one exact-Jaccard join (block equality,
  featureless docs never pair), so every emitted pair carries the value
  the exhaustive plan would emit — precision 1.0 on every strategy.
- Routing: `_near_dup` picks the candidate plan by corpus size
  (`_fits_exhaustive`); exact dedup is one hash shuffle on the key.

No Python UDFs anywhere — everything is codegen'd Column algebra.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import ngram_hashes, ngrams, normalize_text
from ..plans.tuning import (
    ensure_parallelism,
    log_route,
    materialize_once,
    routing_count,
)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key (deterministically the min `order_col`).
    One shuffle; no global sort."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# Shared kernels: features, banding, bucket pairs, exact verification
# --------------------------------------------------------------------------


def _ngram_sets(
    df: DataFrame, id_col: str, text_col: str, block_col: str | None, n: int
) -> DataFrame:
    """(id, __blk, __set, __len) hashed-n-gram feature table; `block_col`
    None puts every document in one block.

    Hash each n-gram to a long up front: set intersection over longs is
    several times cheaper than over strings, and Jaccard only needs
    identity, not content. Word n-grams (bigrams by default) keep Jaccard
    discriminative over small vocabularies, where character shingles of
    unrelated documents overlap heavily and flood LSH with false
    candidates.
    Stage discipline (this was a 10x bug, visible only in the plan):
    1. Repartition the RAW rows first — `repartition()` sits above its
       child, so projecting features before it would run the whole
       tokenize->bigram->hash pipeline inside the single-split scan stage
       on one core, then shuffle the finished arrays.
    2. Coalesce text/block to non-nullable before deriving features: the
       optimizer infers IsNotNull(<join key>) for derived keys and pushes
       it below the exchange with the FULL feature expression inlined —
       doubling the single-core work. Non-nullable inputs mean no
       inferred null filters at all.
    3. __len derives from the ALIASED __set column, not a second copy of
       the feature expression — a repeated expression tree here is
       recomputed per row once anything defeats subexpression elimination.
    """
    blk = F.lit("") if block_col is None else F.coalesce(F.col(block_col), F.lit(""))
    pre = ensure_parallelism(
        df.select(
            F.col(id_col),
            blk.alias("__blk"),
            # tokenized as a REAL column: ngram_hashes' general-n path
            # indexes the token array inside a lambda, and a derived
            # expression there would re-split per element (interpreted
            # HOF, no CSE — O(L²) per row); a bound attribute is O(1)
            F.split(F.coalesce(normalize_text(text_col), F.lit("")), "\\s+").alias(
                "__tk"
            ),
        )
    )
    hashed = F.array_distinct(ngram_hashes(F.col("__tk"), n))
    return pre.select(F.col(id_col), F.col("__blk"), hashed.alias("__set")).withColumn(
        "__len", F.size("__set")
    )


def _banded(
    sets: DataFrame, id_col: str, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(id, band_idx, band_hash): MinHash signature of each `__set`, cut
    into `bands` bands of num_hashes/bands rows, one row per band.

    ZERO-shuffle: each signature row is `array_min(transform(set, x ->
    hash(x, i)))`, a per-row fold over the materialized feature array —
    fully codegen'd; an explode+groupBy would pay a 64-column
    hash-aggregate for nothing. Bands are one posexplode over one array."""
    r = num_hashes // bands
    sig = [
        F.array_min(F.transform(F.col("__set"), lambda x, i=i: F.hash(x, F.lit(i))))
        for i in range(num_hashes)
    ]
    band = [F.xxhash64(*sig[b * r : (b + 1) * r], F.lit(b)) for b in range(bands)]
    return sets.select(
        id_col, F.posexplode(F.array(*band)).alias("band_idx", "band_hash")
    )


# Buckets above this size are dropped: an oversized bucket means a
# non-discriminative band, and its quadratic pair list would dominate cost
# for no precision.
MAX_BUCKET = 1000


def _bucket_pairs(
    banded: DataFrame,
    keys: list[str],
    member: Column,
    pair: Callable[[Column, Column], Column],
) -> DataFrame:
    """One `__p` row per pair of bucket-mates (bucket = equal `keys`):
    `pair(x, y)` builds the row from two `member` values, x < y.

    Grouping each bucket and expanding its pairs in place evaluates the
    banded DAG ONCE (a self-join computes it twice) and makes candidate
    generation one aggregation. The size gate runs BEFORE any bucket list
    materializes (r7, the knn_graph_ann multiplicity lesson): a WINDOW
    count over the bucket partitioning gates with one evaluation and one
    exchange (the window and the collect aggregate share it); a
    collect-then-filter form buffered a whole oversized bucket in ONE
    aggregation buffer, so a million-copy boilerplate cluster was an
    executor OOM, not just wasted work.
    CAVEAT the drop implies (documented, not silent): documents whose
    whole signature is identical collide in EVERY band, so a >MAX_BUCKET
    duplicate cluster has no smaller bucket to fall back to and emits no
    pairs — run exact dedup (dedup_exact / chunk hashing) upstream, which
    is the pipeline order the curation queries use; merely near-identical
    documents escape through a band that differs."""
    gated = banded.withColumn(
        "__bn", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    ).where(F.col("__bn").between(2, MAX_BUCKET))
    lists = gated.groupBy(*keys).agg(F.sort_array(F.collect_list(member)).alias("__m"))
    pairs = F.flatten(
        F.transform(
            F.col("__m"),
            lambda x, i: F.transform(
                F.slice(F.col("__m"), i + 2, F.size("__m")), lambda y: pair(x, y)
            ),
        )
    )
    return lists.select(F.explode(pairs).alias("__p"))


def _verify(
    cands: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    id_col: str,
    threshold: float,
    names: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """(names..., jaccard) for the candidate pairs `cands` (columns
    `names`, ids of `sa` and `sb`) whose exact Jaccard is >= threshold —
    the verification every approximate candidate plan ends in.

    Plain equi-joins on id, no broadcast hint: the feature side is the
    full corpus, so Catalyst auto-broadcasts only while its size estimate
    fits and shuffles on id otherwise (candidates are sparse, so the
    shuffle is proportional to the candidate count, not n²). Block
    equality is enforced here (bands do not see `__blk`). Featureless
    documents (under n tokens) have undefined Jaccard and never pair,
    which also keeps the division off 0/0 (DIVIDE_BY_ZERO under ANSI)."""
    na, nb = names

    def side(s: DataFrame, idn: str, k: str) -> DataFrame:
        return s.select(
            F.col(id_col).alias(idn),
            F.col("__blk").alias(f"__blk_{k}"),
            F.col("__set").alias(f"set_{k}"),
            F.col("__len").alias(f"l{k}"),
        )

    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    j = inter / (F.col("la") + F.col("lb") - inter)  # |A∪B| = |A|+|B|-|A∩B|
    return (
        cands.join(side(sa, na, "a"), na)
        .join(side(sb, nb, "b"), nb)
        .where(
            (F.col("__blk_a") == F.col("__blk_b"))
            & (F.least(F.col("la"), F.col("lb")) > 0)
        )
        .select(na, nb, j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _size_bucket_join(
    sa: DataFrame,
    sb: DataFrame,
    id_col: str,
    threshold: float,
    names: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Exact blocked Jaccard join of `sa` x `sb` at `threshold`, emitting
    (names..., jaccard). A self-join (`sa is sb`) emits each unordered
    pair once, smaller id first.

    Length filter (set-similarity-join standard): J >= t forces
    min(|A|,|B|) >= t*max(|A|,|B|), so in log_{1/t}(len) space a true
    pair's buckets differ by at most 1. The build side is exploded to
    (bucket-1, bucket, bucket+1); joining on bucket EQUALITY then means
    size-incompatible pairs never even iterate — they are pruned by the
    hash lookup, not per-pair evaluation.
    No broadcast hint: Catalyst auto-broadcasts the build side while its
    size estimate fits (the win at small SF; at scale the small delta of
    an incremental join) and falls back to a shuffle join on the
    (__blk, __bkt) equi-keys, where AQE skew splitting keeps big blocks
    parallel. The inputs are already spread by _ngram_sets'
    ensure_parallelism on the raw rows — a second guard here would both
    re-probe and re-shuffle."""
    log_base = math.log(1.0 / threshold)
    bucket = F.floor(F.log(F.greatest(F.col("__len"), F.lit(1)).cast("double")) / log_base)
    a = sa.withColumn("__bkt", bucket).alias("a")
    b = sb.withColumn(
        "__bkt", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    ).alias("b")
    la, lb = F.col("a.__len"), F.col("b.__len")
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    inter = F.size(F.array_intersect("a.__set", "b.__set")).cast("double")
    j = inter / (la + lb - inter)  # |A∪B| = |A|+|B|-|A∩B|
    # The ENTIRE predicate lives in the join condition, cheap conjuncts
    # first: codegen short-circuits left-to-right, so the intersect only
    # runs for pairs passing (id order, exact size-ratio). A post-join
    # .where() would be merged AHEAD of the cheap conjuncts by
    # PushPredicateThroughJoin (observed in the plan). The threshold is
    # applied in linear form (inter*(1+t) >= t*(|A|+|B|)) so the intersect
    # appears once; the output jaccard uses the division form, identical
    # to the SQL oracle.
    cond = (F.col("a.__blk") == F.col("b.__blk")) & (F.col("a.__bkt") == F.col("b.__bkt"))
    if sa is sb:
        cond = cond & (ida < idb)
    # NB: no single-side predicates here — a probe-only conjunct (e.g.
    # `la > 0`) gets pushed below the exchange into the scan stage with
    # the entire feature expression inlined, re-running extraction on one
    # core. least(la, lb) > 0 is a both-side conjunct: featureless docs
    # must not pair (an empty-empty pair passes the ratio filter and the
    # output division is 0/0; pinned by tests/test_edges.py).
    cond = (
        cond
        & (F.least(la, lb) > 0)
        & (F.least(la, lb) >= F.lit(threshold) * F.greatest(la, lb))
        & (inter * (1.0 + threshold) >= F.lit(threshold) * (la + lb))
    )
    return a.join(b, cond).select(
        ida.alias(names[0]), idb.alias(names[1]), j.alias("jaccard")
    )


def _jaccard_lsh(
    sets: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """MinHash-LSH candidates over the hashed n-gram sets, exact-verified:
    the verified jaccard is IDENTICAL to the exhaustive plan's value for
    every pair LSH surfaces (cross-block candidates are possible but
    sparse; the verify join drops them)."""
    cands = (
        _bucket_pairs(
            _banded(sets, id_col, num_hashes, bands),
            ["band_idx", "band_hash"],
            F.col(id_col),
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    return _verify(cands, sets, sets, id_col, threshold)


def _jaccard_prefix(sets: DataFrame, id_col: str, threshold: float) -> DataFrame:
    # -- Prefix filtering (AllPairs/PPJoin family) -------------------------
    # Exact (no recall loss): order every doc's features by global rarity
    # (document frequency, then hash as tiebreak) and keep each doc's
    # "prefix" — its ⌊(1-t)·|A|⌋+2 rarest features. Theorem: two sets with
    # J >= t MUST share at least one prefix feature under a common global
    # order (if the prefixes were disjoint, the overlap could not reach t).
    # Candidates therefore come from an equi-join on rare features instead
    # of an O(n²) blocked cross product; rare features have tiny document
    # frequency, so the join fan-out stays near-linear.
    prefix_len = F.floor(F.lit(1.0 - threshold) * F.col("__len")).cast("int") + 2

    exploded = sets.select(id_col, "__blk", "__len", F.explode("__set").alias("__h"))
    docfreq = exploded.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        exploded.join(docfreq, "__h")
        .groupBy(id_col, "__blk", "__len")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__h"))).alias("__ranked"))
    )
    prefixes = ranked.select(
        id_col,
        "__blk",
        F.explode(F.slice(F.transform("__ranked", lambda s: s["__h"]), F.lit(1), prefix_len)).alias(
            "__h"
        ),
    )
    pa, pb = prefixes.alias("pa"), prefixes.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.__h") == F.col("pb.__h"))
            & (F.col("pa.__blk") == F.col("pb.__blk"))
            & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}")),
        )
        .select(
            F.col(f"pa.{id_col}").alias("id_a"), F.col(f"pb.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return _verify(cand, sets, sets, id_col, threshold)


# --------------------------------------------------------------------------
# Corpus-size routing
# --------------------------------------------------------------------------

# Corpus-size routing threshold for the near-dup edge builders. Below it the
# exhaustive blocked quadratic is fine (and is what the DuckDB oracles
# replicate); above it the candidate plan switches to prefix filtering
# (exact) or MinHash-LSH (recall-bounded) depending on the caller. The
# count() at plan-build is a parquet-metadata action on the raw input —
# same accepted tiny-scalar class as knn_graph_ann's plane sizing.
EXHAUSTIVE_MAX_DOCS = 20_000


def _fits_exhaustive(*dfs: DataFrame) -> bool:
    # Env read stays at call time (tests flip it per-case); each count is
    # cached per (session, plan) by routing_count.
    limit = int(os.environ.get("SPARK_GRAFT_EXHAUSTIVE_MAX_DOCS", EXHAUSTIVE_MAX_DOCS))
    return sum(routing_count(df) for df in dfs) <= limit


_CANDIDATE_PLANS = {
    "exhaustive": lambda sets, id_col, t: _size_bucket_join(sets, sets, id_col, t),
    "prefix": _jaccard_prefix,
    "lsh": _jaccard_lsh,
}


def _near_dup(
    route: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    n: int,
    strategy: str,
    above: str,
) -> DataFrame:
    """Blocked near-dup pairs (id_a < id_b, jaccard) under `strategy`;
    "auto" runs the exhaustive plan while the corpus fits
    SPARK_GRAFT_EXHAUSTIVE_MAX_DOCS and `above` beyond it.

    The feature table is materialized once: every candidate plan consumes
    it at least twice (both sides of the blocked self-join; the LSH plan
    three times), so without truncation the extraction pipeline re-runs
    per consumer (r11 A/B: -8% min over the dedup family at sf0.1). This
    runs Spark jobs at CONSTRUCTION time (eager — the consumers land in
    one job, and concurrent stages double-compute a lazy intermediate);
    the mechanism is env-gated in plans/tuning.materialize_once."""
    sets = materialize_once(_ngram_sets(df, id_col, text_col, block_col, n))
    if strategy == "auto":
        strategy = "exhaustive" if _fits_exhaustive(df) else above
        log_route(route, strategy, approximate=strategy == "lsh")
    if strategy not in _CANDIDATE_PLANS:
        raise ValueError(f"unknown strategy: {strategy}")
    return _CANDIDATE_PLANS[strategy](sets, id_col, threshold)


# --------------------------------------------------------------------------
# Public near-dup operators
# --------------------------------------------------------------------------


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard) over word-bigram sets:
    MinHash signatures -> LSH candidates -> exact verification at
    `threshold` (precision 1.0, recall per the LSH S-curve). One block;
    the feature table is materialized once (see _near_dup)."""
    sets = materialize_once(_ngram_sets(df, id_col, text_col, None, 2))
    return _jaccard_lsh(sets, id_col, threshold, num_hashes, bands)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Blocked pairwise word-n-gram-set Jaccard at `threshold` — exact
    under every strategy; `strategy` picks the candidate-generation plan
    ("auto" routes by corpus size):

    - "exhaustive": blocked self-join with size-ratio pruning and
      short-circuited intersect. Catalyst picks the join strategy by its
      size estimate (auto-broadcast while the block table fits, shuffle join
      on the block/bucket equi-keys beyond that). Wins when the vocabulary
      is dense (synthetic fixtures: every feature is common, so rarity-based
      pruning has nothing to grip).
    - "prefix": AllPairs/PPJoin prefix filtering — candidates only from
      pairs sharing one of each doc's globally-rarest features. Near-linear
      on realistic Zipf-distributed corpora at cluster scale, where the
      exhaustive quadratic is intractable and rare features are truly rare.

    Both are EXACT, so auto-routing never changes the result set, only the
    candidate plan; "lsh" is rejected (near_dup_edges offers it).
    Word n-grams (default bigrams) capture local order, which keeps Jaccard
    discriminative even over a small shared vocabulary (unigram sets
    saturate). Deterministic and SQL-replicable (unlike LSH), so it serves
    as the oracle-checked member of the near-dup family."""
    if strategy == "lsh":
        raise ValueError("unknown strategy: lsh (ngram_jaccard_pairs is exact)")
    return _near_dup(
        "ngram_jaccard_pairs", df, id_col, text_col, block_col, threshold, n,
        strategy, above="prefix",
    )


def near_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Near-duplicate candidate EDGES (id_a < id_b, jaccard) for the
    graph/cluster consumers (connected components, canonical keep,
    SoftDeDup weights, PageRank/LPA, leakage checks).

    strategy="auto" is the 100 TB routing contract (VERDICT r2 #2): below
    `SPARK_GRAFT_EXHAUSTIVE_MAX_DOCS` it builds the exact exhaustive
    blocked-Jaccard graph — bit-identical to the SQL oracles — and above
    it switches to MinHash-LSH candidate generation over the SAME hashed
    n-gram sets, verified with the SAME exact Jaccard (precision 1.0,
    recall bounded by the LSH S-curve; every surviving edge carries a
    value identical to what the exhaustive plan would emit). Candidate
    cost goes from quadratic-per-block to near-linear bucket expansion
    with the MAX_BUCKET cap. "exhaustive", "prefix" and "lsh" force a plan."""
    return _near_dup(
        "near_dup_edges", df, id_col, text_col, block_col, threshold, n,
        strategy, above="lsh",
    )


def incremental_jaccard_pairs(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Asymmetric near-dup join for incremental ingest: which INCOMING
    documents are near-duplicates of the EXISTING corpus — the daily-batch
    pattern where re-running all-pairs dedup over corpus+delta would redo
    quadratic(corpus) work for a delta-sized question.

    Same blocked size-bucketed join as ngram_jaccard_pairs, but existing x
    incoming only (no existing-existing or incoming-incoming pairs, no id
    ordering needed). Returns (id_exist, id_new, jaccard) for pairs
    at/above threshold.

    strategy="auto" (the default) keeps this exact size-bucketed plan while
    corpus+delta fit SPARK_GRAFT_EXHAUSTIVE_MAX_DOCS and switches to the
    asymmetric MinHash-LSH candidate plan above it: corpus and delta are
    banded separately and candidates come from the (band_idx, band_hash)
    equi-join — shuffle volume is rows x bands per side, never corpus x
    corpus — then `_verify` (identical jaccard on every surviving pair,
    recall S-curve-bounded). At dense duplicate density the bucketed exact
    join degrades toward corpus-quadratic (measured 653 s at 500k x 500k
    replicated docs; the LSH plan is candidate-linear)."""
    sa = _ngram_sets(existing, id_col, text_col, block_col, n)
    sb = _ngram_sets(incoming, id_col, text_col, block_col, n)
    names = ("id_exist", "id_new")
    if strategy == "auto":
        strategy = "exact" if _fits_exhaustive(existing, incoming) else "lsh"
        log_route(
            "incremental_jaccard_pairs", strategy, approximate=strategy == "lsh"
        )
    if strategy == "exact":
        return _size_bucket_join(sa, sb, id_col, threshold, names)
    if strategy != "lsh":
        raise ValueError(f"unknown strategy: {strategy}")
    ba = _banded(sa, id_col).withColumnRenamed(id_col, names[0])
    bb = _banded(sb, id_col).withColumnRenamed(id_col, names[1])
    # distinct() collapses multi-band collisions
    cands = ba.join(bb, ["band_idx", "band_hash"]).select(*names).distinct()
    return _verify(cands, sa, sb, id_col, threshold, names)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash(
    df: DataFrame, id_col: str, text_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over the token+bigram set: per bit, majority vote of
    feature hashes (+1/-1); fingerprint assembles the positive bits. 64 bits
    keeps random-document hamming distances near 32, so a radius-3 search
    stays selective even over a small shared vocabulary.

    hash_family: "xxhash64" (default — JVM-native, no n-gram strings ever
    materialize; the production path) or "md5" (engine-portable, mirrors
    the q_dedup_minhash pattern so DuckDB can replicate the fingerprint
    bit-for-bit; materializes bigram strings — the conclusive-oracle pin,
    not the cheap path)."""
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown simhash hash_family: {hash_family!r}")
    one = F.lit(1).cast("long")
    # ZERO-shuffle: hash the feature set once per row, then each bit's
    # majority is a per-row filter-count over the hashed array — no explode,
    # no 64-column aggregate, fully codegen'd. Features are hashed token +
    # token-bigram longs (no n-gram strings ever materialize).
    # (shiftleft wraps to the sign bit at i=63, which is exactly the mask we
    # want; a 1<<63 literal would overflow the long.)
    pre = ensure_parallelism(
        df.select(
            F.col(id_col), F.coalesce(normalize_text(text_col), F.lit("")).alias("__txt")
        )
    )
    toks = F.split(F.col("__txt"), "\\s+")
    if hash_family == "md5":
        feats = F.array_union(toks, ngrams(toks, 2))
        # Engine-portable 64-bit feature hash: the first 16 hex chars of
        # md5, assembled as (hi32 << 32) | lo32. Both halves fit a signed
        # long before the shift, and the assembled bit pattern equals
        # DuckDB's (CAST('0x'||substr(md5(f),1,8) AS UBIGINT) << 32) | lo
        # — signed-vs-unsigned container differs, bit pattern (all that
        # SimHash uses) does not.
        # r12: the pre-r12 single-transform form referenced md5(f) twice
        # (hi and lo halves) and HOF lambdas are interpreted with NO
        # common-subexpression elimination, so every feature was
        # md5-hashed twice (visible verbatim in the committed r11 plan).
        # Chaining two transforms hashes once per feature and slices the
        # hex string in the second pass — bit-identical output
        # (interleaved A/B on q_dedup_simhash: 3.996 -> 2.836 s min).
        hashed = F.transform(
            F.transform(feats, F.md5),
            lambda m: F.shiftleft(
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
            ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long")),
        )
    else:
        hashed = F.array_union(
            F.array_distinct(F.transform(toks, lambda x: F.xxhash64(x))),
            F.array_distinct(ngram_hashes(toks, 2)),
        )
    base = pre.select(F.col(id_col), hashed.alias("__f")).withColumn("__n", F.size("__f"))
    fingerprint = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        mask = F.shiftleft(one, i)
        pos = F.size(F.filter(F.col("__f"), lambda v: v.bitwiseAND(mask) != 0))
        fingerprint = fingerprint.bitwiseOR(
            F.when(pos * 2 > F.col("__n"), mask).otherwise(F.lit(0).cast("long"))
        )
    return base.select(id_col, fingerprint.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Banding the 64-bit fingerprint into (max_hamming+1) 16-bit bands gives the
    pigeonhole guarantee: any pair within the radius shares at least one
    exact band — candidates come from _bucket_pairs over equal bands, never
    a cross join, and are verified with bit_count(xor)."""
    bands = max_hamming + 1
    width = SIMHASH_BITS // bands
    fp = simhash(df, id_col, text_col, hash_family=hash_family)
    banded = fp.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias(f"band{b}")
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    return (
        _bucket_pairs(
            banded,
            ["band_idx", "band_val"],
            F.struct(F.col(id_col), F.col("simhash")),
            lambda x, y: F.struct(
                x[id_col].alias("id_a"),
                y[id_col].alias("id_b"),
                F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
            ),
        )
        .select("__p.id_a", "__p.id_b", "__p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# Pair resolution: near-dup pairs -> surviving rows
# --------------------------------------------------------------------------


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Resolve near-dup pairs into a deduplicated dataset: every id that
    appears as the GREATER member of a pair is dropped, keeping the
    lowest-id representative of each duplicate cluster (pairs carry
    id_a < id_b, so min-side survivors are stable without iterative
    connected components — for chains a<b<c both b and c name a smaller
    partner and drop out). One anti-join on id; Catalyst broadcasts the
    loser set only while its measured size fits."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
