"""Connected components over candidate-pair graphs — the clustering step of
a dedup pipeline (near-dup PAIRS -> duplicate GROUPS -> one keeper per
group).

Spark-first iterative design (no GraphFrames dependency), hash-to-min with
pointer jumping over the CLOSED neighbourhood N[u] = {u} + pair partners:

- labels start as each node's own id, so the first step is a plain
  `groupBy(u).min(v)` over N[u] — no join. Every step is followed by a
  pointer jump (label := label(label)), doubling the propagation
  distance: O(log diameter) rounds on chain-shaped clusters instead of
  O(diameter).
- every later step is ONE join of N[u] against the labels plus ONE
  aggregate computing both `min` and `max` of the neighbour labels. The
  min is the next step; min == max at every node proves the current
  labels are already a fixpoint (every closed neighbourhood shares one
  label, and since labels only fall and stay inside the component, that
  label is the component's min id). So no round runs merely to confirm
  convergence: the proof rides the aggregate the next step needs anyway,
  read by one count of nodes with min != max.
- every round's frames end in `localCheckpoint` — iterative plans otherwise
  grow a lineage Catalyst re-analyzes each round (planning cost explodes
  by ~10 rounds) and re-executes from the source on failure.

The driver barrier count is set by shuffle stages, not by checkpoint
cadence: under AQE `localCheckpoint(eager=False)` is NOT lazy — the call
itself finalizes the adaptive plan, running every shuffle-map stage
beneath it as a job. A round therefore costs about (its shuffle stages +
1) jobs, and the lever is fewer stages per round.

At 100 TB the same loop holds: each round is a self-equi-join shuffle on
node id (AQE-splittable), state is one (node, label) row per node, and
round count is logarithmic in the largest cluster's diameter — dedup
clusters are near-cliques, so 1-3 rounds in practice. GraphFrames'
large-star/small-star is the same idea with a different edge rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EDGE_COLS = ("u", "v", "__uv")


def symmetrized_edges(
    pairs: DataFrame,
    src: str,
    dst: str,
    carry: tuple[str, ...] = (),
    self_loops: bool = False,
) -> DataFrame:
    """Both directions of an undirected pair list as (u, v [, *carry]) from
    ONE evaluation of the pair subtree. The union form —
    `pairs.select(a,b).unionAll(pairs.select(b,a))` — plants the whole
    (often expensive: blocked Jaccard join, pairwise cosine) pair plan
    under EACH union branch, so the first materialization executes it
    twice (guide §2.4, duplicated subtrees). A 2-struct posexplode emits
    the same multiset of rows from a single evaluation; downstream
    distinct/groupBy/window consumers are order-insensitive, so results
    are identical. `self_loops` adds (a, a) and (b, b) from the same
    explode: after `distinct`, the closed neighbourhood every node of the
    pair list needs for connected components."""
    clash = sorted(set(carry) & set(_EDGE_COLS))
    if clash:
        raise ValueError(
            f"symmetrized_edges: carry column(s) {clash} collide with the "
            f"reserved edge columns {list(_EDGE_COLS)}"
        )
    a, b = F.col(src), F.col(dst)
    ends = [(a, b), (b, a)] + ([(a, a), (b, b)] if self_loops else [])
    both = F.explode(
        F.array(*[F.struct(x.alias("u"), y.alias("v")) for x, y in ends])
    ).alias("__uv")
    return pairs.select(both, *[F.col(c) for c in carry]).select(
        F.col("__uv.u").alias("u"), F.col("__uv.v").alias("v"), *carry
    )


def connected_components(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`; component is
    the smallest node id reachable via pair edges (deterministic). Raises
    RuntimeError if the labels have not converged after `max_iter` rounds."""
    nbr = (
        symmetrized_edges(pairs, src, dst, self_loops=True)
        .distinct()
        .localCheckpoint(eager=False)
    )
    step = nbr.groupBy("u").agg(F.min("v").alias("comp"))
    for _ in range(max_iter):
        # Pointer jump: comp(u) := comp(comp(u)). Labels are node ids and
        # comp(c) <= c for every node c (c is in its own N[c]), so the jump
        # only lowers labels and every label finds its row (inner join).
        labels = (
            step.join(
                step.select(F.col("u").alias("comp"), F.col("comp").alias("jc")),
                "comp",
            )
            .select("u", F.col("jc").alias("comp"))
            .localCheckpoint(eager=False)
        )
        agg = (
            nbr.join(labels.select(F.col("u").alias("v"), F.col("comp").alias("vc")), "v")
            .groupBy("u")
            .agg(F.min("vc").alias("comp"), F.max("vc").alias("__hi"))
            .localCheckpoint(eager=False)
        )
        # min == max everywhere: `labels` is the fixpoint (module docstring)
        if agg.where(F.col("comp") != F.col("__hi")).count() == 0:
            return labels.select(F.col("u").alias("node"), F.col("comp").alias("component"))
        step = agg.select("u", "comp")
    raise RuntimeError(
        f"connected_components: labels still changing after {max_iter} rounds; "
        "raise max_iter for this graph"
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop every clustered row except its component's min-id canonical:
    the end-to-end near-dedup contract (pairs in, deduplicated table out).
    Rows never appearing in `pairs` are kept untouched."""
    comp = connected_components(pairs, src, dst)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Quality-aware canonicalization: per near-dup component keep the
    member with the HIGHEST integer score (ties -> smallest id), drop the
    rest, pass untouched rows through — the keep-longest /
    keep-best-quality policy real curation pipelines prefer over
    keep-min-id (dedup_keep_canonical), because boilerplate-stripped or
    truncated variants should lose to the fullest copy.

    The winner is one max_by over a FIXED-WIDTH STRING key
    (zero-padded score ++ zero-padded inverted id, so lexicographic ==
    (score DESC-equivalently ASC, id ASC) numeric order): exact for any
    NON-NEGATIVE integer score < 10^10 and id < 10^13 (ENFORCED — an
    out-of-domain row raises rather than mis-ordering silently),
    deterministic in any engine, and a plain hash aggregate — no
    per-component sort. The
    earlier BIGINT pack (score << 40 - id) overflowed for scores >= 2^23
    (an 8 MB document's n_chars — a real web-corpus value; ANSI throws,
    one row kills the job), and DECIMAL keys are not an option because
    DuckDB 1.0's arg_max picks a non-extreme row on them (NOTES Round 6).
    Component building is the same hash-to-min + pointer-jumping pass as
    every other cluster consumer."""
    comp = connected_components(pairs, src, dst)
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("__score")),
        "node",
    )
    # Fail-loud domain guard (ADVICE r6): outside [0, 1e10) scores /
    # [0, 1e13) ids the zero-pad key would mis-order SILENTLY in both
    # engines (lpad truncates overlong input; a negative score yields
    # '00-5'-style keys) — identically-wrong is exactly what the
    # differential gate cannot catch, so out-of-domain input raises
    # instead, like the old BIGINT pack's ANSI overflow did. The bounds
    # ride the SAME hash aggregate as the winner (min/max partials, one
    # per-GROUP check) rather than a per-row when() around the key — a
    # branch in the hot key expression measured ~15% on the 100x
    # composite; any out-of-domain row necessarily moves its group's
    # min/max outside the domain, so detection is exact either way.
    score_l = F.col("__score").cast("long")
    key = F.concat(
        F.lpad(score_l.cast("string"), 10, "0"),
        F.lpad((F.lit(9999999999999) - F.col("node")).cast("string"), 13, "0"),
    )
    raw = scored.groupBy("component").agg(
        F.max_by("node", key).alias("__keep_raw"),
        F.min(score_l).alias("__smin"),
        F.max(score_l).alias("__smax"),
        F.min("node").alias("__nmin"),
        F.max("node").alias("__nmax"),
        # NULL scores never produce a key (max_by would silently skip the
        # row): count parity keeps those fail-loud too
        F.count(F.lit(1)).alias("__n"),
        F.count(score_l).alias("__ns"),
    )
    in_domain = (
        (F.col("__smin") >= 0)
        & (F.col("__smax") <= 9999999999)
        & (F.col("__nmin") >= 0)
        & (F.col("__nmax") <= 9999999999999)
        & (F.col("__n") == F.col("__ns"))
    )
    winners = raw.select(
        "component",
        F.when(in_domain, F.col("__keep_raw"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("dedup_keep_best: score/id outside the packed-key "
                          "domain [0,1e10)x[0,1e13): score range ["),
                    F.col("__smin").cast("string"), F.lit(", "),
                    F.col("__smax").cast("string"), F.lit("], id range ["),
                    F.col("__nmin").cast("string"), F.lit(", "),
                    F.col("__nmax").cast("string"), F.lit("]"),
                )
            )
        )
        .alias("__keep"),
    )
    losers = (
        comp.join(winners, "component")
        .where(F.col("node") != F.col("__keep"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
