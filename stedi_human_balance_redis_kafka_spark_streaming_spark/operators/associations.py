"""Market-basket association mining (frequent item pairs + rules).

The classic retail/recommendation primitive the reference-class
engines ship as "affinity analysis": which items co-occur in the same
basket more than independence predicts.  One operator, exact-integer
metrics, Apriori-pruned — the 2-itemset core of Agrawal & Srikant's
Apriori (VLDB '94), which is the part that matters at 100 TB (longer
itemsets multiply candidate counts; pairs already answer the affinity
/ cross-sell / co-engagement questions the curation and analytics
planes ask).

Not to be confused with the repo's two association-adjacent queries:
``documents_lang_source_assoc`` tests INDEPENDENCE of two columns via
χ² (one number for the whole table), and ``events_hll_overlap``
evaluates HLL sketch accuracy on pairwise audience intersections.
This module produces the RULES — per-pair support, directional
confidence, and lift — that a recommender or a curation mix planner
consumes directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import hold, scoped

_E6 = 1_000_000


def basket_affinity(
    baskets: DataFrame,
    *,
    min_support: int = 1,
    max_basket_width: int | None = None,
) -> DataFrame:
    """Frequent item-PAIR association rules over ``baskets``.

    ``baskets``: (basket, item) — one row per basket-item incidence
    (duplicates tolerated: the operator re-distincts, so callers can
    feed raw line-level data).  ``min_support``: minimum number of
    baskets an item AND a pair must appear in — the Apriori property
    (support(pair) <= support(item)) lets the item filter prune the
    self-join's inputs, not just its output.  ``max_basket_width``
    (opt-in): RAISE if any basket holds more surviving items — the
    loud guard against a mega-basket straggler (see inline comment).
    NOTE the guard is an EAGER plan-time action (one extra Spark job
    per call — a partial-aggregable width rollup — same contract as
    ``embedding_cosine_pairs``'s max_rows gate): opting in means
    paying that scan up front so the C(width,2) fan-out is never even
    planned, and the check is point-in-time — it reflects the input
    at call time, not at the caller's later action.

    Output, one row per surviving unordered pair (item_a < item_b
    lexicographically — deterministic total order, no ties possible):

    - ``n_a``, ``n_b``: basket count of each item (post-prune);
    - ``n_both``: baskets containing both;
    - ``n_baskets``: total distinct baskets (pre-prune denominator);
    - ``conf_ab_e6`` = n_both·10⁶ div n_a (P(b|a), e6-quantized),
      ``conf_ba_e6`` symmetric;
    - ``lift_e6`` = n_both·n_baskets·10⁶ div (n_a·n_b) — 10⁶ ≈
      independence; computed in decimal(38,0) so the triple product
      cannot silently wrap at production basket counts (exact up to
      ~10¹⁵ baskets; DuckDB replays it in HUGEINT).

    All counts are exact int64 and every division is truncating
    integer div on non-negative operands — the repo FP policy, so the
    SQL oracle replays bit-for-bit.

    Scale shape: one (basket, item) distinct; per-item counts are a
    partial-aggregable groupBy; the pair stage self-joins the PRUNED
    incidence list on the basket key — per-basket work is
    C(items-per-basket, 2), bounded by the item vocabulary and in
    practice by basket width (TPC-H orders hold <= 7 lines; cap or
    raise ``min_support`` for pathological wide baskets) — followed by
    a map-side-combinable pair count.  The item-count frame is
    vocabulary-bounded and broadcast into the prune and the final
    metric join; no all-pairs stage over baskets exists anywhere.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    b = baskets.select("basket", "item").distinct()
    tot = b.agg(F.countDistinct("basket").alias("n_baskets"))
    items = (
        b.groupBy("item")
        .agg(F.count("*").alias("n_item"))
        .filter(F.col("n_item") >= min_support)
    )
    pruned = b.join(F.broadcast(items.select("item")), "item")
    if max_basket_width is not None:
        # Skew guard (opt-in, one partial-aggregable rollup): the pair
        # stage fans out C(width, 2) rows per basket INSIDE one task
        # (basket-keyed join), so a single pathological mega-basket —
        # a crawler trap, a bot account — would make one straggler do
        # O(width²) work.  The repo policy is to RAISE loudly at the
        # declared bound rather than silently drop or silently crawl;
        # the caller then caps the basket width upstream or raises
        # min_support until the offending items prune away.
        w = (
            pruned.groupBy("basket")
            .count()
            .agg(F.max("count").alias("mw"))
            .first()["mw"]
        )
        if w is not None and w > max_basket_width:
            raise RuntimeError(
                f"basket_affinity: a basket holds {w} distinct "
                f"surviving items > max_basket_width="
                f"{max_basket_width}; its pair fan-out is "
                f"C({w},2) rows in one task — cap basket width "
                f"upstream or raise min_support"
            )
    pa = pruned.select("basket", F.col("item").alias("item_a"))
    pb = pruned.select("basket", F.col("item").alias("item_b"))
    pairs = (
        pa.join(pb, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= min_support)
    )
    ia = items.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
    )
    ib = items.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "item_a",
            "item_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_baskets").cast("long").alias("n_baskets"),
            F.expr(f"n_both * {_E6} div n_a").cast("long").alias(
                "conf_ab_e6"
            ),
            F.expr(f"n_both * {_E6} div n_b").cast("long").alias(
                "conf_ba_e6"
            ),
            F.expr(
                f"cast((cast(n_both as decimal(38,0)) * n_baskets "
                f"* {_E6}) div (cast(n_a as decimal(38,0)) * n_b) "
                f"as bigint)"
            ).alias("lift_e6"),
        )
    )


def sequence_kgrams(
    events: DataFrame,
    *,
    ks: tuple[int, ...] = (2, 3),
    min_support: int = 1,
    seq_col: str = "user_id",
    item_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    sep: str = ">",
) -> DataFrame:
    """Sequential pattern mining: CONTIGUOUS item k-grams over per-key
    ordered sequences, with sequence-level support — the ordered
    complement of :func:`basket_affinity` (unordered co-occurrence)
    and of the first-order Markov transition matrix
    (``events_type_transitions`` counts occurrences; a sequential
    pattern's support counts SEQUENCES containing the pattern, the
    GSP/PrefixSpan support definition restricted to contiguous
    patterns — the session-flow / curriculum-signal shape an
    LLM-pipeline session miner asks for).

    ``events``: one row per (sequence key, item, order columns).
    ``ks``: the k-gram lengths to mine (each produces its own rows).
    ``min_support``: minimum number of DISTINCT sequences a k-gram
    must appear in (the classic support count).  ``order_cols`` must
    be a TOTAL order within each sequence (the default (ts, event_id)
    is collision-free on the events table) — a partial order would
    make the k-grams themselves nondeterministic.  ``sep`` joins item
    names into the gram label; items must not contain it (the events
    vocabulary is 5 plain words; document-style vocabularies should
    pass a control character).

    Output, one row per surviving (k, gram):

    - ``k``: pattern length;
    - ``gram``: the ``sep``-joined contiguous item sequence;
    - ``n_seqs``: distinct sequences containing the gram (support);
    - ``n_occ``: total occurrences corpus-wide (a gram repeating
      inside one sequence counts every occurrence here, once in
      ``n_seqs``).

    Scale shape: ONE sequence-keyed exchange serves every k (the lead
    window over (seq, order)); gram assembly is a narrow map; the
    rollup is a groupBy on the item-vocabulary-bounded (k, gram) key
    — |items|^k cells at most, metadata-sized for event-type-like
    vocabularies.  The distinct-sequence count shuffles (k, gram,
    seq) once before the final partial-aggregable count — bounded by
    the input row count, never quadratic.  Skewed sequence keys cost
    only the window sort (no fan-out: a sequence of length L emits
    exactly L−k+1 rows per k).
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    if not ks or any(k < 2 for k in ks):
        raise ValueError(f"ks must be lengths >= 2, got {ks!r}")
    if len(set(ks)) != len(ks):
        # ks=(2, 2) would build two identical structs per row, silently
        # doubling n_occ for that k while n_seqs stayed correct
        # (ADVICE r12) — reject rather than dedupe, so the caller's
        # typo surfaces instead of half-working.
        raise ValueError(f"ks must not contain duplicates, got {ks!r}")
    # Null contract (ADVICE r12): a null item would make concat_ws SKIP
    # it — emitting a shorter, WRONG gram that still passes the
    # __t{k-1} notNull filter (where a SQL '||' oracle would null the
    # gram) — and a null seq key would drop from countDistinct support
    # while still counting in n_occ.  Neither divergence gets to exist:
    # null items and null sequence keys are excluded up front, so a
    # null-admitting schema mines the non-null subsequences on both
    # engines identically.
    events = events.filter(
        F.col(item_col).isNotNull() & F.col(seq_col).isNotNull()
    )
    kmax = max(ks)
    w = Window.partitionBy(seq_col).orderBy(*order_cols)
    s = events.select(
        seq_col, *order_cols, F.col(item_col).alias("__t0")
    ).withColumns(
        {
            f"__t{j}": F.lead("__t0", j).over(w)
            for j in range(1, kmax)
        }
    )
    # Every k's grams derive from the SAME windowed frame via one
    # array + explode — a per-k union would re-scan, re-shuffle, and
    # re-sort the input once per k (verified in the physical plan:
    # union planned 2 Windows, this plans 1).  A row emits the grams
    # STARTING at it: k entries, null where the tail runs past the
    # sequence end (lead null), filtered after the explode.
    gram_structs = F.array(
        *[
            F.when(
                F.col(f"__t{k - 1}").isNotNull(),
                F.struct(
                    F.lit(k).cast("int").alias("k"),
                    F.concat_ws(
                        sep, *[F.col(f"__t{j}") for j in range(k)]
                    ).alias("gram"),
                ),
            )
            for k in sorted(ks)
        ]
    )
    grams = (
        s.select(
            F.col(seq_col).alias("__seq"),
            F.explode(gram_structs).alias("__g"),
        )
        .filter(F.col("__g").isNotNull())
        .select("__seq", F.col("__g.k").alias("k"), F.col("__g.gram").alias("gram"))
    )
    return (
        grams.groupBy("k", "gram")
        .agg(
            F.countDistinct("__seq").alias("n_seqs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_seqs") >= min_support)
    )


@scoped
def followed_by_pairs(
    events: DataFrame,
    *,
    min_support: int = 1,
    seq_col: str = "user_id",
    item_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """GAPPED sequential pairs — "a eventually followed by b": the
    PrefixSpan containment rule for length-2 patterns (an occurrence of
    ``a`` strictly before an occurrence of ``b``, ANY gap), where
    :func:`sequence_kgrams` requires adjacency.  The session-mining
    question this answers ("users who view eventually buy") is ordered
    like a k-gram but gap-tolerant like a basket rule — the third
    corner next to basket_affinity (unordered) and sequence_kgrams
    (contiguous).

    Support is per-sequence containment: a sequence supports (a, b)
    iff its FIRST ``a`` precedes its LAST ``b`` under the
    ``order_cols`` total order — the first/last reduction is exact for
    the exists-i<j rule (any witnessing pair implies first(a) < j ≤
    last(b), and conversely), and it covers a == b for free: positions
    are distinct ranks, so first(a) < last(a) iff ``a`` occurs twice.
    Null items / sequence keys are excluded up front (the
    sequence_kgrams contract).

    Output, one row per surviving ordered pair (a == b allowed):

    - ``antecedent`` / ``consequent``: the items;
    - ``n_ante``: sequences containing the antecedent at all;
    - ``n_both``: sequences where antecedent precedes consequent
      (the pattern's support; ``>= min_support`` survives);
    - ``conf_e6``: ``n_both·10⁶ div n_ante`` — exact-integer
      directional confidence, the basket_affinity idiom.

    Scale shape: positions are ONE sequence-keyed rank window; the
    (seq, item) reduction collapses the fact table to ≤ |vocab| rows
    per sequence BEFORE the pair stage, so the seq-keyed self-join
    fans out at most |per-seq vocab|² rows per sequence (never L²
    position pairs — the reason occurrence counting is left to the
    contiguous miner); the rollup key is vocabulary²-bounded.  A
    skewed power-user key costs its window sort and |vocab|² join
    rows, not its event count squared.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    e = events.filter(
        F.col(item_col).isNotNull() & F.col(seq_col).isNotNull()
    )
    w = Window.partitionBy(seq_col).orderBy(*order_cols)
    p = e.select(
        F.col(seq_col).alias("__seq"),
        F.col(item_col).alias("__it"),
        F.row_number().over(w).alias("__pos"),
    )
    si = hold(p.groupBy("__seq", "__it").agg(
        F.min("__pos").alias("__first"),
        F.max("__pos").alias("__last"),
    ).persist())
    n_ante = si.groupBy(F.col("__it").alias("antecedent")).agg(
        F.count("*").cast("long").alias("n_ante")
    )
    a = si.select("__seq", F.col("__it").alias("antecedent"), "__first")
    b = si.select("__seq", F.col("__it").alias("consequent"), "__last")
    pairs = a.join(b, "__seq").filter(F.col("__first") < F.col("__last"))
    ret = (
        pairs.groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= min_support)
        .join(F.broadcast(n_ante), "antecedent")
        .select(
            "antecedent",
            "consequent",
            "n_ante",
            "n_both",
            F.expr("n_both * 1000000 div n_ante").cast("long").alias("conf_e6"),
        )
    )
    return ret
