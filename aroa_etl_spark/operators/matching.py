"""Cross-dataset person matching: blocked fuzzy similarity join
(SURVEY §2 J6/W2/O4; reference person_matching/matching.py).

Spark architecture (replaces the reference's per-row Python probe loop):

1. Both sides explode their name tokens into blocking keys
   ``(prefix_n_chars, len // len_band)`` — the reference's bucket scheme
   (matching.py:25-26), which doubles as skew control: the length band
   splits hot prefixes.
2. Candidate pairs = (src ⋈ trg on fname-key) ∩ (src ⋈ trg on lname-key)
   — two shuffle equi-joins + one semi-join instead of O(n²) probing.
3. Pairs are scored with an Arrow-batched pandas UDF running
   ``person_similarity`` (no built-in fuzzy join exists in Spark; blocked
   equi-join + UDF scoring is the idiomatic pattern).
4. Top-k per source via ranking window over every source left-joined to
   its scored pairs, so unmatched sources come out with score -1 (the
   reference's manual re-add, J4) without a second pass over the pairs.
5. ``allow_duplicates=False``: best-per-target window; a source that
   keeps no target falls back to its -1 row — no groupby-merge
   roundtrip.

Output schema: (srcID, score, trgID) — the reference's match edge table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from aroa_etl_spark.functions.simkernels import (
    date_similarity,
    person_similarity_batch,
    simple_date_matcher,
)


def _block_keys(name_col: Column, n_chars: int, len_band: int) -> Column:
    """Array of blocking keys for every whitespace token of a processed
    name: 'prefix|len_band' strings (matching.py:10-27). Tokens are
    pre-stripped to [a-z ] like the reference."""
    cleaned = F.regexp_replace(name_col, r"[^a-z\s]", "")
    toks = F.split(cleaned, " ")
    return F.array_distinct(
        F.transform(
            toks,
            lambda t: F.concat_ws(
                "|",
                F.substring(t, 1, n_chars),
                F.floor(F.length(t) / len_band).cast("string"),
            ),
        )
    )


def _combined_keys(gname_col: Column, lname_col: Column, n_chars: int, len_band: int) -> Column:
    """Cross product of fname block keys × lname block keys, packed into
    one string key. A pair of rows shares ≥1 fname key AND ≥1 lname key
    iff it shares ≥1 combined key — so ONE equi-join on this key computes
    the fname-bucket ∩ lname-bucket intersection directly."""
    fk = _block_keys(gname_col, n_chars, len_band)
    lk = _block_keys(lname_col, n_chars, len_band)
    return F.array_distinct(
        F.flatten(F.transform(fk, lambda f: F.transform(lk, lambda l: F.concat_ws("&", f, l))))
    )


def candidate_pairs(
    src: DataFrame,
    trg: DataFrame,
    src_id: str,
    trg_id: str,
    src_gname: str,
    src_lname: str,
    trg_gname: str,
    trg_lname: str,
    n_chars: int = 2,
    len_band: int = 4,
    hot_block_threshold: int | None = None,
    hot_salt: int = 16,
) -> DataFrame:
    """(srcID, trgID) pairs sharing a first-name block AND a last-name
    block — the reference's fname-bucket ∩ lname-bucket (matching.py:61).

    Implemented as ONE shuffle join on the combined (fname-key, lname-key)
    product key, not two single-field joins intersected: the single-field
    joins materialize every same-prefix pair (the fname join alone at
    sf0.1 is ~13× the final intersection), while the combined join's
    output IS the intersection. Per-row key fan-out is |fname tokens| ×
    |lname tokens| (≤ ~9 for real names) — cheap against the saved
    shuffle, and strictly fewer pairs at any scale.

    ``hot_block_threshold``: the reference's production pain point is
    hot surname blocks (person_clustering.py:160-166) — one common name
    prefix holding a large share of both sides turns the block join
    into a single straggler task.  When set, blocks whose key count
    exceeds the threshold on EITHER side are processed via the
    two-sided salted join (operators/skew.salted_hot_join), spreading
    each hot block over ``hot_salt`` partitions.  Pair-set identical to
    the unsalted join at any threshold."""
    s = src.select(
        F.col(src_id),
        F.explode(
            _combined_keys(F.col(src_gname), F.col(src_lname), n_chars, len_band)
        ).alias("k"),
    ).distinct()
    t = trg.select(
        F.col(trg_id),
        F.explode(
            _combined_keys(F.col(trg_gname), F.col(trg_lname), n_chars, len_band)
        ).alias("k"),
    ).distinct()
    if hot_block_threshold is not None:
        from aroa_etl_spark.operators.dedup import _barrier
        from aroa_etl_spark.operators.skew import salted_hot_join

        # the salted path reads each keyed frame ~3x (hot-count agg,
        # anti split, semi split): persist so the explode + distinct
        # isn't recomputed per consumer (same reason minhash barriers
        # its keys frame — measured 7x there). Caller releases via
        # dedup.release_caches().
        s = _barrier(s)
        t = _barrier(t)

        def over(df: DataFrame) -> DataFrame:
            return (
                df.groupBy("k")
                .agg(F.count(F.lit(1)).alias("__kc"))
                .filter(F.col("__kc") > hot_block_threshold)
                .select("k")
            )

        hot = over(s).unionByName(over(t)).distinct()
        joined = salted_hot_join(s, t, "k", hot, salt=hot_salt)
    else:
        joined = s.join(t, "k")
    return joined.select(src_id, trg_id).distinct()


def _score_udf(name_only: bool, use_prisoner: bool, use_date: bool, use_pob: bool,
               date_matcher_name: str):
    matcher = simple_date_matcher if date_matcher_name == "simple" else date_similarity

    @F.pandas_udf(T.DoubleType())
    def score(
        lname_a: pd.Series, lname_b: pd.Series,
        gname_a: pd.Series, gname_b: pd.Series,
        prisoner_a: pd.Series, prisoner_b: pd.Series,
        date_a: pd.Series, date_b: pd.Series,
        pob_a: pd.Series, pob_b: pd.Series,
    ) -> pd.Series:
        # batched kernel: dedups whole rows + memoizes component pairs
        # within the Arrow chunk (blocked joins repeat name pairs a lot)
        vals = person_similarity_batch(
            lname_a.to_numpy(), lname_b.to_numpy(),
            gname_a.to_numpy(), gname_b.to_numpy(),
            prisoner_a.to_numpy(), prisoner_b.to_numpy(),
            date_a.to_numpy(), date_b.to_numpy(),
            pob_a.to_numpy(), pob_b.to_numpy(),
            name_only=name_only,
            date_matcher=matcher,
            use_prisoner=use_prisoner,
            use_date=use_date,
            use_pob=use_pob,
        )
        return pd.Series(vals)

    # Marked nondeterministic only so the optimizer keeps ``score >= cutoff``
    # ABOVE the projection that computes the score: a deterministic UDF
    # gets inlined into the pushed-down filter, and the plan then runs the
    # kernel in two ArrowEvalPython nodes over the same pairs.
    return score.asNondeterministic()


def person_matching(
    src_df: DataFrame,
    target_df: DataFrame,
    *,
    src_id: str = "srcID",
    target_id: str = "trgID",
    src_gname_col: str = "strGName_processed",
    src_lname_col: str = "strLName_processed",
    src_date_col: str | None = "strDoB_processed",
    src_prisoner_number: str | None = "prisoner_number",
    src_birthplace: str | None = "strPoB_processed",
    target_gname_col: str = "strGName_processed",
    target_lname_col: str = "strLName_processed",
    target_date_col: str = "strDoB_processed",
    target_prisoner_number: str = "prisoner_number",
    target_birthplace: str = "strPoB_processed",
    date_matcher: str = "full",
    trg_pre_clustering_on_n_chars: int = 2,
    trg_pre_clustering_group_n_len_units: int = 4,
    top_n_matches: int = 1,
    min_match_score: float = 0.0,
    name_only: bool = False,
    allow_duplicates: bool = True,
    hot_block_threshold: int | None = None,
    hot_salt: int = 16,
) -> DataFrame:
    """Blocked fuzzy match of src persons against target persons.

    Returns (srcID, score, trgID); sources with no candidate ≥
    min_match_score appear once with score -1 and NULL trgID (the
    reference's sentinel row, matching.py:80-81). Ties at the top-k
    boundary break deterministically by target id (the reference's
    insertion sort breaks them by scan order — documented divergence).
    """
    n, band = trg_pre_clustering_on_n_chars, trg_pre_clustering_group_n_len_units

    pairs = candidate_pairs(
        src_df, target_df, src_id, target_id,
        src_gname_col, src_lname_col, target_gname_col, target_lname_col,
        n_chars=n, len_band=band,
        hot_block_threshold=hot_block_threshold, hot_salt=hot_salt,
    )

    def side(df: DataFrame, idc: str, gname, lname, date, prisoner, pob, suffix: str):
        cols = [
            F.col(idc),
            F.col(gname).alias(f"g{suffix}"),
            F.col(lname).alias(f"l{suffix}"),
        ]
        for name, alias in ((date, f"d{suffix}"), (prisoner, f"p{suffix}"), (pob, f"b{suffix}")):
            cols.append(
                (F.col(name) if name and name in df.columns else F.lit(None).cast("string")).alias(alias)
            )
        return df.select(*cols)

    s = side(src_df, src_id, src_gname_col, src_lname_col, src_date_col,
             src_prisoner_number, src_birthplace, "s")
    t = side(target_df, target_id, target_gname_col, target_lname_col,
             target_date_col, target_prisoner_number, target_birthplace, "t")

    use_date = bool(src_date_col and src_date_col in src_df.columns)
    use_prisoner = bool(src_prisoner_number and src_prisoner_number in src_df.columns)
    use_pob = bool(src_birthplace and src_birthplace in src_df.columns)

    score = _score_udf(name_only, use_prisoner, use_date, use_pob, date_matcher)

    scored = (
        pairs.join(s, src_id)
        .join(t, target_id)
        .withColumn(
            "score",
            score(
                F.col("ls"), F.col("lt"), F.col("gs"), F.col("gt"),
                F.col("ps"), F.col("pt"), F.col("ds"), F.col("dt"),
                F.col("bs"), F.col("bt"),
            ),
        )
        .filter(F.col("score") >= min_match_score)
    )

    # Every source left-joined to its scored pairs AHEAD of the top-k
    # window: a source without a pair ≥ min_match_score gets one NULL row,
    # which ranks first and becomes its sentinel. ``scored`` thus has one
    # consumer and the kernel runs once; re-adding unmatched sources by an
    # anti-join on the top-k would evaluate the scored plan a second time.
    ranked = src_df.select(src_id).distinct().join(
        scored.select(src_id, "score", target_id), src_id, "left"
    )
    w = W.partitionBy(src_id).orderBy(F.desc("score"), F.asc(target_id))
    topk = ranked.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= top_n_matches
    )

    if not allow_duplicates:
        # each target keeps its best source; a source left with no target
        # keeps its first-ranked row as the sentinel. Sentinel rows are
        # partitioned by source so they don't all land in the NULL-target
        # window partition.
        wt = W.partitionBy(
            target_id, F.when(F.col(target_id).isNull(), F.col(src_id))
        ).orderBy(F.desc("score"), F.asc(src_id))
        won = F.col(target_id).isNotNull() & (F.row_number().over(wt) == 1)
        topk = (
            topk.withColumn("__won", won)
            .withColumn("__any", F.max("__won").over(W.partitionBy(src_id)))
            .filter(F.col("__won") | (~F.col("__any") & (F.col("__rn") == 1)))
            .withColumn(target_id, F.when(F.col("__won"), F.col(target_id)))
        )

    # the reference's sentinel: score -1 and a NULL target
    unmatched = F.col(target_id).isNull()
    return topk.select(
        F.col(src_id),
        F.when(unmatched, F.lit(-1.0)).otherwise(F.col("score")).alias("score"),
        F.col(target_id),
    )
