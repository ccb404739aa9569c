"""Entity linking: mention → gazetteer candidates → canonical-ready edges.

Two tiers, per the north rule:

1. **Broadcast exact join** — the gazetteer is small (≪ executor memory
   even at millions of aliases; ``gazetteer_df`` builds it as a
   driver-side local relation, so scanning it starts no Spark job), so
   ``F.broadcast`` keeps the big mentions side shuffle-free. Match on
   normalized surface (lower + NFC happens upstream).
2. **MinHash-LSH blocking** for fuzzy candidates — character-shingle
   MinHash signatures, banded; mentions and aliases that share a band
   bucket become candidate pairs, verified by Jaccard. The signatures and
   bands come from the one MinHash kernel in ``dedup.py``
   (``_hashed_sigs`` / ``_band_rows``: explode shingle rows, one
   codegen'd hash aggregate), run here with linking's own 12 hashes in 4
   bands over char-3 shingles. No Python and no interpreted lambdas; the
   candidate join is a broadcast equi-join on (band_idx, band_hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nametag3_spark.operators.dedup import (
    _band_rows,
    _char_shingle_rows,
    _hashed_sigs,
    _jaccard,
)

N_HASHES = 12
N_BANDS = 4  # rows per band = N_HASHES / N_BANDS
SHINGLE_K = 3
# distinct unmatched surfaces above which the best-candidate map must NOT
# be broadcast (same role as canonicalize.BROADCAST_EDGE_LIMIT): at 10^12
# turns the unmatched-surface set (typos, novel entities) is the part of
# the data most likely to be unbounded
BROADCAST_SURFACE_LIMIT = 2_000_000


def link_exact(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Broadcast equi-join on normalized surface; adds entity_id (nullable)."""
    gaz = F.broadcast(
        gazetteer.select(
            F.col("alias_norm"),
            F.col("entity_id"),
            F.col("entity_type"),
        )
    )
    return mentions.join(
        gaz,
        (mentions["mention_norm"] == gaz["alias_norm"])
        & (mentions["label"] == gaz["entity_type"]),
        "left",
    ).drop("alias_norm", "entity_type")


def lsh_candidates(
    mentions: DataFrame,
    gazetteer: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy mention→alias candidates via banded MinHash + Jaccard verify.

    Returns (mention_norm, entity_id, jaccard). Distinct mention surfaces
    are deduped FIRST (``groupBy mention_norm``) so head entities with
    millions of identical mentions cost one signature, not millions —
    the main skew lever at 100 TB.

    Both sides run dedup's MinHash kernel over char shingles. Each band
    row carries its shingle-hash set ``_hs``, so Jaccard is computed and
    filtered right on the broadcast band-join output — no array crosses
    an exchange and nothing joins back by surface.
    """

    def bands(df: DataFrame, ids: list[str], text_col: str, hs: str) -> DataFrame:
        sigs = _hashed_sigs(
            _char_shingle_rows(df, text_col, SHINGLE_K), ids, N_HASHES
        ).withColumnRenamed("_hs", hs)
        return _band_rows(sigs, [*ids, hs], N_HASHES, N_BANDS)

    m_bands = bands(
        mentions.select("mention_norm").distinct(),
        ["mention_norm"], "mention_norm", "_hs_m",
    )
    g_bands = bands(
        gazetteer.select("entity_id", "alias_norm"),
        ["entity_id", "alias_norm"], "alias_norm", "_hs_g",
    )
    return (
        # gazetteer side stays broadcastable
        m_bands.join(F.broadcast(g_bands), ["band_idx", "band_hash"])
        .select(
            "mention_norm",
            "entity_id",
            "alias_norm",
            _jaccard("_hs_m", "_hs_g").alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .distinct()
        .select("mention_norm", "entity_id", "jaccard")
    )


def link_mentions(
    mentions: DataFrame,
    gazetteer: DataFrame,
    fuzzy: bool = True,
    broadcast_surface_limit: int = BROADCAST_SURFACE_LIMIT,
) -> DataFrame:
    """Exact broadcast link, then LSH fallback for unmatched surfaces.

    Output: mentions + ``entity_id`` (nullable) + ``link_method``
    (exact | lsh | null).

    The best-candidate map (one row per distinct unmatched surface) is
    broadcast only when a cheap ``approx_count_distinct`` over the
    unmatched side proves it under ``broadcast_surface_limit``; otherwise
    it joins by shuffle and AQE picks the physical strategy from runtime
    stats. Mirrors canonicalize.py's edge-bounded canonical-map guard.
    """
    exact = link_exact(mentions, gazetteer)
    if not fuzzy:
        return exact.withColumn(
            "link_method",
            F.when(F.col("entity_id").isNotNull(), F.lit("exact")),
        )
    unmatched = exact.where(F.col("entity_id").isNull()).drop("entity_id")
    matched = exact.where(F.col("entity_id").isNotNull()).withColumn(
        "link_method", F.lit("exact")
    )
    lsh = lsh_candidates(unmatched, gazetteer)
    # best candidate per surface (highest jaccard, stable tiebreak on id)
    best = (
        lsh.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("mention_norm").orderBy(
                    F.col("jaccard").desc(), F.col("entity_id")
                )
            ),
        )
        .where(F.col("_rk") == 1)
        .select("mention_norm", "entity_id")
    )
    # single-row partial aggregation — no shuffle of the data, one scan
    # (cached upstream in the pipeline) — bounds the broadcast build side
    n_unmatched = unmatched.agg(
        F.approx_count_distinct("mention_norm").alias("n")
    ).first()[0]
    if n_unmatched <= broadcast_surface_limit:
        best = F.broadcast(best)
    fuzzy_linked = unmatched.join(best, "mention_norm", "left").withColumn(
        "link_method",
        F.when(F.col("entity_id").isNotNull(), F.lit("lsh")),
    )
    return matched.unionByName(fuzzy_linked)
