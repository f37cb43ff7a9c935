"""MinHash-LSH banding and candidate-pair generation.

This is the engine's answer to the reference's blocking stage: a UNION of 17
selective equi-self-joins tagged with a `match_key` rule index
(/root/reference/parameters_dedupe.py:26-44, executed by Splink at
predict_dedupe.py:93). Here every band is one "blocking rule": two docs are
candidates iff some band of their MinHash signatures hashes identically, and
`match_key` records the first band that fired.

Scale notes (the parts Catalyst cannot do for us):
- The band table is shuffled ONCE, on one of two paths picked by the
  caller's band-size proof. The routed path sizes every band with a
  count(*) window inside that exchange (spillable, so mega-bands cost disk
  not heap), routes rows by size (singleton prune / cap / salt) BEFORE any
  list aggregation, and collect_list's only cold bands; proven-small inputs
  take a grouped tier instead — see candidate_pairs for the contract, the
  structural memory bound and the measured comparison against the
  histogram + self-join formulation the routed path replaced.
- Pathological bands (boilerplate pages that hash identically in some band)
  would generate O(size^2) pairs. Those are removed by an explicit band-size
  cap, with the dropped mass counted and returned — documented recall
  accounting, never silent (reference analog: per-rule comparison counts,
  notebooks_dedupe/blocking_evaluation_dedupe.py:154-175).
- Pair dedup across bands is a groupBy (map-side combinable) rather than
  dropDuplicates on the raw join output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 32,
    rows_per_band: int = 4,
) -> DataFrame:
    """Explode a signature column into (id, band_id, band_key) rows.

    band_key = xxhash64(band_id, signature slice) — computed natively inside
    a transform() lambda so the whole fanout stays in codegen. The slice is
    expressed as individual element_at args (r6): xxhash64 folds an
    array<long> element-by-element exactly as it folds the same values as
    separate long arguments (pinned in tests/test_lsh.py), and element_at
    skips the per-band 4-element array allocation that made the fanout the
    single hottest expression in the band stage (12.8M-row fanout: 2.2s ->
    ~1.2s at 400k docs).
    """
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(
            i,
            *[
                F.element_at(F.col(sig_col), i * F.lit(rows_per_band) + F.lit(j + 1))
                for j in range(rows_per_band)
            ],
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band_id", "band_key"),
    )


def _salted_self_join_pairs(bands: DataFrame, id_col: str, salt_groups: int) -> DataFrame:
    """Skew-breaking self-join for hot bands: split a band of m members into
    g salt groups; the left side carries its group id, the right side is
    replicated to every group, and the join key becomes (band_key, gid) — so
    the single O(m^2) task becomes g tasks of O(m^2/g) each. Every unordered
    pair survives exactly once: pair (a, b) with a < b matches only where
    left = a (right's replica tagged gid(a)); the mirrored row fails
    id_l < id_r. Replication cost is g x right rows, paid only for hot bands.
    """
    g = F.lit(salt_groups)
    left = bands.select(
        "band_key",
        "band_id",
        F.col(id_col).alias("id_l"),
        F.pmod(F.xxhash64(id_col), g).alias("gid"),
    )
    right = bands.select(
        "band_key",
        F.col(id_col).alias("id_r"),
        F.explode(F.sequence(F.lit(0), g - 1)).alias("gid"),
    )
    return left.join(right, ["band_key", "gid"]).where(F.col("id_l") < F.col("id_r")).drop("gid")


# Largest caller-proven band size for which candidate_pairs takes the
# grouped tier (collect_list buffer <= this many ids = 0.5 MB worst case;
# single-generator hot-band emission <= band_cap^2/2 rows). A proof bound,
# not a tuning constant: corpora above it always take the routed
# window/persist/salt path, so nothing changes at scale.
GROUPED_TIER_ROWS = 65536


def _combination_pairs(grouped: DataFrame) -> DataFrame:
    """All unordered member pairs of each band group, natively.

    Input: (band_id, ids). Two-level generator explode — posexplode picks
    id_l, then explode of the positional tail picks every later id_r — so
    pairs STREAM through whole-stage codegen; the full m^2/2 pair array of a
    band is never materialized in one buffer (only the m-element id list
    rides along each intermediate row). Sorting the list first makes
    id_l < id_r positional; the != guard covers duplicate (band, id) input
    rows, which the old join formulation dropped via its strict <."""
    sorted_ids = F.array_sort("ids")
    return (
        grouped.select("band_id", sorted_ids.alias("_ids"))
        .select("band_id", "_ids", F.posexplode("_ids").alias("_pos", "id_l"))
        .select(
            "band_id",
            "id_l",
            F.explode(F.slice("_ids", F.col("_pos") + F.lit(2), F.size("_ids"))).alias("id_r"),
        )
        .where(F.col("id_l") != F.col("id_r"))
    )




def _grouped_tagged(bands_df: DataFrame, id_col: str, band_cap: int | None) -> DataFrame:
    """Grouped tier body: one groupBy(band_key), then ONE tagged generator
    emits pair rows and drop-accounting rows together. A two-branch union
    here would re-execute the whole band subtree — including any Python
    kernel feeding it — once per branch (measured 4.2s vs 1.5s on the
    embedding path's 360k-bucket table; the union plan showed
    ArrowEvalPython x2, ReusedExchange x0). Kept groups stream their
    unordered pairs through the same sorted two-level explode as
    _combination_pairs (tag 0); over-cap groups emit exactly one sentinel
    row (tag 1, _ids = [null]); singletons die in the isNotNull filter. The
    final groupBy dedups pairs across bands (band_key is nulled on pair
    rows) AND passes accounting rows through (one distinct
    (1, null, null, band_key) group per dropped band)."""
    sz = F.size("ids")
    over_cap = F.lit(False) if band_cap is None else sz > band_cap
    null_id = F.array(F.lit(None).cast(bands_df.schema[id_col].dataType))
    tagged = (
        bands_df.groupBy("band_key")
        .agg(F.min("band_id").alias("band_id"), F.collect_list(id_col).alias("ids"))
        .select(
            "band_id",
            sz.cast("long").alias("_bs"),
            F.when(over_cap, F.lit(1)).otherwise(F.lit(0)).alias("_t"),
            F.when(over_cap, null_id).when(sz >= 2, F.array_sort("ids")).alias("_ids"),
            F.when(over_cap, F.col("band_key")).alias("band_key"),
        )
        .where(F.col("_ids").isNotNull())
    )
    stream = (
        tagged.select(
            "_t", "band_id", "band_key", "_bs", "_ids",
            F.posexplode("_ids").alias("_pos", "id_l"),
        )
        .select(
            "_t", "band_id", "band_key", "_bs", "id_l",
            F.explode(
                F.when(F.col("_t") == 1, null_id).otherwise(
                    F.slice("_ids", F.col("_pos") + F.lit(2), F.size("_ids"))
                )
            ).alias("id_r"),
        )
        .where((F.col("_t") == 1) | (F.col("id_l") != F.col("id_r")))
    )
    return stream.groupBy("_t", "id_l", "id_r", "band_key").agg(
        F.min("band_id").alias("match_key"), F.first("_bs").alias("band_size")
    )


def _routed_tagged(
    bands_df: DataFrame,
    id_col: str,
    band_cap: int | None,
    salt_threshold: int | None,
    salt_groups: int,
) -> tuple[DataFrame, DataFrame]:
    """Routed path body: window-sized, persisted, salted. Returns the tagged
    pairs + dropped-band union and the persisted multi-member band rows,
    which the caller releases once the union is checkpointed."""
    bsize = F.col("_bsize")
    sized = bands_df.withColumn("_bsize", F.count("*").over(Window.partitionBy("band_key")))
    # singletons (the overwhelming majority — measured 94.7% of keys at 240k
    # docs) die HERE, before the persist and before any aggregation; only
    # multi-member band rows are cached, and the cache keeps the window's
    # hash(band_key) partitioning so the groupBys below add no exchange
    multi = sized.where(bsize >= 2).persist(StorageLevel.MEMORY_AND_DISK)
    over_cap = F.lit(False) if band_cap is None else bsize > band_cap
    dropped = (
        multi.where(over_cap)
        .groupBy("band_key")
        .agg(F.first("_bsize").cast("long").alias("band_size"))
    )
    kept = multi.where(~over_cap)
    if salt_threshold is not None:
        cold = (
            kept.where(bsize <= salt_threshold)
            .groupBy("band_key")
            .agg(F.min("band_id").alias("band_id"), F.collect_list(id_col).alias("ids"))
        )
        raw = _combination_pairs(cold).unionByName(
            _salted_self_join_pairs(
                kept.where(bsize > salt_threshold).select("band_key", "band_id", F.col(id_col)),
                id_col,
                salt_groups,
            ).select("band_id", "id_l", "id_r")
        )
    else:
        raw = _combination_pairs(
            kept.groupBy("band_key").agg(
                F.min("band_id").alias("band_id"), F.collect_list(id_col).alias("ids")
            )
        )
    pairs = raw.groupBy("id_l", "id_r").agg(F.min("band_id").alias("match_key"))
    idt = pairs.schema["id_l"].dataType
    mkt = pairs.schema["match_key"].dataType
    tagged = pairs.select(
        F.lit(0).alias("_t"),
        "id_l",
        "id_r",
        "match_key",
        F.lit(None).cast("bigint").alias("band_key"),
        F.lit(None).cast("bigint").alias("band_size"),
    ).unionByName(
        dropped.select(
            F.lit(1).alias("_t"),
            F.lit(None).cast(idt).alias("id_l"),
            F.lit(None).cast(idt).alias("id_r"),
            F.lit(None).cast(mkt).alias("match_key"),
            "band_key",
            "band_size",
        )
    )
    return tagged, multi


def _tagged_candidates(
    bands_df: DataFrame,
    id_col: str,
    band_cap: int | None,
    salt_threshold: int | None,
    salt_groups: int,
    max_band_rows: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """The one candidate-generation decision: (lazy tagged plan, persisted
    rows to release after it runs, or None). Split out of candidate_pairs so
    tools/capture_plans.py can explain both plan shapes before the cut."""
    if max_band_rows is not None and max_band_rows <= GROUPED_TIER_ROWS:
        return _grouped_tagged(bands_df, id_col, band_cap), None
    return _routed_tagged(bands_df, id_col, band_cap, salt_threshold, salt_groups)


def candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    band_cap: int | None = 5000,
    salt_threshold: int | None = 500,
    salt_groups: int = 8,
    max_band_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Band table -> (unique candidate pairs (id_l < id_r, match_key),
    dropped bands (band_key, band_size)).

    Two paths, chosen by ONE observable fact — the caller's band-size proof
    max_band_rows (e.g. the corpus row count, which no single band can
    exceed):
      grouped tier  max_band_rows <= GROUPED_TIER_ROWS: one groupBy
                    (band_key) and one tagged generator. No window sort, no
                    persist, no salted join; a hot band's pairs stream from
                    one generator row (<= band_cap^2/2 narrow rows), and
                    the collect_list buffer is bounded by the proof.
      routed path   otherwise (no proof, or a large one): ONE shuffle of
                    the band table — a count(*) window sizes every band in
                    the same exchange and rows are routed by size BEFORE any
                    aggregation. Singleton bands (measured 94.7% of keys at
                    240k docs) die in the size >= 2 filter; cold bands
                    (size <= salt_threshold) are combination-exploded; hot
                    bands (size in (salt_threshold, band_cap]) go through a
                    salted self-join that spreads their O(m^2) emission
                    over salt_groups tasks. This replaced the round-1
                    histogram + semi-join + self-join design (~35% slower
                    in an interleaved A/B at 240k docs / local[4], identical
                    100,071-pair set).

    Both paths apply the same cap — a band with size > band_cap is dropped
    entirely and returned in the accounting table, NEVER silent (north-rule:
    "band-size caps with documented recall accounting"); band_cap=None is
    an always-false over-cap predicate. Both materialize pairs and
    accounting in ONE checkpoint job (a tagged union; the returned views
    are cheap filters over it), and both yield the same pair set, match_key
    and accounting for any band table whose band_id is a function of
    band_key (every table this package builds) — salting only changes task
    placement.
    A false proof therefore costs time (an unbounded group buffer, one
    unsalted generator), never accounting.

    Memory bound, structural, on the routed path only: band sizes come
    from a window on the same band_key partitioning (WindowExec buffers
    each band in a SPILLABLE row array — a 10M-member band costs disk,
    never heap), over-cap and hot bands never reach a list aggregation, so
    the unspillable agg buffer holds at most min(salt_threshold, band_cap)
    ids. That is why the routed path stays for everything above
    GROUPED_TIER_ROWS. (With both caps disabled the caller explicitly asked
    for unbounded bands.)
    """
    tagged, cached = _tagged_candidates(
        bands_df, id_col, band_cap, salt_threshold, salt_groups, max_band_rows
    )
    # Eager cut: every downstream consumer (verify's semi-join + join,
    # counts, CC edges) scans `pairs` more than once, and without it the
    # band aggregation would re-execute per scan. It also lets this function
    # own its persist scope — long-lived sessions (streaming micro-batches)
    # never accumulate leaked cache blocks.
    combined = tagged.localCheckpoint(eager=True)
    if cached is not None:
        cached.unpersist()
    pairs = combined.where(F.col("_t") == 0).select("id_l", "id_r", "match_key")
    dropped = combined.where(F.col("_t") == 1).select("band_key", "band_size")
    return pairs, dropped
