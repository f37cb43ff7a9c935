"""Capture .explain('formatted') for every headline query into plans/r06/,
plus candidate_pairs' two internal plan shapes (grouped tier and routed
path, before the checkpoint that hides them from the query-level plans).

Usage: python tools/capture_plans.py <suffix> [sf_dir] [name ...]
  name filters the captures (a headline query, q60_embedding_neardup_lsh
  or candidate_pairs); all are captured when none is given.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nhse_probabilistic_linkage_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q03_join3_revenue",
    "q05_nation_revenue",
    "q20_top3_orders_per_customer",
    "q21_running_user_value",
    "q51_ngram_jaccard_pairs",
    "q52_minhash_lsh_pairs",
    "q53_cc_clusters",
    "q57_substring_pairs",
    "q61_ann_topk",
    "q70_textstats",
]


def dump_candidate_shapes(spark, sf_dir: str, dump) -> None:
    """candidate_pairs' grouped tier and routed path over q52's band table."""
    from nhse_probabilistic_linkage_spark import DedupConfig
    from nhse_probabilistic_linkage_spark.functions.minhash import with_minhash
    from nhse_probabilistic_linkage_spark.functions.text import prepare_docs
    from nhse_probabilistic_linkage_spark.operators.lsh import _tagged_candidates, band_keys
    from nhse_probabilistic_linkage_spark.sources.tables import load_table

    cfg = DedupConfig(jaccard_threshold=0.8)
    docs = prepare_docs(load_table(spark, sf_dir, "documents"), k=cfg.shingle_k)
    sigs = with_minhash(
        docs.select("doc_id", "shingles"), num_perms=cfg.num_perms, seed=cfg.minhash_seed
    ).localCheckpoint(eager=True)
    n_docs = sigs.count()
    bands = band_keys(sigs, bands=cfg.bands, rows_per_band=cfg.rows_per_band)
    for name, proof in (("candidate_pairs_grouped_tier", n_docs), ("candidate_pairs_routed", None)):
        tagged, cached = _tagged_candidates(
            bands, "doc_id", cfg.band_cap, cfg.salt_threshold, cfg.salt_groups, proof
        )
        header = (
            f"# candidate_pairs internal plan (pre-checkpoint), {n_docs}-doc q52 shape "
            f"at {os.path.basename(sf_dir.rstrip('/'))}, max_band_rows={proof}\n"
        )
        dump(name, tagged, header)
        if cached is not None:
            cached.unpersist()


def main() -> None:
    suffix = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="plans", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def dump(name, df, header=""):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(header + buf.getvalue())
        print("wrote", name)

    for name in HEADLINE:
        if only and name not in only:
            continue
        dump(name, qs[name](spark, sf_dir))
        spark.catalog.clearCache()

    if not only or "candidate_pairs" in only:
        dump_candidate_shapes(spark, sf_dir, dump)

    # the benched q60 path (LSH, exact=False) — mirrors bench.py's _q60_lsh
    from pyspark.sql import functions as F

    from nhse_probabilistic_linkage_spark.operators.similarity import embedding_neardup_pairs
    from nhse_probabilistic_linkage_spark.sources.tables import load_table

    if not only or "q60_embedding_neardup_lsh" in only:
        em = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        dump("q60_embedding_neardup_lsh", embedding_neardup_pairs(em, threshold=0.9, exact=False))
    spark.stop()


if __name__ == "__main__":
    main()
