"""Capture `.explain("formatted")` for named suite entries into plans/<tag>/.

Usage:
    python tools/capture_plans.py <tag> <suffix> [name ...]

Writes plans/<tag>/<name>_<suffix>.txt for each entry (suffix: before/after).
With no names, captures the default headline set below.  Entries whose
DataFrame construction itself runs Spark jobs (iterative operators) still
work — construction cost is paid once, then the final frame is explained.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "tpch_q1_pricing_summary",
    "tpch_q18_large_volume_customer",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_candidates",
    "dedup_simhash_pairs",
    "dedup_bloom_prefilter",
    "dedup_fuzzy_keepers",
    "dedup_minhash_incremental",
    "emb_kmeans_portable",
    "emb_mmr_rerank",
    "emb_knn_join",
    "text_bpe_encode",
    "text_bpe_train_merges",
    "text_bm25_search_index",
    "text_gopher_quality",
    "text_quality_features",
    "events_ewma",
    "events_sessionize",
    "events_point_in_time_state",
    "curate_pipeline_v2",
    "curate_pipeline_audit",
    "curate_pipeline_v3",
    "web_domain_pagerank",
    "feat_hashed_tokens",
    "feat_basket_rules",
    "agg_cms_token_counts",
    "text_bigram_perplexity",
    "text_lexical_diversity",
    "mm_phash_near_dups",
]


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(outdir, exist_ok=True)

    from opteryx_spark.cache import cache_scope
    from opteryx_spark.session import get_session
    from opteryx_spark.suite import load_all

    spark = get_session(app_name=f"capture-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    for name in names:
        if name not in reg:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        try:
            spark.sparkContext.setJobDescription(f"plan-capture: {name}")
            buf = io.StringIO()
            with cache_scope():
                df = reg[name].spark(spark, sf_dir)
                with redirect_stdout(buf):
                    df.explain("formatted")
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"OK   {name}")
        except Exception as exc:  # noqa: BLE001 — capture the rest regardless
            print(f"FAIL {name}: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
