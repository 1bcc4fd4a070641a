"""Benchmark harness — the driver contract (BASELINE.md).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly
ONE compact JSON line (<=200 bytes — the driver records only a
2,000-char tail of stdout, so the final line must fit it whole) as the
LAST line of stdout:

    {"metric": "headline_queries_wall_clock", "value": <total_sec>,
     "unit": "sec", "n_queries": N, "sf": 0.1,
     "queries_file": "BENCH_samples.json"}

Per-query best-of-3 timings and the raw per-pass samples land in
``BENCH_samples.json`` next to this file. Everything else (Spark logs,
progress) goes to stderr. Each query is materialized with the noop sink
(full execution, no driver collect cost).
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
from pathlib import Path


HEADLINE = [
    "sum_lineitem_int64",
    "q1_pricing_summary",
    "filter_project_lineitem",
    "join_revenue_by_nation",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "broadcast_join_part_agg",
    "outer_join_order_counts",
    "topk_orders_per_customer",
    "window_running_total",
    "events_tumbling_hourly",
    "events_sessionization",
    "json_extract_events",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_topk_cosine",
    "embedding_ann_lsh",
    "text_stats_documents",
    "asof_join_orders_events",
    "range_join_purchase_follow",
    "grouping_sets_orders",
    "pandas_udf_charge",
    "percentiles_lineitem",
    "q7_nation_volume",
    "q10_returned_items",
    "q18_large_volume_orders",
    "wordcount_tokens",
    "calendar_fill_orders",
    "levenshtein_near_dup",
    "embedding_ann_ivf",
    "partitioned_scan_orders",
    "pipeline_clean_corpus",
    "dataset_split_documents",
    "events_hll_rollup",
    "variant_events_props",
    "q19_disjunctive_revenue",
    # round 2: the subquery/decorrelation and python-extension paths, so
    # regressions there show up round-over-round
    "q4_order_priority_check",
    "q22_idle_rich_customers",
    "subquery_above_avg_orders",
    # (cogroup_user_behavior was headlined in r02 and removed in r03: its
    # ~2.4s is per-key Python-call cost inherent to the demonstrated
    # cogroup().applyInPandas API — 9% of the wall-clock telling us
    # nothing about regressions. It stays registered + oracle-checked;
    # the other python-extension paths below keep that family benched.)
    "udtf_tokenize_docs",
    # round 2: heaviest of the TPC-H completion set
    "q9_product_type_profit",
    "q21_waiting_suppliers",
    # round 3: the new operator families (exact bitmap distinct; the
    # model-free docs->vectors featurizer)
    "bitmap_distinct_orders",
    "hashed_embedding_documents",
    # round 4: lexical retrieval (BM25) and the cluster-mode dedup output
    # (components over the representative graph, no within-group pairs)
    "bm25_search_documents",
    "dedup_clusters_minhash",
    # round 5: multi-query BM25 (an eval suite scored in one corpus pass
    # - the decontamination shape; regression here means the shared
    # tf/df stream stopped being shared)
    "bm25_multi_search_documents",
    # round 6: the table-maintenance and compression families — the
    # copy-on-write MERGE (timed end-to-end: scratch build + file-pruned
    # rewrite + read-back aggregate), block-hash multimodal dedup, and
    # PQ ANN (codes scan + exact rerank)
    "merge_upsert_orders",
    "binary_near_dup_documents",
    # round 9: the real decode stage — planted WAV bytes through the
    # pure-Python PCM decoder (the audio face of the multimodal family)
    "multimodal_wav_decode_features",
    # round 10: the semantic-clustering family — integer-grid Lloyd
    # k-means (2 iterations: 2 kernel passes + Theta(k*dim) reductions)
    # and SemDeDup per-cell drops (k-means-blocked pair stage). A
    # regression here means the assignment kernels or the partial-sum
    # reduction stopped being one-pass.
    "kmeans_clusters_embeddings",
    "semdedup_embeddings",
    # round 10: the persisted semantic index — verdict-log read over the
    # .scratch-cached build (first pass pays build+3 ingests, like the
    # other index entries)
    "semdedup_index_query",
    # round 10 capstone: docs -> hashed embeddings -> k-means cells ->
    # SemDeDup, end to end over (doc_id, text) with no external model
    "semdedup_documents_hashed",
    # round 11: the two-level fit — coarse broadcast + DISTRIBUTED fine
    # centroids (cogroup passes). A regression here means the fine fit
    # stopped being one salted cogroup per pass.
    "hier_kmeans_embeddings",
    "embedding_ann_pq",
    # round 6: the composed index — dir-pruned codes scan + id-pruned
    # raw-vector rerank (index built once under .scratch, reused)
    "ivfpq_index_query",
    # round 6: BM25 from the persisted inverted index — the measured
    # contrast with bm25_search_documents' inline corpus pass
    "bm25_index_search_documents",
    # round 6 (late): distribution profiling (octile cutpoints + bucket
    # assignment in one broadcast pass) and per-key time-series repair
    # (two ignore-nulls window frames over one sort).
    # triangle_count_parts stays registered + oracle-checked but
    # un-benched: its sf0.1 output is 1.9M materialized triangles
    # (~17s of deliberate combinatorial expansion, the same reason
    # jaccard_pairs_sample is not benched).
    "histogram_depth_orders",
    "interpolate_events",
    # round 6 (late): product/customer analytics — per-user Markov
    # transition matrix (LEAD window + wordcount) and RFM quartile
    # scoring (three cutpoint passes + broadcast score expression)
    "event_transitions",
    "rfm_segments_customer",
    # round 6 (late): the temporal fact-to-SCD2 join (equi-join with
    # residual validity predicate — the lineage/reproducibility join)
    # and semantic decontamination (map-only broadcast-eval cosine)
    "temporal_join_orders_customer",
    "decontaminate_embedding",
    # round 6 (late): the monitoring faces — distribution drift
    # (chi-square/TVD against before-deciles) and Tukey-fence outliers
    "drift_report_orders",
    "outliers_iqr_lineitem",
    # round 6 (late): replica-verification checksum (scan-shaped
    # commutative sum, no shuffle-by-key) and categorical drift
    "table_checksum_orders",
    "drift_categorical_orders",
    # round 7: exact substring dedup (Lee et al. 2022) — duplicated-span
    # detection + removal end-to-end
    "substring_dedup_clean_documents",
    "line_dedup_clean_documents",
    # round 7: pattern mining — market-basket association rules and
    # CEP-lite sequence matching
    "basket_rules_lineitem",
    "sequence_pattern_events",
    # round 7: tokenizer-prep vocabulary coverage, trailing z-score
    # anomalies, rolling distinct actives
    "vocab_oov_documents",
    "anomaly_zscore_orders",
    "active_users_events",
    # round 7: blocked entity resolution and the leakage-safe
    # cluster-aware split
    "entity_match_parts",
    "cluster_aware_split_documents",
    # round 7: LPA communities and last-touch attribution
    "label_communities_parts",
    "attribution_events",
    # round 7: percentile winsorization (feature-prep clipping)
    "winsorize_lineitem",
    # round 7: TF-IDF keywords and gaps-and-islands streaks
    "tfidf_keywords_documents",
    "order_streaks_customer",
    # round 7: BFS hop levels and token-containment near-dup
    "bfs_part_coorder",
    "containment_pairs_documents",
    # round 7: EWMA trend smoothing
    "ewma_revenue_priority",
    # round 7: dataset curation sampling — weighted draw + domain cap
    "weighted_sample_documents",
    "cap_per_source_documents",
    "mixture_resample_documents",
    "gopher_quality_documents",
    "c4_rules_documents",
    # round 7: PMI collocations and z-score standardization
    "collocations_documents",
    "standardize_lineitem",
    # round 7: one-pass correlation matrix and top-N + others rollup
    "correlation_matrix_lineitem",
    "topn_types_brand",
    # round 7: oracle-twinned probabilistic sketches (CMS + Bloom),
    # plus the at-ingest sketch index (scratch-built once, reused)
    "cms_frequencies_orders",
    "bloom_prefilter_customers",
    "cms_index_query",
    # round 7: MAD robust outliers and weekday seasonality
    "mad_outliers_lineitem",
    "seasonality_orders",
    # round 7: golden-record survivorship (the ER merge step)
    "golden_records_parts",
    # round 7: personalized PageRank (seed-restart centrality)
    "ppr_supplier_part",
    # round 7: deterministic negative sampling
    "negative_samples_documents",
    # round 7: Kaplan-Meier time-to-repeat survival
    "survival_repeat_orders",
    # round 7: Gini revenue concentration
    "gini_customer_revenue",
    # round 10: the mid-cardinality (25-group) distributed-selection
    # percentile regime
    "nation_percentiles_lineitem",
    # round 12: BPE tokenizer prep (fit = 8 vocab-sized merge rounds,
    # paid on the first pass and mtime-cached like the index builds;
    # segment = the per-pass tokenize + broadcast join + regroup) and
    # exact-integer PCA (gram pass on first call; projection is the
    # map-only per-pass work)
    "bpe_merges_documents",
    "bpe_segment_documents",
    "pca_power_embeddings",
    "pca_project_embeddings",
    # round 12: the commit-log table layer — full-table log-replay read
    # (fixture built + committed on the first pass, mtime-cached) and
    # the stats-skipping read (plans 1 of 7 files from logged footer
    # min/max before Spark ever lists a path). A regression here means
    # log replay or footer pruning stopped being metadata-only.
    "txlog_read_orders",
    "txlog_skipping_orders",
    # round 12 (late): the 4x compression tier of the ANN ladder —
    # fit-free SQ8 codes scan + exact top-100 rerank (contrast with
    # embedding_ann_pq's fitted 16x ADC path)
    "embedding_ann_sq8",
    # round 12 (late): tokenizer application (per-doc token rows under
    # the cached merge table — tokenize + 2 broadcast joins + a
    # per-doc cumulative window) and the ANN quality eval (IVF vs
    # exact brute force; the exact arm dominates the time)
    "bpe_encode_documents",
    "ann_recall_embeddings",
    # round 14 (VERDICT r13 #8, additions-only): the deletion-vector
    # MERGE path next to the copy-on-write one (merge_upsert_orders),
    # so the Θ(matched+delta) claim carries a measured,
    # regression-guarded number
    "txlog_dv_merge_orders",
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: Tables eligible for the single-row-group layout fix (plain-typed
#: facts; events is excluded to keep its TIMESTAMP(NANOS) bytes exactly
#: as the fixture wrote them).
_PREP_TABLES = {"lineitem", "orders"}


#: A monolithic single-row-group fact below this many ROWS is cheaper
#: to scan as-is than to rewrite. Round 13 re-measured the round-4
#: size gate (which kept the sf0.1 fixture raw): with ~75k-row files
#: instead of round 4's 37.5k-row files, the rewrite wins on EVERY
#: headline query at sf0.1, including the pure scans the old gate was
#: protecting (sum_lineitem 0.23s raw / 0.16s 8-file; standardize
#: 2.33s -> 0.69s, mad_outliers 2.94s -> 1.40s — a 1-row-group 600k-row
#: lineitem runs every aggregate single-task, starving 31 of 32 cores).
#: The 37.5k-row split was the real regression source: 16 files of the
#: sf0.1 lineitem measured 2-3x SLOWER than 8 on scan-heavy queries
#: (sum 0.48s), so the old sum_lineitem 0.24s-vs-0.33s measurement was
#: an artifact of file sizing, not of multi-file layouts. Measurements
#: in OPTIMIZATION_r13.md.
_PREP_MIN_ROWS = 300_000

#: Target rows per rewritten file (see gate note above: 37.5k-row files
#: pay more per-task setup than their parallelism buys; 75k wins at
#: both 8 and 32 cores).
_PREP_ROWS_PER_FILE = 75_000


def _prepare_layout(sf_dir: str) -> str:
    """Fix pathological single-split LARGE fact files before timing.

    A parquet row group is Spark's atomic split: a fact table packed
    into one big row group scans as ONE task no matter how many cores
    the session has (the round-3 bench inflation, PLANS.md). That is a
    fixture-layout problem, not a query problem, and the production
    answer is the layout maintenance the repo already ships
    (compaction / clustering rewrites): here we rewrite such facts once
    into a multi-file layout (content-identical, order-preserving
    pyarrow slice) under .scratch/ and bench against that.

    The rewrite only triggers when the monolithic split actually
    starves the session (``_PREP_MIN_ROWS``): tiny facts (orders at
    sf0.1 and below, everything at sf0.01) stay raw — their scans are
    sub-100ms and per-file setup would dominate. Disable entirely with
    SPARK_GRAFT_BENCH_PREP=0.
    """
    if os.environ.get("SPARK_GRAFT_BENCH_PREP", "1") != "1":
        return sf_dir
    import pyarrow.parquet as pq

    src = Path(sf_dir)
    entries = sorted(src.glob("*.parquet"))
    plan = []
    for t in entries:
        if not t.is_file() or t.stem not in _PREP_TABLES:
            continue
        md = pq.ParquetFile(t).metadata
        # fewer than 4 splittable units AND enough rows that one task
        # per unit starves the session: single-task-scan cliff
        if md.num_row_groups < 4 and md.num_rows >= _PREP_MIN_ROWS:
            plan.append(t.name)
    if not plan:
        return sf_dir

    from bearly_spark.cache import derived_dir

    # the prepared dir keeps a basename of its own, so the registry's
    # scratch entries for it stay apart from the raw fixture's
    name = f"benchprep-{src.name}"

    def build(out: str) -> None:
        prep = Path(out) / name
        prep.mkdir(parents=True)
        for t in entries:
            if t.name in plan:
                tab = pq.read_table(t)
                out_t = prep / t.name
                out_t.mkdir()
                n = min(32, max(4, math.ceil(tab.num_rows / _PREP_ROWS_PER_FILE)))
                step = math.ceil(tab.num_rows / n)
                for i in range(n):
                    chunk = tab.slice(i * step, step)
                    if chunk.num_rows:
                        pq.write_table(chunk, out_t / f"part-{i:05d}.parquet")
            else:
                os.symlink(t, prep / t.name)
        print(f"bench-prep: multi-file rewrite of {plan} for {sf_dir}", file=sys.stderr)

    out, _ = derived_dir(sf_dir, "benchprep", entries, build)
    return os.path.join(out, name)


def main() -> None:
    # Size the shuffle width to the benchmark scale: at sf0.1 (~60 MB)
    # 8 partitions beat 32 by ~20% (pure task overhead); AQE still
    # coalesces below that. Production sizing guidance is in session.py.
    os.environ.setdefault("BEARLY_SHUFFLE_PARTITIONS", "8")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    sf_dir = _prepare_layout(sf_dir)

    from bearly_spark.registry import QUERIES
    from bearly_spark.session import get_spark

    spark = get_spark("bearly-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers so query 1 isn't charged for startup,
    # and spin up the Python worker pool so the first pandas-UDF query
    # isn't charged for per-core interpreter+pandas import (infra cost,
    # paid once per executor in production).
    _materialize(QUERIES["sum_lineitem_int64"](spark, sf_dir))
    import pyspark.sql.functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    _materialize(spark.range(0, 3200, 1, 32).select(_warm("id").alias("id")))

    # Interleaved best of 3: each query is sampled once per FULL pass
    # over the list rather than back-to-back. The host's noisy-neighbor
    # stalls last minutes — consecutive samples can all land inside one
    # stall, while pass-separated samples rarely do, and three passes
    # make a cross-round 2x artifact from shared-host noise (the round-3
    # embedding_ann_lsh dispute: 61s/46s/29s full-run spread on
    # identical code) statistically implausible.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(3):
        for name in HEADLINE:
            start = time.perf_counter()
            _materialize(QUERIES[name](spark, sf_dir))
            elapsed = time.perf_counter() - start
            spark.catalog.clearCache()  # drop pinned LSH signature caches
            samples[name].append(round(elapsed, 3))
            print(f"pass{_pass} {name}: {elapsed:.3f}s", file=sys.stderr)
    timings = {k: min(v) for k, v in samples.items()}

    total = round(sum(timings.values()), 3)
    # Trimmed-median headline beside the raw best-of-3 sum (round-9
    # verdict #8): the shared host swings ±30% across a day, so the
    # cross-round comparison wants a statistic a single stalled pass
    # cannot move — the per-query MEDIAN of the three pass-separated
    # samples, summed.
    median_total = round(
        sum(sorted(v)[len(v) // 2] for v in samples.values()), 3
    )
    # Stdout carries ONE COMPACT FINAL line. The driver records only a
    # 2,000-char TAIL of stdout: round 6's line (inline raw samples,
    # ~8 KB) and round 7's "fix" (per-query map inline, ~3.5 KB) were
    # both truncated from the FRONT, losing the {"metric","value"} head
    # and the round's headline entirely. So the per-query minima and
    # the raw per-pass samples (cross-round drift attribution, round-4
    # verdict #8) go ONLY to BENCH_samples.json, and the last stdout
    # line is a <=200-byte summary the tail always contains whole.
    # Baseline-ratio tracking (round-10 verdict #8): the subtotal over
    # the queries benched since round 1, so the vs-r01 ratio is read
    # directly each round instead of re-derived across files.
    root = os.path.dirname(os.path.abspath(__file__))
    r01_common = {}
    try:
        with open(os.path.join(root, "BENCH_r01.json")) as fh:
            r01 = json.load(fh)
        # the driver's record nests the parsed stdout line
        r01_queries = r01.get("parsed", r01).get("queries", {})
        common = sorted(set(r01_queries) & set(timings))
        r01_common = {
            "r01_common_n": len(common),
            "r01_common_subtotal": round(sum(timings[q] for q in common), 3),
            "r01_common_subtotal_r01": round(
                sum(float(r01_queries[q]) for q in common), 3
            ),
        }
    except (OSError, ValueError):
        pass  # no r01 record next to the script (fresh checkout)
    with open(os.path.join(root, "BENCH_samples.json"), "w") as fh:
        json.dump(
            {
                "sf": sf,
                "queries": timings,
                "samples": samples,
                "median_total": median_total,
                **r01_common,
            },
            fh,
        )
    line = json.dumps(
        {
            "metric": "headline_queries_wall_clock",
            "value": total,
            "unit": "sec",
            "median_total": median_total,
            "n_queries": len(timings),
            "sf": sf,
            "queries_file": "BENCH_samples.json",
        }
    )
    if len(line) > 200:
        # never abort AFTER all queries already ran (and `python -O`
        # would strip an assert): drop optional fields to stay inside
        # the driver's one-short-line stdout contract
        line = json.dumps(
            {"metric": "headline_queries_wall_clock", "value": total,
             "unit": "sec", "sf": sf}
        )
    print(line)


if __name__ == "__main__":
    main()
