"""Benchmark harness and per-query profiler.

Usage::

    python bench.py              # the 40 headline queries
    python bench.py --all        # every registry query
    python bench.py NAME [NAME...]

Runs the named queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints TWO
JSON lines: a full detail record, then a FINAL compact line sized to fit
entirely inside a 2,000-char stdout tail window::

    {"metric": "headline_wall_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "failed": [...], "sf": 0.1, ...}

Protocol:

- Execution is forced with the ``noop`` sink (the full plan runs
  distributed, nothing is collected to the driver), so timings measure
  the engine, not driver materialization.
- One un-timed warm-up pass over every query at sf0.01 (JVM, codegen,
  Arrow), then per query one un-timed rep at the measured SF followed by
  ``REPS`` timed reps.
- Each query's value is construction + execution, the median of the
  per-rep totals: queries with driver-coordinated build work (BPE
  training rounds, the ANN recall gate's eager searches, eager
  statistic checkpoints) do real cluster work before their terminal
  action, and a plan rewrite must not be able to move that work out of
  the headline. The split series stay in the detail record.
- The last timed rep runs construction and execution under their own
  job groups (``bench-<name>-build`` / ``bench-<name>-exec``) and reads
  each phase's counters from Spark's status store right after the op
  (``perfbench.trace.COUNTERS``: jobs, stages, tasks, executor CPU ms,
  input/shuffle/spill bytes, GC ms). Wall time on a shared host swings
  with its neighbours; these counters do not, so they are the evidence
  for a plan change. A reused exchange runs as a SKIPPED stage, which
  the counters leave out, so ``stages`` and ``shuffle_write_bytes``
  also show runtime exchange reuse.
- A query that raises is listed under ``failed`` in both lines; the
  headline ``value`` sums the queries that ran.

BENCHLOG.md tags each recorded table with its protocol epoch; compare
rounds with ``tools/bench_compare.py``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Warm-up at sf0.01, not sf0.001: interpreted-mode expression paths
# (higher-order-function lambdas are outside whole-stage codegen) only
# reach JIT-compiled tiers after a few thousand rows, and a ~50-row
# warm-up leaves the first timed run paying the interpreter tax.
WARMUP_SF_DIR = "/root/testdata/sf0.01"
REPS = 3
# Local properties ``SparkContext.setJobGroup`` sets on the calling thread.
JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

# Headline set: the most expensive / representative query per capability
# area. Every name must exist in the plans registry.
HEADLINE = [
    "flagship_top_customer_per_nation",  # join-heavy + window
    "pricing_summary",                   # wide scan + 8-agg groupBy
    "count_enrich_window",               # single-shuffle window enrich
    "topk_suppliers_per_nation",         # window top-k
    "window_analytics",                  # lag/lead/frames
    "left_join_enrich",                  # fact-dim left join
    "semi_join_big_spenders",            # semi join
    "text_features",                     # documents text analysis
    "dedup_exact",                       # exact dedup
    "dedup_minhash_lsh_pairs",           # MinHash LSH banding
    "simhash_signatures",                # SimHash
    "knn_exact_cosine",                  # brute-force top-k ANN baseline
    "knn_ann_hyperplane_lsh",            # LSH-bucketed ANN scale path
    "dedup_ngram_jaccard_prefix",        # exact Jaccard, prefix-filtered index
    "event_window_tumbling",             # event-time tumbling agg
    "event_sessionization",              # session windows
    "event_asof_last_purchase",          # as-of join (union+window)
    "mm_decode_metadata",                # Arrow multimodal decode
    "enrich_mock_llm_topics",            # mapInPandas enrichment
    "quality_filter_stats",              # corpus quality filtering
    "stats_percentiles_by_flag",         # exact per-group percentiles
    "doc_chunk_sliding",                 # token-window chunk fan-out
    "pack_sequences_contiguous",         # prefix-sum sequence packing
    "event_ffill_gap_fill",              # forward-fill running window
    "tpch_q3_shipping_priority",         # TPC-H Q3: 3-way join + top-n
    "tpch_q5_local_supplier_volume",     # TPC-H Q5: 6-table join tree
    "tpch_q18_large_volume_customers",   # TPC-H Q18: group-filter + joins
    "cdc_merge_upsert",                  # CDC MERGE via full-outer join
    "fuzzy_match_levenshtein",           # blocked edit-distance entity resolution
    "corpus_curation_e2e",               # composed 5-stage curation funnel
    "zorder_bucket_profile",             # Morton-interleave layout arithmetic
    "stats_gini_customer_revenue",       # distributed-rank concentration stat
    "heavy_hitters_mg_tokens",           # Misra-Gries candidates + exact recount
    "sim_maxsim_multivector",            # late-interaction MaxSim scoring
    "event_session_window_builtin",      # native SessionWindow aggregate
    "dedup_embedding_semdedup",          # cluster-local semantic dedup
    # round-6 additions (BENCHLOG r6: headline grew 36 → 39)
    "text_bm25_topk",                    # BM25 retrieval, posting-list-bounded
    "layout_bucketed_join_colocated",    # bucketed fact-fact join, zero exchange
    "fuzzy_join_fastss_d1",              # deletion-neighborhood edit-distance join
    # round-7 addition (headline 39 → 40)
    "tpch_q9_product_type_profit",       # TPC-H Q9: widest join tree, derived partsupp
]


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def select(args: list[str]) -> list[str]:
    """Query names for a command line: ``--all`` is the whole registry,
    positional names are taken as given, no names is the headline set.
    Unknown names exit at once instead of shrinking the run.
    ``plans.load_all()`` must have run."""
    from big_data_imdb_classifier_spark import plans

    if "--all" in args:
        return sorted(plans.QUERIES)
    names = list(dict.fromkeys(args)) or HEADLINE
    unknown = [n for n in names if n not in plans.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    return names


def run(spark, name: str, sf_dir: str, group: str | None = None) -> tuple[float, float]:
    """Build ``name`` and run it into the noop sink; returns the
    construction and execution seconds. With ``group``, the phases run
    under the job groups ``<group>-build`` and ``<group>-exec``."""
    from big_data_imdb_classifier_spark import plans

    sc = spark.sparkContext
    if group:
        sc.setJobGroup(f"{group}-build", name)
    t0 = time.perf_counter()
    df = plans.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    if group:
        sc.setJobGroup(f"{group}-exec", name)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    # Queries that persist intermediates (pagerank edges, triangle edge
    # list, per-doc LM scores) would otherwise leave their caches
    # resident for every later query's run.
    spark.catalog.clearCache()
    return t1 - t0, t2 - t1


def profile(spark, store, name: str, sf_dir: str) -> dict:
    """One ``run`` of ``name`` under the job groups ``bench-<name>-*``;
    returns both phases' seconds and their ``store.group`` counters.
    The calling thread's previous job group is restored."""
    sc = spark.sparkContext
    prev = [sc.getLocalProperty(k) for k in JOB_GROUP_PROPS]
    group = f"bench-{name}"
    try:
        build_s, exec_s = run(spark, name, sf_dir, group)
    finally:
        for k, v in zip(JOB_GROUP_PROPS, prev):
            sc.setLocalProperty(k, v)
    return {
        "build_s": build_s,
        "exec_s": exec_s,
        "build": store.group(f"{group}-build"),
        "exec": store.group(f"{group}-exec"),
    }


def _median(xs: list[float]) -> float:
    return round(sorted(xs)[len(xs) // 2], 3)


def main() -> None:
    from big_data_imdb_classifier_spark import plans
    from big_data_imdb_classifier_spark.session import get_spark
    from perfbench.trace import StatusStore

    plans.load_all()
    names = select(sys.argv[1:])
    spark = get_spark(app_name="bench")
    store = StatusStore(spark)

    for n in names:  # warm-up pass (tiny SF): JIT, codegen, Arrow init
        try:
            run(spark, n, WARMUP_SF_DIR)
        except Exception:
            pass

    timings: dict[str, float] = {}
    execution: dict[str, float] = {}
    construction: dict[str, float] = {}
    counters: dict[str, dict] = {}
    failed: list[str] = []
    for n in names:
        try:
            run(spark, n, SF_DIR)  # un-timed rep at the measured SF
            samples = [run(spark, n, SF_DIR) for _ in range(REPS - 1)]
            prof = profile(spark, store, n, SF_DIR)
            samples.append((prof["build_s"], prof["exec_s"]))
        except Exception as e:  # keep emitting numbers even if one breaks
            print(f"bench: {n} failed: {e}", file=sys.stderr)
            traceback.print_exc()
            failed.append(n)
            continue
        timings[n] = _median([b + x for b, x in samples])
        construction[n] = _median([b for b, _ in samples])
        execution[n] = _median([x for _, x in samples])
        counters[n] = {"build": prof["build"], "exec": prof["exec"]}

    meta = {
        "sf": _sf_from_dir(SF_DIR),
        "reps": REPS,
        "stat": "median",
        "protocol": "P5-total-counted",  # BENCHLOG.md protocol epochs
    }
    detail = {
        "metric": "headline_wall_sec_detail",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        # Split secondary series: where each query's total comes from.
        "execution": execution,
        "execution_total": round(sum(execution.values()), 3),
        "construction": construction,
        "construction_total": round(sum(construction.values()), 3),
        # Status-store counters of each query's last timed rep, per phase.
        "counters": counters,
        **meta,
    }
    print(json.dumps(detail))
    # FINAL compact line: a caller that keeps a bounded stdout tail needs
    # the LAST line to be a complete parseable record on its own.
    # Totals only, no split dicts or counters.
    compact = {
        "metric": "headline_wall_sec",
        "value": detail["value"],
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "execution_total": detail["execution_total"],
        "construction_total": detail["construction_total"],
        **meta,
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # never let the tail window truncate the record
        compact.pop("queries")
        line = json.dumps(compact)
    while len(line) > 1900:  # many failures: the detail line lists them all
        compact["failed"] = compact["failed"][:-1]
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
