"""Benchmark harness: runs the query catalog and prints ONE JSON line.

Contract (driver): run headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and print
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.
``$SPARK_GRAFT_CPUS`` defaults to the host's core count, and the line also
states ``cpus``, ``master`` and ``sf_dir``.

Each query is executed to completion via the ``noop`` sink (full pipeline
runs distributed; nothing is collected to the driver), which is the honest
way to time Spark jobs without Python-materialization overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Pinned cross-round comparison subset: the 49 catalog entries from the
#: round-1 driver sample (CORRECTNESS_r01.json), all still present. This
#: list is FROZEN — do not append new entries (they'd break
#: round-over-round comparability); the full catalog total already covers
#: growth. BENCH_FULL.json reports core_subset_total (best-of) and
#: core_subset_median_total over exactly these names so steady-state
#: regressions are readable without hand-intersecting rounds.
CORE_SUBSET = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "merge_key_lineitem", "date_partition_orders", "cdc_latest_state_events",
    "cdc_delta_join_customer", "text_stats_documents", "lang_id_documents",
    "token_count_by_source", "fingerprint_documents", "dedup_exact_documents",
    "minhash_pairs_documents", "simhash_documents", "knn_bruteforce_embeddings",
    "ann_lsh_buckets_embeddings", "events_hourly_rollup", "events_json_extract",
    "q4_late_shipment_priority", "q6_revenue_forecast", "q7_nation_trade_volume",
    "q10_returned_items", "q13_order_count_distribution", "q14_promo_revenue",
    "q15_top_suppliers", "q17_small_quantity_revenue", "q18_large_volume_orders",
    "q19_disjunctive_predicates", "q22_inactive_customers", "q8_market_share",
    "q12_shipping_modes", "q16_supplier_part_counts", "rollup_order_priority",
    "cube_order_status", "ntile_customer_value", "setops_repeat_customers",
    "events_sessionize", "ngram_jaccard_documents", "simhash_neardup_documents",
    "cosine_neardup_embeddings", "ivf_topk_embeddings",
    "multimodal_features_documents", "bpe_token_stats_documents",
    "streaming_hourly_rollup", "events_quantiles", "pivot_events_by_cohort",
    "tfidf_top_terms", "approx_user_counts", "kmeans_embeddings",
)


#: The bench harness keeps only the LAST ~2000 chars of stdout and parses
#: the final JSON line from that window. With 70+ catalog queries the full dict
#: overflows it (round 2's record came back "parsed": null), so the printed
#: line keeps the slowest queries and trims the fast tail to stay under the
#: window; BENCH_FULL.json carries everything.
MAX_LINE = 1750


def fit_line(payload: dict) -> str:
    """``payload`` as one compact JSON line of at most ``MAX_LINE`` chars,
    dropping the fastest entries of ``payload["queries"]`` (ordered slowest
    first) and counting them in ``omitted_fast_queries``."""
    ranked = list(payload["queries"].items())
    n_queries = len(ranked)
    line = json.dumps(payload, separators=(",", ":"))
    while len(line) > MAX_LINE and len(ranked) > 1:
        ranked.pop()
        payload["queries"] = dict(ranked)  # keep descending-by-time ordering
        payload["omitted_fast_queries"] = n_queries - len(ranked)
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > MAX_LINE:
        # Last-resort fallback: summary fields only, never an unparseable line.
        payload.pop("queries", None)
        payload.pop("errors", None)
        payload["omitted_fast_queries"] = n_queries
        line = json.dumps(payload, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # unset: the host's core count, not a fixed local[32] that oversubscribes
    # a small host
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

    from arcane_framework_spark.queries import QUERIES
    from arcane_framework_spark.session import get_spark

    master = f"local[{cpus}]"
    spark = get_spark("arcane-bench", master=master)
    spark.sparkContext.setLogLevel("ERROR")

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # Warm up the JVM/codegen paths once so per-query timings measure the
    # engine, not classloading.
    try:
        QUERIES["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass  # warm-up is best-effort; the timed loop records real failures

    # Warm the Python worker pool + Arrow serialization path as well: the
    # first mapInPandas in a session forks one Python worker per core and
    # imports pandas/numpy inside each (~4-5s on local[32]) — without this,
    # whichever Pandas-UDF query happens to run first absorbs that one-off
    # cost into its timing.
    try:
        import pandas as pd  # noqa: F401

        def _warm(batches):
            import numpy as np  # executor-side import, cached by worker reuse
            for b in batches:
                yield b

        warm_df = spark.range(0, 256, 1, cpus)
        warm_df.mapInPandas(_warm, warm_df.schema).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass

    from arcane_framework_spark.operators.cache import cache_scope

    # Shared corpus prep: persist the signature/shingle/pair tables the
    # dedup-family entries all derive from the same planted corpus, ONCE.
    # Spark's CacheManager substitutes them into every consumer's plan by
    # canonicalized-plan equality — the catalog stops re-hashing the corpus
    # per entry. Cost is timed and reported separately as prep_sec and
    # added to the headline total (honest apples-to-apples vs rounds that
    # paid the prep repeatedly).
    prep_sec = 0.0
    prep_breakdown: dict[str, float] = {}
    try:
        from arcane_framework_spark.prep import warm_shared_prep_itemized

        prep_breakdown = warm_shared_prep_itemized(spark, sf_dir)
        prep_sec = round(sum(prep_breakdown.values()), 3)
    except Exception:
        pass  # prep is an optimization; the catalog must still run without it

    passes: list[dict[str, float]] = []
    pass_errors: list[dict[str, str]] = []
    # THREE full passes: this host shows a ±30% noise band between
    # identical runs. `value` stays best-of (continuity with prior rounds
    # and BASELINE.md comparisons); per-query MEDIANS are reported
    # alongside so a regression is distinguishable from scheduler luck —
    # median-of-3 moves only when the steady state moves.
    for _ in range(3):
        t: dict[str, float] = {}
        errs: dict[str, str] = {}
        for name, fn in QUERIES.items():
            start = time.perf_counter()
            # Per-query isolation: one failing query must not abort the run
            # (round 3 recorded zero timings because one query raised).
            try:
                # cache_scope releases each query's persisted intermediates
                # after its action — block-manager storage stays flat across
                # the catalog (shared prep entries are exempt by design).
                with cache_scope():
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                t[name] = round(time.perf_counter() - start, 3)
            except Exception as exc:  # noqa: BLE001 — record and keep going
                errs[name] = f"{type(exc).__name__}: {exc}"[:200]
        passes.append(t)
        pass_errors.append(errs)

    # `errors` = failed EVERY pass (a real failure); a query that failed one
    # pass but timed in the other is a flake — reported separately so
    # BENCH_FULL.json distinguishes the two.
    errors = {
        name: err
        for name, err in pass_errors[0].items()
        if all(name in pe for pe in pass_errors)
    }
    flaked = {
        name: err
        for pe in pass_errors
        for name, err in pe.items()
        if name not in errors
    }

    import statistics

    timings = {
        name: min(p[name] for p in passes if name in p)
        for name in QUERIES
        if any(name in p for p in passes)
    }
    medians = {
        name: round(
            statistics.median(p[name] for p in passes if name in p), 3
        )
        for name in timings
    }
    spread = {
        name: round(
            max(p[name] for p in passes if name in p) - timings[name], 3
        )
        for name in timings
    }
    total = round(sum(timings.values()) + prep_sec, 3)
    median_total = round(sum(medians.values()) + prep_sec, 3)
    core_subset_total = round(
        sum(timings[n] for n in CORE_SUBSET if n in timings), 3
    )
    core_subset_median_total = round(
        sum(medians[n] for n in CORE_SUBSET if n in medians), 3
    )
    # The frozen subset exists for round-over-round comparability — a
    # renamed/removed/errored member silently shrinking the total is the
    # exact failure the freeze guards against, so surface it loudly.
    core_missing = sorted(n for n in CORE_SUBSET if n not in timings)
    if core_missing:
        print(
            f"WARNING: {len(core_missing)} frozen core-subset entries "
            f"missing from timings (core_subset_total NOT comparable "
            f"round-over-round): {core_missing}",
            file=sys.stderr,
        )

    # Full per-query timings for humans / the judge.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(
            {"metric": "catalog_total_runtime", "value": total, "unit": "sec",
             "queries": timings, "errors": errors, "flaked": flaked,
             "sf": sf,
             "n_queries": len(timings), "prep_sec": prep_sec,
             "prep_breakdown": prep_breakdown,
             "spread": spread,
             "medians": medians,
             "median_total": median_total,
             "core_subset": list(CORE_SUBSET),
             "core_subset_total": core_subset_total,
             "core_subset_median_total": core_subset_median_total,
             "n_core_present": len(CORE_SUBSET) - len(core_missing),
             "core_missing": core_missing,
             "pass_totals": [round(sum(p.values()), 3) for p in passes],
             "cpus": cpus, "master": master, "sf_dir": sf_dir},
            fh, indent=1, sort_keys=True,
        )

    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    payload = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": dict(ranked),
        "sf": sf,
        "n_queries": len(timings),
        "prep_sec": prep_sec,
        "median_total": median_total,
        "core_subset_total": core_subset_total,
        "core_subset_median_total": core_subset_median_total,
        "n_core_present": len(CORE_SUBSET) - len(core_missing),
        "core_missing": core_missing,
        "pass_totals": [round(sum(p.values()), 3) for p in passes],
        "full": "BENCH_FULL.json",
        "cpus": cpus,
        "master": master,
        "sf_dir": sf_dir,
    }
    if errors:
        payload["errors"] = {k: v[:80] for k, v in errors.items()}
    line = fit_line(payload)
    # Stop Spark BEFORE printing so no shutdown log line can land after the
    # JSON line inside the driver's captured tail — but never let a shutdown
    # hiccup swallow the result line.
    try:
        spark.stop()
    except Exception:
        pass
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
