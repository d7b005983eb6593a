"""Per-query profiler for the optimization rounds.

Times a subset of catalog queries exactly the way bench.py does (noop sink,
cache_scope isolation, shared prep warmed first) and optionally dumps each
query's ``explain('formatted')`` to a directory — the evidence files the
optimization rounds commit under ``plans/r{N}/``.

Usage::

    python tools/profile_queries.py [--passes N] [--sf-dir DIR]
        [--explain-dir DIR] [--no-prep] [query ...]

With no queries listed, profiles the whole catalog. Prints one line per
query with min/median over passes, plus a total.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="",
                    help="filename suffix for explain dumps, e.g. _before")
    ap.add_argument("--no-prep", action="store_true")
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from arcane_framework_spark.operators.cache import cache_scope
    from arcane_framework_spark.queries import QUERIES
    from arcane_framework_spark.session import get_spark

    names = args.queries or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # unset: the host's core count, not a fixed local[32] that oversubscribes
    # a small host
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("profile-queries", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # Same warm-up as bench.py so first-query timings are comparable.
    try:
        QUERIES["q1_pricing_summary"](spark, args.sf_dir).write.format(
            "noop").mode("overwrite").save()
        warm_df = spark.range(0, 256, 1, cpus)
        warm_df.mapInPandas(lambda it: it, warm_df.schema).write.format(
            "noop").mode("overwrite").save()
    except Exception:
        pass

    prep_sec = 0.0
    if not args.no_prep:
        from arcane_framework_spark.prep import warm_shared_prep
        prep_sec = warm_shared_prep(spark, args.sf_dir)
        print(f"prep_sec={prep_sec}")

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            try:
                with cache_scope():
                    df = QUERIES[name](spark, args.sf_dir)
                    plan = spark._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted")
                path = os.path.join(
                    args.explain_dir, f"{name}{args.suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(plan)
            except Exception as exc:  # noqa: BLE001
                print(f"explain {name}: {type(exc).__name__}: {exc}",
                      file=sys.stderr)

    all_times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"profile:{name}")
            start = time.perf_counter()
            try:
                with cache_scope():
                    QUERIES[name](spark, args.sf_dir).write.format(
                        "noop").mode("overwrite").save()
                all_times[name].append(time.perf_counter() - start)
            except Exception as exc:  # noqa: BLE001
                print(f"ERR {name}: {type(exc).__name__}: {exc}"[:300],
                      file=sys.stderr)
            finally:
                spark.sparkContext.setJobDescription(None)

    rows = []
    for name in names:
        ts = all_times[name]
        if not ts:
            continue
        rows.append((name, min(ts), statistics.median(ts), max(ts)))
    rows.sort(key=lambda r: -r[2])
    for name, mn, md, mx in rows:
        print(f"{mn:8.3f} {md:8.3f} {mx:8.3f}  {name}")
    print(f"TOTAL min={sum(r[1] for r in rows):.3f} "
          f"median={sum(r[2] for r in rows):.3f} prep={prep_sec}")
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump({
                "sf_dir": args.sf_dir, "passes": args.passes,
                "prep_sec": prep_sec,
                "times": {n: [round(t, 3) for t in ts]
                          for n, ts in all_times.items()},
            }, fh, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
