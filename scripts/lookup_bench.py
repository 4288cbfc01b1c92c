#!/usr/bin/env python3
"""Point / batched key lookup cost vs filtering the full read.

Evidence for the round-5 lookup path (sink.py `lookup` / `lookup_many`):
a key's versions live only in its key-hash bucket plus the deltas whose
manifest bucket list contains that bucket, so a point read should list
ONE base bucket dir (a batched read: the union of the keys' bucket
dirs) instead of every bucket, with the key predicate reaching the
parquet footers. This script builds a clean base across all n_buckets
plus a delta wave confined to a bucket subset by the engine's own
bucket expression, and
INTERLEAVES timed reps A/B on the SAME lake state (host drift hits both
arms equally):

  * arm lookup: `lookup_many(req)` — bucket-dir pruning + manifest
    delta pruning + pushed OR-predicate (or broadcast semi above
    LOOKUP_PREDICATE_MAX keys);
  * arm filter: `read()` filtered to the same key set — the naive path
    every consumer would otherwise write; it pays the full steady-state
    merge read before the filter.

Both arms collect the (bounded, <= |req|) result and are asserted
row-identical before timing. The structural, host-independent metric is
the number of base files each plan lists — that is the term that scales
with the table while the lookup's stays O(requested buckets).

Run: python scripts/lookup_bench.py [n_events] [n_keys] [n_req] [reps] [content_words]
(defaults 8_000_000 / 800_000 / 100 / 5 / 8).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else max(2_000, n_events // 10)
    n_req = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    content_words = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_buckets = 64
    subset_max_bucket = 4  # delta wave touches buckets 0..3 only

    from pyspark.sql import functions as F

    from pyspark_cdc import generate
    from pyspark_cdc.session import get_spark
    from pyspark_cdc.sink import ParquetLake, bucket_expr
    from pyspark_cdc.stream import process_batch, replay_batch

    spark = get_spark(cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="pyspark_cdc_lookupbench_")
    try:
        log_dir = os.path.join(work, "log_base")
        generate.write_log(
            spark, log_dir, n_events=n_events, n_keys=n_keys,
            n_files=8, include_edge_cases=False,
            content_words=content_words,
        )
        lake_dir = os.path.join(work, "lake")
        lake = ParquetLake(spark, lake_dir, n_buckets=n_buckets, mode="mor",
                           compact_every=10**9)
        replay_batch(spark, log_dir, lake, batch_id=0)
        lake._compact(lake.current_meta(), full=True)  # commits a clean base

        delta_raw = generate.bulk_events_df(
            spark, max(100_000, n_events // 40), n_keys=n_keys, seed=7,
            content_words=content_words,
        )
        # confine the wave with the ENGINE's bucket function (bucket_expr
        # reads the repo/path columns), not a hand-rolled re-derivation
        key_t = F.from_json(F.col("key"), "repo string, path string")
        confined = (
            delta_raw
            .withColumn("repo", key_t["repo"])
            .withColumn("path", key_t["path"])
            .where(bucket_expr(n_buckets) < subset_max_bucket)
            .drop("repo", "path")
        )
        process_batch(confined, 1, lake)
        meta = lake.current_meta()
        assert meta["deltas"], "an outstanding backlog is part of the shape"

        # request keys drawn across the whole key space + two misses
        sample = (
            lake.read()
            .select("repo", "path")
            .orderBy(F.xxhash64("repo", "path"))
            .limit(n_req)
            .collect()
        )
        req = [(r["repo"], r["path"]) for r in sample]
        req += [("no/such", "a.py"), ("no/such", "b.py")]
        req_buckets = sorted(set(lake.key_buckets(req).values()))

        def filtered_read():
            keys_df = F.broadcast(
                spark.createDataFrame(req, ["repo", "path"]))
            return lake.read().join(keys_df, ["repo", "path"], "left_semi")

        def rows_of(df):
            return sorted(
                tuple(sorted((k, repr(v)) for k, v in r.asDict().items()))
                for r in df.collect())

        # equality first (untimed)
        assert rows_of(lake.lookup_many(req)) == rows_of(filtered_read()), (
            "lookup_many diverged from the filtered full read")

        # structural metric: base files listed by each plan
        def base_files(df):
            return len([f for f in df.inputFiles() if "__bucket=" in f])

        files_lookup = base_files(lake.lookup_many(req))
        files_filter = base_files(filtered_read())

        def timed(df_fn) -> float:
            t0 = time.monotonic()
            df_fn().collect()
            return time.monotonic() - t0

        walls = {"lookup": [], "filter": []}
        timed(lambda: lake.lookup_many(req))  # warm-up
        timed(filtered_read)
        for _ in range(reps):
            walls["lookup"].append(timed(lambda: lake.lookup_many(req)))
            walls["filter"].append(timed(filtered_read))
        # single-key point read, the latency-critical shape
        one = req[0]
        point = [timed(lambda: lake.lookup(*one)) for _ in range(reps)]

        med = {k: statistics.median(v) for k, v in walls.items()}
        out = {
            "n_events_base": n_events,
            "n_keys": n_keys,
            "content_words": content_words,
            "n_buckets": n_buckets,
            "n_req_keys": len(req),
            "req_buckets": len(req_buckets),
            "base_files_lookup": files_lookup,
            "base_files_filter": files_filter,
            "reps_per_arm": reps,
            "lookup_many_wall_s": round(med["lookup"], 3),
            "filtered_read_wall_s": round(med["filter"], 3),
            "lookup_walls": [round(w, 3) for w in walls["lookup"]],
            "filter_walls": [round(w, 3) for w in walls["filter"]],
            "point_lookup_wall_s": round(statistics.median(point), 3),
            "point_walls": [round(w, 3) for w in point],
            "speedup": round(med["filter"] / med["lookup"], 2)
            if med["lookup"] else None,
            "results_equal": True,
        }
        print(json.dumps(out))
        print()
        print("| read | base files listed | median wall (s) |")
        print("|---|---|---|")
        print(f"| lookup_many ({len(req)} keys) | {files_lookup} "
              f"({len(req_buckets)}/{n_buckets} buckets) | "
              f"{med['lookup']:.3f} |")
        print(f"| read().semi-join (same keys) | {files_filter} "
              f"({n_buckets}/{n_buckets} buckets) | {med['filter']:.3f} |")
        print(f"| lookup (1 key) | - | "
              f"{statistics.median(point):.3f} |")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
