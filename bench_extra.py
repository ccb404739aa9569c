"""Optimization-round measurement harness (bench.py is FROZEN for the
driver; this file is the guide-§1 instrumentation that may evolve).

Per-query isolation with the noop sink, repeated timing, and
``explain("formatted")`` capture to ``plans/<tag>/<query>_<when>.txt``.

Usage:
    python bench_extra.py [--queries a,b,c] [--reps 3] [--plans-dir plans/r06]
                          [--when before|after] [--sf-dir DIR] [--scale N]

``--scale N`` unions N id-shifted copies of the ``documents`` /
``embeddings`` / ``events`` tables before running, approximating a larger
driver-generated SF for scale-sensitivity checks (measurement aid only —
never used by bench.py or the driver).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = [
    "tpch_q1",
    "join_orders_customer",
    "broadcast_dim_join",
    "sessionize",
    "carry_forward",
    "topk_per_group",
    "cube_breakdown",
    "dedup_exact",
    "token_stats",
    "langid",
    "minhash_dedup_pairs",
    "cosine_topk",
    "serve_requests",
    "bgp_construct",
    "sparql_subquery",
]


def scaled_cache_dir(sf_dir: str, scale: int) -> str:
    """Where the ``--scale`` probe caches its unioned tables: keyed by the
    scale AND a digest of the resolved source SF dir, so a run against a
    different ``--sf-dir`` never reuses another SF's scaled copy."""
    digest = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    return f"/tmp/sg_scaled_{scale}x_{digest}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--when", default="before")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--scale", type=int, default=1)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from nametag3_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    sf_dir = args.sf_dir

    if args.scale > 1:
        # union N id-shifted copies into a local parquet dir (scale probe)
        import shutil

        from pyspark.sql import functions as F

        scaled = scaled_cache_dir(sf_dir, args.scale)
        if not os.path.exists(os.path.join(scaled, "_DONE")):
            shutil.rmtree(scaled, ignore_errors=True)
            os.makedirs(scaled, exist_ok=True)
            for t, idc in (
                ("documents", "doc_id"),
                ("embeddings", "vec_id"),
                ("events", "event_id"),
                ("lineitem", "l_orderkey"),
                ("orders", "o_orderkey"),
                ("customer", None),
                ("supplier", None),
                ("part", None),
                ("nation", None),
                ("region", None),
            ):
                df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
                if idc is not None:
                    n = df.agg(F.max(idc)).first()[0] + 1
                    out = df
                    for i in range(1, args.scale):
                        out = out.unionByName(
                            df.withColumn(idc, F.col(idc) + i * n)
                        )
                else:
                    out = df
                # coalesce(1): the driver's tables are ONE file with few
                # row groups — a multi-file probe would overstate scan
                # parallelism and hide single-task-scan bottlenecks
                out.coalesce(1).write.mode("overwrite").parquet(
                    f"{scaled}/{t}.parquet"
                )
            open(os.path.join(scaled, "_DONE"), "w").close()
        sf_dir = scaled

    qs = entry_mod.queries()
    # same warmup as bench.py: table metadata/page cache + python workers
    for table in ("region", "nation", "customer", "orders", "lineitem",
                  "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    spark.range(cpus * 2).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    results: dict[str, list[float]] = {}
    for name in args.queries.split(","):
        name = name.strip()
        if not name:
            continue
        if args.plans_dir:
            df = qs[name](spark, sf_dir)
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.when}.txt"), "w"
            ) as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")
                ))
        times = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        results[name] = times
        print(json.dumps({"query": name, "times": times, "min": min(times)}),
              flush=True)

    print(json.dumps({
        "sf_dir": sf_dir,
        "total_min": round(sum(min(t) for t in results.values()), 3),
        "queries_min": {k: min(v) for k, v in results.items()},
    }))


if __name__ == "__main__":
    main()
