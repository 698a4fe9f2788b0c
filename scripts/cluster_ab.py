#!/usr/bin/env python
"""Cross-executor A/B of the dirty-scan merge plans.

Compares the default plan (grouped broadcast anti join while the delta
keys fit the broadcast budget) against the shuffled anti join it falls
back to past that budget, on the closest thing a single box offers to
a cluster: a standalone master + N separate worker JVMs, so shuffles
serialize/deserialize across process boundaries.

Usage (cluster must already be running — see SCALE.md §cross-executor):

    SPARK_HOME=$(python -c 'import pyspark,os;print(os.path.dirname(pyspark.__file__))')
    $SPARK_HOME/bin/spark-class org.apache.spark.deploy.master.Master -h 127.0.0.1 &
    for i in 1 2 3 4; do
      $SPARK_HOME/bin/spark-class org.apache.spark.deploy.worker.Worker \
          spark://127.0.0.1:7077 -c 7 -m 14g -h 127.0.0.1 &
    done
    python scripts/cluster_ab.py --mult 200

Loads ×mult lineitem into an engine table (maintenance off), upserts
10% of keys, then times q1/q6 with the shuffled anti join forced and
with the default plan. The shuffle arm sets
spark.sql.autoBroadcastJoinThreshold=-1 for the whole session, so every
join in that arm loses broadcast. Each arm starts with the table's
cached key frames evicted. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench_once(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="spark://127.0.0.1:7077")
    ap.add_argument("--mult", type=int, default=200)
    ap.add_argument("--total-cores", type=int, default=28)
    ap.add_argument("--executor-cores", type=int, default=7)
    ap.add_argument("--executor-mem", default="12g")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                       "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kudu_spark.engine import Engine
    from kudu_spark.table import _evict_key_frames
    from kudu_spark.queries import load

    spark = (
        SparkSession.builder.master(args.master)
        .appName("pyskudu-cluster-ab")
        .config("spark.cores.max", str(args.total_cores))
        .config("spark.executor.cores", str(args.executor_cores))
        .config("spark.executor.memory", args.executor_mem)
        .config("spark.driver.memory", "12g")
        .config("spark.sql.shuffle.partitions", str(2 * args.total_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    n_exec = args.total_cores // args.executor_cores

    base = load(spark, args.sf_dir, "lineitem")
    mult_df = spark.range(args.mult).select(F.col("id").alias("__m"))
    li = (
        base.crossJoin(mult_df)
        .withColumn("l_rowid", F.monotonically_increasing_id() * args.mult + F.col("__m"))
        .drop("__m")
    )
    src = tempfile.mkdtemp(prefix="pyskudu-cab-src-")
    li.write.mode("overwrite").parquet(src)
    li = spark.read.parquet(src)
    rows = li.count()

    wh = tempfile.mkdtemp(prefix="pyskudu-cab-wh-")
    eng = Engine(spark, wh)
    cols = [(f.name, f.dataType.simpleString(), True) for f in base.schema.fields]
    t = eng.create_table(
        "lineitem", [("l_rowid", "bigint", False)] + cols, pk=["l_rowid"],
        hash_partitions=[{"columns": ["l_rowid"], "buckets": max(8, args.mult)}],
    )
    eng.alter_table("lineitem").set_property("auto_compact", "false").apply()
    t0 = time.perf_counter()
    t.insert(li)
    load_sec = round(time.perf_counter() - t0, 2)

    def q1(df):
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            df.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum(disc), 2).alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("n"))
        )

    def q6(df):
        return df.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("rev"))

    tenth = t.scan().where(F.col("l_rowid") % 10 == 0).withColumn(
        "l_quantity", F.col("l_quantity") + 1
    )
    t0 = time.perf_counter()
    t.upsert(tenth)
    upsert_sec = round(time.perf_counter() - t0, 2)

    out = {"metric": "cluster_ab", "mult": args.mult, "rows": rows,
           "executors": n_exec, "executor_cores": args.executor_cores,
           "load_sec": load_sec, "upsert_10pct_sec": upsert_sec, "plans": {}}
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for plan in ("shuffle", "auto"):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       "-1" if plan == "shuffle" else bcast)
        t = eng.table("lineitem")
        _evict_key_frames(t.root)
        res = {}
        for name, q in (("q1", q1), ("q6", q6)):
            res[name] = round(min(bench_once(q(t.scan())) for _ in range(3)), 3)
        out["plans"][plan] = res
        print(f"{plan}: {res}", file=sys.stderr)

    print(json.dumps(out))
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)


if __name__ == "__main__":
    main()
