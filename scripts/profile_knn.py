"""Scratch profiler: knn_fallback wall time (run0 = one-time
JIT/codegen, run1 = steady state) at sf0.1. Not part of the driver
contract."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F
from window_probe import alu_ops

from overmatch_spark import demo
from overmatch_spark.operators import knn as knn_mod
from overmatch_spark.operators.conflate import conflate
from overmatch_spark.operators.knn import knn_fallback
from overmatch_spark.session import get_spark
from overmatch_spark.udfs import indel_sim


def run_noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "knn-profile", cpus=cpus,
        extra_conf={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k")
    ).repartition(2 * cpus)
    a = demo.spark_layer_a(spark, sf_dir, None, "k", df=li)
    b = demo.spark_layer_b(spark, sf_dir, None, "k", df=li)

    warm = (
        spark.range(0, 20_000 * cpus, 1, 2 * cpus)
        .withColumn("s", F.col("id").cast("string"))
        .withColumn("w", indel_sim(F.col("s"), F.col("s")))
    )
    run_noop(warm)

    m = conflate(a, b).persist()
    print("matches:", m.count(), flush=True)

    # match the bench call site's dial by default (res0=15)
    kw = {"res0": int(os.environ.get("KNN_RES0", "15"))}
    print("res0:", kw["res0"], flush=True)

    # bracket each timed run with the host-window ALU probe (clean
    # range is >24 Mops — see BENCH/PROTOCOL.md); a run is only a
    # valid cold receipt when BOTH its brackets are clean
    print(f"alu: {alu_ops():.2f}", flush=True)
    for i in range(3):
        caches = []
        t0 = time.time()
        out = knn_fallback(a, b, m, caches=caches, **kw)
        run_noop(out)
        print(f"knn full run{i}: {time.time()-t0:.2f}s", flush=True)
        knn_mod.release_caches(caches)
        print(f"alu: {alu_ops():.2f}", flush=True)

    # warm: second execution against a populated cache set
    caches = []
    run_noop(knn_fallback(a, b, m, caches=caches, **kw))
    t0 = time.time()
    run_noop(knn_fallback(a, b, m, caches=caches, **kw))
    print(f"knn warm rerun: {time.time()-t0:.2f}s", flush=True)
    knn_mod.release_caches(caches)

    # ---- per-stage cold breakdown: force each persisted intermediate
    # in dependency order inside ONE cold run, so each delta isolates
    # a stage (the final noop then pays only the ladder join + union)
    caches = []
    out = knn_fallback(a, b, m, caches=caches, **kw)
    # caches order: probes, b, best1, ubs (see knn_fallback)
    names = ["probes", "b", "best1", "ubs"][: len(caches)]
    print(f"alu: {alu_ops():.2f}", flush=True)
    t_all0 = time.time()
    for name, df in zip(names, list(caches)):
        t0 = time.time()
        n = df.count()
        print(f"stage {name}: {time.time()-t0:.2f}s rows={n}", flush=True)
    t0 = time.time()
    run_noop(out)
    print(f"stage final(join+union): {time.time()-t0:.2f}s", flush=True)
    print(f"stage total: {time.time()-t_all0:.2f}s", flush=True)
    print(f"alu: {alu_ops():.2f}", flush=True)
    knn_mod.release_caches(caches)

    caches = []
    n = knn_fallback(a, b, m, caches=caches, **kw).count()
    print("knn rows:", n, flush=True)
    knn_mod.release_caches(caches)
    spark.stop()


if __name__ == "__main__":
    main()
