"""Many-files front-door probe (VERDICT r8 #8): the 100 TB shape is
file COUNT — a crawl dump is 10^5 shards — so the one-task-per-file
claim must hold against a 1,000-file directory, not just the 8-shard
fixtures.  Builds N tiny parquet shards with the engine's own
distributed writer discipline (one pyarrow file per task), reads them
back through `read_container_records` (binaryFile → per-file
mapInPandas), and reports wall time + task count at two file counts so
the slope is visible.

Usage: python scripts/manyfiles_probe.py [n_files ...]   (default 100 1000)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def build_dir(spark, n_files: int, rows_per_file: int = 50) -> str:
    import pandas as pd

    out = os.path.join(
        tempfile.gettempdir(), f"sgraft-manyfiles-{n_files}"
    )
    if os.path.isdir(out):
        return out
    tmp = f"{out}.build-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    shards = spark.range(n_files).toDF("shard")

    def write_shard(pdf):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for s in pdf["shard"]:
            s = int(s)
            names = [f"doc-{s:05d}-{j:04d}" for j in range(rows_per_file)]
            bodies = [f"body of {nm}" for nm in names]
            pq.write_table(
                pa.table({"name": pa.array(names),
                          "body": pa.array(bodies)}),
                os.path.join(tmp, f"shard-{s:05d}.parquet"),
                compression="snappy",
            )
        return pd.DataFrame({"n": [len(pdf)]})

    shards.repartition(32).groupBy("shard").applyInPandas(
        write_shard, "n long"
    ).count()
    os.rename(tmp, out)
    return out


def probe(spark, n_files: int) -> dict:
    from hainan_big_data_recommend_system_spark.sources.files import (
        read_container_records,
    )

    d = build_dir(spark, n_files)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before_ids = set(tracker.getJobIdsForGroup(None) or [])
    t0 = time.time()
    df = read_container_records(spark, d, "parquet", glob="*.parquet")
    n = df.count()
    wall = time.time() - t0
    # task count: every scan task handles exactly one file when the
    # per-file claim holds; read it from the last job's first stage
    jobs = [j for j in (tracker.getJobIdsForGroup(None) or [])
            if j not in before_ids]
    n_tasks = None
    for j in jobs:
        ji = tracker.getJobInfo(j)
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si and si.numTasks >= (n_tasks or 0):
                n_tasks = max(n_tasks or 0, si.numTasks)
    return {"n_files": n_files, "rows": n, "wall_s": round(wall, 2),
            "max_stage_tasks": n_tasks}


def main() -> None:
    from pyspark.sql import SparkSession

    from hainan_big_data_recommend_system_spark.session import local_cpus

    counts = [int(a) for a in sys.argv[1:]] or [100, 1000]
    spark = (
        SparkSession.builder.master(f"local[{local_cpus()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .appName("manyfiles-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for n in counts:
        print(probe(spark, n), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
