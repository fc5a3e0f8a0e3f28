import os, sys, threading, tempfile, time, traceback
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession, Row
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from motorway_spark.sinks import UpsertParquetSink
import json

def _row_df(spark, k, ts, v):
    return spark.createDataFrame([Row(k=k, ts=ts, v=v)], "k bigint, ts bigint, v string")

def _deltas(table):
    out = []
    for name in sorted(os.listdir(f"{table}/_mlog")):
        if name.endswith(".delta.json"):
            with open(f"{table}/_mlog/{name}") as fh:
                out.append(json.load(fh))
    return out

def one(i, root):
    table = f"{root}/ctab{i}"
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    sink.upsert_batch(spark.createDataFrame(
        [Row(k=j, ts=j*10, v=f"v{j}") for j in range(10)],
        "k bigint, ts bigint, v string"), batch_id=0)
    a = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    b = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    errs = []
    def writer(s, ids):
        try:
            for bid in ids:
                s.upsert_batch(_row_df(spark, 1000+bid, bid, f"w{bid}"), batch_id=bid)
        except Exception as exc:
            errs.append((exc, traceback.format_exc()))
    t1 = threading.Thread(target=writer, args=(a, [1,3,5]))
    t2 = threading.Thread(target=writer, args=(b, [2,4,6]))
    t1.start(); t2.start(); t1.join(300); t2.join(300)
    assert not errs, errs
    bids = [d["batch_id"] for d in _deltas(table) if d["batch_id"] is not None]
    assert sorted(bids) == [0,1,2,3,4,5,6], f"iter {i}: bids {sorted(bids)}"
    viewer = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=8)
    got = {r["k"]: r["v"] for r in viewer.read().collect()}
    assert all(got[1000+j] == f"w{j}" for j in range(1,7)), f"iter {i}: {got}"
    assert viewer.row_count() == 16, f"iter {i}: rc {viewer.row_count()}"

root = tempfile.mkdtemp(prefix="stress_loop_")
t0 = time.time()
for i in range(100):
    one(i, root)
    if (i+1) % 10 == 0:
        print(f"{i+1}/100 ok, {round(time.time()-t0,1)}s", flush=True)
import shutil; shutil.rmtree(root, ignore_errors=True)
print("ALL 100 GREEN")
