"""True crash-injection recovery: SIGKILL-equivalent process death in
the exact window the idempotence frontier exists for — AFTER the
store's commit marker is durably published, BEFORE Structured Streaming
advances its checkpoint commit log.

The prior recovery test (test_streaming.py) simulates the window by
deleting a checkpoint commit file after a clean run; this one actually
dies there: a child process runs the streaming query with the store's
``_write_marker`` wrapped to ``os._exit(42)`` right after publishing
the marker for the chosen micro-batch.  No atexit handlers, no Spark
shutdown, no checkpoint advance — the on-disk state is exactly what a
power cut at that instant leaves.  A second child restarts from the
same durable store + checkpoint: Spark re-delivers the killed batch
with its original batch_id, the recovered frontier must skip it, and
the final balances must equal the no-crash run.

Reference analogue: WAL replay above the snapshot watermark,
tgraph/state/StateOperator.java:317-353 — ours is the dual (skip
at-or-below the committed frontier).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CHILD = r"""
import json
import os
import sys

mode, store_dir, ckpt_dir, stream_dir = sys.argv[1:5]

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from t_spoon_spark.streaming import StreamRunner
from t_spoon_spark.tx import TxEnvironment

spark = (
    SparkSession.builder.master("local[4]")
    .appName(f"crash_child_{mode}")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

SCHEMA = "from_account string, to_account string, amount double, _tid long"

env = TxEnvironment(spark, isolation="PL3", durable=True, store_dir=store_dir)
env.create_namespace("balances", "double", 100.0)

if mode == "crash":
    store = env.store
    orig = store._write_marker

    def marker_then_die(epoch, namespaces, batch_id=None, query_id=None):
        orig(epoch, namespaces, batch_id, query_id)
        if batch_id == 1:
            # marker durably published; die before foreachBatch returns,
            # i.e. before Spark writes ckpt/commits/1 — the crash window
            os._exit(42)

    store._write_marker = marker_then_die

g = (
    env.graph()
    .flat_map(
        lambda df: F.array(
            F.struct(F.col("from_account").alias("account"), (-F.col("amount")).alias("delta")),
            F.struct(F.col("to_account").alias("account"), F.col("amount").alias("delta")),
        )
    )
    .state("balances", key=lambda df: F.col("account"), update=lambda v: v + F.col("delta"))
)

stream = (
    spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(stream_dir)
)
sr = StreamRunner(env, g)
q = sr.start(stream, checkpoint_dir=ckpt_dir)
q.processAllAvailable()
q.stop()
q.awaitTermination(30)

print(
    "RESULT " + json.dumps(
        {
            "balances": {r["key"]: r["value"] for r in env.store.read("balances").collect()},
            "committed": env.store.committed_epoch(),
            "epochs_run": len(sr.metrics.epochs),
            "frontiers": env.store.batch_frontiers,
        },
        sort_keys=True,
    )
)
spark.stop()
"""


def _run_child(mode: str, store_dir: str, ckpt_dir: str, stream_dir: str, script: Path):
    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    return subprocess.run(
        [sys.executable, str(script), mode, store_dir, ckpt_dir, stream_dir],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(REPO),
    )


def _write_batches(spark, tmp_path, stream_dir: str) -> None:
    """Three single-file micro-batches; order-independent final state."""
    schema = "from_account string, to_account string, amount double, _tid long"
    batches = [
        [("a1", "a2", 10.0, 0), ("a3", "a4", 20.0, 1)],
        [("a2", "a3", 5.0, 2)],
        [("a4", "a1", 15.0, 3)],
    ]
    os.makedirs(stream_dir)
    for i, rows in enumerate(batches):
        tmp = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(stream_dir, f"batch_{i}.parquet"))


def test_sigkill_between_marker_and_checkpoint_advance(spark, tmp_path):
    script = tmp_path / "crash_child.py"
    script.write_text(CHILD)
    store_dir = str(tmp_path / "store")
    ckpt_dir = str(tmp_path / "ckpt")
    stream_dir = str(tmp_path / "stream")

    _write_batches(spark, tmp_path, stream_dir)
    expected = {"a1": 105.0, "a2": 105.0, "a3": 85.0, "a4": 105.0}

    crash = _run_child("crash", store_dir, ckpt_dir, stream_dir, script)
    assert crash.returncode == 42, (crash.returncode, crash.stderr[-2000:])

    # died inside the window: the store's marker for batch 1 exists...
    markers = []
    for f in sorted(os.listdir(os.path.join(store_dir, "_commits"))):
        if f.endswith(".json"):
            with open(os.path.join(store_dir, "_commits", f)) as fh:
                markers.append(json.load(fh))
    assert [m["batch_id"] for m in markers] == [0, 1]
    # ...but Spark's checkpoint never committed batch 1
    ckpt_commits = [
        c for c in os.listdir(os.path.join(ckpt_dir, "commits")) if not c.startswith(".")
    ]
    assert ckpt_commits == ["0"]

    resume = _run_child("resume", store_dir, ckpt_dir, stream_dir, script)
    assert resume.returncode == 0, resume.stderr[-2000:]
    line = next(l for l in resume.stdout.splitlines() if l.startswith("RESULT "))
    out = json.loads(line[len("RESULT "):])

    # the re-delivered batch 1 was skipped (frontier), batch 2 ran once:
    # exactly one epoch executed on resume, committed epoch is 2 (one
    # 0-indexed epoch per micro-batch, none double-applied), balances
    # exact
    assert out["epochs_run"] == 1
    assert out["committed"] == 2
    assert out["balances"] == expected
    assert out["frontiers"] == {ckpt_dir: 2}


def test_reopen_after_crash_rebuilds_twin(spark, tmp_path):
    """Reopening the durable store a crash left behind rebuilds the
    pandas twin of its small snapshot: equal to the reconstruction at
    the committed epoch, and committed key lookups answer from it."""
    from t_spoon_spark.serve import StateService
    from t_spoon_spark.tx import TxEnvironment

    script = tmp_path / "crash_child.py"
    script.write_text(CHILD)
    store_dir = str(tmp_path / "store")
    stream_dir = str(tmp_path / "stream")
    _write_batches(spark, tmp_path, stream_dir)
    crash = _run_child("crash", store_dir, str(tmp_path / "ckpt"), stream_dir, script)
    assert crash.returncode == 42, (crash.returncode, crash.stderr[-2000:])

    env = TxEnvironment(spark, isolation="PL3", durable=True, store_dir=store_dir)
    env.create_namespace("balances", "double", 100.0)
    store = env.store
    # batches 0 and 1 committed before the kill
    assert store.committed_epoch() == 1
    want = {"a1": 90.0, "a2": 105.0, "a3": 85.0, "a4": 120.0}
    twin = store.read_twin("balances")
    assert twin is not None
    assert dict(zip(twin["key"], twin["value"])) == want
    assert {
        r["key"]: r["value"] for r in store._reconstruct("balances", 1).collect()
    } == want

    def no_spark(*_a, **_k):
        raise AssertionError("the key lookup left the twin")

    store.read = no_spark
    try:
        out = StateService(env).query_keys("balances", ["a4", "a1"])
    finally:
        del store.read
    assert out == {"epoch": 1, "rows": [["a1", 90.0], ["a4", 120.0]]}
