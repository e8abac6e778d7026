"""foreachBatch upsert sink, rate-source demo stream, and small-file
compaction (the append-heavy store lifecycle: ingest → upsert → compact)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from psy_supabase_spark.streaming import ingest


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, ts=ts, user_id=u, value=v) for i, ts, u, v in rows],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_upsert_batch_last_write_wins(spark, tmp_path):
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    b1 = _mk_batch(
        spark,
        [(1, "2024-01-01 10:00:00", 7, 1.0), (2, "2024-01-01 10:01:00", 8, 2.0)],
    )
    apply(b1, 0)
    # batch 2: update key 1 with a NEWER ts, insert key 3
    b2 = _mk_batch(
        spark,
        [(1, "2024-01-01 11:00:00", 7, 9.0), (3, "2024-01-01 10:02:00", 9, 3.0)],
    )
    apply(b2, 1)
    got = {r.event_id: (r.value, r.ts.hour) for r in spark.read.parquet(store).collect()}
    assert got == {1: (9.0, 11), 2: (2.0, 10), 3: (3.0, 10)}


def test_upsert_batch_replay_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    b = _mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)])
    apply(b, 0)
    apply(b, 0)  # micro-batch redelivery
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 1 and rows[0].value == 1.0


def test_upsert_tie_prefers_incoming_batch(spark, tmp_path):
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    apply(_mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)]), 0)
    # same key, SAME ts, new value: redelivery-with-correction refreshes
    apply(_mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 5.0)]), 1)
    assert spark.read.parquet(store).head().value == 5.0


def test_upsert_within_batch_tie_is_replay_stable(spark, tmp_path):
    """Two same-key same-ts rows in ONE batch rank by a full-row hash,
    so a crash-replay of the batch keeps the SAME winner (r14 review:
    the old (ts, _src) ordering left the winner to partition order,
    flipping values across replays — the exact non-idempotence the
    sink's contract rules out)."""
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    tie = _mk_batch(
        spark,
        [(1, "2024-01-01 10:00:00", 7, 5.0), (1, "2024-01-01 10:00:00", 7, 7.0)],
    )
    apply(tie, 0)
    first = spark.read.parquet(store).head().value
    for replay in range(3):  # same batch redelivered — winner must hold
        apply(tie.repartition(4), 0)
        assert spark.read.parquet(store).head().value == first


def test_upsert_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    _mk_batch(
        spark,
        [(1, "2024-01-01 10:00:00", 7, 1.0), (1, "2024-01-01 12:00:00", 7, 4.0)],
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .parquet(src)
    )
    q = ingest.upsert_stream(stream, store, ckpt).trigger(availableNow=True).start()
    q.awaitTermination()
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 1 and rows[0].value == 4.0  # latest ts won


def test_rate_stream_demo_schema_and_rows(spark):
    demo = ingest.rate_stream_demo(spark, rows_per_second=500)
    assert demo.isStreaming
    assert [f.name for f in demo.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    q = (
        demo.writeStream.format("memory")
        .queryName("rate_demo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("rate_demo").collect()
    # availableNow on a rate source may drain zero rows if no wall-clock
    # tick elapsed; the deterministic mapping is what we assert
    for r in rows:
        assert r.event_type in {"click", "view", "purchase", "signup", "error"}
        assert r.user_id == r.event_id % 50


def test_upsert_replay_recovers_mid_swap_crash(spark, tmp_path):
    # crash window 1: between os.replace(store, old) and
    # os.replace(staging, store) the store is ABSENT and all accumulated
    # data is parked at .old-{batch_id}.  The replay must restore it, not
    # rebuild the store from only the replayed micro-batch.
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    apply(_mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)]), 0)
    b2 = _mk_batch(spark, [(2, "2024-01-01 10:01:00", 8, 2.0)])
    os.replace(store, store + ".old-1")  # simulate the crash point
    apply(b2, 1)  # replay of batch 1→2
    got = {r.event_id for r in spark.read.parquet(store).collect()}
    assert got == {1, 2}  # key 1 survived the crash


def test_upsert_replay_tolerates_leftover_old_dir(spark, tmp_path):
    # crash window 2: after the final replace but before rmtree, a
    # non-empty .old-{batch_id} remains; the replayed batch must clear it
    # instead of failing os.replace with ENOTEMPTY.
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    b = _mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)])
    apply(b, 0)
    old = store + ".old-1"
    os.makedirs(old, exist_ok=True)
    with open(os.path.join(old, "leftover.parquet"), "w") as f:
        f.write("stale")
    apply(_mk_batch(spark, [(2, "2024-01-01 10:01:00", 8, 2.0)]), 1)  # replay
    got = {r.event_id for r in spark.read.parquet(store).collect()}
    assert got == {1, 2}


def test_upsert_fresh_checkpoint_recovers_parked_store(spark, tmp_path):
    # crash window 1 + a RESTART WITH A FRESH CHECKPOINT DIR: batch ids
    # reset to 0, so the parked .old-{N} never matches the replayed id.
    # Recovery must glob for the newest .old-* sibling, not only the
    # current batch id — else the accumulated store is stranded and the
    # stream silently rebuilds from the first new micro-batch.
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    apply(_mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)]), 41)
    os.replace(store, store + ".old-42")  # mid-swap crash at batch 42
    # fresh checkpoint: the next batch arrives as id 0
    apply(_mk_batch(spark, [(2, "2024-01-01 10:01:00", 8, 2.0)]), 0)
    got = {r.event_id for r in spark.read.parquet(store).collect()}
    assert got == {1, 2}  # parked history recovered, not orphaned
    assert not os.path.exists(store + ".old-42")


def test_upsert_recovery_picks_newest_old_sibling(spark, tmp_path):
    # two parked .old-* dirs (droppings from repeated crashes across
    # fresh-checkpoint restarts): recovery must restore the one with the
    # NEWEST CONTENT (mtime — os.replace preserves it) and clear the
    # stale one.  Critically, batch-id ordering would be WRONG here: the
    # stale dir carries the HIGHER id (42, from before a checkpoint
    # reset) while the true newest history is parked at .old-0.
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    apply(_mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)]), 0)
    os.replace(store, store + ".old-0")
    apply(_mk_batch(spark, [(2, "2024-01-01 10:01:00", 8, 2.0)]), 1)
    # store now has {1, 2}; park it at .old-0 semantics via a fresh
    # checkpoint crash... but first plant a STALE dir with a high batch
    # id and an OLD mtime (an earlier crash's dropping)
    stale = store + ".old-42"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000-stale.parquet"), "w") as f:
        f.write("older history")  # looks like a real parked store
    os.utime(stale, (1_000_000_000, 1_000_000_000))  # 2001 — long ago
    os.replace(store, store + ".old-0")
    apply(_mk_batch(spark, [(3, "2024-01-01 10:02:00", 9, 3.0)]), 0)
    got = {r.event_id for r in spark.read.parquet(store).collect()}
    assert got == {1, 2, 3}  # .old-0 (newest mtime) won over .old-42
    assert not os.path.exists(stale)  # stale sibling swept


def test_upsert_recovery_ignores_foreign_and_gutted_dirs(spark, tmp_path):
    # recovery must neither promote nor delete (a) dirs with non-numeric
    # suffixes the machinery never parks (an operator's manual backup) or
    # (b) gutted dirs with no parquet content (droppings of a partially
    # failed sweep, whose mtime the partial deletion freshened)
    store = str(tmp_path / "store")
    apply = ingest.upsert_batch(store)
    apply(_mk_batch(spark, [(1, "2024-01-01 10:00:00", 7, 1.0)]), 0)
    os.replace(store, store + ".old-0")  # the genuine parked history
    backup = store + ".old-backup"
    os.makedirs(backup)
    with open(os.path.join(backup, "part-00000.parquet"), "w") as f:
        f.write("operator backup")
    gutted = store + ".old-99"
    os.makedirs(gutted)  # numeric suffix but NO parquet content
    apply(_mk_batch(spark, [(2, "2024-01-01 10:01:00", 8, 2.0)]), 0)
    got = {r.event_id for r in spark.read.parquet(store).collect()}
    assert got == {1, 2}  # restored from .old-0, not the impostors
    assert os.path.exists(backup)  # foreign dir untouched
    with open(os.path.join(backup, "part-00000.parquet")) as f:
        assert f.read() == "operator backup"
