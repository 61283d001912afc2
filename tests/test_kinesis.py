"""Kinesis connector: pure-Python HTTP/JSON wire client + Spark e2e.

The reference's Kinesis indexing service (extensions-core/
kinesis-indexing-service/.../KinesisRecordSupplier.java,
supervisor/KinesisSupervisor.java) consumes (stream, shardId,
sequenceNumber) ranges. Here the same contract runs over
streaming/kinesis.py (SigV4-capable client + MiniKinesisServer) and
kinesis_source.py (PySpark Python Data Source, one task per shard).
"""

import json

import pytest

from druid_spark.streaming.kinesis import (KinesisClient,
                                           MiniKinesisServer,
                                           _shard_for_key,
                                           _sigv4_headers)


@pytest.fixture()
def kinesis():
    with MiniKinesisServer() as srv:
        yield srv


@pytest.fixture()
def kinesis_empty_pages():
    # every 2nd GetRecords page is empty-but-not-EOF (real-Kinesis
    # mid-shard behavior the reader must survive)
    with MiniKinesisServer(empty_page_every=2) as srv:
        yield srv


# ------------------------------------------------------------ wire level

def test_put_get_roundtrip(kinesis):
    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("s1", shards=2)
    for i in range(10):
        cli.put_record("s1", f"m{i}".encode(), partition_key=f"k{i}")
    shards = cli.list_shards("s1")
    assert [s["ShardId"] for s in shards] == \
        ["shardId-000000000000", "shardId-000000000001"]
    got = []
    for s in shards:
        it = cli.get_shard_iterator("s1", s["ShardId"], "TRIM_HORIZON")
        out = cli.get_records(it)
        got += [r["Data"].decode() for r in out["Records"]]
        assert out["MillisBehindLatest"] == 0
    assert sorted(got) == sorted(f"m{i}" for i in range(10))


def test_shard_routing_matches_hash_ranges(kinesis):
    """Records land on the shard whose HashKeyRange covers
    MD5(partitionKey) — the public Kinesis routing contract."""
    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("s2", shards=4)
    keys = [f"user-{i}" for i in range(40)]
    for k in keys:
        out = cli.put_record("s2", b"x", partition_key=k)
        expect = _shard_for_key(k, 4)
        assert out["ShardId"] == f"shardId-{expect:012d}"


def test_iterator_types(kinesis):
    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("s3", shards=1)
    for i in range(5):
        cli.put_record("s3", f"v{i}".encode(), partition_key="same")
    sh = "shardId-000000000000"
    it = cli.get_shard_iterator("s3", sh, "AT_SEQUENCE_NUMBER",
                                sequence_number="2")
    recs = cli.get_records(it)["Records"]
    assert [r["Data"].decode() for r in recs] == ["v2", "v3", "v4"]
    it = cli.get_shard_iterator("s3", sh, "AFTER_SEQUENCE_NUMBER",
                                sequence_number="2")
    recs = cli.get_records(it)["Records"]
    assert [r["Data"].decode() for r in recs] == ["v3", "v4"]
    it = cli.get_shard_iterator("s3", sh, "LATEST")
    assert cli.get_records(it)["Records"] == []
    cli.put_record("s3", b"new", partition_key="same")
    # LATEST iterator sees only records produced after it was made
    assert [r["Data"] for r in cli.get_records(it)["Records"]] == \
        [b"new"]


def test_sigv4_signature_shape():
    """SigV4 headers follow the documented canonical form (pinned
    example-style check: authorization carries the credential scope
    and the hex HMAC chain output)."""
    h = _sigv4_headers(
        "POST", "https://kinesis.us-east-1.amazonaws.com/",
        b'{"StreamName":"s"}', "us-east-1", "AKIDEXAMPLE",
        "wJalrXUtnFEMI",
        extra={"x-amz-target": "Kinesis_20131202.ListShards",
               "content-type": "application/x-amz-json-1.1"})
    auth = h["Authorization"]
    assert auth.startswith("AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/")
    assert "/us-east-1/kinesis/aws4_request" in auth
    assert "SignedHeaders=" in auth and "Signature=" in auth
    sig = auth.rsplit("Signature=", 1)[-1]
    assert len(sig) == 64 and all(c in "0123456789abcdef" for c in sig)
    assert h["x-amz-date"].endswith("Z")


# ------------------------------------------------------------ spark e2e

def test_kinesis_partition_assignment(spark, kinesis):
    """Each Spark task reads exactly one shard's sequence range."""
    from druid_spark.streaming.kinesis_source import (SOURCE_NAME,
                                                      ensure_registered)
    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("pt", shards=2)
    for i in range(10):
        # route 5 records to each shard deterministically
        pk = next(k for k in (f"a{j}" for j in range(1000))
                  if _shard_for_key(k, 2) == i % 2)
        cli.put_record("pt", f"m{i}".encode(), partition_key=pk)
    ensure_registered(spark)
    df = (spark.readStream.format(SOURCE_NAME)
          .option("endpoint", kinesis.endpoint)
          .option("stream", "pt")
          .option("startingPosition", "trim_horizon").load())
    batches = []
    q = (df.writeStream.foreachBatch(
            lambda b, _id: batches.append(b.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation",
                 f"/tmp/kinesis_pt_ck_{kinesis.port}")
         .start())
    q.awaitTermination(120)
    rows = [r for b in batches for r in b]
    assert len(rows) == 10
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shardId"], []).append(
            int(r["sequenceNumber"]))
    assert set(by_shard) == {"shardId-000000000000",
                             "shardId-000000000001"}
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(5))
    assert {bytes(r["data"]).decode() for r in rows} == \
        {f"m{i}" for i in range(10)}


def test_kinesis_supervisor_rollup(spark, kinesis, tmp_path):
    """A Kinesis supervisor spec (ioConfig.stream = stream NAME +
    endpoint, KinesisSupervisorIOConfig shape) ingests with rollup."""
    from druid_spark.streaming.ingest import start_supervisor

    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("roll", shards=2)
    rows = []
    for m in range(2):
        for i in range(4):
            rows.append({"timestamp": f"2024-05-05T10:{m:02d}:1{i}Z",
                         "flag": "a" if i % 2 else "b", "v": 10 * m + i})
    rows.append({"timestamp": "2024-05-05T12:00:00Z",
                 "flag": "z", "v": 0})
    cli.put_records("roll", [(json.dumps(r).encode(), str(i))
                             for i, r in enumerate(rows)])
    spec = {"spec": {
        "dataSchema": {
            "dataSource": "kinesis_roll",
            "timestampSpec": {"column": "timestamp"},
            "dimensionsSpec": {"dimensions": ["flag"]},
            "metricsSpec": [
                {"type": "count", "name": "n"},
                {"type": "longSum", "name": "sv", "fieldName": "v"}],
            "granularitySpec": {"rollup": True,
                                "queryGranularity": "minute"}},
        "ioConfig": {
            "stream": "roll",
            "endpoint": kinesis.endpoint,
            "useEarliestSequenceNumber": True,
            "valueSchema": "timestamp timestamp, flag string, v long"}}}
    import time
    ingest, q = start_supervisor(spark, spec, str(tmp_path),
                                 trigger={"processingTime": "1 seconds"})
    try:
        for _ in range(60):
            time.sleep(1)
            if ingest.view().count() >= 4:
                break
    finally:
        q.stop()
        q.awaitTermination(30)
    out = {(r["flag"], str(r["__time"])): (r["n"], r["sv"])
           for r in ingest.view().collect()}
    assert out[("a", "2024-05-05 10:00:00")] == (2, 4)
    assert out[("b", "2024-05-05 10:00:00")] == (2, 2)
    assert out[("a", "2024-05-05 10:01:00")] == (2, 24)


def test_kinesis_restart_resumes_from_checkpoint(spark, kinesis,
                                                 tmp_path):
    """Stop the supervisor, produce more, restart with the same
    checkpoint: only NEW records are ingested again (exactly-once
    across restarts, the seekable-stream contract the reference keeps
    in its metadata store)."""
    from druid_spark.streaming.ingest import StreamingIngest, read_stream

    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("rs", shards=1)
    for i in range(3):
        cli.put_record("rs", json.dumps(
            {"timestamp": "2024-05-05T10:00:00Z", "v": i}).encode(), "k")
    src = {"type": "kinesis", "stream": "rs",
           "endpoint": kinesis.endpoint,
           "useEarliestSequenceNumber": True,
           "startingPosition": "trim_horizon",
           "valueSchema": "timestamp timestamp, v long"}
    ing = StreamingIngest(spark, str(tmp_path), "rs_ds")
    q = ing.start(read_stream(spark, src), time_column="timestamp")
    q.awaitTermination(120)
    assert ing.view().count() == 3
    for i in range(3, 5):
        cli.put_record("rs", json.dumps(
            {"timestamp": "2024-05-05T10:00:00Z", "v": i}).encode(), "k")
    q2 = ing.start(read_stream(spark, src), time_column="timestamp")
    q2.awaitTermination(120)
    vs = sorted(r["v"] for r in ing.view().collect())
    assert vs == [0, 1, 2, 3, 4]


def test_driver_plans_batches_without_reading_records(kinesis):
    """Scale gate: batch planning (initialOffset/latestOffset/
    partitions) makes ZERO GetRecords calls — bounds are wall-clock,
    record reads happen only in executor tasks (the reference keeps
    polling on workers too: KinesisRecordSupplier.java)."""
    from druid_spark.streaming.kinesis_source import KinesisStreamReader
    cli = KinesisClient(kinesis.endpoint)
    cli.create_stream("gate", shards=4)
    for i in range(200):
        cli.put_record("gate", f"r{i}".encode(), partition_key=str(i))
    rdr = KinesisStreamReader({"endpoint": kinesis.endpoint,
                               "stream": "gate",
                               "startingposition": "trim_horizon"})
    start = rdr.initialOffset()
    assert start == {"t": 0}
    for _ in range(5):
        end = rdr.latestOffset()
        parts = rdr.partitions(start, end)
        assert len(parts) == 4 and all(p.shard_id for p in parts)
        start = end
    # also the "latest" starting position needs no tip drain anymore
    rdr2 = KinesisStreamReader({"endpoint": kinesis.endpoint,
                                "stream": "gate"})
    assert rdr2.initialOffset()["t"] > 0
    assert kinesis.get_records_calls == 0
    assert kinesis.get_records_record_bytes == 0


def test_batch_bounds_strictly_advance_within_one_millisecond(
        monkeypatch):
    """latestOffset is the (lagged) wall clock in ms. On a clock that
    stays on one millisecond until the reader sleeps, consecutive
    bounds must still strictly advance (an equal pair plans an empty
    batch), and no bound may run ahead of now - boundlagms."""
    from druid_spark.streaming import kinesis_source
    from druid_spark.streaming.kinesis_source import KinesisStreamReader

    class Clock:
        ms = 1_700_000_000_000
        sleeps = 0

        def time(self):
            return self.ms / 1000

        def sleep(self, s):
            assert s > 0
            self.sleeps += 1
            self.ms += 1

    clock = Clock()
    monkeypatch.setattr(kinesis_source, "time", clock)
    for lag in (0, 250):
        rdr = KinesisStreamReader({"endpoint": "http://127.0.0.1:1",
                                   "stream": "s",
                                   "boundlagms": str(lag)})
        bounds = [rdr.initialOffset()["t"]]
        for _ in range(5):
            bounds.append(rdr.latestOffset()["t"])
            assert bounds[-1] <= clock.ms - lag
        assert all(a < b for a, b in zip(bounds, bounds[1:]))
    assert clock.sleeps == 10


def test_out_of_order_arrival_timestamps_near_bound_lose_nothing():
    """AWS documents ApproximateArrivalTimestamp as approximate only:
    per-shard timestamps need not be monotone. Inject backdated
    timestamps (every 3rd record −1.5 s) and split the stream at a
    bound that falls inside the disorder window: the two batches
    together must cover every record exactly once. The old
    return-at-first-over-bound scan loses the backdated records that
    sort after the bound-crossing record."""
    import time as _time

    from druid_spark.streaming.kinesis_source import (KinesisStreamReader,
                                                      KinesisTimeRange)

    with MiniKinesisServer(disorder_every=3, disorder_ms=1500) as srv:
        cli = KinesisClient(srv.endpoint)
        cli.create_stream("dis", shards=1)
        for i in range(15):
            cli.put_record("dis", f"a{i}".encode(), partition_key="k")
        mid_ms = int(_time.time() * 1000) - 750  # inside the window
        _time.sleep(0.01)
        for i in range(15, 30):
            cli.put_record("dis", f"a{i}".encode(), partition_key="k")
        end_ms = int(_time.time() * 1000) + 3600_000

        rdr = KinesisStreamReader({"endpoint": srv.endpoint,
                                   "stream": "dis",
                                   "startingposition": "trim_horizon"})
        assert rdr.bound_lag_ms == 0  # loopback auto-default

        def batch(after, until):
            part = KinesisTimeRange(srv.endpoint, "dis",
                                    "shardId-000000000000",
                                    after, until, grace_ms=15000)
            return {bytes(t[0]).decode() for t in rdr.read(part)}

        b1 = batch(0, mid_ms)
        b2 = batch(mid_ms, end_ms)
        assert b1 | b2 == {f"a{i}" for i in range(30)}
        assert not (b1 & b2)
        # the bound really fell inside the disorder window: some of
        # the backdated second-half records sorted into batch 1
        assert b1 and b2


def test_empty_mid_shard_pages_are_not_eof(spark, kinesis_empty_pages):
    """Real Kinesis returns empty GetRecords pages mid-shard with a
    valid NextShardIterator and MillisBehindLatest > 0; the reader
    must keep paging, not truncate the batch (would be silent data
    loss past an advancing checkpoint)."""
    from druid_spark.streaming.kinesis_source import (SOURCE_NAME,
                                                      ensure_registered)
    srv = kinesis_empty_pages
    cli = KinesisClient(srv.endpoint)
    cli.create_stream("ep", shards=2)
    for i in range(60):
        cli.put_record("ep", f"m{i}".encode(), partition_key=str(i))
    ensure_registered(spark)
    df = (spark.readStream.format(SOURCE_NAME)
          .option("endpoint", srv.endpoint)
          .option("stream", "ep")
          .option("startingPosition", "trim_horizon").load())
    batches = []
    q = (df.writeStream.foreachBatch(
            lambda b, _id: batches.append(b.collect()))
         .trigger(availableNow=True)
         .option("checkpointLocation", f"/tmp/kinesis_ep_ck_{srv.port}")
         .start())
    q.awaitTermination(120)
    rows = [r for b in batches for r in b]
    assert {bytes(r["data"]).decode() for r in rows} == \
        {f"m{i}" for i in range(60)}


def test_reshard_mid_batch_no_loss_no_duplication():
    """Resharding between latestOffset() planning and executor read
    must lose/duplicate nothing: partitions() lists shards fresh each
    batch and a new shard only ever carries post-reshard timestamps.
    Plan batch 1 over the 1-shard layout, reshard (UpdateShardCount,
    the public uniform-scaling API) and write more records BEFORE
    executing batch 1's planned partitions, then plan batch 2 against
    the fresh 2-shard listing — together the batches must cover every
    record exactly once, with batch 1's stale single-shard plan
    untouched by the post-bound records that hash into its shard."""
    import time as _time

    from druid_spark.streaming.kinesis_source import KinesisStreamReader

    with MiniKinesisServer() as srv:
        cli = KinesisClient(srv.endpoint)
        cli.create_stream("resh", shards=1)
        for i in range(20):
            cli.put_record("resh", f"pre{i}".encode(),
                           partition_key=str(i))
        rdr = KinesisStreamReader({"endpoint": srv.endpoint,
                                   "stream": "resh",
                                   "startingposition": "trim_horizon"})
        start = rdr.initialOffset()
        _time.sleep(0.01)
        end1 = rdr.latestOffset()
        parts1 = rdr.partitions(start, end1)  # planned pre-reshard
        assert len(parts1) == 1

        # reshard + write MID-BATCH (before parts1 executes)
        cli.update_shard_count("resh", 2)
        assert len(cli.list_shards("resh")) == 2
        _time.sleep(0.01)
        for i in range(20):
            cli.put_record("resh", f"post{i}".encode(),
                           partition_key=str(i))

        got1 = [bytes(t[0]).decode()
                for p in parts1 for t in rdr.read(p)]
        _time.sleep(0.01)
        end2 = rdr.latestOffset()
        parts2 = rdr.partitions(end1, end2)  # fresh listing: 2 shards
        assert len(parts2) == 2
        got2 = [bytes(t[0]).decode()
                for p in parts2 for t in rdr.read(p)]

        want = {f"pre{i}" for i in range(20)} \
            | {f"post{i}" for i in range(20)}
        assert sorted(got1 + got2) == sorted(want)  # exactly once
        assert set(got1) == {f"pre{i}" for i in range(20)}
        # post-reshard records really did land on BOTH shards (the
        # split boundary is exercised, not just the new shard)
        by_shard = {p.shard_id: [bytes(t[0]).decode()
                                 for t in rdr.read(p)] for p in parts2}
        assert sum(1 for v in by_shard.values() if v) == 2
