"""PySpark Python Data Source for AWS Kinesis (no JVM connector/SDK).

Mirror of kafka_source.py for the Kinesis wire API (streaming/
kinesis.py): output schema (data, streamName, shardId, sequenceNumber,
partitionKey, approximateArrivalTimestamp) matches the fields the
reference's Kinesis indexing service consumes
(extensions-core/kinesis-indexing-service/.../
KinesisRecordSupplier.java OrderedPartitionableRecord).

Batch-bound model — TIME-BASED, zero driver data reads. Kinesis
(unlike Kafka) has no "end offset" API: the shard tip is only
learnable by reading records. Instead of paging the whole stream
through the driver, `latestOffset()` returns a wall-clock bound
`{"t": epoch_ms}`; a batch is the half-open arrival-time interval
(start.t, end.t]. Executors seek their shard with an AT_TIMESTAMP
iterator (public GetShardIterator type) and read until a record's
ApproximateArrivalTimestamp passes the bound or the shard is drained
(MillisBehindLatest == 0) — the reference makes the same move of
keeping record polling on the workers, not the supervisor
(KinesisRecordSupplier.java poll loop; the supervisor only tracks
shard membership). The driver's only per-batch call is ListShards.

Correctness of the interval split: Kinesis assigns
ApproximateArrivalTimestamp server-side at ingestion; when per-shard
timestamps are monotone in sequence order (true of the in-process
MiniKinesisServer double), half-open (after, until] intervals
partition the stream EXACTLY and a task retry re-reads exactly its
interval (timestamps are immutable), so replay is deterministic.
Real AWS weakens both assumptions, and the reader compensates:

- Clock skew: the bound is the DRIVER's wall clock but timestamps
  are server-assigned. A record whose server timestamp lands at or
  before a planned bound, but which is ingested after the executor
  drained the shard, would be permanently skipped (batch N never saw
  it; batch N+1 filters ts <= after). `boundlagms` shifts every
  bound back by a safety margin so the planned bound always trails
  real ingestion; it defaults to 5000 ms against non-loopback
  endpoints (0 against 127.0.0.1/localhost, i.e. the in-process
  double, where clocks are shared).
- Disorder: AWS documents the timestamp as approximate only, so
  per-shard timestamps need not be strictly monotone. Instead of
  returning at the first over-bound record, the scan keeps paging
  through a `disordergracems` window (default 15000 ms) past the
  bound, yielding any in-interval records that sort late; records in
  (until, until+grace] stay with the NEXT batch (its scan starts
  AT_TIMESTAMP(until) and takes ts > until, so nothing duplicates).
  No record is lost as long as a timestamp deviates from its
  sequence position by less than the grace window.

Exact interval partitioning is guaranteed only against monotone
timestamps (MiniKinesisServer); on real AWS the guarantee is
loss-bounded by (boundlagms, disordergracems) — size both above the
deployment's observed skew/disorder. Resharding is handled for free:
`partitions()` lists shards fresh each batch, and a new shard's
records all carry post-split timestamps.

Empty GetRecords pages mid-shard (routine in real Kinesis, documented
GetRecords behavior) do NOT terminate a read: the loop keeps paging
while a NextShardIterator is present and MillisBehindLatest > 0, and
only stops on bound-passed, shard-closed, or drained.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
from typing import Iterator, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)

SOURCE_NAME = "druid_kinesis"

_SCHEMA = ("data binary, streamName string, shardId string, "
           "sequenceNumber string, partitionKey string, "
           "approximateArrivalTimestamp timestamp")


class KinesisTimeRange(InputPartition):
    """One shard's (after_ms, until_ms] arrival-time slice."""

    def __init__(self, endpoint: str, stream: str, shard_id: str,
                 after_ms: int, until_ms: int, grace_ms: int = 15000):
        self.endpoint = endpoint
        self.stream = stream
        self.shard_id = shard_id
        self.after_ms = after_ms
        self.until_ms = until_ms
        self.grace_ms = grace_ms


class KinesisPythonDataSource(DataSource):
    """`spark.readStream.format("druid_kinesis")` options:
    endpoint (URL), stream, startingposition trim_horizon|latest,
    boundlagms (bound safety lag; default 5000, auto-0 on loopback
    endpoints), disordergracems (out-of-order timestamp scan window
    past a bound, default 15000)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return _SCHEMA

    def streamReader(self, schema) -> "KinesisStreamReader":
        return KinesisStreamReader(self.options)


class KinesisStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.endpoint = options.get("endpoint")
        if not self.endpoint:
            raise ValueError("druid_kinesis requires an endpoint option")
        self.stream = options.get("stream")
        if not self.stream:
            raise ValueError("druid_kinesis requires a stream option")
        self.starting = options.get(
            "startingposition", "latest").lower()
        lag = options.get("boundlagms")
        if lag is None:
            # shared-clock in-process double needs no skew margin;
            # anything remote defaults to a multi-second safety lag.
            # NOTE (behavior since round 10): this DEFAULT shifts every
            # planned bound 5 s into the past on non-loopback
            # endpoints — callers that relied on un-lagged bounds must
            # pass boundlagms=0 explicitly. Logged once so deployments
            # see the shift.
            from urllib.parse import urlparse
            host = (urlparse(self.endpoint).hostname or "").lower()
            lag = 0 if host in ("127.0.0.1", "localhost", "::1") \
                else 5000
            if lag:
                import logging
                logging.getLogger(__name__).warning(
                    "druid_kinesis: boundlagms defaulting to %d ms for "
                    "endpoint %s — every batch bound trails the wall "
                    "clock by this margin (pass boundlagms explicitly "
                    "to override)", lag, self.endpoint)
        self.bound_lag_ms = int(lag)
        self.grace_ms = int(options.get("disordergracems", 15000))
        self._client = None
        self._last_bound = -1

    def _cli(self):
        from druid_spark.streaming.kinesis import KinesisClient
        if self._client is None:
            self._client = KinesisClient(self.endpoint)
        return self._client

    def _shards(self) -> list[str]:
        return sorted(s["ShardId"]
                      for s in self._cli().list_shards(self.stream))

    def _now_bound_ms(self) -> int:
        # Two bounds taken within one millisecond would be equal and
        # plan an empty batch, so wait out the millisecond: each bound
        # is strictly past the previous one, and never ahead of
        # now - boundlagms (with lag 0, a bound ahead of the clock
        # would skip records that arrive later in that millisecond)
        bound = int(time.time() * 1000) - self.bound_lag_ms
        while bound <= self._last_bound:
            time.sleep((self._last_bound + 1 - bound) / 1000)
            bound = int(time.time() * 1000) - self.bound_lag_ms
        self._last_bound = bound
        return bound

    # offsets: JSON dict {"t": epoch_ms} — the committed batch bound
    def initialOffset(self) -> dict:
        if self.starting in ("latest",):
            return {"t": self._now_bound_ms()}
        return {"t": 0}  # trim_horizon / earliest

    def latestOffset(self) -> dict:
        # no GetRecords: the bound is the clock, not the shard tip
        return {"t": self._now_bound_ms()}

    def partitions(self, start: dict, end: dict
                   ) -> Sequence[KinesisTimeRange]:
        if isinstance(start, str):
            start = json.loads(start)
        if isinstance(end, str):
            end = json.loads(end)
        after = int(start.get("t", 0))
        until = int(end.get("t", 0))
        if until > after:
            return [KinesisTimeRange(self.endpoint, self.stream, sh,
                                     after, until, self.grace_ms)
                    for sh in self._shards()]
        # empty interval — Spark still wants >=1 partition
        return [KinesisTimeRange(self.endpoint, self.stream,
                                 "", 0, 0)]

    def read(self, part: KinesisTimeRange) -> Iterator[tuple]:
        if not part.shard_id or part.until_ms <= part.after_ms:
            return
        from druid_spark.streaming.kinesis import KinesisClient
        cli = KinesisClient(part.endpoint)
        after_s = part.after_ms / 1000.0
        until_s = part.until_ms / 1000.0
        if part.after_ms <= 0:
            it = cli.get_shard_iterator(part.stream, part.shard_id,
                                        "TRIM_HORIZON")
        else:
            it = cli.get_shard_iterator(part.stream, part.shard_id,
                                        "AT_TIMESTAMP",
                                        timestamp=after_s)
        # AWS timestamps are approximate: keep scanning a bounded
        # grace window past the first over-bound record so in-interval
        # records that sort late in sequence order are not dropped;
        # (until, until+grace] records stay with the next batch.
        grace_ms = getattr(part, "grace_ms", 15000)
        hard_stop_s = until_s + grace_ms / 1000.0
        while it:
            out = cli.get_records(it, limit=10000)
            for r in out.get("Records", []):
                ts = float(r["ApproximateArrivalTimestamp"])
                if ts <= after_s:
                    continue  # AT_TIMESTAMP is >=; interval is (after,…]
                if ts > hard_stop_s:
                    return  # disorder window exhausted
                if ts > until_s:
                    continue  # next batch's (until, …] interval
                yield (r["Data"], part.stream, part.shard_id,
                       r["SequenceNumber"], r.get("PartitionKey"),
                       _dt.datetime.fromtimestamp(
                           ts, tz=_dt.timezone.utc))
            it = out.get("NextShardIterator")
            if not out.get("Records") and \
                    out.get("MillisBehindLatest", 0) == 0:
                return  # drained; later arrivals get ts > until
            # iterator position ~ (now - MillisBehindLatest): once it
            # passes until+grace, every unread record was ingested
            # after the disorder window closed — an in-interval
            # straggler there would violate the grace bound anyway.
            # This caps the page loop on sparse shards (a long gap no
            # longer pages empty/over-bound data until a record
            # finally exceeds hard_stop). On a continuously-written
            # shard the scan still reads ~grace seconds past the
            # bound before ts > hard_stop — inherent to the disorder
            # contract (records with ts <= until may legally appear
            # that late in sequence order).
            # behind > grace gates the check to positions measured in
            # real lag (a near-tip or token small value can't satisfy
            # both branches), so checkpoint replays against doubles
            # reporting a nominal behind=1 keep paging on data.
            behind = out.get("MillisBehindLatest", 0)
            if behind > grace_ms and \
                    time.time() - behind / 1000.0 > hard_stop_s:
                return

    def commit(self, end: dict) -> None:
        pass  # offsets live in the streaming checkpoint

    def stop(self) -> None:
        pass


_REGISTERED: set[int] = set()


def ensure_registered(spark) -> None:
    """Idempotently register the source on this session."""
    key = id(spark)
    if key in _REGISTERED:
        return
    spark.dataSource.register(KinesisPythonDataSource)
    _REGISTERED.add(key)
