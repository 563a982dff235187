"""Streaming write-side observability: StreamingStats + topic checking.

Reference: ``spark/.../streaming/StreamingStats.scala`` (per-writer
rolling window of write latency / count / key+value byte sizes, KLL
latency percentiles, printed every ``publishDelaySeconds``) and
``streaming/TopicCheckerApp.scala`` (resolve a GroupBy's streaming topic
and print its partition count).

Spark-first adaptation: the stats hook rides ``foreachBatch`` — one
:meth:`StreamingStats.observe` per micro-batch computes the batch's
write stats AS AN AGGREGATION (count/sum/percentile over the batch
frame — distributed, no per-row driver work, unlike the reference's
per-PutRequest counter which lives inside a single writer thread), and
the driver keeps only the tiny rolled-up dict. Latency percentiles use
the repo's DDSketch expressions (operators/ddsketch.py) — same
mergeable-sketch idea as the reference's KLL.
"""

from __future__ import annotations

import time
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.operators.ddsketch import bucket_expr
from chronon_spark.sources.scan import TS


class StreamingStats:
    """Rolling write stats across micro-batches.

    ``observe(batch_df, key_cols, value_cols, now_ms)`` measures one
    micro-batch: rows written, per-row key/value byte sizes (length of
    the serialized columns), and write latency ``now - ts`` when the
    batch carries an event-time column. Stats publish (returned AND kept
    on ``last_published``) whenever ``publish_delay_seconds`` has
    elapsed since the window opened, then the window resets — the
    reference's printStatus cadence."""

    def __init__(self, publish_delay_seconds: int = 60):
        self.publish_delay_seconds = publish_delay_seconds
        self.last_published: Optional[dict] = None
        self._reset(time.time() * 1000)

    def _reset(self, now_ms: float) -> None:
        # int-truncate so a caller-supplied int(time.time()*1000) taken
        # microseconds later can never compare "before" the window start
        self._start_ms = int(now_ms)
        self._writes = 0
        self._key_bytes = 0
        self._value_bytes = 0
        self._latency_ms_total = 0
        self._latency_sketch: dict[int, int] = {}

    def observe(
        self,
        batch_df: DataFrame,
        key_cols: list,
        value_cols: list,
        now_ms: Optional[int] = None,
    ) -> Optional[dict]:
        now_ms = int(now_ms if now_ms is not None else time.time() * 1000)
        key_sz = sum(
            (F.length(F.col(c).cast("string")) for c in key_cols), F.lit(0)
        )
        val_sz = sum(
            (F.length(F.col(c).cast("string")) for c in value_cols), F.lit(0)
        )
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(key_sz).alias("kb"),
            F.sum(val_sz).alias("vb"),
        ]
        has_ts = TS in batch_df.columns
        lat_rows = None
        if has_ts:
            # clamped to >= 1 ms for both the mean and the sketch (a
            # future-dated event has no negative latency)
            lat = F.greatest(
                (F.lit(now_ms) - F.col(TS).cast("long")).cast("double"), F.lit(1.0)
            )
            aggs.append(F.sum(lat).alias("lat_total"))
            lat_rows = (
                batch_df.select(bucket_expr(lat).alias("bucket"))
                .groupBy("bucket")
                .count()
                .collect()
            )
        row = batch_df.agg(*aggs).first()
        self._writes += int(row["n"] or 0)
        self._key_bytes += int(row["kb"] or 0)
        self._value_bytes += int(row["vb"] or 0)
        if has_ts:
            self._latency_ms_total += int(row["lat_total"] or 0)
            for r in lat_rows:
                b = int(r["bucket"])
                self._latency_sketch[b] = self._latency_sketch.get(b, 0) + int(
                    r["count"]
                )
        if now_ms - self._start_ms >= self.publish_delay_seconds * 1000:
            return self.publish(now_ms)
        return None

    def publish(self, now_ms: Optional[int] = None) -> Optional[dict]:
        """Close the window: the reference's printStatus. Returns None
        when no writes registered (same behavior)."""
        now_ms = int(now_ms if now_ms is not None else time.time() * 1000)
        if self._writes == 0:
            self._reset(now_ms)
            return None
        out = {
            "window_ms": int(now_ms - self._start_ms),
            "writes": self._writes,
            "avg_key_bytes": self._key_bytes // self._writes,
            "avg_value_bytes": self._value_bytes // self._writes,
            "total_key_bytes": self._key_bytes,
            "total_value_bytes": self._value_bytes,
        }
        if self._latency_sketch:
            out["avg_latency_ms"] = self._latency_ms_total / self._writes
            out.update(
                {
                    f"p{int(q * 100)}_latency_ms": v
                    for q, v in _sketch_quantiles(
                        self._latency_sketch, (0.5, 0.95, 0.99)
                    ).items()
                }
            )
        self.last_published = out
        self._reset(now_ms)
        return out


def _sketch_quantiles(sketch: dict, qs) -> dict:
    """Driver-side quantile walk over the tiny {bucket: count} map —
    the same gamma-midpoint rule as ddsketch.bucket_value (buckets are
    offset by _Z; latencies are clamped positive upstream), without a
    Spark job (the map is at most a few hundred buckets)."""
    import math

    from chronon_spark.operators.ddsketch import _Z, DEFAULT_ALPHA, gamma_of

    gamma = gamma_of(DEFAULT_ALPHA)
    total = sum(sketch.values())
    items = sorted(sketch.items())
    out = {}
    for q in qs:
        target = max(1, math.ceil(q * total))
        acc = 0
        val = None
        for b, c in items:
            acc += c
            if acc >= target:
                if b == _Z:
                    val = 0.0
                else:
                    val = (
                        math.exp((b - _Z) * math.log(gamma))
                        * (2.0 * gamma / (gamma + 1.0))
                        / gamma
                    )
                break
        out[q] = round(val, 3) if val is not None else None
    return out


def topic_partitions(topic_uri: str, spark=None, twin_dir: str = None) -> int:
    """TopicCheckerApp: partition count of a GroupBy's streaming topic.
    Against the broker-less file-backed twin (streaming/kafka.py, record
    rows carry a ``partition`` column) the answer is the distinct
    partition count of the materialized records; pass the twin's
    directory explicitly (URI params are slash-delimited, so a
    filesystem path cannot ride them). A real broker would answer via
    Kafka's AdminClient — env-gated exactly like the rest of the Kafka
    surface."""
    import os

    from chronon_spark.streaming.kafka import parse_topic

    info = parse_topic(topic_uri)
    twin_dir = twin_dir or info.params.get("twin_dir")
    if twin_dir and os.path.isdir(twin_dir):
        assert spark is not None, "pass the SparkSession for twin-dir topics"
        n = (
            spark.read.parquet(twin_dir)
            .agg(F.countDistinct("partition"))
            .first()[0]
        )
        return max(int(n or 0), 1)
    raise NotImplementedError(
        f"topic {info.name}: no twin_dir param and no broker client in "
        "this environment — pass kafka://topic/twin_dir=<path> for the "
        "file-backed twin, or run with a real Kafka AdminClient"
    )
