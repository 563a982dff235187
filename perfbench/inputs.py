"""Seeded inputs of the core benchmark.

Every table is a pure function of ``(seed, Sizes)``: the crawl table comes
from ``sources.webtext.generate_webtext`` and its narrow source from
``bench.materialize_source``; the entity, external and request tables are
drawn here with one ``numpy`` generator per seed. The library only ever sees
the written tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

DAY_MS = 86_400_000
START = "2024-01-01"
SPAN_DAYS = 90
N_DOMAINS = 100
LEFT_DAYS = 14  # the backfill range: the last two weeks of the span
START_MS = int(pd.Timestamp(START).value // 1_000_000)

# a left/request row whose url and domain occur in no source table: its
# features must come out empty (COUNT 0, everything else null)
FRESH_URL = "https://fresh.example.org/page/0"
FRESH_DOMAIN = "fresh.example.org"


def day_ms(day: int) -> int:
    """Epoch millis of midnight of span day ``day`` (0 = START)."""
    return START_MS + day * DAY_MS


def ds_of(ms: int) -> str:
    return pd.Timestamp(ms, unit="ms").strftime("%Y-%m-%d")


@dataclass(frozen=True)
class Sizes:
    """Input sizes. ``rows`` crawl rows spread over SPAN_DAYS days and
    N_DOMAINS Zipf-skewed domains; ``left_rows`` of them from the last
    LEFT_DAYS days form the backfill's left table; the entity table keeps
    ``entity_rows`` rows per domain for the last ``entity_days`` days."""

    rows: int = 10_000
    left_rows: int = 1_200
    entity_rows: int = 4
    entity_days: int = 30
    mutations_per_day: int = 40
    request_batches: int = 16
    request_rows: int = 32


# the self-test's scale: every code path, a few seconds per operation
TINY = Sizes(rows=1_500, left_rows=150, entity_days=12, mutations_per_day=6,
             request_batches=3, request_rows=6)


@dataclass(frozen=True)
class Paths:
    web: str
    narrow: str
    left: str
    snapshot: str
    mutations: str
    external: str
    requests: str


def write_inputs(spark, out_dir: str, seed: int, sizes: Sizes, serving: bool) -> Paths:
    """Generate and write the input tables under ``out_dir``: the crawl
    table, its narrow source and the left table; with ``serving`` the
    entity, external and request tables instead of the left table."""
    import bench
    from chronon_spark.sources.webtext import generate_webtext

    os.makedirs(out_dir, exist_ok=True)
    web = os.path.join(out_dir, "webtext")
    generate_webtext(
        spark, sizes.rows, seed=seed, n_domains=N_DOMAINS, start=START,
        span_days=SPAN_DAYS, partitions=spark.sparkContext.defaultParallelism,
    ).write.parquet(web)
    narrow = bench.materialize_source(spark, web)

    paths = Paths(web, narrow, *(os.path.join(out_dir, t) for t in (
        "left", "entity_snapshot", "entity_mutations", "external", "requests")))
    if not serving:
        from pyspark.sql import functions as F

        fresh = spark.createDataFrame(
            [(FRESH_URL, FRESH_DOMAIN, "en", 100, day_ms(SPAN_DAYS - 2) + 1234)],
            "url string, domain string, lang string, text_len int, ts_ms long",
        )
        (spark.read.parquet(narrow)
         .where(F.col("ts_ms") >= day_ms(SPAN_DAYS - LEFT_DAYS))
         .orderBy(F.xxhash64("url", "ts_ms"), "url", "ts_ms").limit(sizes.left_rows)
         .unionByName(fresh).write.parquet(paths.left))
        return paths
    rng = np.random.RandomState(seed)
    snap, muts = _entity_tables(rng, sizes)
    ext = pd.DataFrame({
        "domain": [f"domain{d}.example.com" for d in range(N_DOMAINS)],
        "rank": rng.permutation(N_DOMAINS).astype(np.int32) + 1,
        "tier": rng.choice(["gold", "silver", "bronze"], N_DOMAINS),
    })
    spark.createDataFrame(snap).write.parquet(paths.snapshot)
    spark.createDataFrame(muts).write.parquet(paths.mutations)
    spark.createDataFrame(ext).write.parquet(paths.external)
    _requests(spark, narrow, rng, sizes).write.parquet(paths.requests)
    return paths


def _entity_tables(rng, sizes: Sizes):
    """Per-domain budget rows mutated through the day: the daily
    end-of-day snapshots and the mutation log (an update is a before/after
    pair at one ts, an insert an after row, a delete a before row)."""
    first = SPAN_DAYS - sizes.entity_days
    state = {
        (f"domain{d}.example.com", r): int(rng.randint(1, 1000))
        for d in range(N_DOMAINS)
        for r in range(sizes.entity_rows)
    }
    next_row = sizes.entity_rows
    snaps, muts = [], []
    for day in range(first, SPAN_DAYS):
        ds = ds_of(day_ms(day))
        for ts in np.sort(day_ms(day) + rng.randint(0, DAY_MS, sizes.mutations_per_day)):
            ts = int(ts)
            kind = rng.randint(0, 6)
            dom = f"domain{rng.randint(0, N_DOMAINS)}.example.com"
            if kind == 0:  # insert
                key = (dom, next_row)
                next_row += 1
                state[key] = int(rng.randint(1, 1000))
                muts.append((dom, key[1], state[key], ts, False, ds))
                continue
            rows = [k for k in state if k[0] == dom]
            if not rows:
                continue
            key = rows[rng.randint(0, len(rows))]
            muts.append((dom, key[1], state[key], ts, True, ds))
            if kind == 1:  # delete
                del state[key]
            else:  # update
                state[key] = int(rng.randint(1, 1000))
                muts.append((dom, key[1], state[key], ts, False, ds))
        snaps += [(k[0], k[1], v, ds) for k, v in state.items()]
    snap = pd.DataFrame(snaps, columns=["domain", "row_id", "budget", "ds"])
    mut = pd.DataFrame(
        muts, columns=["domain", "row_id", "budget", "mutation_ts", "is_before", "ds"]
    )
    return snap, mut


def serving_batch_ends() -> tuple:
    """(old, new) hop-aligned batch ends of the serving refresh: the upload
    is built at ``old``, one week of closed tiles advances it to ``new``,
    and requests fall in the last week of the span, after ``new``."""
    return day_ms(SPAN_DAYS - 14), day_ms(SPAN_DAYS - 7)


def _requests(spark, narrow: str, rng, sizes: Sizes):
    """Request batches sampled from crawl rows after the new batch end; the
    first row of each batch asks for the history-less url and domain."""
    from pyspark.sql import functions as F

    _, new_end = serving_batch_ends()
    pool = (
        spark.read.parquet(narrow)
        .where(F.col("ts_ms") >= new_end)
        .select("url", "domain", "ts_ms")
        .orderBy("ts_ms", "url")
        .toPandas()
    )
    n = sizes.request_batches * sizes.request_rows
    req = pool.iloc[rng.randint(0, len(pool), n)].reset_index(drop=True)
    req["batch"] = np.repeat(np.arange(sizes.request_batches), sizes.request_rows)
    req.loc[::sizes.request_rows, ["url", "domain"]] = [FRESH_URL, FRESH_DOMAIN]
    req = req.rename(columns={"ts_ms": "ts"})
    return spark.createDataFrame(req[["batch", "url", "domain", "ts"]])
