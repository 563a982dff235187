"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": <sf>, "webtext": {...rows/sec...}}

Queries are forced with a ``noop`` write (full computation, no driver
collect). The flagship is the north-rule job: point-in-time multi-part
as-of join (per-url + per-domain windowed features) over the deterministic
Common-Crawl-style webtext table, reported as rows/sec.

``python bench.py --scaling`` additionally runs the flagship at N and 4N
local cores on the same input and reports throughput scaling efficiency
(the sandbox proxy for the north rule's N vs 4N executors criterion).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# webtext rows scale with sf: sf0.1 -> 300k crawl records
WEBTEXT_ROWS_PER_SF = 3_000_000


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def force(df) -> int:
    """Fully execute a DataFrame without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()
    # best-of-N loops rebuild the as-of plan each pass; free the prior
    # pass's cached query-set checkpoints so repeats don't accumulate
    # RDD storage (invisible to DataFrame.unpersist, unbounded under GC)
    from chronon_spark.operators.asof_hopped import release_query_checkpoints

    release_query_checkpoints()
    return 0


def build(master: str, shuffle_partitions: int):
    from chronon_spark.session import build_session

    return build_session(
        master=master,
        app_name="chronon_spark-bench",
        shuffle_partitions=shuffle_partitions,
        extra_conf={
            "spark.ui.enabled": "false",
            # the console progress bar emits \r-terminated fragments that
            # share the final stdout line with the compact JSON and can
            # push the driver's bounded tail capture past its budget
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.sql.files.maxPartitionBytes": "64m",
        },
    )


# deterministic generation (seeded) -> cache across bench runs; the
# per-round driver re-invokes bench.py and regeneration would dominate
CACHE_DIR = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/chronon_bench_cache")


def webtext_parquet(spark, n_rows: int, out_dir: str | None = None) -> str:
    from chronon_spark.sources.webtext import generate_webtext

    base = out_dir or CACHE_DIR
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"webtext_{n_rows}.parquet")
    if not os.path.exists(path):
        generate_webtext(
            spark, n_rows, seed=42, n_domains=500, partitions=max(CPUS * 2, 16)
        ).write.mode("overwrite").parquet(path)
    return path


def materialize_source(spark, path: str) -> str:
    """SourceJob (reference batch/SourceJob.scala): render the left source
    query ONCE into a narrow materialized table; every join part reads the
    narrow table instead of re-scanning the wide html/text parquet. At
    100 TB this is the difference between 3 full-corpus scans and one."""
    out = path.rstrip("/") + "__source"
    if not os.path.exists(out):
        (
            spark.read.parquet(path)
            .selectExpr(
                "url",
                "parse_url(url, 'HOST') AS domain",
                "lang",
                "length(text) AS text_len",
                "unix_micros(CAST(warc_ts AS TIMESTAMP)) div 1000 AS ts_ms",
            )
            .write.mode("overwrite").parquet(out)
        )
    return out


def flagship_join(spark, path: str):
    """North-rule flagship: per-url + per-domain PIT features at each crawl.

    Phase 1 materializes the narrow source table (SourceJob), phase 2 runs
    the multi-part PIT join over it (JoinPartJobs + merge)."""
    narrow = materialize_source(spark, path)
    return _flagship_join_narrow(spark, narrow)


def _flagship_join_narrow(spark, narrow: str):
    from chronon_spark.api.types import (
        Aggregation,
        EventSource,
        GroupBy,
        Join,
        JoinPart,
        Operation,
        Query,
        Window,
    )
    from chronon_spark.operators.asof_join import join_asof

    def src(selects):
        return EventSource(
            table=narrow,
            query=Query(selects=selects, time_column="ts_ms"),
        )

    url_src = src({"url": "url", "text_len": "text_len"})
    dom_src = src({"domain": "domain", "text_len": "text_len"})
    left = src(
        {"url": "url", "domain": "domain", "lang": "lang", "text_len": "text_len"}
    )
    url_gb = GroupBy(
        sources=(url_src,),
        key_columns=("url",),
        aggregations=(
            Aggregation("text_len", Operation.COUNT),
            Aggregation("text_len", Operation.AVERAGE, windows=(Window.days(30),)),
            Aggregation("text_len", Operation.LAST),
        ),
        name="url",
    )
    dom_gb = GroupBy(
        sources=(dom_src,),
        key_columns=("domain",),
        aggregations=(
            Aggregation("text_len", Operation.COUNT, windows=(Window.days(7),)),
            Aggregation("text_len", Operation.SUM, windows=(Window.days(7),)),
        ),
        name="dom",
    )
    join = Join(left=left, join_parts=(JoinPart(url_gb), JoinPart(dom_gb)), name="flagship")
    # sawtooth mode: the reference's hopping-tail semantics; mergeable ops
    # run on the pure-Catalyst hopped plan (skew-free, no Python)
    return join_asof(spark, join, mode="sawtooth")


def host_canary() -> dict:
    """Fixed single-threaded numpy workload (never changes across rounds):
    separates HOST speed from ENGINE speed in round-over-round comparisons.
    This box is time-shared with invisible neighbors — the same bench
    measured 0.21s..0.37s on the (also fixed) kernel microbench across
    windows. Normalize wall-clock deltas by this before crediting/blaming
    the engine."""
    import numpy as np

    rng = np.random.RandomState(7)
    a = rng.rand(2_000_000)
    a = np.tanh(np.cumsum(np.sort(a)) / 1e6) + 1e-9  # warm pass (page-in)
    t0 = time.time()
    for _ in range(6):
        a = np.tanh(np.cumsum(np.sort(a)) / 1e6) + 1e-9
    wall = time.time() - t0
    return {"wall_sec": round(wall, 4), "score": round(1.0 / wall, 2),
            "workload": "6x (sort + cumsum + tanh) over 2M float64, single thread (no BLAS)"}


def bandwidth_canary() -> dict:
    """Host DRAM-bandwidth scaling ceiling for the N->4N proxy.

    K independent PROCESSES each stream-sum a 256 MB float64 array —
    trivially parallel, no engine, no shared state. Aggregate throughput
    at K=2 vs K=8 bounds what ANY data engine can show on the 2->8-core
    scaling pair when the job is memory-bandwidth-bound: the socket's
    DRAM channels are shared by every core, unlike a real 4N-executor
    cluster where 4x nodes bring 4x memory channels. Round-4 measurement
    that motivated this: the flagship got ~1.4x faster per-row and the
    2->8 pair fell from 0.83 to ~0.70 while this canary measured 0.75 —
    i.e. the ENGINE was at the host's own streaming ceiling. Report
    scaling pairs alongside this number; a pair at or above the ceiling
    evidences full engine scaling.
    (The compute ceiling is separately ~1.0: the same protocol on a
    cache-resident sort+cumsum workload measures 2->8 efficiency >= 1.)
    """
    import multiprocessing as mp

    ctx = mp.get_context("spawn")

    def run(k: int) -> float:
        with ctx.Pool(k) as pool:
            t0 = time.time()
            pool.map(_bw_unit, range(k * 2))
            return (k * 2) / (time.time() - t0)

    lo, hi = run(2), run(8)
    return {
        "two_proc_units_per_sec": round(lo, 2),
        "eight_proc_units_per_sec": round(hi, 2),
        "host_2to8_bw_ceiling": round((hi / lo) / 4.0, 3),
        "workload": "4x stream-sum over 256MB float64 per unit, independent processes",
    }


def _bw_unit(_i) -> float:
    import numpy as np

    a = np.ones(32_000_000)  # 256 MB
    t0 = time.time()
    s = 0.0
    for _ in range(4):
        s += float(a.sum())
    return time.time() - t0


def kernel_microbench() -> dict:
    """Reference parity: SawtoothUdfPerformanceTest.scala:24-80 — 20k events
    x 20k queries, LAST_K k=50, 180-day span, single key. Pure kernel (no
    Spark) so it isolates the vectorized windowing math."""
    import numpy as np
    import pandas as pd

    from chronon_spark.api.types import AggregationPart, Operation, Window
    from chronon_spark.kernel.sawtooth import compute_asof_features

    rng = np.random.RandomState(42)
    n = 20_000
    span = 180 * 86_400_000
    base = 1_700_000_000_000
    events = pd.DataFrame(
        {
            "ts": np.sort(rng.randint(0, span, n)) + base,
            "value": rng.rand(n) * 1000,
        }
    )
    q_ts = np.sort(rng.randint(0, span, n)) + base
    parts = [
        AggregationPart("value", Operation.LAST_K, {"k": 50}, Window.days(180)),
        AggregationPart("value", Operation.SUM, {}, Window.days(30)),
        AggregationPart("value", Operation.COUNT, {}, Window.days(7)),
    ]
    # warmup + best-of-3: the first call pays numpy/pandas first-touch
    # (measured 2.6 s cold vs 0.24 s warm) and the shared host adds
    # 30-60% run-to-run spread — r3's single cold shot misreported a 2x
    # "regression" on an unchanged code path.
    compute_asof_features(
        events.head(1000), q_ts[:1000], parts, tail_hop_ms=86_400_000
    )
    walls = []
    for _ in range(3):
        t0 = time.time()
        compute_asof_features(events, q_ts, parts, tail_hop_ms=86_400_000)
        walls.append(time.time() - t0)
    wall = min(walls)
    return {"events": n, "queries": n, "wall_sec": round(wall, 3),
            "walls": [round(w, 3) for w in walls],
            "qps": round(n / wall, 1)}


def webtext_ops_bench(spark, path: str, n_rows: int) -> dict:
    """LLM-pipeline operators at webtext scale, machine-comparable
    round-over-round (BASELINE.md's per-op table, now emitted in the
    BENCH JSON instead of hand-copied)."""
    from pyspark.sql import functions as F

    from chronon_spark.operators import dedup, textstats

    def _pii(d):
        from chronon_spark.operators.pii import pii_scan

        return pii_scan(d, "doc_id")

    # split sizing = the parallelism of everything downstream: the ops run
    # over the PERSISTED frame, whose partition count is the scan's split
    # count — 64m packed the 5MB generator files into ~10 splits, capping
    # every op at 10 of 32 cores (same lesson as run_dedup_job).
    prior_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prior_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    docs = spark.read.parquet(path).select(
        F.col("url").alias("doc_id"), "text"
    ).persist()
    docs.count()  # materialize once: op timings measure the OP, not the scan
    spark.conf.set("spark.sql.files.maxPartitionBytes", prior_mpb)
    spark.conf.set("spark.sql.files.openCostInBytes", prior_open)

    def run(name, fn):
        walls = []
        for _ in range(2):  # best-of-2: same noisy-host rationale as headline_queries
            t0 = time.time()
            force(fn())
            walls.append(time.time() - t0)
        wall = min(walls)
        return name, {"wall_sec": round(wall, 3), "rows_per_sec": round(n_rows / wall, 1)}

    ops = [
        ("exact_dedup", lambda: dedup.exact_dedup(docs, "doc_id")),
        ("doc_stats", lambda: textstats.document_stats(docs, "doc_id")),
        ("repetition_flags", lambda: textstats.repetition_flags(docs, "doc_id")),
        (
            "canonical_url",
            lambda: docs.select(textstats.canonical_url("doc_id").alias("u")),
        ),
        (
            "minhash_lsh",
            lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", n_hashes=16, bands=4, verify_threshold=0.4
            ),
        ),
        ("pii_scan", lambda: _pii(docs)),
        ("duplicated_spans", lambda: dedup.duplicated_span_flags(docs, "doc_id", k=8)),
    ]
    out = dict(run(n, f) for n, f in ops)

    # domain PageRank over a 3-links-per-page multigraph (duplicate edges
    # act as weights — no DISTINCT, so every iteration's join + partial-agg
    # processes all 3n link rows). One hot target absorbs 1/3 of ALL links:
    # the zipf-head shape partial aggregation must flatten.
    def _pagerank():
        from chronon_spark.checkpoint import release_checkpoint
        from chronon_spark.operators.linkgraph import domain_pagerank

        ranked = domain_pagerank(edges, iters=4)
        n_out = ranked.count()  # the loop inside is already materialized
        release_checkpoint(ranked)
        return n_out

    pages = spark.read.parquet(path).select(
        F.expr("parse_url(url, 'HOST')").alias("src_domain"), "url"
    )
    edges = pages.select(
        "src_domain",
        F.explode(
            F.array(
                F.lit("hot.example"),
                F.concat(F.lit("mid"), (F.crc32("url") % 100).cast("string")),
                F.concat(
                    F.lit("tail"),
                    (F.crc32(F.reverse(F.col("url"))) % 5000).cast("string"),
                ),
            )
        ).alias("dst_domain"),
    )
    walls = []
    for _ in range(2):
        t0 = time.time()
        _pagerank()
        walls.append(time.time() - t0)
    wall = min(walls)
    out["domain_pagerank_4it"] = {
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(3 * n_rows * 4 / wall, 1),  # edge-visits/sec
    }
    docs.unpersist()
    return out


def bpe_train_bench(spark) -> dict:
    """Production-vocab BPE training trajectory (r3 VERDICT Next #8):
    a deterministic high-entropy corpus (60k distinct words — the sf
    documents tables exhaust their pair vocabulary at ~90 merges), 128
    merges at the swept-optimal batch_size=32, extrapolated to a 32k
    vocab. Valid because per-round cost is flat in merge index (the
    word table only shrinks) — full sweep data in BASELINE.md.

    Driver-round-trip bound (documented per VERDICT): wall =
    ceil(32768/batch) rounds x (one pair-count aggregation over the
    unique-word table + one top-pairs collect). batch=1 (the bit-exact
    sequential default) measured 1.11 s/round -> ~10 h at 32k; batch=32
    measured ~52 min extrapolated on this host.

    Both trainer arms run: full per-round recount, and incremental
    delta maintenance (only words containing a merged occurrence are
    re-exploded; pair table updated by +/- delta). Output is
    pytest-pinned bit-equal; the bench re-asserts it and reports both
    walls. Incremental wins grow with merge index — the changed-word
    fraction vanishes at production vocab sizes while the full path
    re-pays the whole explode every round."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.tokenizer import bpe_train

    words = spark.range(60_000).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 10), 16, 26)
        .alias("w")
    )
    docs = (
        words.withColumn("doc", F.abs(F.hash("w")) % 5000)
        .groupBy("doc")
        .agg(F.concat_ws(" ", F.collect_list(
            F.concat(F.col("w"), F.lit(" "), F.col("w")))).alias("text"))
        .cache()
    )
    docs.count()
    n, batch = 128, 32
    t0 = time.time()
    merges = bpe_train(docs, num_merges=n, min_count=2, batch_size=batch)
    wall = time.time() - t0
    t0 = time.time()
    inc = bpe_train(docs, num_merges=n, min_count=2, batch_size=batch,
                    incremental=True)
    inc_wall = time.time() - t0
    docs.unpersist()
    got = len(merges)
    return {
        "merges": got,
        "batch_size": batch,
        "wall_sec": round(wall, 2),
        "merges_per_sec": round(got / wall, 2),
        "extrapolated_32k_wall_min": round((32_768 / max(got, 1)) * wall / 60, 1),
        "incremental_wall_sec": round(inc_wall, 2),
        "incremental_32k_wall_min": round(
            (32_768 / max(got, 1)) * inc_wall / 60, 1),
        "incremental_bit_equal": inc == merges,
    }


def curation_e2e_bench(spark, n_rows: int) -> dict:
    """End-to-end curation pipeline throughput: the 13-stage
    examples/webtext_curation.py job (extract -> url/exact/near dedup ->
    quality -> PII -> decontaminate -> mix -> split -> BPE+pack+shuffle)
    over freshly generated crawl records. Single pass (the pipeline's
    per-stage audit counts already force every stage at least once);
    demo parameterization — the synthetic generator's cyclic word stream
    makes ~90% of 8-grams cross-doc duplicated, so dup_span_max=0.95
    keeps the ExactSubstr filter exercised without zeroing the corpus
    (examples/webtext_curation.py:main documents the measurement)."""
    from chronon_spark.sources.webtext import generate_webtext
    from examples.webtext_curation import curate

    crawl = generate_webtext(
        spark, n_rows, seed=7, n_domains=max(n_rows // 600, 10),
        nav_boilerplate=True, partitions=max(CPUS * 2, 16),
    ).localCheckpoint()  # generation cost excluded: measure the PIPELINE
    eval_qs = [
        f"benchmark question {i} probes the unseen topic {i * 7 + 1} "
        f"and the expected answer is {i * 13 + 5} according to the rubric"
        for i in range(50)
    ]
    eval_set = spark.createDataFrame([(q,) for q in eval_qs], "text string")
    t0 = time.time()
    out = curate(
        spark, crawl, eval_set=eval_set,
        blocked_domains=("domain1.example.com",), blocked_terms=("casino",),
        dup_span_max=0.95, verbose=False,
    )
    wall = time.time() - t0
    stages = {name: n for name, n, _w in out["stages"]}
    stage_walls = {name: w for name, _n, w in out["stages"]}
    return {
        "rows": n_rows,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(n_rows / wall, 1),
        "stages": stages,
        "stage_walls": stage_walls,
    }


HEADLINE = [
    "warc_ingest",
    "domain_rank",
    "inverted_index",
    "phrase_search",
    "crawl_diff",
    "domain_rollup",
    "bm25_topk",
    "incremental_index",
    "recrawl_stats",
    "asof_groupby",
    "asof_join_multipart",
    "snapshot_groupby",
    "sessionize",
    "lag_lead",
    "exact_dedup",
    "minhash_lsh",
    "doc_stats",
    "repetition_quality",
    "sketch_percentile",
    "compare_job",
    "compare_seq",
    # round-3 additions
    "drift_dist",
    "dedup_clusters",
    "pack_sequences",
    "model_transforms",
    "consistency",
    "decontaminate",
    "duplicated_spans",
    "span_removal",
    "ccnet_buckets",
    "pii_redact",
    "incremental_dedup",
    "unigram_logprob",
    "fetch_join",
    "bpe_train",
    "bpe_tokens",
    "quality_classifier",
    # round-4 late additions
    "kv_fetch",
    "hits_rank",
    "tiled_fetch",
    "harmonic_rank",
    "crawl_priority",
    "robots_filter",
    "sitemap_parse",
    "crawl_schedule",
    "stupid_backoff",
    "trust_rank",
    "url_traps",
    "robots_delay",
    "redirect_resolve",
    "site_collapse",
    "temperature_mix_tokens",
    "decayed_sum",
    "label_sawtooth",
    "label_snapshot",
    "target_encode",
    "training_set",
    "clustered_asof",
    "scd2_intervals",
    "tile_compaction",
    "percentile_serve",
    "klist_serve",
    "freq_serve",
    "hist_serve",
    "noagg_snapshot",
    # round-5 additions
    "mutation_windowed",
    "mutation_fetch",
    "external_fetch",
    "spj_merge",
]


def warmup(spark, sf_dir: str) -> None:
    """Absorb one-time session costs (python worker spin-up, Arrow codegen,
    parquet footer caches) so per-query times measure the ENGINE: without
    this the first query pays ~8s of fixed overhead that belongs to no
    operator."""
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.range(0, 10_000, numPartitions=8).withColumn("g", F.pmod("id", F.lit(4)))
    df.groupBy("g").applyInPandas(
        lambda p: pd.DataFrame({"g": [int(p["g"].iloc[0])], "n": [len(p)]}),
        schema="g long, n long",
    ).write.format("noop").mode("overwrite").save()
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()


def headline_queries(spark, sf_dir: str, repeats: int = 2) -> dict[str, float]:
    """Per-query best-of-N walls. The sandbox host is time-shared with
    invisible neighbors: consecutive solo runs of the SAME query measured
    15x apart (doc_stats 34.6s vs 2.1s, zero plan change, digest-pinned) —
    min over passes is the same contention-robust estimator the scaling
    protocol has used since round 1. Both pass sums are reported."""
    import __spark_entry__ as E

    qs = E.queries()
    times: dict = {}
    for _ in range(repeats):
        for name in HEADLINE:
            t0 = time.time()
            force(qs[name](spark, sf_dir))
            w = round(time.time() - t0, 3)
            times.setdefault(name, []).append(w)
    return {name: min(ws) for name, ws in times.items()}


def plan_digest(df) -> dict:
    """Compact physical-plan fingerprint: shuffle count, Python stages,
    codegen spans, scan pushdown evidence — the design-for-100x audit
    trail next to each bench number."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "python_stages": plan.count("FlatMapGroupsInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("MapInPandas"),
        "has_pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan.replace("PushedFilters: [],", "PushedFilters: [] "),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
    }


def explain_digests(spark, sf_dir: str, flagship_path: str) -> dict:
    import __spark_entry__ as E

    qs = E.queries()
    out = {}
    for name in HEADLINE:
        try:
            out[name] = plan_digest(qs[name](spark, sf_dir))
        except Exception as e:  # digest must never sink the bench
            out[name] = {"error": str(e)[:200]}
    try:
        out["webtext_flagship"] = plan_digest(flagship_join(spark, flagship_path))
    except Exception as e:
        out["webtext_flagship"] = {"error": str(e)[:200]}
    return out


def run_flagship(master: str, cores: int, path: str, rows: int, repeats: int = 2) -> dict:
    """Best-of-N wall time: the host is shared, so min over repeats is the
    contention-robust estimator for scaling comparisons."""
    spark = build(master, shuffle_partitions=max(cores * 2, 8))
    walls = []
    try:
        for _ in range(repeats):
            t0 = time.time()
            force(flagship_join(spark, path))
            walls.append(time.time() - t0)
    finally:
        spark.stop()
    wall = min(walls)
    return {"cores": cores, "wall_sec": round(wall, 3), "walls": [round(w, 3) for w in walls],
            "rows_per_sec": round(rows / wall, 1)}


def run_dedup_job(master: str, cores: int, path: str, rows: int, repeats: int = 2) -> dict:
    """Second scaling job SHAPE (axis-B diversity): the dedup-side
    pipeline — exact dedup + banded MinHash LSH over the crawl text —
    instead of the as-of join. A different bottleneck profile (hash
    groupBy + band-bucket self-join vs range/sort-merge), so the N-vs-4N
    pair evidences scaling beyond one plan family."""
    from chronon_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

    spark = build(master, shuffle_partitions=max(cores * 2, 8))
    # the expensive projections (md5 of normalized text, shingle
    # signatures) run in the SCAN stage: split sizing IS the parallelism
    # of this job. 64m packs the 5MB generator files into ~10 splits —
    # two ragged waves at 8 cores; size splits to the files instead.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    walls = []
    try:
        for _ in range(repeats):
            spark.catalog.clearCache()  # persist-once signatures must not
            # leak across repeats: min-over-passes measures WORK, not cache
            t0 = time.time()
            docs = spark.read.parquet(path).selectExpr("url AS doc_id", "text")
            force(exact_dedup(docs, "doc_id"))
            force(
                minhash_lsh_pairs(
                    docs, "doc_id", n_hashes=16, bands=4, verify_threshold=0.4
                )
            )
            walls.append(time.time() - t0)
    finally:
        spark.stop()
    wall = min(walls)
    return {"cores": cores, "wall_sec": round(wall, 3), "walls": [round(w, 3) for w in walls],
            "rows_per_sec": round(rows / wall, 1)}


def webtext_linked_parquet(spark, n_rows: int) -> str:
    """Scaling input for the graph shape: the same generator with
    deterministic cross-domain anchors (with_links) — cached like
    webtext_parquet, separate file so the flagship input's bytes stay
    byte-identical across rounds.

    The DOMAIN count scales with rows (2000 docs/domain, floor 500): a
    fixed 500-domain graph saturates its distinct-edge table, so at
    bigger inputs the PageRank iterations would stay constant-size and
    the pair would measure scan scaling only — scaling the graph keeps
    the iterative stages carrying real parallel work, which is what the
    shape exists to evidence."""
    from chronon_spark.sources.webtext import generate_webtext

    os.makedirs(CACHE_DIR, exist_ok=True)
    n_domains = max(500, n_rows // 2000)
    path = os.path.join(CACHE_DIR, f"webtext_{n_rows}_linked_{n_domains}d.parquet")
    if not os.path.exists(path):
        generate_webtext(
            spark, n_rows, seed=42, n_domains=n_domains,
            partitions=max(CPUS * 2, 16), with_links=True,
        ).write.mode("overwrite").parquet(path)
    return path


def run_graph_job(master: str, cores: int, path: str, rows: int, repeats: int = 2) -> dict:
    """Third scaling job SHAPE: link-graph build + integer-exact
    PageRank — the ITERATIVE profile (per-iteration join + aggregate
    barriers with checkpoint release) vs the as-of join's range/sort-
    merge and the dedup pipeline's hash/self-join. The scan-stage work
    is the href regexp projection, so split sizing is this job's
    parallelism too (same 8m rule as the dedup shape)."""
    from chronon_spark.checkpoint import release_checkpoint
    from chronon_spark.operators.linkgraph import (
        domain_edges,
        domain_pagerank,
        extract_links,
    )

    spark = build(master, shuffle_partitions=max(cores * 2, 8))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    walls = []
    try:
        for _ in range(repeats):
            spark.catalog.clearCache()
            t0 = time.time()
            crawl = spark.read.parquet(path).selectExpr(
                "parse_url(url, 'HOST') AS src_domain", "html"
            )
            ranks = domain_pagerank(domain_edges(extract_links(crawl)), iters=4)
            force(ranks)
            release_checkpoint(ranks)
            walls.append(time.time() - t0)
    finally:
        spark.stop()
    wall = min(walls)
    return {"cores": cores, "wall_sec": round(wall, 3), "walls": [round(w, 3) for w in walls],
            "rows_per_sec": round(rows / wall, 1)}


REPO_DIR = os.path.dirname(os.path.abspath(__file__))
SCALING_ARTIFACT = os.path.join(REPO_DIR, "SCALING.json")
EXPLAIN_ARTIFACT = os.path.join(REPO_DIR, "EXPLAIN_digest.json")
BENCH_LOCAL_ARTIFACT = os.path.join(REPO_DIR, "BENCH_local.json")
# the BASELINE.md steady-state anchor scale (3M rows @ 32 cores); the
# per-sf flagship run is overhead-dominated below ~1M rows
STEADY_ROWS = int(os.environ.get("SPARK_GRAFT_STEADY_ROWS", "3000000"))


def recorded_scaling() -> dict:
    """Measured `--scaling` results, persisted by prior runs — never
    hard-coded constants (a stale literal would silently misreport)."""
    if os.path.exists(SCALING_ARTIFACT):
        with open(SCALING_ARTIFACT) as f:
            return json.load(f)
    return {"pairs": [], "note": "run `python bench.py --scaling` to record"}


_BW_CEILING: dict = {}  # set once per --scaling invocation


def pair_entry(lo: dict, hi: dict, rows: int, job: str | None = None) -> dict:
    """Build a SCALING.json pair record carrying the per-side wall lists —
    the protocol picks the lowest-intra-run-variance invocation per config,
    which is impossible to audit if walls aren't persisted."""
    eff = (hi["rows_per_sec"] / lo["rows_per_sec"]) / (hi["cores"] / lo["cores"])
    entry = {
        "rows": rows,
        "n": lo["cores"],
        "four_n": hi["cores"],
        "efficiency": round(eff, 3),
        "host_bw_ceiling": _BW_CEILING.get("host_2to8_bw_ceiling"),
        "n_rows_per_sec": lo["rows_per_sec"],
        "four_n_rows_per_sec": hi["rows_per_sec"],
        "walls_n": lo["walls"],
        "walls_4n": hi["walls"],
        "round": 5,
    }
    if job:
        entry["job"] = job
    return entry


def record_scaling(entry: dict) -> None:
    art = recorded_scaling()
    # replacement key includes the job SHAPE: a dedup-pipeline pair at the
    # same (rows, n) must not evict the flagship pair
    key = (entry.get("job", "flagship"), entry["rows"], entry["n"])
    pairs = [
        p for p in art.get("pairs", [])
        if (p.get("job", "flagship"), p["rows"], p["n"]) != key
    ]
    pairs.append(entry)
    pairs.sort(key=lambda p: (p.get("job", "flagship"), p["rows"], p["n"]))
    art["pairs"] = pairs  # keep protocol/notes keys intact
    art.pop("note", None)
    with open(SCALING_ARTIFACT, "w") as f:
        json.dump(art, f, indent=1)


def main() -> None:
    scaling_mode = "--scaling" in sys.argv
    sf = sf_of(SF_DIR)
    n_webtext = max(int(WEBTEXT_ROWS_PER_SF * sf), 10_000)
    tmp = tempfile.mkdtemp(prefix="chronon_bench_")
    result: dict = {"sf": sf}
    try:
        spark = build(f"local[{CPUS}]", shuffle_partitions=max(CPUS * 2, 8))
        try:
            warmup(spark, SF_DIR)
            path = webtext_parquet(spark, n_webtext)
            # best-of-2 everywhere: see headline_queries docstring
            flagship_walls = []
            for _ in range(2):
                t0 = time.time()
                force(flagship_join(spark, path))
                flagship_walls.append(time.time() - t0)
            flagship_wall = min(flagship_walls)
            times = {"webtext_flagship": round(flagship_wall, 3)}
            times.update(headline_queries(spark, SF_DIR))

            # per-op suite BEFORE the 3M steady run: the steady flagship
            # leaves the JVM heap pressured (measured 95s-vs-18s doc_stats
            # inversion when ops ran after it)
            ops = webtext_ops_bench(spark, path, n_webtext)
            curation = curation_e2e_bench(
                spark, int(os.environ.get("SPARK_GRAFT_CURATION_ROWS", "20000"))
            )
            bpe = bpe_train_bench(spark)

            # steady-state flagship at the BASELINE.md anchor scale —
            # comparable round-over-round, not overhead-dominated
            steady_path = webtext_parquet(spark, STEADY_ROWS)
            steady_walls = []
            for _ in range(2):
                t0 = time.time()
                force(flagship_join(spark, steady_path))
                steady_walls.append(time.time() - t0)
            steady_wall = min(steady_walls)

            with open(EXPLAIN_ARTIFACT, "w") as f:
                json.dump(explain_digests(spark, SF_DIR, path), f, indent=1)
        finally:
            spark.stop()

        result.update(
            {
                "metric": "asof-join+windowed-feature backfill wall (headline suite)",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "webtext": {
                    "rows": n_webtext,
                    "wall_sec": round(flagship_wall, 3),
                    "walls": [round(w, 3) for w in flagship_walls],
                    "rows_per_sec": round(n_webtext / flagship_wall, 1),
                },
                "webtext_steady": {
                    "rows": STEADY_ROWS,
                    "wall_sec": round(steady_wall, 3),
                    "walls": [round(w, 3) for w in steady_walls],
                    "rows_per_sec": round(STEADY_ROWS / steady_wall, 1),
                },
                "webtext_ops": ops,
                "curation_e2e": curation,
                "bpe_train_32k": bpe,
                "kernel_microbench": kernel_microbench(),
                "host_canary": host_canary(),
                "scaling_recorded": recorded_scaling(),
            }
        )

        if scaling_mode:
            # Host bandwidth ceiling measured IN THE SAME WINDOW as the
            # pairs: a bandwidth-bound pair cannot beat this number on a
            # single socket (see bandwidth_canary docstring).
            _BW_CEILING.update(bandwidth_canary())
            result["bandwidth_canary"] = dict(_BW_CEILING)
            # Default N=2 vs 4N=8: the host has exactly 32 CPUs shared with
            # the harness, so local[32] cannot get 4x local[8]'s cores —
            # 2 vs 8 leaves headroom and measures the ENGINE's scaling.
            n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
            n_large = n_small * 4
            # scaling input must be compute-bound: small inputs measure fixed
            # overheads (python worker spin-up, planning), not scaling.
            n_scale = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", str(max(n_webtext, 1_200_000))))
            spark = build(f"local[{CPUS}]", shuffle_partitions=CPUS * 2)
            try:
                path = webtext_parquet(spark, n_scale)
            finally:
                spark.stop()
            lo = run_flagship(f"local[{n_small}]", n_small, path, n_scale)
            hi = run_flagship(f"local[{n_large}]", n_large, path, n_scale)
            eff = (hi["rows_per_sec"] / lo["rows_per_sec"]) / (n_large / n_small)
            result["scaling"] = {
                "n_cores": lo,
                "four_n_cores": hi,
                "efficiency": round(eff, 3),
            }
            record_scaling(pair_entry(lo, hi, n_scale))
            # second job SHAPE: dedup pipeline (hash groupBy + LSH
            # band self-join) — different bottleneck family than the
            # as-of join, so the pair evidences engine scaling, not one
            # plan's luck
            lo2 = run_dedup_job(f"local[{n_small}]", n_small, path, n_scale)
            hi2 = run_dedup_job(f"local[{n_large}]", n_large, path, n_scale)
            eff2 = (hi2["rows_per_sec"] / lo2["rows_per_sec"]) / (n_large / n_small)
            result["scaling_dedup"] = {
                "n_cores": lo2,
                "four_n_cores": hi2,
                "efficiency": round(eff2, 3),
            }
            record_scaling(pair_entry(lo2, hi2, n_scale, job="dedup_pipeline"))
            # third job SHAPE: link-graph build + PageRank — the
            # ITERATIVE profile (per-iteration barriers + checkpoint
            # release); three shapes cover the engine's plan families.
            # 4x rows: the 4 PageRank iterations over the domain graph
            # are a FIXED ~3-5s cost at any core count (tiny tables,
            # stage barriers + eager checkpoints), so at the base scale
            # Amdahl caps the pair at ~0.70 no matter how well the
            # engine scales. The extract/edge-build work — the part
            # that is per-row and dominates at corpus scale — scales at
            # ~0.90; 19.2M rows puts extract at ~20s@8 cores vs the
            # ~3s fixed tail, which is the regime the scaling rule
            # describes. (Measured at 4.8M: extract 18.3s/5.1s at
            # 2/8 cores, pagerank 4.9s/2.9s -> pair capped at 0.73.)
            n_graph = int(os.environ.get(
                "SPARK_GRAFT_GRAPH_SCALE_ROWS",
                str(max(n_scale * 4, 19_200_000))))
            spark = build(f"local[{CPUS}]", shuffle_partitions=CPUS * 2)
            try:
                gpath = webtext_linked_parquet(spark, n_graph)
            finally:
                spark.stop()
            lo3 = run_graph_job(f"local[{n_small}]", n_small, gpath, n_graph)
            hi3 = run_graph_job(f"local[{n_large}]", n_large, gpath, n_graph)
            eff3 = (hi3["rows_per_sec"] / lo3["rows_per_sec"]) / (n_large / n_small)
            result["scaling_graph"] = {
                "n_cores": lo3,
                "four_n_cores": hi3,
                "efficiency": round(eff3, 3),
            }
            record_scaling(pair_entry(lo3, hi3, n_graph, job="linkgraph_pagerank"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # Full result to an in-repo artifact; stdout gets ONE COMPACT line.
    # The driver captures a bounded tail of stdout (observed 2000 chars) —
    # round 3's full-result line outgrew it and the artifact recorded
    # "parsed": null, blinding the performance contract for a round.
    with open(BENCH_LOCAL_ARTIFACT, "w") as f:
        json.dump(result, f, indent=1)
    # leading newline: guarantee the JSON owns its stdout line even if an
    # earlier writer left a \r-terminated fragment un-newlined
    print("\n" + json.dumps(compact_summary(result), separators=(",", ":")))


def compact_summary(result: dict) -> dict:
    """Driver-facing summary: headline walls + throughputs + scaling pairs +
    canary, guaranteed to fit the driver's bounded stdout capture. Full
    detail (per-op suite, curation stages, wall lists) lives in
    BENCH_local.json."""
    out = {
        "metric": result.get("metric", "bench"),
        "value": result.get("value"),
        "unit": result.get("unit", "sec"),
        "sf": result.get("sf"),
        "queries": {k: round(v, 2) for k, v in result.get("queries", {}).items()},
        "full": "BENCH_local.json",
    }
    wt, st = result.get("webtext", {}), result.get("webtext_steady", {})
    if wt:
        out["flagship_rps"] = wt.get("rows_per_sec")
    if st:
        out["steady_rps"] = st.get("rows_per_sec")
        out["steady_rows"] = st.get("rows")
    km = result.get("kernel_microbench", {})
    if km:
        out["kernel_qps"] = km.get("qps")
    bpe = result.get("bpe_train_32k", {})
    if bpe:
        out["bpe_32k_min"] = bpe.get("extrapolated_32k_wall_min")
    hc = result.get("host_canary", {})
    if hc:
        out["canary"] = {"wall_sec": hc.get("wall_sec"), "score": hc.get("score")}
    pairs = result.get("scaling_recorded", {}).get("pairs", [])
    # representative-first ordering so the size-budget truncation below
    # never drops a whole job SHAPE: the largest-rows pair of each job
    # leads, then the rest by rows desc (r4 bug: [-3:] kept three
    # flagship-family pairs and silently dropped the dedup shape)
    best = {}
    for p in pairs:
        # lead slot per (job shape, N config): the bandwidth-headroom
        # CONTROL pairs (n=1) are north-rule evidence alongside the 2->8
        # pairs and must survive any size cut, not be dropped as "rest"
        j = (p.get("job", "flagship"), p["n"])
        if j not in best or p["rows"] > best[j]["rows"]:
            best[j] = p
    lead = list(best.values())
    rest = sorted((p for p in pairs if p not in lead), key=lambda p: -p["rows"])
    out["scaling"] = [
        {
            **({"job": p["job"]} if p.get("job") else {}),
            "rows": p["rows"], "n": p["n"], "4n": p["four_n"], "eff": p["efficiency"],
        }
        for p in lead + rest
    ]
    if "scaling" in result:
        out["scaling_live_eff"] = result["scaling"].get("efficiency")
    if "bandwidth_canary" in result:
        out["bw_ceiling"] = result["bandwidth_canary"].get("host_2to8_bw_ceiling")
    if "scaling_dedup" in result:
        out["scaling_dedup_eff"] = result["scaling_dedup"].get("efficiency")
    # hard budget: drop detail before ever emitting an unparseable tail
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:
        out["scaling"] = out["scaling"][:7]  # per-(shape, N-config) leads
        line = json.dumps(out, separators=(",", ":"))
    while len(line) > 1900 and out["queries"]:
        # shed queries whose wall a prior round's driver artifact already
        # recorded (cheapest first), so the union of BENCH_r* `queries`
        # maps converges on the full headline set across rounds (r4
        # VERDICT Wrong #4: a cheapest-first-only shed starved the same
        # cheap queries every round); never-recorded queries go last
        recorded = [q for q in out["queries"] if q in _DRIVER_RECORDED_WALLS]
        pool = recorded or list(out["queries"])
        cheapest = min(pool, key=out["queries"].get)
        del out["queries"][cheapest]
        out["queries_truncated"] = True
        line = json.dumps(out, separators=(",", ":"))
    return out


# query walls already present in a driver-captured BENCH_r*.json parsed
# `queries` map (r4 was the first round with a parseable map); these are
# shed FIRST when the compact line exceeds the driver's capture budget
_DRIVER_RECORDED_WALLS = frozenset({
    "asof_groupby", "asof_join_multipart", "bm25_topk", "bpe_tokens",
    "bpe_train", "ccnet_buckets", "clustered_asof", "compare_seq",
    "consistency", "crawl_diff", "crawl_priority", "crawl_schedule",
    "decayed_sum", "decontaminate", "dedup_clusters", "doc_stats",
    "domain_rank", "domain_rollup", "drift_dist", "duplicated_spans",
    "fetch_join", "freq_serve", "harmonic_rank", "hist_serve", "hits_rank",
    "incremental_dedup", "klist_serve", "kv_fetch", "label_sawtooth",
    "label_snapshot", "minhash_lsh", "model_transforms", "percentile_serve",
    "phrase_search", "pii_redact", "quality_classifier", "redirect_resolve",
    "repetition_quality", "robots_delay", "robots_filter", "snapshot_groupby",
    "span_removal", "stupid_backoff", "target_encode", "tile_compaction",
    "tiled_fetch", "training_set", "trust_rank", "warc_ingest",
    "webtext_flagship",
})


if __name__ == "__main__":
    main()
