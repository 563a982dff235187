"""Training-data pipeline operators: analytic, dedup, textstats, sampling."""

import duckdb
import pytest
from pyspark.sql import functions as F

from chronon_spark.operators.analytic import sessionize, session_stats, with_lag_lead
from chronon_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from chronon_spark.operators.textstats import document_stats
from chronon_spark.sources.scan import millis_expr

MIN_30 = 30 * 60 * 1000


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "value", f"{millis_expr('ts')} AS ts"
    )


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_lag_lead_vs_duckdb(events, sf_dir):
    got = (
        with_lag_lead(events, ["user_id"], ["value"], offsets=(1, 2))
        .orderBy("user_id", "ts")
        .toPandas()
    )
    exp = duckdb.sql(
        f"""
        SELECT user_id, epoch_ms(ts) AS ts, value,
               lag(value, 1) OVER w AS value_lag_1,
               lead(value, 1) OVER w AS value_lead_1,
               lag(value, 2) OVER w AS value_lag_2,
               lead(value, 2) OVER w AS value_lead_2
        FROM '{sf_dir}/events.parquet'
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))
        ORDER BY user_id, ts
        """
    ).df()
    for col in ["value_lag_1", "value_lead_1", "value_lag_2", "value_lead_2"]:
        g, e = got[col].tolist(), exp[col].tolist()
        assert len(g) == len(e)
        for a, b in zip(g, e):
            if b != b:  # nan
                assert a is None or a != a
            else:
                assert a == pytest.approx(b)


def test_sessionize_vs_duckdb(events, sf_dir):
    got = sessionize(events, ["user_id"], MIN_30).orderBy("user_id", "ts").toPandas()
    exp = duckdb.sql(
        f"""
        WITH e AS (SELECT user_id, epoch_ms(ts) AS ts FROM '{sf_dir}/events.parquet'),
        marks AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > {MIN_30}
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS s
          FROM e)
        SELECT user_id, ts,
               sum(s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) - 1 AS session_id
        FROM marks ORDER BY user_id, ts
        """
    ).df()
    assert got["session_id"].tolist() == exp["session_id"].tolist()
    stats = session_stats(events, ["user_id"], MIN_30)
    assert stats.where("session_duration_ms < 0").count() == 0
    assert stats.agg(F.sum("session_events")).first()[0] == events.count()


def test_analytic_sliced_mode_exact(spark):
    """r3 VERDICT Wrong #5: sliced (hot-key) mode must equal the plain
    per-key window BIT-FOR-BIT, including multi-hop carries — offsets up
    to 3 across slices holding fewer than 3 events, empty calendar slices
    in between, and session indexes running across slice boundaries."""
    import random

    from chronon_spark.operators.analytic import (
        clear_key_mass_cache,
        sessionize,
        with_lag_lead,
    )

    rnd = random.Random(7)
    SLICE = 1000  # tiny slices so boundaries dominate
    rows = []
    for uid in range(6):
        ts_set = set()
        while len(ts_set) < 40:
            # cluster into sparse bursts: many slices with 1-2 events,
            # runs of empty slices between
            base = rnd.randrange(0, 50) * SLICE
            ts_set.add(base + rnd.randrange(0, SLICE))
        for t in sorted(ts_set):
            rows.append((uid, t, float(t % 17)))
    df = spark.createDataFrame(rows, "user_id int, ts long, value double").repartition(5)

    clear_key_mass_cache()
    for fn, kw in [
        (with_lag_lead, dict(value_cols=["value"], offsets=(1, 3))),
        (sessionize, dict(gap_ms=SLICE * 2)),
    ]:
        a = fn(df, ["user_id"], ts_col="ts", mode="window", **kw)
        b = fn(df, ["user_id"], ts_col="ts", mode="sliced", slice_ms=SLICE, **kw)
        rows_a = sorted(map(tuple, a.select(*sorted(a.columns)).collect()))
        rows_b = sorted(map(tuple, b.select(*sorted(a.columns)).collect()))
        assert rows_a == rows_b, fn.__name__

    # auto-dispatch: planted bound routes to sliced (no per-key-only sort)
    hot = sessionize(df, ["user_id"], SLICE * 2, ts_col="ts", mode="auto",
                     hot_key_bound=10, slice_ms=SLICE)
    plan_hot = hot._jdf.queryExecution().executedPlan().toString()
    assert "__slice" in plan_hot, plan_hot[:600]
    cold = sessionize(df, ["user_id"], SLICE * 2, ts_col="ts", mode="auto",
                      hot_key_bound=10**9)
    assert "__slice" not in cold._jdf.queryExecution().executedPlan().toString()


def test_exact_dedup(docs, spark):
    # inject a duplicate
    dup = docs.limit(1).withColumn("doc_id", F.lit(10_000_000))
    with_dup = docs.unionByName(dup)
    out = exact_dedup(with_dup, "doc_id")
    assert out.count() == docs.count()  # dup collapsed
    assert out.where("doc_id = 10000000").count() == 0  # min-id kept
    assert out.where("dup_count = 2").count() == 1


def test_minhash_lsh_superset_of_exact(docs):
    """LSH candidates (verified) must find the high-jaccard pairs."""
    small = docs.where("doc_id < 150")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(small, "doc_id", threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            small, "doc_id", n_hashes=32, bands=16, verify_threshold=0.8
        ).collect()
    }
    # banded LSH with 16 bands of 2 rows: P(detect | j=0.8) ~ 1-(1-0.64)^16 ~ 1.0
    assert exact <= lsh or len(exact - lsh) <= max(1, len(exact) // 10)
    # verification means no false positives below threshold
    assert lsh <= exact


def test_ngram_jaccard_prefix_filter_equivalence(docs):
    """PPJoin-style prefix filtering must return EXACTLY the brute-force
    inverted-index pairs (it over-generates candidates, then verifies
    exactly) — at two thresholds, including one low enough to make
    prefixes several tokens long."""
    small = docs.where("doc_id < 200")
    for t in (0.8, 0.35):
        brute = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                small, "doc_id", threshold=t, prefix_filter=False
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                small, "doc_id", threshold=t, prefix_filter=True
            ).collect()
        }
        assert pref == brute, f"threshold={t}: {pref ^ brute}"


def test_ngram_jaccard_prefix_handles_identical_docs(docs, spark):
    """Planted exact duplicates (jaccard=1.0) must surface, and tiny docs
    (single whole-text shingle, prefix length 1) must not crash."""
    dup = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 30_000_000)
    tiny = spark.createDataFrame(
        [(41_000_000, "hi"), (41_000_001, "hi")], "doc_id long, text string"
    )
    d = docs.limit(50).select("doc_id", "text").unionByName(dup.select("doc_id", "text")).unionByName(tiny)
    out = ngram_jaccard_pairs(d, "doc_id", threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in out}
    for r in dup.select("doc_id").collect():
        assert (r.doc_id - 30_000_000, r.doc_id) in got
    assert (41_000_000, 41_000_001) in got


def test_ngram_jaccard_prefix_boilerplate_bounded(spark):
    """Docs sharing a boilerplate footer (fat postings lists) must not
    enter the candidate join: boilerplate shingles have maximal document
    frequency so they never appear in a rare-first prefix. The brute
    inverted index OOMs on this shape at 20k docs (see BASELINE.md);
    prefix filtering stays linear-ish."""
    boiler = "all rights reserved terms of service apply contact us for details"
    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.md5(F.concat(F.lit(f"w{i}:"), F.col("id").cast("string")))
                for i in range(12)
            ],
            F.lit(boiler),
        ).alias("text"),
    )
    out = ngram_jaccard_pairs(docs, "doc_id", threshold=0.5)
    # unique 12-word prefixes -> jaccard well below 0.5 for every pair
    assert out.count() == 0


def test_simhash_self_duplicate(docs, spark):
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 20_000_000)
    both = docs.where("doc_id < 100").unionByName(dup)
    pairs = simhash_near_dups(both, "doc_id", max_hamming=0).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    for i in range(3):
        assert (i, i + 20_000_000) in found


def test_document_stats(docs):
    out = document_stats(docs, "doc_id").toPandas()
    assert len(out) == docs.count()
    assert (out["n_tokens"] > 0).all()
    assert out["quality"].between(0, 1).all()
    assert out["fingerprint"].str.len().eq(32).all()
    # n_chars matches the table's own n_chars column
    joined = document_stats(docs, "doc_id").withColumnRenamed("n_chars", "stat_chars").join(
        docs, "doc_id"
    )
    assert joined.where("stat_chars != length(text)").count() == 0


def test_embedding_dim(emb):
    assert emb.selectExpr("size(embedding) AS d").distinct().first().d == 64


def test_cumulative_source_scans_latest_partition(spark, tmp_path):
    """is_cumulative: only the latest ds partition is read."""
    from chronon_spark.api.types import EventSource, Query
    from chronon_spark.sources.scan import scan_source

    p = str(tmp_path / "cum")
    spark.createDataFrame(
        [(1, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-02")], "v int, ds string"
    ).write.partitionBy("ds").parquet(p)
    src = EventSource(table=p, query=Query(), is_cumulative=True)
    rows = scan_source(spark, src).collect()
    assert len(rows) == 2 and all(str(r["ds"]) == "2024-01-02" for r in rows)


def test_partition_format_override(spark, tmp_path):
    """Range predicates convert canonical dates to the table's format."""
    from chronon_spark.api.types import EventSource, Query
    from chronon_spark.sources.scan import scan_source

    p = str(tmp_path / "fmt")
    spark.createDataFrame(
        [(1, "1/5/24"), (2, "1/15/24"), (3, "2/1/24")], "v int, new_ds string"
    ).write.parquet(p)
    src = EventSource(
        table=p,
        query=Query(
            start_partition="2024-01-10",
            end_partition="2024-01-31",
            partition_column="new_ds",
            partition_format="M/d/yy",
        ),
    )
    rows = scan_source(spark, src).collect()
    assert [r["v"] for r in rows] == [2]


def test_setups_udf_registration(spark, sf_dir):
    """Query.setups DDL runs before the scan (reference thrift setups)."""
    from chronon_spark.api.types import EventSource, Query
    from chronon_spark.sources.scan import scan_source

    src = EventSource(
        table=f"{sf_dir}/events.parquet",
        query=Query(
            selects={"user_id": "user_id", "v2": "double_it(value)"},
            setups=(
                "CREATE OR REPLACE TEMPORARY VIEW __noop AS SELECT 1",
                # Spark 4 SQL UDF DDL (the reference's setups mechanism)
                "CREATE OR REPLACE TEMPORARY FUNCTION double_it(v DOUBLE) "
                "RETURNS DOUBLE RETURN v * 2",
            ),
        ),
    )
    df = scan_source(spark, src)
    row = spark.read.parquet(f"{sf_dir}/events.parquet").first()
    got = df.where(F.col("user_id") == row["user_id"]).first()
    assert got["v2"] is not None


def test_quickstart_example(spark):
    """The reference-quickstart-equivalent conf runs end to end."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("qs", "/root/repo/examples/quickstart.py")
    qs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(qs)
    from chronon_spark.operators.asof_join import join_asof

    df = join_asof(spark, qs.get_join(), mode="exact")
    assert df.count() == 1000
    assert "purchases_purchase_price_sum_14d" in df.columns
    assert "purchases_purchase_price_last10" in df.columns


def test_canonical_url(spark):
    from chronon_spark.operators.textstats import canonical_url

    cases = [
        ("HTTP://Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag", "http://example.com/a/b?a=1&b=2"),
        ("https://example.com:443/path/", "https://example.com/path"),
        ("https://example.com:8443/path", "https://example.com:8443/path"),
        ("http://example.com", "http://example.com/"),
        ("https://a.b/x?fbclid=123", "https://a.b/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_repetition_flags(spark):
    from chronon_spark.operators.textstats import repetition_flags

    tdf = spark.createDataFrame(
        [
            ("clean", "one two three\nfour five six\nseven eight"),
            ("dupl", "same line\nsame line\nsame line\nother"),
            ("rep", "buy now " * 30),
        ],
        "doc_id string, text string",
    )
    out = repetition_flags(tdf, "doc_id").toPandas().set_index("doc_id")
    assert out.loc["clean", "passes_repetition"]
    assert out.loc["dupl", "dup_line_frac"] == pytest.approx(0.5)
    assert not out.loc["dupl", "passes_repetition"]
    assert out.loc["rep", "top_bigram_frac"] > 0.18
    assert not out.loc["rep", "passes_repetition"]


def test_compare_metrics_map_columns(spark):
    """compare_job must handle map-typed feature columns (bucketed GroupBy
    outputs) — Spark's EqualTo does not support maps; the metric uses
    sorted-entries JSON instead (ADVICE r2)."""
    from chronon_spark.plans.compare import compare_job

    left = spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"x": 5}), (3, None)],
        "id int, hist map<string,int>",
    )
    right = spark.createDataFrame(
        [(1, {"b": 2, "a": 1}), (2, {"x": 6}), (3, None)],
        "id int, hist map<string,int>",
    )
    _, metrics = compare_job(left, right, keys=["id"])
    m = {r.metric: r.value for r in metrics.collect() if r.column == "hist"}
    assert m["mismatch"] == 1.0  # only id=2 differs; key order must not
    assert m["both_null"] == 1.0


def test_duplicate_clusters_and_keep_canonical(spark):
    """Hash-min connected components: components get min-id labels, chain
    graphs converge, keep_canonical drops exactly the non-minimum ids."""
    import pandas as pd

    from chronon_spark.operators.dedup import duplicate_clusters, keep_canonical

    #  components: {1,2,3,4} (path), {10,11}, {20,21,22} (triangle+tail)
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": [1, 2, 3, 10, 20, 20, 21],
                "id_b": [2, 3, 4, 11, 21, 22, 22],
            }
        )
    )
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 20, 21, 22, 99], "text": ["x"] * 10})
    )
    kept = sorted(
        r.doc_id
        for r in keep_canonical(corpus, duplicate_clusters(pairs), "doc_id").collect()
    )
    assert kept == [1, 10, 20, 99]  # one per cluster + the untouched singleton


def test_hash_sample_deterministic_and_unbiased(spark):
    from chronon_spark.operators.sampling import hash_sample, stratified_sample, top_k_per_key

    df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id").withColumn(
        "grp", F.pmod("doc_id", F.lit(4))
    )
    s1 = hash_sample(df, 0.25, "doc_id", seed=7)
    s2 = hash_sample(df.repartition(17), 0.25, "doc_id", seed=7)
    ids1 = sorted(r.doc_id for r in s1.collect())
    ids2 = sorted(r.doc_id for r in s2.collect())
    assert ids1 == ids2, "sampling must be partitioning-independent"
    assert abs(len(ids1) / 20_000 - 0.25) < 0.02

    st = stratified_sample(df, "grp", {0: 0.5, 1: 0.1}, "doc_id", seed=7).toPandas()
    frac = st.groupby("grp").size() / 5000
    assert abs(frac.get(0, 0) - 0.5) < 0.04 and abs(frac.get(1, 0) - 0.1) < 0.03
    assert 2 not in frac.index and 3 not in frac.index  # absent keys -> 0

    tk = top_k_per_key(df, "grp", 100, "doc_id").groupBy("grp").count().toPandas()
    assert (tk["count"] == 100).all()
    # order_col selection takes the BEST k
    best = top_k_per_key(df, "grp", 3, "doc_id", order_col="doc_id").toPandas()
    assert set(best[best.grp == 0].doc_id) == {19996, 19992, 19988}


def test_pack_sequences_next_fit(spark):
    import numpy as np
    import pandas as pd

    from chronon_spark.operators.packing import pack_sequences, pack_stats

    rng = np.random.RandomState(13)
    pdf = pd.DataFrame(
        {"doc_id": np.arange(3000), "n_tok": rng.randint(50, 1500, 3000)}
    )
    pdf.loc[5, "n_tok"] = 9000  # oversize doc
    df = spark.createDataFrame(pdf)
    MAX = 4096
    packed = pack_sequences(df, "doc_id", "n_tok", MAX, n_shards=8).toPandas()
    assert len(packed) == 3000
    assert packed[packed.id == 5].oversize.iloc[0]

    # next-fit invariants per shard: ids ascending within (shard, bin)
    # order; no bin exceeds MAX unless it holds a single oversize doc
    stats = (
        pack_stats(
            pack_sequences(df, "doc_id", "n_tok", MAX, n_shards=8), MAX
        ).toPandas()
    )
    over = stats[stats.tokens > MAX]
    assert (over.docs == 1).all()
    # utilization sanity: mean fill of multi-doc bins is high
    multi = stats[stats.docs > 1]
    assert multi.fill_ratio.mean() > 0.7

    # exact semantics vs a local reference implementation
    for shard, grp in packed.groupby("shard"):
        grp = grp.sort_values("id").reset_index(drop=True)
        cur_bin, fill = 0, 0
        for r in grp.itertuples():
            if fill > 0 and fill + r.tokens > MAX:
                cur_bin, fill = cur_bin + 1, 0
            fill += r.tokens
            assert r.bin == cur_bin, (shard, r.id)

    # determinism across partitionings
    packed2 = pack_sequences(
        df.repartition(23), "doc_id", "n_tok", MAX, n_shards=8
    ).toPandas()
    a = packed.sort_values("id").reset_index(drop=True)
    b = packed2.sort_values("id").reset_index(drop=True)
    assert (a[["id", "shard", "bin"]].to_numpy() == b[["id", "shard", "bin"]].to_numpy()).all()


def test_benchmark_contamination(spark):
    """Docs sharing a k-gram with the eval set are flagged; clean docs are
    not; decontaminate drops exactly the flagged set."""
    import pandas as pd

    from chronon_spark.operators.dedup import benchmark_contamination, decontaminate

    eval_df = spark.createDataFrame(
        pd.DataFrame({"text": ["the quick brown fox jumps over the lazy dog"]})
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "prefix words the quick brown fox jumps over the lazy dog suffix",
                    "completely different content with no overlap at all here",
                    "quick brown fox jumps over the lazy",  # shares 4-grams? k=4 window
                ],
            }
        )
    )
    got = benchmark_contamination(corpus, eval_df, "doc_id", k=4).toPandas().set_index("id")
    assert got.loc[1, "contaminated"] and got.loc[1, "n_hits"] >= 1
    assert not got.loc[2, "contaminated"] and got.loc[2, "n_hits"] == 0
    assert got.loc[3, "contaminated"]  # eval 4-grams appear verbatim
    kept = decontaminate(corpus, eval_df, "doc_id", k=4).toPandas()
    assert set(kept.doc_id) == {2}


def test_train_val_test_split(spark):
    from chronon_spark.operators.sampling import train_val_test_split

    df = spark.range(0, 50_000).withColumnRenamed("id", "doc_id")
    out = train_val_test_split(df, "doc_id", seed=9).toPandas()
    sizes = out.groupby("split").size()
    # every row assigned exactly one split; proportions within hash variance
    assert sizes.sum() == 50_000
    assert abs(sizes["train"] - 45_000) < 600
    assert abs(sizes["val"] - 2_500) < 300
    assert abs(sizes["test"] - 2_500) < 300
    # stable across partitionings (Bernoulli sample is not)
    out2 = (
        train_val_test_split(df.repartition(17), "doc_id", seed=9)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (out.sort_values("doc_id").reset_index(drop=True) == out2).all().all()


def test_temperature_mix_damps_head_groups(spark):
    from chronon_spark.operators.sampling import temperature_mix

    df = (
        spark.range(0, 40_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 20 < 16, "en")   # 80%
            .when(F.col("doc_id") % 20 < 19, "de")    # 15%
            .otherwise("sw"),                          # 5%
        )
    )
    # alpha=1: natural distribution — everything kept
    assert temperature_mix(df, "lang", 1.0, "doc_id").count() == 40_000
    # alpha=0: uniform target — every group ~ the smallest (2000)
    uni = temperature_mix(df, "lang", 0.0, "doc_id", seed=5).toPandas()
    mix = uni.groupby("lang").size()
    assert mix["sw"] == 2000  # binding group kept whole
    assert abs(mix["en"] - 2000) < 250 and abs(mix["de"] - 2000) < 250
    # alpha=0.5: between natural and uniform, order preserved
    mid = temperature_mix(df, "lang", 0.5, "doc_id", seed=5).toPandas()
    m = mid.groupby("lang").size()
    assert m["sw"] == 2000 and 2000 < m["de"] < 6000 and m["en"] > m["de"]


def test_temperature_mix_token_weighted(spark):
    """weight_col measures group mass as sum(weight): a group with FEW
    docs but MANY tokens is the head under token weighting even though
    it is the tail by doc count."""
    from chronon_spark.operators.sampling import temperature_mix

    df = (
        spark.range(0, 12_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 12 < 10, "en")   # 10k docs
            .otherwise("de"),                          # 2k docs
        )
        # de docs are 100x longer: token mass de=200k >> en=10k
        .withColumn(
            "n_tok",
            F.when(F.col("lang") == "de", F.lit(100)).otherwise(F.lit(1)),
        )
    )
    # by DOC count, en is the head -> en downsampled, de kept whole
    by_docs = temperature_mix(df, "lang", 0.0, "doc_id", seed=5).toPandas()
    d = by_docs.groupby("lang").size()
    assert d["de"] == 2000 and d["en"] < 2600

    # by TOKEN mass, de is the head -> de downsampled, en kept whole
    by_tok = temperature_mix(
        df, "lang", 0.0, "doc_id", seed=5, weight_col="n_tok"
    ).toPandas()
    t = by_tok.groupby("lang").size()
    assert t["en"] == 10_000
    # de's acceptance at alpha=0 is mass_en/mass_de = 0.05 -> ~100 of 2000
    assert 50 < t["de"] < 180

    # alpha=1 keeps everything regardless of weighting
    assert temperature_mix(
        df, "lang", 1.0, "doc_id", weight_col="n_tok").count() == 12_000


def test_shuffle_shards_is_permutation(spark):
    from chronon_spark.operators.sampling import shuffle_shards

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(df, "doc_id", n_shards=8, seed=2).toPandas()
    assert len(out) == 10_000 and out.doc_id.nunique() == 10_000
    for s, g in out.groupby("shard"):
        # positions are contiguous ranks 1..n within each shard
        assert sorted(g.pos) == list(range(1, len(g) + 1))
    # the order is shuffled, not id order (vanishingly unlikely otherwise)
    g0 = out[out.shard == 0].sort_values("pos")
    assert list(g0.doc_id) != sorted(g0.doc_id)
    # deterministic across partitionings
    out2 = shuffle_shards(df.repartition(13), "doc_id", n_shards=8, seed=2).toPandas()
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = out2.sort_values("doc_id").reset_index(drop=True)
    assert (a == b).all().all()


def test_rebalance_sample_hits_target_mix(spark):
    from chronon_spark.operators.sampling import rebalance_sample

    df = (
        spark.range(0, 30_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "domain",
            F.when(F.col("doc_id") % 10 < 7, "common.com")  # 70%
            .when(F.col("doc_id") % 10 < 9, "mid.org")      # 20%
            .otherwise("rare.net"),                          # 10%
        )
    )
    out = rebalance_sample(
        df, "domain", {"common.com": 1.0, "rare.net": 1.0}, "doc_id", seed=3
    ).toPandas()
    mix = out.groupby("domain").size()
    # rare.net is the binding group: kept whole; common.com downsampled to
    # match 1:1; mid.org (absent from the mix) dropped entirely
    assert "mid.org" not in mix.index
    assert mix["rare.net"] == 3000
    assert abs(mix["common.com"] - 3000) < 250  # hash-sample variance
    # determinism across partitionings
    out2 = rebalance_sample(
        df.repartition(13), "domain", {"common.com": 1.0, "rare.net": 1.0}, "doc_id", seed=3
    ).toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)


def test_boilerplate_lines_planted(spark):
    from chronon_spark.operators.dedup import boilerplate_lines

    rows = [
        (1, "unique one\ncookie banner\nbody text alpha"),
        (2, "cookie banner\nbody text beta"),
        (3, "COOKIE   banner\nunique three"),  # normalizes to the hot line
        (4, "all alone here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in boilerplate_lines(df, "doc_id").collect()}
    assert out[1]["clean_text"] == "unique one\nbody text alpha"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "body text beta"
    assert out[3]["clean_text"] == "unique three"
    assert out[4]["clean_text"] == "all alone here" and out[4]["n_removed"] == 0


def test_boilerplate_lines_all_removed_and_invariance(spark):
    from chronon_spark.operators.dedup import boilerplate_lines

    rows = [(i, "same line\nsame line") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = boilerplate_lines(df, "doc_id").collect()
    assert all(r["clean_text"] == "" and r["n_removed"] == 2 for r in out)

    # parallelism invariance: identical result at different shuffle widths
    docs = spark.createDataFrame(
        [(i, f"shared header\nbody {i} content\nshared footer") for i in range(20)],
        ["doc_id", "text"],
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                sorted(map(tuple, boilerplate_lines(docs, "doc_id").collect()))
            )
        assert results[0] == results[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_tfidf_top_terms(spark):
    import math

    from chronon_spark.operators.textstats import tfidf_top_terms

    rows = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry date"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_top_terms(df, "doc_id", top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert [t for _, t, _ in sorted(by_doc[1])] == ["apple", "banana"]
    idf = lambda df_, n=3: math.log((n + 1) / (df_ + 1)) + 1  # noqa: E731
    exp = math.floor(2 * idf(1) * 1e6 + 0.5) / 1e6
    assert abs(sorted(by_doc[1])[0][2] - exp) < 1e-9
    # doc 3: cherry tf=3 top; every doc has exactly top_k rows (or fewer terms)
    assert sorted(by_doc[3])[0][1] == "cherry"
    assert all(len(v) == 2 for v in by_doc.values())


def test_blocklist_flags(spark):
    from chronon_spark.operators.textstats import blocklist_flags

    rows = [
        (1, "good.com", "clean words only"),
        (2, "bad.com", "clean words only"),
        (3, "good.com", "contains BADWORD here"),
        (4, "other.org", "fine"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "domain", "text"])
    out = {
        r["doc_id"]: r
        for r in blocklist_flags(
            df, "doc_id", domain_col="domain",
            blocked_domains=("bad.com",), blocked_terms=("badword",),
        ).collect()
    }
    assert out[1]["kept"] and not out[1]["blocked_domain"]
    assert out[2]["blocked_domain"] and not out[2]["kept"]
    assert out[3]["blocked_term"] and not out[3]["kept"]  # normalized lowercase probe
    assert out[4]["kept"]

    # large-list path: domains as a broadcast DataFrame
    doms = spark.createDataFrame([("bad.com",)], ["domain"])
    out2 = {
        r["doc_id"]: r
        for r in blocklist_flags(
            df, "doc_id", domain_col="domain", blocked_domains_df=doms,
            blocked_terms=("badword",),
        ).collect()
    }
    assert out2[2]["blocked_domain"] and not out2[2]["kept"]
    assert out2[1]["kept"]


def test_global_top_k_exact_vs_order_limit(spark):
    """global_top_k must select exactly the orderBy().limit(k) set for
    every k, including boundary partitions and k >= n, while never
    planning a TakeOrderedAndProject over the full frame."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.sampling import global_top_k

    df = spark.range(0, 997).select(
        F.col("id"),
        (F.col("id") * 37 % 101).alias("w"),  # heavy ties -> tiebreak matters
    ).repartition(7)
    sort = [F.desc("w"), F.asc("id")]
    order = [("w", True), ("id", False)]
    for k in (1, 3, 100, 500, 996, 997, 5000):
        want = [tuple(r) for r in df.orderBy(*sort).limit(k).collect()]
        got = [tuple(r) for r in global_top_k(df, k, order, num_partitions=5)
               .orderBy(*sort).collect()]
        assert got == want, f"k={k}: {len(got)} vs {len(want)}"

    # partition-invariance of the selected set
    a = sorted(tuple(r) for r in global_top_k(df, 250, order).collect())
    b = sorted(tuple(r) for r in global_top_k(df.repartition(13), 250, order).collect())
    assert a == b


def test_global_top_k_leaves_no_persisted_rdd(spark):
    """r3 VERDICT Wrong #6: global_top_k must not leave anything
    persisted after it returns — the shuffled selection copy is
    unpersisted before return, and the returned frame is a pure filter
    over the input (assertable both via the persist registry and the
    executed plan)."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.sampling import global_top_k

    df = spark.range(0, 500).select(
        F.col("id"), (F.col("id") * 13 % 97).alias("w")
    )
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for _ in range(3):
        out = global_top_k(df, 50, [("w", True), ("id", False)], num_partitions=4)
        assert out.count() == 50
        after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        assert after <= before, (before, after)
    # the returned plan carries no cached/checkpointed scan — it's a
    # filter over the original lineage
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "inmemory" not in plan and "existingrdd" not in plan, plan[:600]


def test_remove_duplicated_spans(spark):
    """ExactSubstr cut: shared 8-token boilerplate vanishes from every
    doc carrying it; unique prose survives verbatim; short and unique
    docs pass through untouched; a fully-boilerplate doc empties."""
    from chronon_spark.operators.dedup import remove_duplicated_spans

    boiler = "all rights reserved click here to subscribe now"  # 8 tokens
    rows = [
        ("a", f"alpha beta gamma {boiler} delta epsilon"),
        ("b", f"{boiler} zeta eta theta iota kappa"),
        ("c", boiler),                      # fully duplicated -> empty
        ("d", "totally unique document with no shared spans at all"),
        ("e", "short doc"),                 # < k tokens, never flagged
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in remove_duplicated_spans(df, "doc_id", k=8).collect()}

    assert out["a"]["clean_text"] == "alpha beta gamma delta epsilon"
    assert out["a"]["n_removed"] == 8 and out["a"]["flagged"]
    assert out["b"]["clean_text"] == "zeta eta theta iota kappa"
    assert out["c"]["clean_text"] == "" and out["c"]["removed_frac"] == 1.0
    assert out["d"]["clean_text"] == rows[3][1] and not out["d"]["flagged"]
    assert out["e"]["clean_text"] == "short doc" and out["e"]["n_removed"] == 0

    # overlapping dup grams merge into one cut (docs share a 10-token run
    # -> every 8-gram inside it is duplicated; covered union is the run)
    run = "one two three four five six seven eight nine ten"
    df2 = spark.createDataFrame(
        [("x", f"pre {run} post"), ("y", f"{run} tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8")],
        ["doc_id", "text"],
    )
    out2 = {r["id"]: r for r in remove_duplicated_spans(df2, "doc_id", k=8).collect()}
    assert out2["x"]["clean_text"] == "pre post" and out2["x"]["n_removed"] == 10

    # partition invariance
    a = sorted(map(tuple, remove_duplicated_spans(df, "doc_id", k=8).collect()))
    b = sorted(map(tuple,
        remove_duplicated_spans(df.repartition(7), "doc_id", k=8).collect()))
    assert a == b


def test_ccnet_buckets_modes(spark):
    """Rank mode: exact equal-count tiers per language with deterministic
    boundaries. Sketch mode: no sort, tier sizes within sketch error."""
    from chronon_spark.operators.textstats import ccnet_buckets

    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    r = ccnet_buckets(docs, "doc_id", mode="rank")
    per = {(x["lang"], x["bucket"]): x["cnt"] for x in
           r.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    langs = {l for l, _ in per}
    for l in langs:
        sizes = [per.get((l, b), 0) for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (l, sizes)  # ntile remainder rule
        assert sizes == sorted(sizes, reverse=True)      # remainder to lower tiles

    # head has lower perplexity than tail within every language
    agg = {(x["lang"], x["label"]): x["m"] for x in
           r.groupBy("lang", "label").agg(F.avg("mean_neg_logp").alias("m")).collect()}
    for l in langs:
        assert agg[(l, "head")] < agg[(l, "tail")]

    # rank_scaled must equal rank EXACTLY (same ntile semantics, no
    # per-language window partitions)
    rs = sorted(map(tuple, ccnet_buckets(docs, "doc_id", mode="rank_scaled").collect()))
    rr = sorted(map(tuple, r.collect()))
    assert rs == rr

    s = ccnet_buckets(docs, "doc_id", mode="sketch")
    n = docs.count()
    sizes = {x["bucket"]: x["cnt"] for x in
             s.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(sizes) <= {1, 2, 3}
    for b, c in sizes.items():
        assert abs(c - n / 3) < n * 0.2, sizes  # within sketch error at 500 docs


def test_ccnet_buckets_auto_dispatch(spark):
    """mode='auto' must route on measured per-language mass: a language
    whose doc count exceeds hot_lang_bound engages the bounded-slice
    rank_scaled plan (no per-language window partition — the thing that
    serializes English into one task at corpus scale); small corpora keep
    the lazy exact-ntile rank plan. Output identical either way."""
    from chronon_spark.operators import textstats
    from chronon_spark.operators.textstats import ccnet_buckets, clear_lang_mass_cache

    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    clear_lang_mass_cache()

    # planted giant language: bound of 50 docs, 'en' has far more at sf0.001
    hot = ccnet_buckets(docs, "doc_id", mode="auto", hot_lang_bound=50)
    plan_hot = hot._jdf.queryExecution().executedPlan().toString().lower()
    # rank_scaled's signature: NO per-language ntile window anywhere — the
    # eagerly checkpointed range-partitioned table surfaces as a
    # Scan ExistingRDD feeding bounded (pid, lang) row_number windows.
    assert "ntile" not in plan_hot, plan_hot[:800]
    assert "existingrdd" in plan_hot, plan_hot[:800]

    # same corpus under a generous bound: lazy exact ntile window plan
    cold = ccnet_buckets(docs, "doc_id", mode="auto", hot_lang_bound=10**9)
    plan_cold = cold._jdf.queryExecution().executedPlan().toString().lower()
    assert "ntile" in plan_cold, plan_cold[:800]

    # identical output regardless of the routing decision
    assert sorted(map(tuple, hot.collect())) == sorted(map(tuple, cold.collect()))

    # the mass pre-check memoizes per input: same docs frame -> one entry
    assert len(textstats._lang_mass_cache) == 1


def test_remove_duplicated_spans_hypothesis(spark):
    """Randomized corpora from a 3-letter alphabet (maximal cross-doc
    k-gram collision pressure) must match a pure-Python reference that
    recomputes covered-position unions from scratch."""
    from hypothesis import given, settings, strategies as st

    from chronon_spark.operators.dedup import remove_duplicated_spans

    K = 3

    def python_oracle(rows):
        toks = {i: t.lower().split() for i, t in rows}
        grams = {}  # gram -> set of doc ids
        for i, w in toks.items():
            for p in range(len(w) - K + 1):
                grams.setdefault(tuple(w[p:p + K]), set()).add(i)
        out = {}
        for i, w in toks.items():
            cov = set()
            for p in range(len(w) - K + 1):
                if len(grams[tuple(w[p:p + K])]) >= 2:
                    cov.update(range(p, p + K))
            kept = [t for j, t in enumerate(w) if j not in cov]
            out[i] = (" ".join(kept), len(w), len(w) - len(kept))
        return out

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=6, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=8))
    def run(texts):
        rows = [(str(i), t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(5)
        got = {
            r["id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
            for r in remove_duplicated_spans(df, "doc_id", k=K).collect()
        }
        assert got == python_oracle(rows)

    run()


def test_top_k_per_key_salted_exact(spark):
    """Salted two-phase top-k (hot-key path) must equal the single-window
    result exactly — both orderings, with heavy duplicate order values."""
    from chronon_spark.operators.sampling import top_k_per_key

    rows = [(f"d{i}", "hot" if i % 10 else f"g{i}", float(i % 7)) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "score"]).repartition(9)
    for order_col in (None, "score"):
        base = sorted(map(tuple, top_k_per_key(
            df, "grp", 25, "doc_id", order_col=order_col).collect()))
        for s in (2, 16, 64):
            salted = sorted(map(tuple, top_k_per_key(
                df, "grp", 25, "doc_id", order_col=order_col,
                salt_partitions=s).collect()))
            assert salted == base, (order_col, s)


def test_ccnet_buckets_null_lang_kept(spark):
    """NULL lang is its own tier group (SQL PARTITION BY semantics) in
    BOTH modes — a plain equi-join would silently drop those docs."""
    from chronon_spark.operators.textstats import ccnet_buckets

    rows = [(f"d{i}", f"text number {i} with some words here now", None if i % 3 == 0 else "en")
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    for mode in ("rank", "rank_scaled", "sketch"):
        out = ccnet_buckets(df, "doc_id", mode=mode)
        assert out.count() == 30, mode
        nl = out.where(F.col("lang").isNull())
        assert nl.count() == 10, mode
        assert nl.where(F.col("bucket").isNull()).count() == 0, mode


def test_strata_collect_guard_rejects_doc_level_keys(spark, monkeypatch):
    """rebalance_sample/temperature_mix collect one count per stratum to
    the driver; a document-level key must raise a typed error, not OOM
    the driver (r4 VERDICT Wrong #5)."""
    import chronon_spark.operators.sampling as S

    df = spark.range(5000).selectExpr("id AS doc_id", "id AS lang")
    monkeypatch.setattr(S, "MAX_DRIVER_STRATA", 1000)
    S._strata_cache.clear()
    with pytest.raises(ValueError, match="distinct keys exceeds"):
        S.temperature_mix(df, "lang", 0.5, "doc_id")
    with pytest.raises(ValueError, match="hash_sample"):
        S.rebalance_sample(df, "lang", {1: 1.0}, "doc_id")
    # low-cardinality strata still pass (memoized probe)
    ok = spark.range(5000).selectExpr("id AS doc_id", "id % 5 AS lang")
    S._strata_cache.clear()
    assert S.temperature_mix(ok, "lang", 1.0, "doc_id").count() == 5000
