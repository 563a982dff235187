"""Web link graph: href extraction, domain edges, integer-exact PageRank.

Why it's here: web-scale curation pipelines rank DOMAINS by link
centrality and use the rank as a document quality prior (the original
Common-Crawl-derived corpora weight by harmonic/PageRank centrality;
domain rank also feeds crawl-frontier prioritisation and seed-list
construction). The reference engine has no graph operator; this module is
part of the training-data surface built on the same DuckDB-oracle
discipline as the rest of the repo.

Design for scale (10^12 pages, ~10^8 domains):
- ``extract_links`` is a pure projection + ``explode`` of a JVM-side
  ``regexp_extract_all`` — zero Python, column pruning reaches the scan
  (only the html column is read), whole-stage codegen end to end.
- ``domain_edges`` is ONE distinct-aggregate shuffle; map-side partial
  aggregation collapses the per-page fan-out (a page links to few
  domains) before the exchange.
- ``domain_pagerank`` iterates rank(t+1) = teleport + d * inflow where
  inflow is a join (edges ⋈ ranks on src) plus a groupBy(dst) SUM.
  Contributions are ADDITIVE, so the sum is map-side combinable — hot
  targets (every page links to wikipedia.org) are absorbed by partial
  aggregation, not a hot reduce task. The ranks table is |domains| rows
  (≪ |edges|); AQE picks broadcast vs SMJ per scale. Each iteration is
  eagerly ``localCheckpoint``-ed (the repo-wide lineage-truncation rule:
  iterative plans otherwise grow exponentially, see
  examples/webtext_curation.py).
- Driver traffic: ONE scalar (the node count) for the whole run; the
  dangling-mass redistribution stays in-plan via a broadcast single-row
  aggregate — no per-iteration collect.

Cross-engine determinism (the DuckDB oracle unrolls every iteration):
all rank arithmetic is integer, in units of ``scale`` (default 1e12):
per-edge share = rank DIV outdeg, teleport = ((100-d)*scale DIV 100)
DIV n, update = teleport + d*(inflow + dangling DIV n) DIV 100 — every
operation is exact integer division on non-negative values, so sums are
order- and partitioning-independent and both engines agree bit-for-bit.
Ranks are reported in scale units; callers wanting probabilities divide
by ``scale`` (total mass is conserved only up to DIV truncation, which
is the documented price of exactness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.checkpoint import release_checkpoint

# href="..." with an absolute http(s) URL; RE2-safe (no lookarounds) so
# the identical pattern text runs in Spark (Java regex) and DuckDB (RE2).
HREF_PATTERN = 'href="(https?://[^"]+)"'
DOMAIN_PATTERN = "^https?://([^/]+)"
# full anchor element: group 1 = absolute href, group 2 = anchor text
ANCHOR_PATTERN = '<a href="(https?://[^"]+)"[^>]*>([^<]*)</a>'

SCALE = 10**12  # rank quantum: 1 == 1e-12 of a node's worth of mass


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    src_domain_col: str = "src_domain",
) -> DataFrame:
    """One row per outgoing href: (src_domain, dst_domain, href).

    ``html_col`` may be string or binary (cast to string — html bytes in
    this repo are ascii-safe markup around utf-8 text). Pure projection +
    explode; no shuffle, no Python.
    """
    href = F.explode(
        F.expr(f"regexp_extract_all(CAST({html_col} AS STRING), '{HREF_PATTERN}', 1)")
    ).alias("href")
    out = df.select(F.col(src_domain_col).alias("src_domain"), href)
    return out.select(
        "src_domain",
        F.regexp_extract("href", DOMAIN_PATTERN, 1).alias("dst_domain"),
        "href",
    )


def domain_edges(links: DataFrame) -> DataFrame:
    """Distinct (src_domain, dst_domain) pairs, self-loops dropped.

    Unweighted edges are the classic domain-graph PageRank input; a
    weighted variant is the same plan with groupBy().count() feeding a
    weight column instead of distinct().
    """
    return (
        links.where(F.col("src_domain") != F.col("dst_domain"))
        .select("src_domain", "dst_domain")
        .distinct()
    )


# Literal subset of the Public Suffix List: the multi-label suffixes a
# registrable domain sits under. The real PSL is ~9k rules and changes
# monthly; a production deployment swaps this tuple for the full list
# (the plan shape — one CASE cascade, zero joins — is unchanged, since
# the list compiles to a literal expression either way). Single-label
# TLDs need no entry: the default branch keeps the last two labels.
PUBLIC_SUFFIXES_2LABEL = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
    "github.io", "blogspot.com",
)


def registered_domain(host_col) -> "F.Column":
    """Registrable ('site-level') domain of a hostname: the label just
    above its public suffix — ``a.b.news.co.uk`` -> ``news.co.uk``,
    ``www.example.com`` -> ``example.com``, bare/1-label hosts pass
    through. Host graphs over-resolve sites (every subdomain a node, so
    blogspot farms dominate); per-SITE graphs and rollups collapse hosts
    with this first.

    Pure Catalyst: split on dots + a literal CASE cascade over
    ``PUBLIC_SUFFIXES_2LABEL`` — no join, no Python, trivially
    SQL-mirrorable. Case-insensitive (hosts are); a ``:port`` (which
    ``DOMAIN_PATTERN`` extraction keeps) and a trailing FQDN dot are
    stripped first, so 'www.example.com:8080' and 'example.com.' roll
    up with their plain forms."""
    h = F.lower(host_col if isinstance(host_col, F.Column) else F.col(host_col))
    h = F.regexp_replace(F.regexp_replace(h, r":\d+$", ""), r"\.$", "")
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    is_2label_suffix = last2.isin(*PUBLIC_SUFFIXES_2LABEL)
    return (
        F.when(n <= 2, h)
        .when(is_2label_suffix & (n >= 3), last3)
        .otherwise(last2)
    )


def extract_anchors(
    df: DataFrame,
    html_col: str = "html",
    src_domain_col: str = "src_domain",
) -> DataFrame:
    """One row per anchor element: (src_domain, dst_domain, anchor).

    regexp_extract_all returns ONE group per match, so the whole
    ``<a ...>text</a>`` element is extracted (group 0) and the href /
    anchor-text groups are re-extracted per element — still a pure
    projection + explode, zero Python, and the identical pattern text
    runs in DuckDB.
    """
    element = F.explode(
        F.expr(
            f"regexp_extract_all(CAST({html_col} AS STRING), '{ANCHOR_PATTERN}', 0)"
        )
    ).alias("el")
    out = df.select(F.col(src_domain_col).alias("src_domain"), element)
    return out.select(
        "src_domain",
        F.regexp_extract(
            F.regexp_extract("el", ANCHOR_PATTERN, 1), DOMAIN_PATTERN, 1
        ).alias("dst_domain"),
        F.regexp_extract("el", ANCHOR_PATTERN, 2).alias("anchor"),
    )


def anchor_top_k(
    anchors: DataFrame,
    k: int = 5,
    salt_partitions: int = 0,
) -> DataFrame:
    """Top-k incoming anchor texts per TARGET domain, by frequency
    (desc, ties to the lexicographically smallest anchor): the classic
    anchor-text quality/topic prior for a domain. Aggregation is
    map-side combinable; the per-domain ranking rides the repo's exact
    salted two-phase top-k (``sampling.top_k_per_key``) so a hot target
    (everything links to wikipedia.org) never pins one task.
    Returns (domain, anchor, n_links, rnk)."""
    from chronon_spark.operators.sampling import top_k_per_key

    counts = (
        anchors.where(F.col("anchor") != "")
        .groupBy(F.col("dst_domain").alias("domain"), "anchor")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    ranked = top_k_per_key(
        counts,
        key_col="domain",
        k=k,
        id_col="anchor",
        order_col="n_links",
        salt_partitions=salt_partitions,
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("domain").orderBy(F.desc("n_links"), F.asc("anchor"))
    )
    return ranked.select("domain", "anchor", "n_links", rnk.alias("rnk"))


def domain_pagerank(
    edges: DataFrame,
    iters: int = 4,
    damping: int = 85,
    scale: int = SCALE,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Damped PageRank over distinct domain edges, integer-exact.

    Returns (domain, rank) with rank in integer ``scale`` units.
    ``damping`` is a percentage (85 == the classic 0.85) so the update
    stays in integer arithmetic. Dangling mass (nodes with no out-edges)
    is redistributed uniformly each iteration, in-plan.

    ``checkpoint_every`` sets the lineage-truncation cadence. The
    default 1 (checkpoint every iteration) is MEASURED, not assumed:
    each iteration consumes ``ranks`` in several places (dangling
    probe, inflow join, node re-join), and Spark does not
    common-subexpression-eliminate DataFrame reuse — with cadence 2 the
    un-checkpointed previous iteration re-executes inside every
    consumer, and the 4-iteration job over a 2400-node graph slowed
    23.7s -> 33.7s at 2 cores. Skipping checkpoints only pays when an
    iteration's output is consumed exactly once, which this recursion
    is not. Results are identical at any cadence (a checkpoint is a
    plan boundary, not a semantic change).
    """
    if not 0 <= damping <= 100:
        raise ValueError(f"damping must be a percentage 0..100, got {damping}")
    spark = edges.sparkSession
    edges = edges.select("src_domain", "dst_domain").persist()
    nodes = outdeg = None
    try:
        nodes = (
            edges.select(F.col("src_domain").alias("domain"))
            .union(edges.select(F.col("dst_domain").alias("domain")))
            .distinct()
            .persist()
        )
        n = nodes.count()  # the ONE driver scalar
        if n == 0:
            return spark.createDataFrame([], "domain string, rank long")
        # persisted: consumed twice per iteration (dangling probe + inflow
        # join) — as a bare plan it would re-aggregate ALL edges 2x/iter
        outdeg = (
            edges.groupBy(F.col("src_domain").alias("domain"))
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .persist()
        )
        teleport = ((100 - damping) * scale // 100) // n

        ranks = nodes.select("domain", F.lit(scale // n).cast("long").alias("rank"))
        ranks = ranks.localCheckpoint()
        last_ckpt = ranks  # the last MATERIALIZED checkpoint (ranks may
        # be a derived plan between cadence points)
        for it in range(iters):
            ranked = ranks.join(outdeg, "domain", "left")
            # dangling mass: single-row aggregate, broadcast into the plan
            dangling = ranked.where(F.col("outdeg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0)).alias("dm")
            )
            inflow = (
                edges.join(
                    ranked.where(F.col("outdeg").isNotNull()).withColumnRenamed(
                        "domain", "src_domain"
                    ),
                    "src_domain",
                )
                .select("dst_domain", F.expr("rank DIV outdeg").alias("share"))
                .groupBy(F.col("dst_domain").alias("domain"))
                .agg(F.sum("share").alias("inflow"))
            )
            ranks = (
                nodes.join(inflow, "domain", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "domain",
                    (
                        F.lit(teleport)
                        + F.expr(
                            f"{damping} * (coalesce(inflow, 0) + dm DIV {n}) DIV 100"
                        )
                    ).cast("long").alias("rank"),
                )
            )
            # lineage truncation on the checkpoint cadence; the
            # SUPERSEDED checkpoint is released once the new one is
            # materialized (dedup's duplicate_clusters pattern) — only
            # the returned frame's |domains|-row checkpoint outlives
            # the call.
            if (it + 1) % checkpoint_every == 0 or it == iters - 1:
                ranks = ranks.localCheckpoint()
                release_checkpoint(last_ckpt)
                last_ckpt = ranks
        return ranks
    finally:
        edges.unpersist()
        if nodes is not None:
            nodes.unpersist()
        if outdeg is not None:
            outdeg.unpersist()


def domain_rollup(
    docs: DataFrame,
    ranks: DataFrame,
    domain_col: str = "domain",
    text_col: str = "text",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-domain corpus prior: the table a curation pipeline joins
    against to weight (or drop) everything a domain contributes.

    Returns (domain, n_docs, dup_docs, mean_chars, rank):
    - dup_docs: docs whose normalized text occurs more than once
      CORPUS-WIDE (a boilerplate/mirror signal — mirrors duplicate
      across domains, so the count is global, not per-domain);
    - mean_chars: integer floor division, cross-engine exact;
    - rank: integer PageRank units from ``ranks`` (domain, rank), 0 for
      domains the link graph never saw.

    Plan: one groupBy on the text hash (map-side combinable; the dup
    table is |distinct texts| rows), one hash join back — AQE broadcasts
    it when small — one per-domain aggregate, one left join against the
    |domains|-row rank table (broadcast at any realistic scale). Bodies
    are hashed once; no text ever crosses an exchange.
    """
    from chronon_spark.operators.dedup import norm_text

    h = docs.select(
        F.col(domain_col).alias("domain"),
        F.md5(norm_text(text_col)).alias("__h"),
        F.col(chars_col).alias("__chars"),
    )
    dup = h.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
    flagged = h.join(dup, "__h").select(
        "domain", "__chars", (F.col("__c") > 1).cast("long").alias("__is_dup")
    )
    per_domain = flagged.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__is_dup").alias("dup_docs"),
        F.expr("sum(__chars) DIV count(1)").alias("mean_chars"),
    )
    return per_domain.join(
        F.broadcast(ranks.select("domain", "rank")), "domain", "left"
    ).select(
        "domain",
        "n_docs",
        "dup_docs",
        "mean_chars",
        F.coalesce("rank", F.lit(0)).cast("long").alias("rank"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 4,
    damping: int = 85,
    scale: int = SCALE,
) -> str:
    """DuckDB oracle: unroll every PageRank iteration as a CTE chain over
    ``edges_sql`` (a query producing distinct, self-loop-free
    (src_domain, dst_domain)). Same integer algebra as the engine —
    DuckDB's ``//`` is the same floor division on non-negative BIGINTs
    as Spark's ``DIV``."""
    # AS MATERIALIZED: same rationale as hits_oracle_sql — every rank
    # level is referenced by 2 CTEs of the next, and DuckDB inlines
    # multiply-referenced CTEs, re-planning ~2^iters copies otherwise.
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src_domain AS domain FROM edges"
        " UNION SELECT dst_domain FROM edges)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT src_domain AS domain, count(*) AS outdeg"
        " FROM edges GROUP BY 1)",
        f"tp AS (SELECT (({100 - damping} * {scale}) // 100) // n AS teleport,"
        f" n FROM nn)",
        f"r0 AS MATERIALIZED (SELECT domain, {scale} // (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f"dm{i} AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0) AS dm FROM {prev} r"
            f" LEFT JOIN outdeg o ON r.domain = o.domain WHERE o.domain IS NULL)"
        )
        parts.append(
            f"in{i} AS MATERIALIZED (SELECT e.dst_domain AS domain,"
            f" sum(r.rank // o.outdeg) AS inflow"
            f" FROM edges e JOIN {prev} r ON e.src_domain = r.domain"
            f" JOIN outdeg o ON e.src_domain = o.domain GROUP BY 1)"
        )
        parts.append(
            # CAST: DuckDB sum(BIGINT) widens to HUGEINT; the engine emits
            # long, so pin the oracle's rank back to BIGINT
            f"r{i} AS MATERIALIZED (SELECT nd.domain,"
            f" CAST((SELECT teleport FROM tp)"
            f" + {damping} * (coalesce(i.inflow, 0)"
            f" + (SELECT dm FROM dm{i}) // (SELECT n FROM nn)) // 100"
            f" AS BIGINT) AS rank"
            f" FROM nodes nd LEFT JOIN in{i} i ON nd.domain = i.domain)"
        )
        prev = f"r{i}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT domain, rank FROM {prev}"


def domain_trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    damping: int = 85,
    scale: int = SCALE,
    checkpoint_every: int = 1,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    PageRank with the teleport vector RESTRICTED to a trusted seed set —
    trust flows out from hand-vetted domains, so spam farms that
    manufacture arbitrary in-link mass (which plain PageRank rewards)
    stay near zero unless a trusted domain eventually links toward them.
    The published web-spam demotion prior; the curation use is weighting
    (or gating) a domain's corpus contribution by trust instead of raw
    centrality.

    ``seeds``: a (domain) frame of trusted domains; entries not present
    in the graph are ignored (standard formulation). Returns
    (domain, rank) in integer ``scale`` units.

    Same integer algebra as ``domain_pagerank`` — teleport AND dangling
    mass redistribute over the |S| seeds instead of all n nodes:
    seed:     rank' = teleport + d * (inflow + dangling DIV s) DIV 100
    non-seed: rank' =            d *  inflow                   DIV 100
    Every operation is exact integer division on non-negative values, so
    the unrolled DuckDB oracle (``trustrank_oracle_sql``) matches
    bit-for-bit. Driver traffic: ONE scalar (the seed count); the seed
    flag rides a broadcast join (|S| rows); per-iteration plans are
    localCheckpoint-ed with the superseded checkpoint released.
    """
    if not 0 <= damping <= 100:
        raise ValueError(f"damping must be a percentage 0..100, got {damping}")
    spark = edges.sparkSession
    edges = edges.select("src_domain", "dst_domain").persist()
    nodes = outdeg = None
    try:
        nodes = (
            edges.select(F.col("src_domain").alias("domain"))
            .union(edges.select(F.col("dst_domain").alias("domain")))
            .distinct()
            .join(
                F.broadcast(seeds.select("domain").distinct()).withColumn(
                    "__seed", F.lit(True)
                ),
                "domain",
                "left",
            )
            .select("domain", F.coalesce("__seed", F.lit(False)).alias("is_seed"))
            .persist()
        )
        s = nodes.where("is_seed").count()  # the ONE driver scalar
        if s == 0:
            raise ValueError("no seed domain appears in the edge set")
        # persisted: consumed twice per iteration, same as domain_pagerank
        outdeg = (
            edges.groupBy(F.col("src_domain").alias("domain"))
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .persist()
        )
        teleport = ((100 - damping) * scale // 100) // s

        ranks = nodes.select(
            "domain",
            "is_seed",
            F.when(F.col("is_seed"), F.lit(scale // s))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank"),
        )
        ranks = ranks.localCheckpoint()
        last_ckpt = ranks  # same cadence contract as domain_pagerank
        for it in range(iters):
            ranked = ranks.join(outdeg, "domain", "left")
            dangling = ranked.where(F.col("outdeg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0)).alias("dm")
            )
            inflow = (
                edges.join(
                    ranked.where(F.col("outdeg").isNotNull()).withColumnRenamed(
                        "domain", "src_domain"
                    ),
                    "src_domain",
                )
                .select("dst_domain", F.expr("rank DIV outdeg").alias("share"))
                .groupBy(F.col("dst_domain").alias("domain"))
                .agg(F.sum("share").alias("inflow"))
            )
            ranks = (
                nodes.join(inflow, "domain", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "domain",
                    "is_seed",
                    F.when(
                        F.col("is_seed"),
                        F.lit(teleport)
                        + F.expr(
                            f"{damping} * (coalesce(inflow, 0) + dm DIV {s}) DIV 100"
                        ),
                    )
                    .otherwise(F.expr(f"{damping} * coalesce(inflow, 0) DIV 100"))
                    .cast("long")
                    .alias("rank"),
                )
            )
            if (it + 1) % checkpoint_every == 0 or it == iters - 1:
                ranks = ranks.localCheckpoint()
                release_checkpoint(last_ckpt)
                last_ckpt = ranks
        # re-checkpoint the two-column projection so the RETURNED frame is
        # itself the one checkpoint that outlives the call (callers release
        # it with release_checkpoint, same contract as domain_pagerank)
        final = ranks.select("domain", "rank").localCheckpoint()
        release_checkpoint(ranks)
        return final
    finally:
        edges.unpersist()
        if nodes is not None:
            nodes.unpersist()
        if outdeg is not None:
            outdeg.unpersist()


def resolve_redirects(
    redirects: DataFrame,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    max_hops: int = 8,
) -> DataFrame:
    """Follow HTTP redirect chains to their final targets — the crawl
    bookkeeping every web corpus needs (Common Crawl records 3xx
    responses as separate WARC entries; dedup-by-URL and link analysis
    want the TERMINAL url). Follows at most ``max_hops`` single steps —
    the crawler convention (browsers/crawlers cap chains and declare
    longer ones, and therefore all cycles, failed.

    Input: one (src_url, dst_url) row per 3xx response. Multiple
    outgoing records per src (recrawl snapshots) are determinized to
    min(dst) — pre-pick the latest crawl upstream when that matters.

    Returns (src_url, final_url, n_hops, status) for every redirecting
    url: ``resolved`` when the terminal has no outgoing redirect within
    the hop budget, ``unresolved`` when it still redirects after
    ``max_hops`` (too deep, or a cycle — a self-loop being the
    degenerate case).

    Scale shape: the redirect table is a small fraction of the crawl
    (≈3-8% of responses), and chains are protocol-short, so the loop is
    ``max_hops`` hash joins of |redirects| rows with per-iteration
    localCheckpoint + release (the repo's iterative-lineage rule);
    resolved rows ride along as no-match left-join rows rather than
    paying an anti-join split each round. Every step is exact string
    algebra — the DuckDB oracle (``redirect_oracle_sql``) unrolls the
    same joins bit-for-bit.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    edges = (
        redirects.groupBy(F.col(src_col).alias("__src"))
        .agg(F.min(dst_col).alias("__next"))
        .persist()
    )
    try:
        state = edges.select(
            F.col("__src").alias("src_url"),
            F.col("__next").alias("final_url"),
            F.lit(1).cast("long").alias("n_hops"),
        ).localCheckpoint()
        for _ in range(max_hops - 1):
            prev = state
            step = state.join(
                edges.withColumnRenamed("__src", "final_url"),
                "final_url",
                "left",
            )
            state = step.select(
                "src_url",
                F.coalesce("__next", F.col("final_url")).alias("final_url"),
                (
                    F.col("n_hops") + F.col("__next").isNotNull().cast("long")
                ).alias("n_hops"),
            ).localCheckpoint()
            release_checkpoint(prev)
        out = state.join(
            edges.select(F.col("__src").alias("final_url")).withColumn(
                "__more", F.lit(True)
            ),
            "final_url",
            "left",
        ).select(
            "src_url",
            "final_url",
            "n_hops",
            F.when(F.col("__more").isNotNull(), F.lit("unresolved"))
            .otherwise(F.lit("resolved"))
            .alias("status"),
        )
        final = out.localCheckpoint()
        release_checkpoint(state)
        return final
    finally:
        edges.unpersist()


def redirect_oracle_sql(edges_sql: str, max_hops: int = 8) -> str:
    """DuckDB oracle: unroll every redirect-follow step as a CTE chain
    over ``edges_sql`` (a query producing (src_url, dst_url))."""
    parts = [
        f"e AS MATERIALIZED (SELECT src_url AS src, min(dst_url) AS next"
        f" FROM ({edges_sql}) GROUP BY 1)",
        "s1 AS MATERIALIZED (SELECT src AS src_url, next AS final_url,"
        " 1 AS n_hops FROM e)",
    ]
    prev = "s1"
    for i in range(2, max_hops + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT s.src_url,"
            f" coalesce(e.next, s.final_url) AS final_url,"
            f" s.n_hops + CASE WHEN e.next IS NULL THEN 0 ELSE 1 END AS n_hops"
            f" FROM {prev} s LEFT JOIN e ON e.src = s.final_url)"
        )
        prev = f"s{i}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT s.src_url, s.final_url, CAST(s.n_hops AS BIGINT) AS n_hops,"
        f" CASE WHEN e.src IS NOT NULL THEN 'unresolved' ELSE 'resolved' END"
        f" AS status"
        f" FROM {prev} s LEFT JOIN e ON e.src = s.final_url"
    )


def trustrank_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    iters: int = 4,
    damping: int = 85,
    scale: int = SCALE,
) -> str:
    """DuckDB oracle: unroll every TrustRank iteration as a CTE chain.
    ``seeds_sql`` produces (domain) rows; like the engine, seeds outside
    the node set are dropped. Same integer algebra, AS MATERIALIZED for
    the same multi-reference reason as ``pagerank_oracle_sql``."""
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src_domain AS domain FROM edges"
        " UNION SELECT dst_domain FROM edges)",
        f"seeds AS MATERIALIZED (SELECT DISTINCT sd.domain FROM ({seeds_sql}) sd"
        " JOIN nodes nd ON nd.domain = sd.domain)",
        "ss AS MATERIALIZED (SELECT count(*) AS s FROM seeds)",
        "outdeg AS MATERIALIZED (SELECT src_domain AS domain, count(*) AS outdeg"
        " FROM edges GROUP BY 1)",
        f"tp AS (SELECT (({100 - damping} * {scale}) // 100) // s AS teleport"
        " FROM ss)",
        f"r0 AS MATERIALIZED (SELECT nd.domain,"
        f" CASE WHEN sd.domain IS NOT NULL THEN {scale} // (SELECT s FROM ss)"
        f" ELSE 0 END AS rank"
        f" FROM nodes nd LEFT JOIN seeds sd ON nd.domain = sd.domain)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f"dm{i} AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0) AS dm FROM {prev} r"
            f" LEFT JOIN outdeg o ON r.domain = o.domain WHERE o.domain IS NULL)"
        )
        parts.append(
            f"in{i} AS MATERIALIZED (SELECT e.dst_domain AS domain,"
            f" sum(r.rank // o.outdeg) AS inflow"
            f" FROM edges e JOIN {prev} r ON e.src_domain = r.domain"
            f" JOIN outdeg o ON e.src_domain = o.domain GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT nd.domain,"
            f" CAST(CASE WHEN sd.domain IS NOT NULL THEN (SELECT teleport FROM tp)"
            f" + {damping} * (coalesce(i.inflow, 0)"
            f" + (SELECT dm FROM dm{i}) // (SELECT s FROM ss)) // 100"
            f" ELSE {damping} * coalesce(i.inflow, 0) // 100 END"
            f" AS BIGINT) AS rank"
            f" FROM nodes nd LEFT JOIN in{i} i ON nd.domain = i.domain"
            f" LEFT JOIN seeds sd ON nd.domain = sd.domain)"
        )
        prev = f"r{i}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT domain, rank FROM {prev}"


HITS_SCALE = 10**9  # smaller than PageRank's SCALE: per-node mass sums
# over in/out-neighborhoods before renormalization, so edges*scale must
# stay < 2^63 — 1e9 leaves headroom for ~10^9-edge domain graphs.


def domain_hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """HITS hubs/authorities over distinct domain edges, integer-exact.

    Kleinberg's update (authority = sum of in-neighbor hub scores, hub =
    sum of out-neighbor authority scores) with L1 renormalization each
    half-step — expressed exactly like ``domain_pagerank``: one
    join + map-side-combinable SUM per half-step, the normalizer as a
    broadcast single-row aggregate (ZERO per-iteration driver collects),
    ``localCheckpoint`` lineage truncation per step with deterministic
    release of superseded checkpoints.

    Integer algebra, cross-engine exact (DuckDB oracle unrolls the
    iterations — ``hits_oracle_sql``): renormalize by FLOOR-dividing by
    ``greatest(1, total DIV scale)`` — divide-only, no multiply, so
    nothing overflows and both engines agree bit-for-bit. Scores are in
    ``scale`` units, ~L1-normalized to ``scale`` total per side (up to
    truncation). Returns (domain, hub, authority); nodes the graph never
    points at (or from) score 0.
    """
    if iters < 1:
        raise ValueError("HITS needs at least one iteration")
    spark = edges.sparkSession
    edges = edges.select("src_domain", "dst_domain").persist()
    try:
        nodes = (
            edges.select(F.col("src_domain").alias("domain"))
            .union(edges.select(F.col("dst_domain").alias("domain")))
            .distinct()
            .localCheckpoint()
        )
        hubs = nodes.select(
            "domain", F.lit(scale).cast("long").alias("hub")
        ).localCheckpoint()
        auth = None
        for it in range(iters):
            prev_hubs, prev_auth = hubs, auth
            a_raw = (
                edges.join(
                    hubs.withColumnRenamed("domain", "src_domain"), "src_domain"
                )
                .groupBy(F.col("dst_domain").alias("domain"))
                .agg(F.sum("hub").alias("a_raw"))
            )
            sa = a_raw.agg(F.coalesce(F.sum("a_raw"), F.lit(0)).alias("s"))
            auth = (
                a_raw.crossJoin(F.broadcast(sa))
                .select(
                    "domain",
                    F.expr(f"a_raw DIV greatest(1, s DIV {scale})")
                    .cast("long")
                    .alias("authority"),
                )
                .localCheckpoint()
            )
            h_raw = (
                edges.join(
                    auth.withColumnRenamed("domain", "dst_domain"), "dst_domain"
                )
                .groupBy(F.col("src_domain").alias("domain"))
                .agg(F.sum("authority").alias("h_raw"))
            )
            sh = h_raw.agg(F.coalesce(F.sum("h_raw"), F.lit(0)).alias("s"))
            hubs = (
                h_raw.crossJoin(F.broadcast(sh))
                .select(
                    "domain",
                    F.expr(f"h_raw DIV greatest(1, s DIV {scale})")
                    .cast("long")
                    .alias("hub"),
                )
                .localCheckpoint()
            )
            release_checkpoint(prev_hubs)
            release_checkpoint(prev_auth)
        # fold the three live checkpoints (nodes, final hubs, final auth)
        # into ONE |domains|-row result checkpoint and release them — same
        # storage contract as pagerank: one checkpoint outlives the call,
        # the caller may release_checkpoint() it.
        out = (
            nodes.join(hubs, "domain", "left")
            .join(auth, "domain", "left")
            .select(
                "domain",
                F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                F.coalesce("authority", F.lit(0)).cast("long").alias("authority"),
            )
            .localCheckpoint()
        )
        release_checkpoint(nodes)
        release_checkpoint(hubs)
        release_checkpoint(auth)
        return out
    finally:
        edges.unpersist()


def hits_oracle_sql(
    edges_sql: str,
    iters: int = 3,
    scale: int = HITS_SCALE,
) -> str:
    """DuckDB oracle for :func:`domain_hits`: every half-step unrolled as
    a CTE, identical divide-only renormalization (DuckDB ``//`` ==
    Spark ``DIV`` on non-negative integers; HUGEINT sums are pinned back
    to BIGINT after the division)."""
    # AS MATERIALIZED: DuckDB inlines CTEs referenced more than once,
    # and every HITS level is referenced 2x by the next — inlined, the
    # optimizer sees ~4^iters copies of the join tree and planning time
    # explodes. Materializing pins each level to ONE evaluation.
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src_domain AS domain FROM edges"
        " UNION SELECT dst_domain FROM edges)",
        f"h0 AS MATERIALIZED (SELECT domain, CAST({scale} AS BIGINT) AS hub FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT e.dst_domain AS domain, sum(h.hub) AS a_raw"
            f" FROM edges e JOIN {prev_h} h ON e.src_domain = h.domain GROUP BY 1)"
        )
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT domain, CAST(a_raw // greatest(1,"
            f" (SELECT coalesce(sum(a_raw), 0) FROM ar{i}) // {scale})"
            f" AS BIGINT) AS authority FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT e.src_domain AS domain, sum(a.authority) AS h_raw"
            f" FROM edges e JOIN a{i} a ON e.dst_domain = a.domain GROUP BY 1)"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT domain, CAST(h_raw // greatest(1,"
            f" (SELECT coalesce(sum(h_raw), 0) FROM hr{i}) // {scale})"
            f" AS BIGINT) AS hub FROM hr{i})"
        )
        prev_h = f"h{i}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT n.domain, coalesce(h.hub, 0) AS hub,"
        f" coalesce(a.authority, 0) AS authority"
        f" FROM nodes n LEFT JOIN h{iters} h ON n.domain = h.domain"
        f" LEFT JOIN a{iters} a ON n.domain = a.domain"
    )


HARMONIC_SCALE = 12_000  # divisible by 1..4 (and most small d): 1/d stays
# integer-exact for the distances that dominate harmonic mass.


def harmonic_centrality(
    edges: DataFrame,
    max_dist: int = 4,
    mode: str = "exact",
    scale: int = HARMONIC_SCALE,
) -> DataFrame:
    """Truncated harmonic centrality — the ranking Common Crawl publishes
    for its host/domain graphs (harmonic centrality, computed there with
    HyperBall; Boldi & Vigna, "Axioms for centrality" / "HyperANF").

    ``harmonic(v) = Σ_{u reachable from v, 0 < d(v,u) <= max_dist}
    1/d(v,u)`` in integer ``scale`` units (``scale DIV d`` — exact for
    d | scale). Pass REVERSED edges to score incoming reachability (the
    usual centrality orientation: who can reach me).

    Two modes, one API:
    - ``exact``: all-sources BFS as an iterated frontier join — frontier
      ⋈ edges, anti-join the seen set, per-level ``localCheckpoint`` with
      deterministic release. Materializes Σ|ball| rows: the ORACLE path
      (cross-engine bit-exact vs a recursive-CTE SQL) and fine up to
      millions of (source, reached) pairs.
    - ``hll``: HyperBall proper — per-node HLL sketch of the ball,
      iterated as one join + ``hll_union_agg`` per level (sketch bytes
      ≪ ball rows; the 10^8-domain scale path). Returns the same
      columns with APPROXIMATE counts/harmonic (relative error ~1.6% at
      the default lgK=12); deterministic for a fixed input, but not
      cross-engine-exact — driver oracles pin the exact mode, pytest
      pins hll within tolerance of exact.

    Returns (domain, reached, harmonic) — ``reached`` excludes self.
    """
    if mode not in ("exact", "hll"):
        raise ValueError(f"mode must be 'exact' or 'hll', got {mode!r}")
    edges = edges.select("src_domain", "dst_domain").persist()
    try:
        nodes = (
            edges.select(F.col("src_domain").alias("domain"))
            .union(edges.select(F.col("dst_domain").alias("domain")))
            .distinct()
            .localCheckpoint()
        )
        if mode == "exact":
            return _harmonic_exact(edges, nodes, max_dist, scale)
        return _harmonic_hll(edges, nodes, max_dist, scale)
    finally:
        edges.unpersist()


def _harmonic_exact(edges, nodes, max_dist: int, scale: int) -> DataFrame:
    # seen: (domain, u, d) = u reachable from domain at min distance d
    seen = nodes.select(
        "domain", F.col("domain").alias("u"), F.lit(0).cast("int").alias("d")
    ).localCheckpoint()
    frontier = seen
    for t in range(1, max_dist + 1):
        prev_seen, prev_frontier = seen, frontier
        cand = (
            frontier.join(
                edges.withColumnRenamed("src_domain", "u"), "u"
            )
            .select("domain", F.col("dst_domain").alias("u"))
            .distinct()
        )
        frontier = (
            cand.join(seen.select("domain", "u"), ["domain", "u"], "left_anti")
            .withColumn("d", F.lit(t).cast("int"))
            .localCheckpoint()
        )
        seen = seen.unionByName(frontier).localCheckpoint()
        release_checkpoint(prev_seen)
        if t > 1:
            release_checkpoint(prev_frontier)
    out = (
        seen.where(F.col("d") > 0)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("reached"),
            F.sum(F.expr(f"{scale} DIV d")).alias("harmonic"),
        )
    )
    out = (
        nodes.join(out, "domain", "left")
        .select(
            "domain",
            F.coalesce("reached", F.lit(0)).cast("long").alias("reached"),
            F.coalesce("harmonic", F.lit(0)).cast("long").alias("harmonic"),
        )
        .localCheckpoint()
    )
    release_checkpoint(seen)
    release_checkpoint(frontier)
    release_checkpoint(nodes)
    return out


def _harmonic_hll(edges, nodes, max_dist: int, scale: int) -> DataFrame:
    # per-node ball sketch; per level: est_t - est_{t-1} new nodes at
    # distance t contribute scale//t each (HyperBall's counter update)
    sk = (
        nodes.groupBy("domain")
        .agg(F.hll_sketch_agg(F.col("domain")).alias("ball"))
        .withColumn("est", F.hll_sketch_estimate("ball"))
        .localCheckpoint()
    )
    harm = nodes.select(
        "domain", F.lit(0.0).alias("h"), F.lit(0).cast("long").alias("reached")
    ).localCheckpoint()
    sk_handle = sk  # the live checkpoint behind the (possibly projected) sk
    for t in range(1, max_dist + 1):
        prev_sk, prev_harm = sk_handle, harm
        nbr = (
            edges.join(
                sk.select(F.col("domain").alias("dst_domain"), "ball"), "dst_domain"
            )
            .groupBy(F.col("src_domain").alias("domain"))
            .agg(F.hll_union_agg("ball").alias("nbr_ball"))
        )
        sk_handle = (
            sk.join(nbr, "domain", "left")
            .select(
                "domain",
                F.when(
                    F.col("nbr_ball").isNull(), F.col("ball")
                ).otherwise(F.hll_union("ball", "nbr_ball")).alias("ball"),
                F.col("est").alias("prev_est"),
            )
            .withColumn("est", F.hll_sketch_estimate("ball"))
            .localCheckpoint()
        )
        harm = (
            harm.join(sk_handle.select("domain", "est", "prev_est"), "domain")
            .select(
                "domain",
                (
                    F.col("h")
                    + F.greatest(F.col("est") - F.col("prev_est"), F.lit(0))
                    * (scale // t)
                ).alias("h"),
                (F.col("reached") + F.greatest(F.col("est") - F.col("prev_est"), F.lit(0))).alias("reached"),
            )
            .localCheckpoint()
        )
        # release the CHECKPOINT handles — rebinding sk to a projection of
        # the checkpoint would make release a silent no-op (the
        # tokenizer-wf leak class from the r3 review)
        sk = sk_handle.drop("prev_est")
        release_checkpoint(prev_sk)
        release_checkpoint(prev_harm)
    out = harm.select(
        "domain",
        F.col("reached").cast("long").alias("reached"),
        F.round(F.col("h")).cast("long").alias("harmonic"),
    ).localCheckpoint()
    release_checkpoint(harm)
    release_checkpoint(sk_handle)
    release_checkpoint(nodes)
    return out


def harmonic_oracle_sql(
    edges_sql: str,
    max_dist: int = 4,
    scale: int = HARMONIC_SCALE,
) -> str:
    """DuckDB oracle for exact-mode :func:`harmonic_centrality`:
    level-synchronous BFS unrolled as MATERIALIZED CTEs (same shape as
    the engine's frontier loop; a recursive CTE would re-visit nodes on
    longer paths, so the unrolled anti-join form mirrors min-distance
    semantics directly)."""
    parts = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src_domain AS domain FROM edges"
        " UNION SELECT dst_domain FROM edges)",
        "s0 AS MATERIALIZED (SELECT domain, domain AS u, 0 AS d FROM nodes)",
    ]
    prev_seen, prev_frontier = "s0", "s0"
    for t in range(1, max_dist + 1):
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT DISTINCT f.domain, e.dst_domain AS u"
            f" FROM {prev_frontier} f JOIN edges e ON f.u = e.src_domain)"
        )
        parts.append(
            f"f{t} AS MATERIALIZED (SELECT c.domain, c.u, {t} AS d FROM c{t} c"
            f" LEFT JOIN {prev_seen} s ON c.domain = s.domain AND c.u = s.u"
            f" WHERE s.u IS NULL)"
        )
        parts.append(
            f"s{t} AS MATERIALIZED"
            f" (SELECT * FROM {prev_seen} UNION ALL SELECT * FROM f{t})"
        )
        prev_seen, prev_frontier = f"s{t}", f"f{t}"
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT n.domain,
   CAST(coalesce(r.reached, 0) AS BIGINT) AS reached,
   CAST(coalesce(r.harmonic, 0) AS BIGINT) AS harmonic
FROM nodes n LEFT JOIN (
  SELECT domain, count(*) AS reached, sum({scale} // d) AS harmonic
  FROM {prev_seen} WHERE d > 0 GROUP BY domain
) r ON n.domain = r.domain"""
    )
