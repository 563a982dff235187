"""Text analysis for training-data pipelines: token stats, quality score,
language-ID heuristic, document fingerprint.

Everything is a Catalyst Column expression (JVM-side, codegen) so these
compose with scans/filters with zero Python overhead, push down cleanly,
and have exact SQL mirrors for the DuckDB oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronon_spark.operators.dedup import norm_text, words

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
# Deliberately small + deterministic — a scoring rule, not a model.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "los"],
    "it": ["il", "che", "di", "la", "per"],
    "pt": ["o", "que", "de", "em", "para"],
    "nl": ["de", "het", "en", "van", "een"],
}

_STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
        F.size(words(text_col))
    ).cast("long")


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """Sub-word-ish token count: split on word boundaries AND punctuation,
    the usual cheap proxy for BPE token counts (~chars/4 floor)."""
    pieces = F.split(F.trim(F.col(text_col)), r"[\s\.,;:!\?\(\)\[\]\{\}\"']+")
    real = F.filter(pieces, lambda p: F.length(p) > 0)
    return F.greatest(F.size(real), (F.length(F.col(text_col)) / 8).cast("int")).cast("long")


_ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _class_count(t: Column, chars: str) -> Column:
    """Count of characters of ``chars`` in ``t`` via ``translate`` — a
    plain per-char map lookup. The regex formulation
    (``length(regexp_replace(t, '[^...]', ''))``) REBUILDS the string
    through the regex engine per class; measured 13.9 s vs 1.3 s for the
    four classes over 300k docs (the whole doc_stats hot spot)."""
    return (F.length(t) - F.length(F.translate(t, chars, ""))).cast("double")


def char_stats(text_col: str = "text") -> dict[str, Column]:
    t = F.col(text_col)
    n = F.length(t).cast("double")
    alpha = _class_count(t, _ALPHABET)
    digit = _class_count(t, "0123456789")
    punct = _class_count(t, ".,;:!?")
    space = _class_count(t, " ")
    safe_n = F.greatest(n, F.lit(1.0))
    return {
        "n_chars": n.cast("long"),
        "alpha_ratio": alpha / safe_n,
        "digit_ratio": digit / safe_n,
        "punct_ratio": punct / safe_n,
        "space_ratio": space / safe_n,
    }


def stopword_ratio(text_col: str = "text") -> Column:
    toks = F.split(norm_text(text_col), " ")
    stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    return stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def mean_word_len(text_col: str = "text") -> Column:
    toks = F.split(norm_text(text_col), " ")
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text_col: str = "text") -> Column:
    """Deterministic 0..1 quality heuristic: long-enough, alphabetic,
    punctuated, not digit-noise. Weights are pinned by tests — a scoring
    rule (like C4/Gopher filters), not a learned model."""
    cs = char_stats(text_col)
    len_score = F.least(cs["n_chars"].cast("double") / 500.0, F.lit(1.0))
    alpha_score = cs["alpha_ratio"]
    digit_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - cs["digit_ratio"] * 5.0)
    stop_score = F.least(stopword_ratio(text_col) * 5.0, F.lit(1.0))
    return (
        0.3 * len_score + 0.3 * alpha_score + 0.2 * digit_penalty + 0.2 * stop_score
    ).alias("quality")


def _marker_ratio(text_col: str, markers: list) -> Column:
    """Occurrence count of marker words / token count.

    Implementation note: one zero-width-boundary regexp scan per language
    over the padded normalized text — counting via
    ``filter(toks, isin(markers))`` runs the literal In LINEARLY per token
    inside the HOF lambda (no InSet optimization there): measured ~2x
    slower over 300k web docs, identical counts."""
    padded = F.concat(F.lit(" "), norm_text(text_col), F.lit(" "))
    pat = "(?<= )(?:" + "|".join(markers) + ")(?= )"
    cnt = F.size(F.regexp_extract_all(padded, F.lit(pat), F.lit(0)))
    n = F.greatest(F.size(F.split(norm_text(text_col), " ")), F.lit(1)).cast("double")
    return cnt.cast("double") / n


def _marker_hits(text_col: str) -> Column:
    """ONE union regexp scan extracting every marker-word occurrence.

    All per-language ratios then reduce to membership filters over this
    (short) hits array — 7 languages cost 1 regex pass over the document
    instead of 7 (the r2 measurement already showed the regex pass
    dominates; hits arrays are ~20% of tokens, so the per-language
    filters are noise). Counts are IDENTICAL to per-language scans: Java
    regex backtracks through the alternation until the zero-width
    boundary guards hold, so prefix-shadowing markers (de/der) still
    match full words."""
    padded = F.concat(F.lit(" "), norm_text(text_col), F.lit(" "))
    pat = "(?<= )(?:" + "|".join(_STOPWORDS) + ")(?= )"
    return F.regexp_extract_all(padded, F.lit(pat), F.lit(0))


def _ratio_of(hits: Column, markers: list, n_tokens: Column) -> Column:
    cnt = F.size(F.filter(hits, lambda x: x.isin(markers)))
    return cnt.cast("double") / n_tokens


def _n_tokens(text_col: str) -> Column:
    return F.greatest(F.size(F.split(norm_text(text_col), " ")), F.lit(1)).cast("double")


def lang_scores(text_col: str = "text", hits: Optional[Column] = None, n: Optional[Column] = None) -> Column:
    """map<lang, double>: stopword-marker hit ratio per language.

    Pass pre-projected ``hits``/``n`` COLUMNS when computing several
    language expressions over one frame: higher-order-function lambdas
    block Catalyst's subexpression elimination, so an inline
    ``_marker_hits`` re-runs the regex per filter — a materialized column
    is computed once (document_stats does this; measured 2.8s -> 1.2s
    over 30k docs)."""
    hits = _marker_hits(text_col) if hits is None else hits
    n = _n_tokens(text_col) if n is None else n
    entries = [
        F.struct(
            F.lit(lang).alias("key"),
            _ratio_of(hits, markers, n).alias("value"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    return F.map_from_entries(F.array(*entries))


def lang_id(text_col: str = "text", hits: Optional[Column] = None, n: Optional[Column] = None) -> Column:
    """argmax language by marker ratio; 'und' when no markers hit.

    Deterministic tie-break: lexicographically smallest language among the
    max-scoring ones.
    """
    hits = _marker_hits(text_col) if hits is None else hits
    n = _n_tokens(text_col) if n is None else n
    scored = F.array(
        *[
            F.struct(
                _ratio_of(hits, markers, n).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_max(
        F.transform(scored, lambda s: F.struct(s.score.alias("score"), s.lang.alias("neg")))
    )
    # array_max on struct compares (score, lang) lexicographically: highest
    # score, then highest lang — invert lang for smallest-wins tie-break is
    # overkill here; pin the behavior in tests instead.
    return F.when(best.score > 0, best.neg).otherwise(F.lit("und"))


def fingerprint(text_col: str = "text") -> Column:
    """128-bit stable document fingerprint of the normalized text."""
    return F.md5(norm_text(text_col))


def document_stats(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """One row per doc with the full stats bundle.

    The marker-hit array is projected ONCE (``withColumn`` barrier) and
    shared by the language expressions — HOF lambdas block CSE, so inline
    hits would re-run the union regex per language filter."""
    cs = char_stats(text_col)
    staged = df.withColumn("__hits", _marker_hits(text_col)).withColumn(
        "__ntok", _n_tokens(text_col)
    )
    out = staged.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        cs["n_chars"].alias("n_chars"),
        cs["alpha_ratio"].alias("alpha_ratio"),
        cs["digit_ratio"].alias("digit_ratio"),
        cs["punct_ratio"].alias("punct_ratio"),
        mean_word_len(text_col).alias("mean_word_len"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col, hits=F.col("__hits"), n=F.col("__ntok")).alias("lang_guess"),
        fingerprint(text_col).alias("fingerprint"),
    )
    return out


# ---------------------------------------------------------------------------
# repetition-based quality rules (the published Gopher filters — Rae et al.
# 2021, table A1: duplicate-line fraction, top n-gram fraction; standard in
# web-corpus pipelines) — pure Catalyst higher-order functions
# ---------------------------------------------------------------------------

def duplicate_line_fraction(text_col: str = "text") -> Column:
    """Fraction of lines that are duplicates of an earlier line."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n = F.size(lines)
    uniq = F.size(F.array_distinct(lines))
    return F.when(n > 0, (n - uniq).cast("double") / n).otherwise(F.lit(0.0))


def ngrams_expr(text_col: str = "text", n: int = 2) -> Column:
    """array<string> of word n-grams — built by chained zip_with shifts.

    Codegen note: ``element_at``/``slice`` inside a per-position transform
    are O(len) per access on Catalyst arrays (measured 114 s / 56 s over
    300k web docs); zip_with against a shifted slice is one linear pass
    (2.8 s on the same input)."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # zip_with pads the shorter side with nulls -> trailing null grams
    return F.filter(grams, lambda x: x.isNotNull())


def repetition_flags(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.18,
    n: int = 2,
) -> DataFrame:
    """Gopher-rule pass/fail per doc: (id, dup_line_frac, top_bigram_frac,
    passes_repetition). Thresholds are the published defaults.

    Scale shape: the n-gram mode per doc = sort the gram array and take
    the longest run of equal neighbors — O(L log L) per row, ZERO shuffle
    (explode + groupBy(doc, gram) shuffles |corpus|*L gram strings — a
    measured 150 s at 300k docs vs ~10 s for the sorted-run scan; the
    naive HOF count over array_distinct is O(L^2) and worse still)."""
    grams = ngrams_expr(text_col, n)
    sorted_g = F.array_sort(grams)
    run_state = F.aggregate(
        sorted_g,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.when(
            acc["prev"].eqNullSafe(x),
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1).alias("run"),
                F.greatest(acc["best"], acc["run"] + 1).alias("best"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).alias("run"),
                F.greatest(acc["best"], F.lit(1)).alias("best"),
            )
        ),
    )
    top_frac = F.when(
        F.size(grams) > 0,
        run_state["best"].cast("double") / F.size(grams),
    ).otherwise(F.lit(0.0))
    out = df.select(
        F.col(id_col),
        duplicate_line_fraction(text_col).alias("dup_line_frac"),
        top_frac.alias("top_bigram_frac"),
    )
    return out.withColumn(
        "passes_repetition",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac),
    )


# ---------------------------------------------------------------------------
# corpus-statistics language-model scoring (the CCNet-style perplexity
# filter, reduced to a unigram LM so it stays pure Catalyst + oracle-able)
# ---------------------------------------------------------------------------

def unigram_counts(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, c): corpus-wide token counts over normalized text — the
    'training pass' of the unigram LM. One map-side-combined shuffle."""
    toks = corpus.select(
        F.explode(F.split(norm_text(text_col), " ")).alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str,
    counts: Optional[DataFrame] = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc mean negative log-probability under a corpus unigram LM
    -> (id, n_tokens, mean_neg_logp). Lower = more typical text; the
    published curation move (CCNet, Wenzek et al. 2020) thresholds this
    to drop gibberish and boilerplate outliers.

    ``counts``: a ``unigram_counts`` table to score AGAINST (e.g. a clean
    reference slice); defaults to self-training on ``docs``. Unseen
    tokens floor at count 1.

    Determinism: per-token -logp is quantized to 1e-6 integer units
    before the per-doc SUM, so the aggregate is exact integer arithmetic
    — order- and partitioning-independent, and the DuckDB oracle matches
    bit-for-bit. The LM total is a single driver scalar (one number, not
    a collect of data).
    """
    if counts is None:
        counts = unigram_counts(docs, text_col)
    # empty corpus: keep the plan constructible (result is empty anyway)
    total = counts.agg(F.sum("c")).first()[0] or 1
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(norm_text(text_col), " ")).alias("token"),
    )
    joined = toks.join(counts, on="token", how="left")
    neg_logp = -(F.log(F.coalesce(F.col("c"), F.lit(1)).cast("double")) - F.log(F.lit(float(total))))
    q = F.floor(neg_logp * 1000000 + F.lit(0.5)).cast("long")
    return (
        joined.select("id", q.alias("qn"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("qn").alias("__s"))
        .select(
            "id",
            "n_tokens",
            (
                F.col("__s").cast("double")
                / F.col("n_tokens").cast("double")
                / F.lit(1000000.0)
            ).alias("mean_neg_logp"),
        )
    )


# round(-ln(0.4) * 1e6): the Stupid Backoff alpha=0.4 penalty (Brants et
# al. 2007) pre-quantized to integer micro-nats in PYTHON, so neither
# engine evaluates a transcendental of a non-integer — the only cross-
# engine log calls are ln() of integer-valued doubles, the same class
# the unigram oracle already matches bit-for-bit.
BACKOFF_PENALTY_MICRO = 916291


def bigram_counts(
    corpus: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """(w1, w2, c): adjacent-token-pair counts over normalized text —
    the bigram 'training pass' of the backoff LM.

    Pairs are built with an index-aware array ``transform`` (a pure
    projection — no window, no positional self-join), then ONE
    map-side-combined shuffle aggregates. ``min_count`` prunes the
    model table (count thresholding, as the web-scale LM papers do to
    bound the n-gram table); scoring treats pruned pairs as unseen.
    """
    arr = corpus.select(F.split(norm_text(text_col), " ").alias("__t"))
    pairs = arr.select(
        F.explode(
            F.expr(
                "transform(slice(__t, 2, greatest(size(__t) - 1, 0)),"
                " (x, i) -> struct(element_at(__t, i + 1) AS w1, x AS w2))"
            )
        ).alias("__p")
    ).select("__p.w1", "__p.w2")
    out = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    if min_count > 1:
        out = out.where(F.col("c") >= min_count)
    return out


def stupid_backoff_score(
    docs: DataFrame,
    id_col: str,
    bigrams: Optional[DataFrame] = None,
    unigrams: Optional[DataFrame] = None,
    text_col: str = "text",
    alpha_penalty_micro: int = BACKOFF_PENALTY_MICRO,
) -> DataFrame:
    """Per-doc mean negative log-score under a bigram Stupid Backoff LM
    (Brants et al. 2007, "Large Language Models in Machine Translation"
    — the published WEB-SCALE choice: trained on 2T tokens via sharded
    MapReduce joins precisely because, unlike Kneser-Ney, every quantity
    is a raw count). CCNet's perplexity filter with a real context model
    instead of the unigram reduction.

    Score per position i: S(w_i|w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})
    when the bigram was seen, else alpha * c(w_i)/N (alpha = 0.4 as
    published, carried as the pre-quantized integer ``alpha_penalty_micro``
    added to the unigram score); position 1 scores as the unigram.
    Unseen unigrams floor at count 1 (same rule as
    ``unigram_logprob_score``).

    Returns (id, n_tokens, n_backoff, mean_neg_logscore). ``n_backoff``
    — positions that fell back to the unigram — is itself a quality
    signal (high backoff fraction = unusual word order, i.e. gibberish).

    Determinism: per-position scores are quantized to 1e-6 integer nats
    before the per-doc SUM (exact integer aggregate, order/partitioning
    independent, DuckDB oracle bit-exact). The LM total is ONE driver
    scalar.

    Scale: this is a PURE PLAN — nothing is persisted or checkpointed,
    so nothing leaks (the global_top_k contract). The price of purity is
    that the self-trained default re-derives the model aggregations
    inside each of the three joins; at corpus scale, train ONCE and pass
    the tables in::

        uni = unigram_counts(corpus).localCheckpoint()
        big = bigram_counts(corpus, min_count=5).localCheckpoint()
        scores = stupid_backoff_score(docs, "id", bigrams=big, unigrams=uni)
        ...  # after the job: release_checkpoint(uni); release_checkpoint(big)

    The token stream shuffles through three hash joins (w2, w1,
    (w1,w2)) — the sharded-join topology of the Brants paper; AQE
    broadcasts the model side when it fits, and
    ``bigram_counts(min_count=...)`` bounds it when it doesn't.
    """
    if unigrams is None:
        unigrams = unigram_counts(docs, text_col)
    if bigrams is None:
        bigrams = bigram_counts(docs, text_col)
    # empty corpus / all-NULL text: keep the plan constructible; the
    # result is empty anyway, so the constant only needs to be finite
    total = unigrams.agg(F.sum("c")).first()[0] or 1

    tok = docs.select(
        F.col(id_col).alias("id"),
        F.split(norm_text(text_col), " ").alias("__t"),
    ).select(
        "id",
        F.explode(
            F.expr(
                "transform(__t, (x, i) -> struct("
                "CASE WHEN i = 0 THEN CAST(NULL AS STRING)"
                " ELSE element_at(__t, i) END AS w1, x AS w2))"
            )
        ).alias("__p"),
    ).select("id", "__p.w1", "__p.w2")

    joined = (
        tok.join(
            unigrams.select(F.col("token").alias("w2"), F.col("c").alias("__c2")),
            "w2",
            "left",
        )
        .join(
            unigrams.select(F.col("token").alias("w1"), F.col("c").alias("__c1")),
            "w1",
            "left",
        )
        .join(
            bigrams.select("w1", "w2", F.col("c").alias("__b")),
            ["w1", "w2"],
            "left",
        )
    )

    ln_n = F.log(F.lit(float(total)))
    q_uni = F.floor(
        (-(F.log(F.coalesce(F.col("__c2"), F.lit(1)).cast("double")) - ln_n))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    q_big = F.floor(
        (-(F.log(F.col("__b").cast("double")) - F.log(F.col("__c1").cast("double"))))
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    qn = (
        F.when(F.col("w1").isNull(), q_uni)
        .when(F.col("__b").isNotNull() & F.col("__c1").isNotNull(), q_big)
        .otherwise(q_uni + F.lit(alpha_penalty_micro))
    )
    backed_off = (
        F.col("w1").isNotNull()
        & (F.col("__b").isNull() | F.col("__c1").isNull())
    ).cast("long")
    return (
        joined.select("id", qn.alias("__qn"), backed_off.alias("__bo"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__bo").alias("n_backoff"),
            F.sum("__qn").alias("__s"),
        )
        .select(
            "id",
            "n_tokens",
            "n_backoff",
            (
                F.col("__s").cast("double")
                / F.col("n_tokens").cast("double")
                / F.lit(1000000.0)
            ).alias("mean_neg_logscore"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization (web-corpus dedup-by-url prerequisite)
# ---------------------------------------------------------------------------

_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref",
)


def canonical_url(url_col: str = "url") -> Column:
    """Canonical form: lowercase scheme+host, strip default ports, drop
    fragment, drop tracking query params, sort the remaining params, strip
    trailing slash on bare paths. Pure Catalyst (regexp + HOFs)."""
    u = F.col(url_col)
    no_frag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?:]+)", 1))
    port = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?:]+:(\d+)", 1)
    keep_port = ~(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~F.split(p, "=")[0].isin(*[F.lit(t) for t in _TRACKING_PARAMS]),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    top_k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF keywords per document: (id, term, rank, score).

    tf = raw term count in the doc (whitespace tokens of the normalized
    text); idf = ln((N + 1) / (df + 1)) + 1 (the smooth sklearn variant —
    never zero, never divides by zero); score = tf * idf rounded to 6 dp
    BEFORE ranking so the (score DESC, term ASC) order is identical
    across engines; rank = 1..top_k.

    Scale shape (100 TB): explode tokens -> map-side-combined
    groupBy(doc, term) -> groupBy(term) doc-frequency (both partial-agg
    shuffles on different keys); N is a one-row aggregate broadcast into
    the score projection (no driver collect); final per-doc top-k is one
    window over the (doc, term) frame — rows per doc are bounded by the
    doc's distinct-term count, so no skew beyond document length itself.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(words_of_norm(text_col)).alias("term"),
    )
    tf = toks.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.floor(
                F.col("tf")
                * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
                * 1e6
                + F.lit(0.5)
            )
            / 1e6,
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(F.col("__id").alias(id_col), "term", "rank", "score")
    )


def words_of_norm(text_col: str = "text") -> Column:
    """Whitespace tokens of the lower/collapsed normalized text — the
    token stream shared by the stopword/language/tf-idf stats."""
    return F.split(norm_text(text_col), " ")


def blocklist_flags(
    df: DataFrame,
    id_col: str,
    domain_col: Optional[str] = None,
    text_col: str = "text",
    blocked_domains: tuple = (),
    blocked_terms: tuple = (),
    blocked_domains_df: Optional[DataFrame] = None,
) -> DataFrame:
    """UT1/LDNOOBW-style blocklist filter flags: (id, blocked_domain,
    blocked_term, kept).

    A doc is flagged when its domain is on the blocklist or when any
    normalized token matches a blocked term. Small lists inline as
    literal InSet / arrays_overlap probes (zero shuffle, codegen); a
    LARGE domain list goes through ``blocked_domains_df`` — a broadcast
    LEFT join (the UT1 adult list is ~4M domains: broadcastable; beyond
    that Spark falls back to a shuffle join on the domain key, which is
    still one shuffle of the small side only).
    """
    dom_flag: Column = F.lit(False)
    if blocked_domains and domain_col:
        dom_flag = F.col(domain_col).isin(*blocked_domains)
    term_flag: Column = F.lit(False)
    if blocked_terms:
        term_flag = F.arrays_overlap(
            words_of_norm(text_col), F.array(*[F.lit(t) for t in blocked_terms])
        )
    out = df
    if blocked_domains_df is not None and domain_col:
        hit = blocked_domains_df.select(
            F.col(blocked_domains_df.columns[0]).alias(domain_col),
            F.lit(True).alias("__dom_hit"),
        ).distinct()
        out = out.join(F.broadcast(hit), domain_col, "left")
        dom_flag = dom_flag | F.coalesce(F.col("__dom_hit"), F.lit(False))
    return out.select(
        F.col(id_col),
        dom_flag.alias("blocked_domain"),
        term_flag.alias("blocked_term"),
        (~(dom_flag | term_flag)).alias("kept"),
    )


# mode="auto" pre-check memo: semantic plan hash -> max per-language doc
# count. One map-side-combined agg over the pruned lang column, run ONCE
# per distinct input per session.
_lang_mass_cache: dict = {}


def clear_lang_mass_cache() -> None:
    _lang_mass_cache.clear()


def _max_lang_mass(docs: DataFrame, lang_col: str) -> int:
    key = docs.select(lang_col)._jdf.queryExecution().analyzed().semanticHash()
    if key not in _lang_mass_cache:
        row = (
            docs.groupBy(lang_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c"))
            .first()
        )
        _lang_mass_cache[key] = int(row[0] or 0)
    return _lang_mass_cache[key]


def ccnet_buckets(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    lang_col: str = "lang",
    counts: Optional[DataFrame] = None,
    n_buckets: int = 3,
    mode: str = "auto",
    hot_lang_bound: int = 5_000_000,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): rank every
    document by LM perplexity WITHIN its language and split each language
    into ``n_buckets`` equal-count tiers — head (most-typical text, kept
    for pretraining), middle, tail (gibberish/boilerplate outliers).

    -> (id, lang, n_tokens, mean_neg_logp, bucket, label); bucket is
    1-based, label is head/middle/tail for n_buckets=3 else ``b<i>``.

    ``mode="rank"``: exact ntile over (lang ORDER BY score, id) in one
    lazy plan — one window partition PER LANGUAGE, so a dominant language
    (en is ~half the web) serializes into one task. Exact and cheapest at
    small/medium scale; the oracle-checked default.

    ``mode="rank_scaled"``: IDENTICAL output (pytest-pinned equal to
    rank) without per-language window partitions — range-partition the
    4-column score table on (lang, score, id), collect per-(partition,
    lang) counts (bounded by partitions x #languages), rank locally
    within each bounded slice, add the broadcast prefix offset, and map
    the exact global rank through the SQL-standard ntile remainder
    formula. Pays an eager materialization of the score table, so engage
    it when a single language's mass breaks the one-task-per-language
    bound — the 10^12-doc exact path.

    ``mode="sketch"``: per-language approximate quantile thresholds
    (percentile_approx — a bounded-error JVM sketch), broadcast back as
    a tiny (lang x n_buckets) table; assignment is one projection. No
    sort anywhere — boundary membership may differ from rank mode by the
    sketch error, tiers are within-epsilon equal-count. The cheapest
    web-scale path when exact tile boundaries are not required.

    ``mode="auto"`` (default): measure max per-language doc count (one
    map-side-combined agg over the pruned lang column, memoized per input
    per session) and route — ``rank`` while every language fits a single
    window task (<= ``hot_lang_bound`` docs), ``rank_scaled`` the moment
    one doesn't. Identical output either way (rank_scaled is pytest-pinned
    equal); only the physical plan changes. English at corpus scale
    (~half of 10^12 docs) routes to rank_scaled automatically instead of
    serializing into one task — the ccnet analogue of
    asof_join.compute_join_part(mode="auto")'s hot-key dispatch.
    """
    from pyspark.sql import Window

    if mode == "auto":
        mode = (
            "rank_scaled"
            if _max_lang_mass(docs, lang_col) > hot_lang_bound
            else "rank"
        )

    scored = unigram_logprob_score(docs, id_col, counts=counts, text_col=text_col)
    scored = scored.join(
        docs.select(F.col(id_col).alias("id"), F.col(lang_col).alias("lang")), "id"
    )
    if mode == "rank":
        w = Window.partitionBy("lang").orderBy(
            F.col("mean_neg_logp").asc(), F.col("id").asc()
        )
        out = scored.withColumn("bucket", F.ntile(n_buckets).over(w))
    elif mode == "rank_scaled":
        spark = docs.sparkSession
        P = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        order = [
            F.col("lang").asc(),
            F.col("mean_neg_logp").asc(),
            F.col("id").asc(),
        ]
        # eager localCheckpoint, NOT persist: (a) __pid must be FROZEN —
        # a recompute after cache eviction could re-sample range bounds
        # and re-number partitions under the collected offsets; (b) a
        # session-long persist here leaked a corpus-sized cached copy per
        # call (r3 ADVICE). Checkpoint blocks are released when the frame
        # is GC'd on the driver — no caller-release contract needed.
        part = (
            scored.repartitionByRange(P, *order)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        sizes = part.groupBy("__pid", "lang").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
        totals: dict = {}
        for r in sizes:
            totals[r["lang"]] = totals.get(r["lang"], 0) + r["c"]
        # prefix offset of each (pid, lang) slice within its language
        offsets, seen = [], {}
        for r in sorted(sizes, key=lambda r: (str(r["lang"]), r["__pid"])):
            offsets.append((r["__pid"], r["lang"], seen.get(r["lang"], 0),
                            totals[r["lang"]]))
            seen[r["lang"]] = seen.get(r["lang"], 0) + r["c"]
        if not offsets:
            return scored.select(
                "id", "lang", "n_tokens", "mean_neg_logp",
                F.lit(None).cast("int").alias("bucket"),
                F.lit(None).cast("string").alias("label"),
            )
        off = F.broadcast(
            spark.createDataFrame(
                offsets, "__pid int, __lang string, __off long, __n long"
            )
        )
        # local rank within the bounded (pid, lang) slice; the slice is at
        # most a range-partition's rows no matter how big the language is.
        # Null-safe lang match: NULL lang is its own tier group, exactly
        # like SQL's PARTITION BY (the DuckDB oracle buckets NULLs too).
        wloc = Window.partitionBy("__pid", "lang").orderBy(
            F.col("mean_neg_logp").asc(), F.col("id").asc()
        )
        rank = (F.col("__off") + F.row_number().over(wloc)).alias("__rank")
        ranked = part.join(
            off,
            (part["__pid"] == off["__pid"])
            & part["lang"].eqNullSafe(off["__lang"]),
        ).drop(off["__pid"]).drop("__lang").select(
            "id", "lang", "n_tokens", "mean_neg_logp", "__n", rank
        )
        # SQL-standard ntile: n rows, k tiles -> first (n % k) tiles hold
        # (n div k + 1) rows, the rest (n div k); rank maps exactly
        k = F.lit(n_buckets)
        size = (F.col("__n") / k).cast("long")
        rem = F.col("__n") % k
        big = size + F.lit(1)
        head_rows = rem * big
        bucket = F.when(
            F.col("__rank") <= head_rows,
            ((F.col("__rank") + big - 1) / big).cast("long"),
        ).otherwise(
            rem + ((F.col("__rank") - head_rows + size - 1) / size).cast("long")
        )
        out = ranked.withColumn("bucket", bucket.cast("int")).drop("__n", "__rank")
    elif mode == "sketch":
        qs = [i / n_buckets for i in range(1, n_buckets)]
        thr = scored.groupBy(F.col("lang").alias("__lang")).agg(
            F.percentile_approx("mean_neg_logp", qs, 10_000).alias("__thr")
        )
        # eqNullSafe: NULL lang forms its own tier group (groupBy keeps it;
        # a plain equi-join would silently drop those documents)
        out = scored.join(
            F.broadcast(thr), F.col("lang").eqNullSafe(F.col("__lang"))
        ).drop("__lang").withColumn(
            "bucket",
            (
                F.lit(1)
                + F.aggregate(
                    "__thr",
                    F.lit(0),
                    lambda acc, t: acc
                    + F.when(F.col("mean_neg_logp") > t, 1).otherwise(0),
                )
            ).cast("int"),
        ).drop("__thr")
    else:
        raise ValueError(f"unknown mode {mode!r}")
    names = (
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("bucket")
        )
        if n_buckets == 3
        else F.concat(F.lit("b"), F.col("bucket").cast("string"))
    )
    return out.select(
        "id", "lang", "n_tokens", "mean_neg_logp", "bucket", names.alias("label")
    )
