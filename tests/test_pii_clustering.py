"""Tests for PII redaction and corpus-internal duplicated spans."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------

def test_pii_cascade_counts_and_redaction(spark):
    from chronon_spark.operators.pii import pii_scan

    rows = [
        (1, "mail a@b.io then card 1234-5678-9012-3456 then 555-123-4567"),
        (2, "ssn 123-45-6789 ip 10.0.0.1"),
        (3, "clean text 2026-08-17 with date and number 42"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r["doc_id"]: r for r in pii_scan(df, "doc_id").collect()}

    r1 = out[1]
    assert (r1["n_email"], r1["n_card"], r1["n_phone"]) == (1, 1, 1)
    # cascade: the card's trailing 3-4 digits must NOT also count as phone
    assert r1["n_pii"] == 3
    assert "<EMAIL>" in r1["redacted"] and "<CARD>" in r1["redacted"]
    assert "<PHONE>" in r1["redacted"]
    assert "3456" not in r1["redacted"]

    r2 = out[2]
    assert (r2["n_ssn"], r2["n_ipv4"]) == (1, 1)
    assert r2["redacted"] == "ssn <SSN> ip <IP>"

    r3 = out[3]
    assert not r3["has_pii"] and r3["redacted"] == rows[2][1]


def test_pii_duckdb_parity(spark):
    """The generated oracle SQL and the Spark cascade agree bit-for-bit
    (RE2-safe pattern subset — same pattern text runs in both engines)."""
    from chronon_spark.operators.pii import pii_oracle_sql, pii_scan

    rows = [
        (i, f"user{i}@ex{i % 3}.org called +1 (555) 123-{i % 10000:04d} from "
            f"192.168.{i % 256}.{i % 100} badge {i}")
        for i in range(50)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = (
        pii_scan(spark.createDataFrame(pdf), "doc_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(pii_oracle_sql()).df().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ---------------------------------------------------------------------------
# duplicated spans (internal ExactSubstr signal)
# ---------------------------------------------------------------------------

def test_duplicated_span_flags(spark):
    from chronon_spark.operators.dedup import duplicated_span_flags

    boiler = "all rights reserved contact the webmaster for licensing terms"  # 10 words
    rows = [
        (1, f"unique alpha words one {boiler} tail a"),
        (2, f"other beta content two {boiler} tail b"),
        (3, "completely different text without any shared spans at all here okay"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r["id"]: r for r in duplicated_span_flags(df, "doc_id", k=8).collect()}
    assert out[1]["flagged"] and out[2]["flagged"]
    assert not out[3]["flagged"] and out[3]["n_dup_spans"] == 0
    # the shared 10-word run contributes 3 shared 8-gram positions
    assert out[1]["n_dup_spans"] == out[2]["n_dup_spans"] == 3
    assert 0 < out[1]["dup_span_frac"] < 1


def test_duplicated_span_case_whitespace_insensitive(spark):
    from chronon_spark.operators.dedup import duplicated_span_flags

    span = "the quick brown fox jumps over the lazy dog"
    rows = [(1, span.upper() + "  extra"), (2, span + " other tail words")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r["id"]: r for r in duplicated_span_flags(df, "doc_id", k=8).collect()}
    assert out[1]["flagged"] and out[2]["flagged"]

