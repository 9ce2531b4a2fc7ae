"""Curation-operator tests: repetition stats, deterministic splits,
PII redaction (pipeline/curate.py)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.pipeline.curate import (
    PII_PATTERNS,
    dataset_split,
    pii_redact,
    repetition_stats,
    split_boundaries,
)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (0, "a b a b c"),          # 2-grams: ab ba ab bc -> top 2/4, dup 2/4
        (1, "x x x x"),            # xx xx xx -> top 3/3, dup 3/3
        (2, "p q r s"),            # all distinct -> top 1/3, dup 0
        (3, "solo"),               # < 2 tokens -> 0 ngrams, zero fracs
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_stats_handcrafted(tiny):
    got = {r["doc_id"]: r for r in repetition_stats(tiny, n=2).collect()}
    assert len(got) == 4  # short docs kept at zero
    assert got[0]["n_ngrams"] == 4
    assert got[0]["top_ngram_frac"] == pytest.approx(0.5)
    assert got[0]["dup_ngram_frac"] == pytest.approx(0.5)
    assert got[1]["n_ngrams"] == 3
    assert got[1]["top_ngram_frac"] == pytest.approx(1.0)
    assert got[1]["dup_ngram_frac"] == pytest.approx(1.0)
    assert got[2]["top_ngram_frac"] == pytest.approx(1 / 3)
    assert got[2]["dup_ngram_frac"] == 0.0
    assert got[3]["n_ngrams"] == 0
    assert got[3]["top_ngram_frac"] == 0.0


def test_repetition_stats_trigram(tiny):
    got = {r["doc_id"]: r for r in repetition_stats(tiny, n=3).collect()}
    assert got[0]["n_ngrams"] == 3  # aba bab abc, all distinct
    assert got[0]["dup_ngram_frac"] == 0.0
    assert got[1]["n_ngrams"] == 2  # xxx xxx
    assert got[1]["dup_ngram_frac"] == pytest.approx(1.0)
    assert got[3]["n_ngrams"] == 0


def test_split_boundaries_values():
    assert split_boundaries([0.9, 0.05, 0.05]) == ["e666", "f333"]
    assert split_boundaries([0.5, 0.5]) == ["8000"]
    with pytest.raises(ValueError):
        split_boundaries([0.5, 0.4])
    with pytest.raises(ValueError):
        split_boundaries([1.2, -0.2])


def test_dataset_split_deterministic_and_calibrated(spark):
    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    out = dataset_split(df, ["train", "val", "test"], [0.9, 0.05, 0.05])
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = 20000
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.9) < 0.01
    assert abs(counts["val"] / n - 0.05) < 0.005
    # same input -> identical assignment (no RNG anywhere)
    a = dict(out.select("doc_id", "split").collect())
    b = dict(dataset_split(df).select("doc_id", "split").collect())
    assert a == b
    # assignment matches the documented md5 protocol exactly
    for doc_id in (0, 1, 12345):
        h = hashlib.md5(f":{doc_id}".encode()).hexdigest()[:4]
        want = "train" if h < "e666" else ("val" if h < "f333" else "test")
        assert a[doc_id] == want


def test_dataset_split_stable_under_growth(spark):
    """Adding documents never reassigns existing ones."""
    small = dataset_split(spark.range(1000).withColumnRenamed("id", "doc_id"))
    big = dataset_split(spark.range(5000).withColumnRenamed("id", "doc_id"))
    s = dict(small.select("doc_id", "split").collect())
    g = dict(big.select("doc_id", "split").collect())
    assert all(g[k] == v for k, v in s.items())


def test_dataset_split_salt_changes_assignment(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = dict(dataset_split(df, salt="a").select("doc_id", "split").collect())
    b = dict(dataset_split(df, salt="b").select("doc_id", "split").collect())
    assert sum(a[k] != b[k] for k in a) > 0


@pytest.mark.parametrize("salt", ["it's", "back\\slash", "\\'", "a\\\\'b''\\n"])
def test_dataset_split_salt_with_quotes_and_backslashes(spark, salt):
    """The salt reaches md5 byte for byte, whatever SQL escapes it holds."""
    df = spark.range(300).withColumnRenamed("id", "doc_id")
    got = dict(dataset_split(df, salt=salt).select("doc_id", "split").collect())
    bounds = split_boundaries([0.9, 0.05, 0.05])
    for doc_id in range(300):
        h = hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:4]
        want = "train" if h < bounds[0] else ("val" if h < bounds[1] else "test")
        assert got[doc_id] == want, (salt, doc_id)


def test_pii_redact_handcrafted(spark):
    rows = [
        (0, "mail me at bob.smith+x@corp.example.org today"),
        (1, "server 192.168.0.1 and 10.0.0.255 are up"),
        (2, "ssn 123-45-6789 phone 555-867-5309 alt 555.867.5309"),
        (3, "clean text with no pii at all"),
        (4, "double a@b.io c@d.io"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert got[0]["n_email"] == 1 and "<EMAIL>" in got[0]["clean_text"]
    assert "bob" not in got[0]["clean_text"]
    assert got[1]["n_ip"] == 2
    assert got[1]["clean_text"] == "server <IP> and <IP> are up"
    assert got[2]["n_ssn"] == 1 and got[2]["n_phone"] == 2
    assert got[2]["clean_text"] == "ssn <SSN> phone <PHONE> alt <PHONE>"
    assert got[3]["clean_text"] == rows[3][1]
    assert all(got[3][f"n_{k}"] == 0 for k, _, _ in PII_PATTERNS)
    assert got[4]["n_email"] == 2


def test_pii_redact_sequential_no_double_count(spark):
    """An IP inside an email's domain is consumed by the email stage
    and must not be re-counted by the ip stage."""
    df = spark.createDataFrame([(0, "x user@10.0.0.1.co y")], ["doc_id", "text"])
    r = pii_redact(df).collect()[0]
    assert r["n_email"] == 1
    assert r["n_ip"] == 0
    assert r["clean_text"] == "x <EMAIL> y"


def test_quality_filter_rules_and_precedence(spark):
    from scalablevectorsearch_spark.pipeline.curate import quality_filter

    # (doc_id, n_tokens, quality_score)
    stats = spark.createDataFrame(
        [
            (0, 100, 0.9),   # ok
            (1, 5, 0.9),     # too_short
            (2, 100, 0.1),   # low_quality
            (3, 100, 0.9),   # top_ngram_repetition (via rep)
            (4, 100, 0.9),   # dup_ngram_repetition (via rep)
            (5, 100, 0.9),   # bad_lang
            (6, 5, 0.1),     # too_short wins over low_quality (first fail)
            (7, 200_000, 0.9),  # too_long
        ],
        ["doc_id", "n_tokens", "quality_score"],
    )
    rep = spark.createDataFrame(
        [
            (0, 0.01, 0.02), (1, 0.01, 0.02), (2, 0.01, 0.02),
            (3, 0.9, 0.02), (4, 0.01, 0.9), (5, 0.01, 0.02),
            (6, 0.9, 0.9), (7, 0.01, 0.02),
        ],
        ["doc_id", "top_ngram_frac", "dup_ngram_frac"],
    )
    lang = spark.createDataFrame(
        [(i, "en" if i != 5 else "de") for i in range(8)],
        ["doc_id", "pred_lang"],
    )
    got = {r["doc_id"]: r for r in quality_filter(stats, rep, lang).collect()}
    want = {
        0: "ok", 1: "too_short", 2: "low_quality",
        3: "top_ngram_repetition", 4: "dup_ngram_repetition",
        5: "bad_lang", 6: "too_short", 7: "too_long",
    }
    for i, reason in want.items():
        assert got[i]["reason"] == reason, (i, got[i]["reason"])
        assert got[i]["keep"] == (reason == "ok")


def test_quality_filter_threshold_boundaries(spark):
    """e4 thresholds are inclusive on the keep side (> / < fail only)."""
    from scalablevectorsearch_spark.pipeline.curate import quality_filter

    stats = spark.createDataFrame([(0, 20, 0.35)], ["doc_id", "n_tokens", "quality_score"])
    rep = spark.createDataFrame([(0, 0.2, 0.12)], ["doc_id", "top_ngram_frac", "dup_ngram_frac"])
    lang = spark.createDataFrame([(0, "en")], ["doc_id", "pred_lang"])
    r = quality_filter(stats, rep, lang).collect()[0]
    assert r["reason"] == "ok" and r["keep"]


def test_repetition_stats_random_differential(spark):
    """200 random docs (varying length, skewed token distribution) vs a
    pure-Python recount — one Spark job, exact equality."""
    import collections

    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(200):
        n = int(rng.integers(0, 30))
        toks = [f"t{int(rng.zipf(1.5)) % 12}" for _ in range(n)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert len(got) == 200
    for i, text in rows:
        toks = text.split() if text.strip() else []
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        c = collections.Counter(grams)
        tot = len(grams)
        assert got[i]["n_ngrams"] == tot, (i, text)
        if tot == 0:
            assert got[i]["top_ngram_frac"] == 0.0
            assert got[i]["dup_ngram_frac"] == 0.0
        else:
            assert got[i]["top_ngram_frac"] == pytest.approx(max(c.values()) / tot)
            dup = sum(v for v in c.values() if v > 1)
            assert got[i]["dup_ngram_frac"] == pytest.approx(dup / tot)
