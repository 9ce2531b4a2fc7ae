"""Text-pipeline + dedup tests over the documents table."""

import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.pipeline.dedup import (
    dedup_exact,
    dedup_minhash,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signature,
    perm_coeffs,
    shingle_hashes,
    simhash,
)
from scalablevectorsearch_spark.pipeline.text import (
    doc_fingerprints,
    lang_id,
    text_stats,
)


@pytest.fixture(scope="module")
def docs(documents):
    return documents.select("doc_id", "text")


def test_text_stats_ranges(docs):
    s = text_stats(docs)
    bad = s.filter(
        (F.col("n_tokens") <= 0)
        | (F.col("n_uniq_tokens") > F.col("n_tokens"))
        | (F.col("stopword_ratio") < 0)
        | (F.col("stopword_ratio") > 1)
        | (F.col("quality_score") < 0)
        | (F.col("quality_score") > 1)
    ).count()
    assert bad == 0
    assert s.count() == docs.count()


def test_lang_id_total_and_domain(docs):
    p = lang_id(docs)
    assert p.count() == docs.count()
    langs = {r["pred_lang"] for r in p.select("pred_lang").distinct().collect()}
    assert langs <= {"en", "de", "fr", "es", "zh"}


def test_fingerprints_self_similarity(docs, spark):
    """A document shares all fingerprints with itself, and distinct docs
    share fewer — sanity of the winnowing construction."""
    fp = doc_fingerprints(docs.filter(F.col("doc_id") < 20), k=16, w=8)
    per_doc = fp.groupBy("doc_id").count().collect()
    assert all(r["count"] > 0 for r in per_doc)


def test_dedup_exact_finds_planted_dup(docs):
    dup = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 777).alias("doc_id"), "text"
    )
    out = dedup_exact(docs.unionByName(dup))
    flagged = {r["doc_id"]: r["canonical_id"] for r in out.filter("is_dup").collect()}
    assert flagged == {777: 0}


def test_minhash_finds_planted_neardup(docs, spark):
    """Corrupt one token of doc 0 -> near-dup pair (0, 888) must survive
    banding + verification with high jaccard."""
    base = docs.filter(F.col("doc_id") < 50)
    mutated = base.filter(F.col("doc_id") == 0).select(
        F.lit(888).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    res = dedup_minhash(base.unionByName(mutated), threshold=0.5)
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in res.collect()}
    assert (0, 888) in pairs
    assert pairs[(0, 888)] > 0.8


def test_decontaminate_finds_planted_and_skips_clean(docs, spark):
    """Cross-corpus contamination: a probe that is a (mutated) copy of a
    corpus doc must surface with its source; a disjoint-text probe must
    not; corpus-internal dup pairs must NOT appear (the join is strictly
    cross-corpus)."""
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate

    corpus = docs.filter(F.col("doc_id") < 60)
    contaminated = corpus.filter(F.col("doc_id") == 3).select(
        F.lit(9001).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    clean = spark.createDataFrame(
        [(9002, "qqq www eee rrr ttt yyy uuu iii ooo ppp")], "doc_id long, text string"
    )
    res = decontaminate(corpus, contaminated.unionByName(clean), threshold=0.5)
    rows = {(r["probe_id"], r["doc_id"]): r["jaccard"] for r in res.collect()}
    assert (9001, 3) in rows and rows[(9001, 3)] > 0.8
    assert not any(p == 9002 for p, _ in rows)
    assert all(p in (9001, 9002) for p, _ in rows)  # never corpus-internal


def test_simhash_neardup_banded_join(docs):
    """A one-token-appended copy lands within the hamming budget and the
    banded join finds it; output respects the bound and doc_a < doc_b."""
    from scalablevectorsearch_spark.pipeline.dedup import simhash_neardup

    base = docs.filter(F.col("doc_id") < 40).select(
        "doc_id", F.trim("text").alias("text")
    )
    copy = base.filter(F.col("doc_id") == 5).select(
        F.lit(7005).alias("doc_id"), F.concat("text", F.lit(" zzz")).alias("text")
    )
    out = simhash_neardup(base.unionByName(copy), n_bands=4, max_hamming=3)
    rows = [(r["doc_a"], r["doc_b"], r["hamming"]) for r in out.collect()]
    assert any(a == 5 and b == 7005 for a, b, _ in rows)
    assert all(h <= 3 and a < b for a, b, h in rows)


def test_simhash_neardup_wide_fingerprint(docs):
    """The 60-bit / 15-bit-band variant (the corpus-scale shape: wide
    bands keep buckets ~N/2^15) still finds the planted near-copy, and
    random-text collisions that 8-bit bands admit disappear."""
    from scalablevectorsearch_spark.pipeline.dedup import simhash_neardup

    base = docs.filter(F.col("doc_id") < 60).select(
        "doc_id", F.trim("text").alias("text")
    )
    copy = base.filter(F.col("doc_id") == 5).select(
        F.lit(7005).alias("doc_id"), F.concat("text", F.lit(" zzz")).alias("text")
    )
    out = simhash_neardup(
        base.unionByName(copy), n_bits=60, n_bands=4, max_hamming=3
    ).collect()
    assert any(r["doc_a"] == 5 and r["doc_b"] == 7005 for r in out)


def test_simhash64_xxhash_path(docs):
    """The 64-bit xxhash64 fingerprint (the corpus-scale variant):
    full-width fingerprints exist (some negative — bit 63 is the sign
    bit), and the metamorphic gate (no SQL oracle exists for xxhash64):
    every PLANTED near-dup the 32-bit path verifies is also returned by
    the 64-bit path, while the 64-bit path admits strictly fewer
    spurious (non-planted) pairs — rejecting those is exactly why the
    wide fingerprint exists."""
    from scalablevectorsearch_spark.pipeline.dedup import simhash, simhash_neardup

    base = docs.filter(F.col("doc_id") < 60).select(
        "doc_id", F.trim("text").alias("text")
    )
    planted = {(d, 7000 + d) for d in (5, 11, 23)}
    copies = base.filter(F.col("doc_id").isin(5, 11, 23)).select(
        (F.col("doc_id") + 7000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"),
    )
    both = base.unionByName(copies)

    fp = simhash(both, n_bits=64, hash_fn="xxhash64")
    vals = [r["simhash"] for r in fp.collect()]
    assert len(set(vals)) > 1
    assert any(v < 0 for v in vals), "bit 63 never set — sign-bit path dead"

    # completeness needs hamming < n_bands (pigeonhole): a one-token
    # edit flips ~2x the bits of the 32-bit case, so 8 bands / budget 7
    out64 = simhash_neardup(
        both, n_bits=64, n_bands=8, max_hamming=7, hash_fn="xxhash64"
    ).collect()
    out32 = simhash_neardup(both, n_bits=32, n_bands=4, max_hamming=3).collect()
    pairs64 = {(r["doc_a"], r["doc_b"]) for r in out64}
    pairs32 = {(r["doc_a"], r["doc_b"]) for r in out32}
    assert planted & pairs32 <= pairs64, (
        f"64-bit path missed planted pairs {planted & pairs32 - pairs64}"
    )
    assert planted <= pairs64, f"64-bit path missed {planted - pairs64}"
    # selectivity: the wide fingerprint must not hallucinate MORE
    # spurious pairs than the narrow one
    assert len(pairs64 - planted) <= len(pairs32 - planted)


def test_simhash64_bands_more_selective(docs):
    """16-bit bands (64/4) must admit no more band-bucket collisions
    than 8-bit bands (32/4) on unrelated docs — the whole point of the
    wide fingerprint."""
    from scalablevectorsearch_spark.pipeline.dedup import simhash

    base = docs.filter(F.col("doc_id") < 80).select(
        "doc_id", F.trim("text").alias("text")
    )

    def n_candidates(n_bits, hash_fn):
        fp = simhash(base, n_bits=n_bits, hash_fn=hash_fn)
        w = n_bits // 4
        mask = (1 << w) - 1
        bands = fp.selectExpr(
            "doc_id",
            f"explode(transform(sequence(0, 3), b -> struct(b as band_id,"
            f" (shiftright(simhash, b * {w}) & {mask}L) as bits))) as bk",
        ).select("doc_id", "bk.band_id", "bk.bits")
        a, b = bands.alias("a"), bands.alias("b")
        return a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()

    assert n_candidates(64, "xxhash64") <= n_candidates(32, "md5")


def test_simhash_md5_width_cap():
    import pytest as _pytest

    from scalablevectorsearch_spark.pipeline.dedup import simhash

    with _pytest.raises(ValueError, match="xxhash64"):
        simhash(None, n_bits=64, hash_fn="md5")
    with _pytest.raises(ValueError, match="> 64"):
        simhash(None, n_bits=80, hash_fn="xxhash64")


def test_lsh_is_not_all_pairs(docs):
    """The candidate set must be far smaller than n*(n-1)/2."""
    sh = shingle_hashes(docs)
    sig = minhash_signature(sh, 16)
    cand = lsh_candidate_pairs(sig, 4).count()
    n = docs.count()
    assert cand < n * (n - 1) / 2 * 0.25, f"{cand} candidates for {n} docs"


def test_jaccard_verify_bounds(docs):
    sh = shingle_hashes(docs)
    sig = minhash_signature(sh, 16)
    pairs = lsh_candidate_pairs(sig, 4)
    ver = jaccard_verify(pairs, sh, threshold=0.0)
    bad = ver.filter((F.col("jaccard") < 0) | (F.col("jaccard") > 1)).count()
    assert bad == 0


def test_token_vocabulary_counts_and_cut(docs, spark):
    from scalablevectorsearch_spark.pipeline.text import token_vocabulary

    v = token_vocabulary(docs, top_n=10).collect()
    assert len(v) == 10
    occ = [r["n_occurrences"] for r in v]
    assert occ == sorted(occ, reverse=True)
    assert all(r["n_docs"] <= r["n_occurrences"] for r in v)
    assert [r["rank"] for r in v] == list(range(1, 11))


def test_pack_sequences_matches_naive_prefix(docs, spark):
    """The distributed prefix sum must equal the naive single-machine
    walk, regardless of partitioning; bins average the budget."""
    from scalablevectorsearch_spark.pipeline.pack import pack_sequences

    out = {r["doc_id"]: r for r in pack_sequences(docs, token_budget=300).collect()}
    toks = sorted(
        (r["doc_id"], r["n"])
        for r in docs.selectExpr(
            "doc_id", "size(split(trim(text), '\\\\s+')) as n"
        ).collect()
    )
    run = 0
    for did, n in toks:
        r = out[did]
        assert r["n_tokens"] == n
        assert r["tokens_before"] == run
        assert r["bin_id"] == run // 300
        run += n
    # every bin except possibly the last carries >= budget tokens
    # counting its straddling doc
    n_bins = max(r["bin_id"] for r in out.values()) + 1
    assert n_bins >= run // 300


def test_pack_sequences_rejects_bad_budget(docs):
    from scalablevectorsearch_spark.pipeline.pack import pack_sequences

    with pytest.raises(ValueError, match="positive"):
        pack_sequences(docs, token_budget=0)


def test_perm_coeffs_deterministic():
    assert perm_coeffs(8) == perm_coeffs(8)
    assert len(set(perm_coeffs(16))) == 16


def test_simhash_stable_and_bounded(docs):
    s1 = {r["doc_id"]: r["simhash"] for r in simhash(docs, 32).collect()}
    s2 = {r["doc_id"]: r["simhash"] for r in simhash(docs, 32).collect()}
    assert s1 == s2
    assert all(0 <= v < (1 << 32) for v in s1.values())


def test_dedup_components_transitive_chain(spark):
    """A~B and B~C must collapse to one canonical (min id) even with no
    direct A~C pair; disjoint pairs stay separate components."""
    from scalablevectorsearch_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12), (20, 21)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["canonical_id"]
        for r in dedup_components(pairs).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 12: 1, 20: 20, 21: 20}


def test_dedup_components_long_chain_log_rounds(spark):
    """Pointer jumping converges in O(log diameter) rounds: a 96-node
    path graph (diameter 95) must collapse within 10 rounds, where pure
    min-propagation would need ~95."""
    from scalablevectorsearch_spark.pipeline.dedup import dedup_components

    n = 96
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = dedup_components(pairs, max_iter=10).collect()
    assert len(got) == n
    assert all(r["canonical_id"] == 0 for r in got)


def test_dedup_components_raises_on_nonconvergence(spark):
    """Un-converged labels are wrong canonicals — never a silent
    return value."""
    import pytest as _pytest

    from scalablevectorsearch_spark.pipeline.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=1)


def test_normalize_text_strips_boilerplate(spark):
    from scalablevectorsearch_spark.pipeline.dedup import dedup_exact  # noqa: F401
    from scalablevectorsearch_spark.pipeline.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "Visit https://example.com/page?q=1 NOW"),
            (2, "mail me at a.b@test.org   please"),
            (3, "  Already   Clean  "),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in normalize_text(docs).collect()
    }
    assert got == {1: "visit now", 2: "mail me at please", 3: "already clean"}


# ---------------------------------------------------------------- ngram_jaccard


def test_ngram_jaccard_finds_planted_copies(spark, docs):
    """Exact copies at +10000 must pair with their originals at
    jaccard == 1.0 (winnowing blocking can't miss an identical doc)."""
    from scalablevectorsearch_spark.pipeline.dedup import ngram_jaccard_neardup

    base = docs.limit(30)
    copies = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    res = ngram_jaccard_neardup(base.unionByName(copies), threshold=0.5)
    exact = {
        r["doc_a"]
        for r in res.filter(
            (F.col("doc_b") == F.col("doc_a") + 10000) & (F.col("jaccard") == 1.0)
        ).collect()
    }
    assert exact == {r["doc_id"] for r in base.select("doc_id").collect()}


def test_ngram_jaccard_matches_bruteforce(spark):
    """Fingerprint-blocked result ⊆ brute-force Jaccard over all pairs,
    and every pair the blocking CAN see (docs sharing a >=23-char run)
    is recovered — here: mutated copies sharing long substrings."""
    from scalablevectorsearch_spark.pipeline.dedup import (
        ngram_jaccard_neardup,
        jaccard_verify,
        shingle_hashes,
    )

    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    rows = []
    for i in range(8):
        toks = [words[(i + j) % len(words)] for j in range(12)]
        rows.append((i, " ".join(toks)))
        # near-copy: same prefix, one word changed at the end
        rows.append((100 + i, " ".join(toks[:-1] + ["zulu"])))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_neardup(df, threshold=0.3).collect()
    }
    # brute force: all pairs through the same exact-jaccard verify
    ids = df.select(F.col("doc_id").alias("doc_a"))
    allp = ids.crossJoin(df.select(F.col("doc_id").alias("doc_b"))).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(allp, shingle_hashes(df), threshold=0.3).collect()
    }
    # blocked result is a subset with identical jaccard values
    for pair, j in got.items():
        assert brute[pair] == j
    # every (i, 100+i) near-copy pair shares a long common prefix ->
    # guaranteed common fingerprint -> must be recovered
    for i in range(8):
        assert (i, 100 + i) in got


def test_ngram_jaccard_bucket_cap_drops_hot_fingerprint(spark):
    """max_bucket_size excludes over-shared fingerprints: docs that
    are ALL identical form one hot bucket; cap 5 < 10 members -> no
    pairs survive blocking."""
    from scalablevectorsearch_spark.pipeline.dedup import ngram_jaccard_neardup

    df = spark.createDataFrame(
        [(i, "same exact boilerplate text repeated everywhere forever") for i in range(10)],
        ["doc_id", "text"],
    )
    capped = ngram_jaccard_neardup(df, threshold=0.5, max_bucket_size=5)
    assert capped.count() == 0
    uncapped = ngram_jaccard_neardup(df, threshold=0.5)
    assert uncapped.count() == 45  # all 10-choose-2 pairs, jaccard 1.0


# ------------------------------------------------------------ stratified_sample


def test_stratified_sample_fractions_and_edges(documents):
    from scalablevectorsearch_spark.pipeline.curate import stratified_sample

    fr = {"src0": 1.0, "src1": 0.0, "src2": 0.5}
    out = stratified_sample(
        documents.select("doc_id", "source"), fr, default_fraction=0.25
    )
    by_src = {
        r["source"]: (r["n"], r["k"])
        for r in out.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum(F.col("kept").cast("long")).alias("k"))
        .collect()
    }
    n0, k0 = by_src["src0"]
    assert k0 == n0  # frac 1.0 keeps everything
    assert by_src["src1"][1] == 0  # frac 0.0 drops everything
    # interior + default fractions land near target (25 docs/stratum
    # at sf0.001 -> loose bounds; the md5 decision is uniform)
    n2, k2 = by_src["src2"]
    assert 0 < k2 < n2
    others = [v for s, v in by_src.items() if s not in fr]
    tot_n = sum(n for n, _ in others)
    tot_k = sum(k for _, k in others)
    assert 0.1 < tot_k / tot_n < 0.45


def test_stratified_sample_growth_stable(spark):
    """Adding rows never flips an existing row's decision — the
    property rand()-based sampleBy lacks."""
    from scalablevectorsearch_spark.pipeline.curate import stratified_sample

    fr = {"a": 0.5, "b": 0.3}
    small = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)], ["doc_id", "source"]
    )
    big = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(300)], ["doc_id", "source"]
    )
    d_small = {r["doc_id"]: r["kept"] for r in stratified_sample(small, fr).collect()}
    d_big = {r["doc_id"]: r["kept"] for r in stratified_sample(big, fr).collect()}
    assert all(d_big[i] == d_small[i] for i in d_small)


def test_stratified_sample_rejects_bad_fraction(spark):
    from scalablevectorsearch_spark.pipeline.curate import stratified_sample

    df = spark.createDataFrame([(0, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        stratified_sample(df, {"a": 1.5})


def test_ngram_jaccard_xxhash_fast_path_same_pairs(spark, docs):
    """hash_fn='xxhash64' changes fingerprint VALUES but not which
    pairs are recovered or their jaccard (verify hashes independently)."""
    from scalablevectorsearch_spark.pipeline.dedup import ngram_jaccard_neardup

    base = docs.limit(25)
    copies = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    both = base.unionByName(copies)
    md5_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_neardup(both, threshold=0.5).collect()
    }
    xxh_pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_neardup(both, threshold=0.5, hash_fn="xxhash64").collect()
    }
    assert md5_pairs == xxh_pairs and len(md5_pairs) >= 25

    with pytest.raises(ValueError):
        ngram_jaccard_neardup(both, hash_fn="sha1")


# ---------------------------------------------------------------- duplicate_spans


def _spans_bruteforce(rows, L, stride, min_count):
    """Pure-Python replica of duplicate_spans for differential tests."""
    import collections

    counts = collections.Counter()
    pos_by_doc = {}
    for i, t in rows:
        ps = list(range(0, max(len(t) - L + 1, 0), stride))
        pos_by_doc[i] = [(p, t[p : p + L]) for p in ps]
        for _, g in pos_by_doc[i]:
            counts[g] += 1
    out = set()
    for i, _ in rows:
        dup = [p + 1 for p, g in pos_by_doc[i] if counts[g] >= min_count]
        run = []
        for p in dup:
            if run and p - run[-1] <= stride:
                run.append(p)
            else:
                if run:
                    out.add((i, run[0], run[-1] + L - 1, len(run)))
                run = [p]
        if run:
            out.add((i, run[0], run[-1] + L - 1, len(run)))
    return out


@pytest.mark.parametrize("stride,min_count", [(1, 2), (3, 2), (1, 3)])
def test_duplicate_spans_differential(spark, stride, min_count):
    """Random short-alphabet docs + planted shared boilerplate vs the
    pure-Python replica — exact span-set equality."""
    import random

    from scalablevectorsearch_spark.pipeline.dedup import duplicate_spans

    rng = random.Random(13)
    boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-TODAY!!"
    rows = []
    for i in range(40):
        body = "".join(rng.choice("abcd") for _ in range(rng.randint(5, 120)))
        if i % 3 == 0:  # plant the boilerplate mid-document
            cut = rng.randint(0, len(body))
            body = body[:cut] + boiler + body[cut:]
        rows.append((i, body))
    L = 20
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_dup_grams"])
        for r in duplicate_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            span_len=L, stride=stride, min_count=min_count,
        ).collect()
    }
    assert got == _spans_bruteforce(rows, L, stride, min_count)
    if stride == 1 and min_count == 2:
        # every doc carrying the planted boilerplate must report a span
        planted = {i for i, _ in rows if i % 3 == 0}
        assert planted <= {d for d, *_ in got}


def test_duplicate_spans_xxhash_same_spans(spark):
    from scalablevectorsearch_spark.pipeline.dedup import duplicate_spans

    rows = [(0, "xyxyxy" + "A" * 50 + "qq"), (1, "zz" + "A" * 50), (2, "B" * 30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {tuple(r) for r in duplicate_spans(df, span_len=20).collect()}
    b = {tuple(r) for r in duplicate_spans(df, span_len=20, hash_fn="xxhash64").collect()}
    assert a == b and len(a) >= 2  # the shared A-run spans both docs


# ------------------------------------------- remove_spans / keep_first


def _spans_keepfirst_bruteforce(rows, L, stride, min_count):
    """Pure-Python replica of duplicate_spans(keep_first=True)."""
    import collections

    occ = collections.defaultdict(list)
    for i, t in rows:
        for p in range(0, max(len(t) - L + 1, 0), stride):
            occ[t[p : p + L]].append((i, p + 1))
    flagged = collections.defaultdict(list)
    for g, locs in occ.items():
        if len(locs) >= min_count:
            canon = min(locs)
            for loc in locs:
                if loc != canon:
                    flagged[loc[0]].append(loc[1])
    out = set()
    for i, ps in flagged.items():
        run = []
        for p in sorted(set(ps)):
            if run and p - run[-1] <= stride:
                run.append(p)
            else:
                if run:
                    out.add((i, run[0], run[-1] + L - 1, len(run)))
                run = [p]
        if run:
            out.add((i, run[0], run[-1] + L - 1, len(run)))
    return out


def test_duplicate_spans_keep_first_differential(spark):
    import random

    from scalablevectorsearch_spark.pipeline.dedup import duplicate_spans

    rng = random.Random(7)
    boiler = "REPEATED-FOOTER-TEXT-SHARED-BY-MANY-DOCS"
    rows = []
    for i in range(30):
        body = "".join(rng.choice("abcd") for _ in range(rng.randint(10, 90)))
        if i % 2 == 0:
            body = body + boiler
        rows.append((i, body))
    L = 25
    got = {
        tuple(r)
        for r in duplicate_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            span_len=L, keep_first=True,
        ).collect()
    }
    assert got == _spans_keepfirst_bruteforce(rows, L, 1, 2)
    # the earliest boilerplate carrier (doc 0) keeps its copy
    assert 0 not in {d for d, *_ in got}
    # every later carrier is flagged
    assert {i for i, _ in rows if i % 2 == 0 and i > 0} <= {d for d, *_ in got}


def test_remove_spans_union_and_passthrough(spark):
    from scalablevectorsearch_spark.pipeline.dedup import remove_spans

    docs = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "0123456789"), (2, "keep me whole")],
        ["doc_id", "text"],
    )
    # doc 0: overlapping spans [2,5] and [4,7] remove chars 2..7 (union);
    # doc 1: contained span [3,4] inside [2,8] — frontier must not regress
    spans = spark.createDataFrame(
        [(0, 2, 5), (0, 4, 7), (1, 2, 8), (1, 3, 4)],
        ["doc_id", "span_start", "span_end"],
    )
    got = {r["doc_id"]: (r["text"], r["n_removed_chars"]) for r in remove_spans(docs, spans).collect()}
    assert got[0] == ("ahij", 6)
    assert got[1] == ("089", 7)
    assert got[2] == ("keep me whole", 0)


def test_spans_removal_composition_keeps_one_copy(spark):
    """End-to-end Lee et al. policy: after keep-first mining + removal,
    the boilerplate survives in exactly one document."""
    from scalablevectorsearch_spark.pipeline.dedup import (
        duplicate_spans,
        remove_spans,
    )

    boiler = "X" * 30
    rows = [(i, f"doc{i:03d}-" + "ab" * i + boiler) for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicate_spans(docs, span_len=30, keep_first=True)
    out = remove_spans(docs, spans).collect()
    carriers = [r for r in out if boiler in r["text"]]
    assert len(carriers) == 1 and carriers[0]["doc_id"] == 0
    # doc 0 keeps everything; later carriers lose at least the boiler
    # (boundary grams shared via the common "ab" suffix may widen the cut)
    assert all(
        r["n_removed_chars"] == 0 if r["doc_id"] == 0 else r["n_removed_chars"] >= 30
        for r in out
    )


# ------------------------------------------------- decontaminate_exact


def test_decontaminate_exact_planted_and_counts(spark):
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate_exact

    corpus = spark.createDataFrame(
        [
            (0, "w0 w1 w2 w3 w4 w5 w6 w7"),      # shares a 5-gram run with probe
            (1, "zz yy xx ww vv"),                # disjoint vocab
            (2, "w2 w3 w4 w5 w6"),                # exactly one probe 5-gram
        ],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame(
        [(100, "w1 w2 w3 w4 w5 w6 w7 w8")], ["doc_id", "text"]
    )
    got = {
        (r["probe_id"], r["doc_id"]): r["n_shared_grams"]
        for r in decontaminate_exact(corpus, probes, n=5).collect()
    }
    # corpus doc 0 grams: [w0..w4, w1..w5, w2..w6, w3..w7]; probe grams
    # [w1..w5, w2..w6, w3..w7, w4..w8] -> 3 shared
    assert got == {(100, 0): 3, (100, 2): 1}


def test_decontaminate_exact_short_doc_fallback_and_min_hits(spark):
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate_exact

    corpus = spark.createDataFrame(
        [(0, "tiny probe"), (1, "a b c d e f g h i j k l m n")],
        ["doc_id", "text"],
    )
    probes = spark.createDataFrame([(9, "tiny probe")], ["doc_id", "text"])
    got = decontaminate_exact(corpus, probes, n=13).collect()
    # both sides shorter than 13 words hash their full token run
    assert [(r["probe_id"], r["doc_id"], r["n_shared_grams"]) for r in got] == [(9, 0, 1)]
    assert decontaminate_exact(corpus, probes, n=13, min_hits=2).count() == 0


# ------------------------------------------------------- dedup_lines


def test_dedup_lines_keep_first_and_exempt(spark):
    from scalablevectorsearch_spark.pipeline.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (0, "alpha line\nshared line\n\ntail zero"),
            (1, "shared line\nbeta line\n\nalpha line"),
            (2, "alpha line\nshared line"),  # every line a dup -> drops
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert set(got) == {0, 1}
    assert got[0]["text"] == "alpha line\nshared line\n\ntail zero"
    assert got[0]["n_removed"] == 0 and got[0]["n_lines"] == 4
    # doc 1 loses both dup lines but keeps its exempt empty line
    assert got[1]["text"] == "beta line\n"
    assert got[1]["n_removed"] == 2 and got[1]["n_lines"] == 4


def test_dedup_lines_min_len_exemption(spark):
    from scalablevectorsearch_spark.pipeline.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(0, "ok\nlong enough line"), (1, "ok\nlong enough line")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["text"] for r in dedup_lines(docs, min_len=5).collect()}
    # "ok" is exempt (shorter than 5 chars) and survives in both docs
    assert got == {0: "ok\nlong enough line", 1: "ok"}


def test_dedup_minhash_n_passes_superset_and_identical_jaccard(docs):
    """n_passes=2 (chain-critical second banding pass): pass 1's bands
    are bit-identical to n_passes=1 — the candidate set can only GROW,
    and the exact-Jaccard verify is unchanged, so every single-pass
    pair survives with the identical jaccard value."""
    base = docs.filter(F.col("doc_id") < 80)
    mutated = base.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 900).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    corpus = base.unionByName(mutated)
    one = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash(corpus, threshold=0.3).collect()
    }
    two = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash(corpus, threshold=0.3, n_passes=2).collect()
    }
    assert set(one) <= set(two)
    for pair, j in one.items():
        assert two[pair] == j
    for d in range(3):
        assert (d, d + 900) in two


def test_dedup_minhash_n_passes_validation(docs):
    with pytest.raises(ValueError):
        dedup_minhash(docs.limit(2), n_passes=0)


# ------------------------------------------ precomputed signature tables


def _signed(df, n_perm=16):
    return minhash_signature(shingle_hashes(df), n_perm)


def test_precomputed_signatures_match_derived(docs, spark):
    """A correct signature table passes the checks and gives the pairs
    and the contamination hits the operators derive themselves."""
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate

    base = docs.filter(F.col("doc_id") < 40)
    mutated = base.filter(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 900).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    corpus = base.unionByName(mutated)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dedup_minhash(corpus, signatures=_signed(corpus))) == rows(
        dedup_minhash(corpus)
    )
    assert rows(
        decontaminate(base, mutated, corpus_signatures=_signed(base))
    ) == rows(decontaminate(base, mutated))


def test_precomputed_signatures_missing_column(docs):
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate

    corpus = docs.limit(5)
    no_sig = _signed(corpus).drop("sig")
    with pytest.raises(ValueError, match=r"signatures lacks column\(s\) \['sig'\]"):
        dedup_minhash(corpus, signatures=no_sig)
    with pytest.raises(ValueError, match=r"corpus_signatures lacks column\(s\) \['shingles'\]"):
        decontaminate(corpus, corpus, corpus_signatures=_signed(corpus).drop("shingles"))


def test_precomputed_signatures_wrong_length(docs):
    """A signature of the wrong length fails the operator's own plan
    with a message naming the expected and found lengths. The type is
    not asserted: when both sides of the band self-join fail at once,
    AQE reports them together as a Py4JJavaError, not a PySparkException."""
    from scalablevectorsearch_spark.pipeline.dedup import decontaminate

    corpus = docs.limit(5)
    short = _signed(corpus, n_perm=12)
    with pytest.raises(Exception, match="signatures: sig must hold 32 values, got 12"):
        dedup_minhash(corpus, n_passes=2, signatures=short).collect()
    msg = "corpus_signatures: sig must hold 16 values, got 12"
    with pytest.raises(Exception, match=msg):
        decontaminate(corpus, corpus, corpus_signatures=short).collect()
