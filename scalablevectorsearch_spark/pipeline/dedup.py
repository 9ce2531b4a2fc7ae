"""Deduplication operators for training-data pipelines — exact
(content-hash), MinHash+LSH banded near-dup, n-gram Jaccard verify, and
SimHash fingerprints.

Extension surface beyond the reference (BASELINE.json north star). The
scale contract is the whole point: NOTHING here is an all-pairs join.
 - exact dedup: one hash + one window over the hash — a single shuffle
   on the content hash.
 - MinHash/LSH: shingle -> hash -> per-band bucket keys; the candidate
   join is an equi-join WITHIN buckets (expected O(pairs-that-collide)),
   then the Jaccard verify runs only on candidates. At 100 TB the band
   join is the standard banded-LSH MapReduce shape: shuffle keyed by
   (band_id, band_key), never doc x doc.
 - SimHash: one 32-bit fingerprint per doc; near-dup lookup = equality
   on rotated fingerprint bands (not implemented as a join here — the
   fingerprint is the deliverable).

Determinism: every hash is md5-derived (identical in Spark and DuckDB);
permutation coefficients come from one deterministic generator shared
with the oracle SQL builders (oracles.dedup_*_sql). All expressions are
Catalyst/JVM — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE = 2147483647  # 2^31 - 1, modulus for the permutation family

#: md5-derived 60-bit hash of a string expression (dialect: Spark SQL)
MD5I = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"


def gram_expr(n: int) -> str:
    """SQL for the space-joined ``n``-gram at 1-based token position
    ``i`` over the projected ``__toks`` attribute: an unrolled
    ``concat(element_at(...), chr(32), ...)`` — O(1) array lookups per
    gram — instead of ``array_join(slice(...))``, which materializes a
    throwaway sub-array per gram (measured ~6x slower on the gram
    build, tools/profile_repetition.py). Documents shorter than ``n``
    tokens keep the slice path (one truncated gram of the full token
    run — the established hashing convention), so results are
    bit-identical to the slice formulation and no oracle changes."""
    parts = ["element_at(__toks, i)"]
    for j in range(1, n):
        parts.append("chr(32)")
        parts.append(f"element_at(__toks, i + {j})")
    full = f"concat({', '.join(parts)})"
    return (
        f"if(size(__toks) >= {n}, {full}, "
        f"array_join(slice(__toks, i, {n}), chr(32)))"
    )


def perm_coeffs(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutation
    family h_j(x) = (a_j * x + b_j) mod 2^31-1. Knuth-style multiplicative
    sequence — shared verbatim with the oracle SQL generator."""
    out = []
    a, b = 1, 0
    for j in range(n_perm):
        a = (a * 2654435761 + 2246822519) % MERSENNE
        b = (b * 2654435761 + 3266489917) % MERSENNE
        out.append((a if a > 0 else 1, b))
    return out


def content_hash(text_col: str = "text") -> F.Column:
    return F.md5(F.col(text_col))


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, content_hash, canonical_id, is_dup): canonical = smallest
    doc id sharing the exact content hash. One shuffle on the hash."""
    from .text import _qident

    id_col, text_col = _qident(id_col), _qident(text_col)
    return (
        df.selectExpr(f"{id_col} as doc_id", f"md5({text_col}) as content_hash")
        .selectExpr(
            "*", "min(doc_id) over (partition by content_hash) as canonical_id"
        )
        .selectExpr("*", "(doc_id != canonical_id) as is_dup")
    )


def shingle_hashes(
    df: DataFrame,
    n_shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, shingles ARRAY<BIGINT>): distinct hashes of word n-gram
    shingles. ``hash_fn="md5"`` (default) is the DuckDB-replayable
    contract; ``"xxhash64"`` is the ~2x-cheaper Spark-only fast path
    (set semantics — and therefore Jaccard — unchanged)."""
    gram = gram_expr(n_shingle)
    if hash_fn == "xxhash64":
        h = f"xxhash64({gram})"
    elif hash_fn == "md5":
        h = MD5I.format(s=gram)
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64': {hash_fn!r}")
    sh = (
        f"array_distinct(transform("
        f"  sequence(1, greatest(size(__toks) - {n_shingle} + 1, 1)),"
        f"  i -> {h}))"
    )
    from .text import _qident

    return df.selectExpr(
        f"{_qident(id_col)} as doc_id",
        f"split(trim({_qident(text_col)}), '\\\\s+') as __toks",
    ).selectExpr("doc_id", f"{sh} as shingles")


def minhash_signature(shingled: DataFrame, n_perm: int = 16) -> DataFrame:
    """(doc_id, shingles, sig ARRAY<BIGINT>): per-permutation min-hash.

    r13 expression-shape change (plan size, not semantics): the sig
    array is ONE nested transform over the permutation index with the
    (a, b) coefficient vectors as two foldable array literals, instead
    of n_perm separate ``array_min(transform(...))`` copies. Same
    integer arithmetic per element ((a*(h%M)+b)%M, 64-bit, exact), so
    every signature value is bit-identical — but the expression tree is
    ~n_perm x smaller, and this block is embedded several times in
    every LSH plan (band self-join sides + verify sides), where each
    downstream Dataset creation re-walks it during analysis (the
    measured driver-side construction cost of the banded family)."""
    coeffs = perm_coeffs(n_perm)
    a_lit = "array(" + ", ".join(f"{a}L" for a, _ in coeffs) + ")"
    b_lit = "array(" + ", ".join(f"{b}L" for _, b in coeffs) + ")"
    sig = (
        f"transform(sequence(1, {n_perm}), j -> array_min(transform(shingles, "
        f"h -> (element_at({a_lit}, j) * (h % {MERSENNE}) "
        f"+ element_at({b_lit}, j)) % {MERSENNE})))"
    )
    return shingled.selectExpr("doc_id", "shingles", f"{sig} as sig")


def _checked_signatures(signed: DataFrame, sig_len: int, arg: str) -> DataFrame:
    """A caller-supplied signature table with its contract enforced at
    no extra Spark job: the columns are checked from the schema, and a
    row whose ``sig`` is not ``sig_len`` long fails the plan that reads
    it (``raise_error``) instead of banding a short or null signature."""
    missing = [c for c in ("doc_id", "shingles", "sig") if c not in signed.columns]
    if missing:
        raise ValueError(
            f"{arg} lacks column(s) {missing}; expected the output of "
            f"minhash_signature (doc_id, shingles, sig)"
        )
    msg = F.concat(
        F.lit(f"{arg}: sig must hold {sig_len} values, got "),
        F.coalesce(F.size("sig").cast("string"), F.lit("null")),
    )
    return signed.withColumn(
        "sig", F.when(F.size("sig") == sig_len, F.col("sig")).otherwise(F.raise_error(msg))
    )


def _band_keys(signed: DataFrame, n_bands: int, r: int) -> DataFrame:
    """Explode each signature into (doc_id, band_id, band_key) rows —
    the banded-LSH bucket keys (the ONLY shuffle key downstream)."""
    # inline() explodes the array<struct> straight into (band_id,
    # band_key) columns — one Dataset creation instead of the
    # explode-then-flatten pair, same rows in the same generator order
    return signed.selectExpr(
        "doc_id",
        f"inline(transform(sequence(0, {n_bands - 1}),"
        f" b -> struct(b as band_id, array_join(slice(sig, b * {r} + 1, {r}), ':') as band_key)))",
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    n_bands: int = 4,
    max_bucket_size: int | None = None,
    sig_len: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band's full sub-signature become a
    candidate pair. Returns distinct (doc_a, doc_b), doc_a < doc_b.
    The join is per-(band, key) — the only shuffle key.

    ``max_bucket_size``: skew guard for 100 TB corpora — a degenerate
    hot bucket (boilerplate/templated content) would otherwise produce
    |bucket|^2 pairs; buckets above the cap are excluded here (their
    members are, by construction, near-identical — route them through
    exact dedup or cluster-representative selection instead).

    ``sig_len``: signature length when the caller knows it (n_perm) —
    skips the one-row probe job."""
    if sig_len is None:
        sig_len = signed.select(F.size("sig").alias("s")).limit(1).collect()[0]["s"]
    r = sig_len // n_bands
    bands = _band_keys(signed, n_bands, r)
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_key")
        bands = bands.withColumn("__bs", F.count("*").over(w)).filter(
            F.col("__bs") <= max_bucket_size
        ).drop("__bs")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.band_id = b.band_id AND a.band_key = b.band_key"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .selectExpr("a.doc_id as doc_a", "b.doc_id as doc_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, shingled: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only:
    (doc_a, doc_b, jaccard) with jaccard >= threshold."""
    sa = shingled.selectExpr("doc_id as doc_a", "shingles as __sa")
    sb = shingled.selectExpr("doc_id as doc_b", "shingles as __sb")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "(cast(size(array_intersect(__sa, __sb)) as double)"
            " / cast(size(array_union(__sa, __sb)) as double)) as jaccard",
        )
        .filter(f"jaccard >= {threshold!r}D")
    )


def dedup_minhash(
    df: DataFrame,
    n_shingle: int = 3,
    n_perm: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    n_passes: int = 1,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full banded-MinHash near-dup pipeline: shingle -> minhash -> band
    buckets -> within-bucket candidates -> exact Jaccard verify.
    Returns (doc_a, doc_b, jaccard). Never an all-pairs join.

    ``signatures``: optional precomputed signature table — exactly
    ``minhash_signature(shingle_hashes(df, n_shingle, text_col,
    id_col), n_passes * n_perm)`` over the same ``df``, caller-persisted.
    Lets a pipeline that needs the signatures more than once (e.g. the
    curated-corpus composite, where :func:`decontaminate` minhashes the
    same surviving corpus) derive them ONE time instead of re-embedding
    the shingle+minhash expression block per operator (r13, plan-size
    and construction cost only — results are identical by construction
    since the signature of a document is deterministic).

    ``n_passes``: chain-integrity knob. Banding misses a true pair at
    shingle-Jaccard s with probability (1 - s^r)^(n_passes*n_bands),
    r = n_perm/n_bands; at the defaults (16 perms / 4 bands, r=4) a
    0.97-Jaccard pair misses with p ~ 1.7e-4 — at 10M docs single-digit
    misses are EXPECTED, and one missed edge splits a dup chain into
    two components (:func:`dedup_components` canonicals diverge).
    ``n_passes=2`` additionally bands over a SECOND, independent
    permutation set (signature 2*n_perm long, banded into 2*n_bands
    bands; the first pass's bands are bit-identical to n_passes=1, so
    the candidate set only ever grows), squaring the per-pair miss to
    ~3e-8 at 0.97 — effectively zero at corpus scale. Cost: 2x minhash
    compute and 2x band-shuffle volume; the exact-Jaccard verify grows
    only by the extra candidates.

    Zero-miss operating point (tools/dedup_ab.py, 2M-doc planted-chain
    A/B, r8): ``n_perm=32, n_bands=8, n_passes=1`` and the default
    ``n_perm=16, n_bands=4, n_passes=2`` are COST-EQUIVALENT — same
    32-hash signature, same 8-band shuffle volume, same (1 - s^4)^8
    miss (~3e-8 at 0.97), and they mined the IDENTICAL 59,406 pairs
    with 0 bad canonicals. A first naive A/B showed a 3.9x gap, which
    an order-reversed re-run flipped: whichever config runs FIRST pays
    the corpus warm-up (~53-60s vs ~17s second), so single-run config
    comparisons on a fresh corpus measure the cache, not the config.
    Pick ``n_passes=2`` when a 16-perm signature base already exists
    (its pass-1 bands are bit-identical to ``n_passes=1``, candidates
    only grow against prior runs), ``32/8/1`` otherwise; an r=3
    ``18/6/1`` config also zero-missed (miss ~4.4e-7) with a ~44%
    shorter signature if minhash compute ever dominates."""
    from pyspark.storagelevel import StorageLevel

    if n_passes < 1:
        raise ValueError("n_passes must be >= 1")
    total_perm = n_passes * n_perm
    if signatures is not None:
        signed = _checked_signatures(signatures, total_perm, "signatures")
    else:
        shingled = shingle_hashes(df, n_shingle, text_col, id_col)
        # persist the signature table ONCE: the banded join reads it
        # twice (a/b sides) and the verify stage twice more — without
        # this the shingle+minhash expressions (the expensive part)
        # re-execute per branch. MEMORY_AND_DISK: at corpus scale this
        # is the standard materialized-signatures step of a MapReduce
        # LSH pipeline.
        signed = minhash_signature(shingled, total_perm).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    pairs = lsh_candidate_pairs(
        signed, n_passes * n_bands, max_bucket_size, sig_len=total_perm
    )
    return jaccard_verify(pairs, signed.select("doc_id", "shingles"), threshold)


def fingerprint_candidate_pairs(
    fps: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Winnowing-fingerprint blocking: docs sharing ANY fingerprint
    become a candidate pair (Schleimer et al.'s guarantee — any common
    substring of length >= w+k-1 chars shares a fingerprint, so true
    near-dups can't be blocked apart). Distinct (doc_a, doc_b),
    doc_a < doc_b; the join is per-fingerprint, never doc x doc.

    ``max_bucket_size``: same 100 TB skew guard as the LSH path — a
    boilerplate fingerprint shared by a million docs would emit
    |bucket|^2 pairs; buckets above the cap are dropped (their members
    are near-identical templated content — route through exact dedup)."""
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("fp")
        fps = (
            fps.withColumn("__bs", F.count("*").over(w))
            .filter(F.col("__bs") <= max_bucket_size)
            .drop("__bs")
        )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_neardup(
    df: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.5,
    fp_k: int = 16,
    fp_w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup join — the fourth dedup family
    (exact / MinHash-LSH / SimHash / n-gram Jaccard): candidate pairs
    from winnowing-fingerprint blocking, then the true word-n-gram
    Jaccard on candidates only. Returns (doc_a, doc_b, jaccard >=
    threshold).

    vs :func:`dedup_minhash`: MinHash APPROXIMATES Jaccard and its
    banded blocking misses probabilistically; this path reports the
    exact similarity and its blocking has winnowing's deterministic
    common-substring guarantee — the right tool when the dedup
    decision must be reproducible/auditable (e.g. decontamination
    evidence). Cost: fingerprints are denser than band keys, so the
    candidate set is larger; the ``max_bucket_size`` cap bounds the
    worst case. Scale shape identical to the LSH path: one shuffle on
    the fingerprint, verify only on candidates, never all-pairs.

    ``hash_fn="xxhash64"`` switches the char-gram fingerprint hash to
    the ~2x-cheaper Spark builtin (blocking semantics unchanged; the
    reported jaccard is identical either way since the verify stage
    hashes word shingles independently) — use at corpus scale; the
    md5 default is the DuckDB-replayable gate contract."""
    from pyspark.storagelevel import StorageLevel

    from .text import doc_fingerprints

    # persist the fingerprint table ONCE: the blocking self-join reads
    # it on both sides, and fingerprinting (one hash per char position)
    # is the dominant cost — same materialized-signatures shape as
    # dedup_minhash
    fps = doc_fingerprints(df, fp_k, fp_w, text_col, id_col, hash_fn=hash_fn).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = fingerprint_candidate_pairs(fps, max_bucket_size)
    shingled = shingle_hashes(df, n_shingle, text_col, id_col, hash_fn=hash_fn).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return jaccard_verify(pairs, shingled, threshold)


def decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    n_shingle: int = 3,
    n_perm: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_probes: bool = True,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus contamination mining — the decontamination step of a
    training pipeline: find every (probe_id, doc_id, jaccard) where a
    training-corpus document near-duplicates an evaluation/test probe,
    so the pipeline can drop the corpus rows (or flag the probes).

    ``corpus_signatures``: optional precomputed corpus signature table
    (``minhash_signature(shingle_hashes(..., n_shingle, text_col,
    id_col), n_perm)``), caller-persisted. When passed, THIS TABLE
    defines the corpus actually screened — the ``corpus`` frame is not
    re-read. Same sharing hook as :func:`dedup_minhash`'s
    ``signatures`` (r13): a pipeline that already minhashed the corpus
    (or a superset of it whose extra rows are harmless downstream, as
    in the bench composite) passes the table instead of paying the
    shingle+minhash expression block — and at corpus scale a second
    full corpus pass — again.

    Same banded-MinHash machinery as :func:`dedup_minhash`, but the
    candidate join runs BETWEEN the two corpora on (band_id, band_key)
    — never corpus x probes. Scale shape: the probe set (an eval/test
    suite) is orders of magnitude smaller than the corpus, so its banded
    keys broadcast (``broadcast_probes``) and candidate generation is a
    map-side probe of corpus bands; the corpus shuffles only its
    colliding rows into the Jaccard verify. Ids may overlap between the
    two tables — they are distinct id spaces."""
    from pyspark.storagelevel import StorageLevel

    r = n_perm // n_bands
    if corpus_signatures is not None:
        signed_c = _checked_signatures(corpus_signatures, n_perm, "corpus_signatures")
    else:
        signed_c = minhash_signature(
            shingle_hashes(corpus, n_shingle, text_col, id_col), n_perm
        ).persist(StorageLevel.MEMORY_AND_DISK)
    signed_p = minhash_signature(
        shingle_hashes(probes, n_shingle, text_col, id_col), n_perm
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bands_c = _band_keys(signed_c, n_bands, r)
    bands_p = _band_keys(signed_p, n_bands, r).withColumnRenamed("doc_id", "probe_id")
    if broadcast_probes:
        bands_p = F.broadcast(bands_p)
    pairs = (
        bands_c.join(bands_p, ["band_id", "band_key"])
        .select("probe_id", "doc_id")
        .distinct()
    )
    sp = signed_p.selectExpr("doc_id as probe_id", "shingles as __sp")
    if broadcast_probes:
        sp = F.broadcast(sp)
    return (
        pairs.join(signed_c.selectExpr("doc_id", "shingles as __sc"), "doc_id")
        .join(sp, "probe_id")
        .selectExpr(
            "probe_id",
            "doc_id",
            "(cast(size(array_intersect(__sc, __sp)) as double)"
            " / cast(size(array_union(__sc, __sp)) as double)) as jaccard",
        )
        .filter(f"jaccard >= {threshold!r}D")
    )


def duplicate_spans(
    df: DataFrame,
    span_len: int = 40,
    stride: int = 1,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    keep_first: bool = False,
    sample: str = "positional",
) -> DataFrame:
    """Exact duplicated-substring mining — the substring-granularity
    dedup family (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): find every maximal character span whose
    ``span_len``-grams occur >= ``min_count`` times ACROSS THE WHOLE
    CORPUS (including within one document), so a pipeline can strip
    repeated boilerplate/templates instead of dropping whole documents.

    ``keep_first=True`` exempts, per duplicated gram, its globally
    first occurrence (minimal ``(doc_id, pos)``) — the Lee et al.
    remove-all-but-one policy, so feeding the spans to
    :func:`remove_spans` keeps exactly one copy of each duplicated
    region in the corpus instead of deleting every copy.

    Returns (doc_id, span_start, span_end, n_dup_grams): 1-based char
    positions of maximal runs of duplicated grams (runs merge while
    consecutive duplicated positions are close — see ``sample`` below
    for the gap rule; ``span_end`` covers the last gram). Docs shorter
    than ``span_len`` cannot contain a span and are skipped.

    Spark-native replacement for the reference suffix-array approach:
    hash every ``stride``-th ``span_len``-char gram, count occurrences
    per hash (ONE shuffle on the 64-bit hash, map-side partial
    counts), semi-join the positions of over-occurring hashes back
    (reuses the hash partitioning), then merge per-doc position runs
    with a window + conditional-cumsum (shuffles on doc_id — high
    cardinality, unskewed). No pair explosion anywhere: a boilerplate
    gram in a million docs contributes a count, never |bucket|^2 rows.

    ``stride`` > 1 subsamples grams for a ~stride-fold shuffle-volume
    cut; ``sample`` picks how:
     - ``"positional"`` (default): keep every ``stride``-th position.
       Two occurrences of a duplicated region only collide when their
       start offsets are congruent mod ``stride``, so completeness
       holds ONLY for phase-aligned occurrences (e.g. identical whole
       documents, or spans applied/measured at the same offset);
       phase-misaligned copies sample disjoint gram contents and can
       be missed regardless of region length. Cheapest: skipped grams
       are never hashed.
     - ``"content"``: keep a gram iff ``hash % stride == 0``. The keep
       decision depends on gram CONTENT only, so every occurrence of a
       duplicated region samples the same relative offsets — a region
       is either caught in ALL its occurrences or in none (expected
       sample rate 1/stride; a region with >= 1 sampled gram is always
       caught everywhere, no phase condition). Every gram is hashed
       (the hash IS the sampler), so the saving is shuffle/join volume,
       not hashing. Sampled positions are irregular, so runs merge
       while consecutive duplicated positions are <= ``span_len``
       apart (overlapping/abutting gram extents), not <= ``stride``.

    With ``stride == 1`` both modes are identical and complete: every
    duplicated region of length >= span_len is found at exact
    positions. ``hash_fn="xxhash64"`` is the cheaper Spark-only gram
    hash; md5 (default) is the oracle contract."""
    from pyspark.sql import Window

    if sample not in ("positional", "content"):
        raise ValueError(f"sample must be 'positional' or 'content': {sample!r}")
    from .text import _qident

    text_q = _qident(text_col)
    if hash_fn == "xxhash64":
        h = f"xxhash64(substring({text_q}, i, {span_len}))"
    elif hash_fn == "md5":
        h = MD5I.format(s=f"substring({text_q}, i, {span_len})")
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64': {hash_fn!r}")
    # content sampling enumerates every position and filters on the
    # gram hash; positional sampling strides the position sequence.
    pos_stride = 1 if sample == "content" else stride
    # the span_len merge gap exists only for content SUBSAMPLING (kept
    # positions are irregular); at stride == 1 content mode keeps every
    # position, so the gap rule must match positional mode or distinct
    # duplicated runs separated by 2..span_len positions would merge
    merge_gap = span_len if (sample == "content" and stride > 1) else stride
    grams = (
        df.filter(F.length(text_col) >= span_len)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_q}) - {span_len} + 1, {pos_stride}),"
                    f" i -> struct(i as pos, {h} as h))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    if sample == "content" and stride > 1:
        grams = grams.filter(F.pmod(F.col("h"), F.lit(stride)) == 0)
    if keep_first:
        # min(struct) is a map-side-combinable agg (no window needed):
        # the canonical occurrence is the lexicographic (doc_id, pos) min.
        hot = (
            grams.groupBy("h")
            .agg(
                F.count("*").alias("__c"),
                F.min(F.struct("doc_id", "pos")).alias("__canon"),
            )
            .filter(F.col("__c") >= min_count)
            .select("h", "__canon")
        )
        dup_pos = (
            grams.join(hot, "h")
            .filter(
                ~(
                    (F.col("doc_id") == F.col("__canon.doc_id"))
                    & (F.col("pos") == F.col("__canon.pos"))
                )
            )
            .select("doc_id", "pos")
        )
    else:
        hot = (
            grams.groupBy("h").count().filter(F.col("count") >= min_count).select("h")
        )
        dup_pos = grams.join(hot, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= merge_gap, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("__run", F.sum("__brk").over(w))
    return runs.groupBy("doc_id", "__run").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(span_len - 1)).alias("span_end"),
        F.count("*").alias("n_dup_grams"),
    ).drop("__run")


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut character spans out of document text — the application half
    of substring dedup (pair with ``duplicate_spans(keep_first=True)``
    for the Lee et al. 2022 remove-all-but-one policy).

    ``spans`` is (doc_id, span_start, span_end) with 1-based inclusive
    char positions (extra columns ignored). Overlapping spans are
    removed as their union. Returns every input row as
    (doc_id, <text_col> cleaned, n_removed_chars); docs without spans
    pass through untouched.

    Scale shape: ONE groupBy of the span table on doc_id (tiny next to
    the corpus — only flagged docs appear), then a single equi-join
    back to the corpus and a per-row Catalyst ``aggregate`` fold over
    the sorted span array — no window over the corpus, no Python UDF,
    no explode of document text."""
    sp = spans.groupBy(F.col("doc_id").alias("__sid")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("long").alias("s"),
                    F.col("span_end").cast("long").alias("e"),
                )
            )
        ).alias("__sp")
    )
    from .text import _qident

    text_q = _qident(text_col)
    j = df.join(sp, F.col(id_col) == F.col("__sid"), "left")
    # Fold over sorted spans: emit the gap before each span, track the
    # running cut frontier (spans sorted by start have non-decreasing
    # end here, so `prev = x.e` covers overlap-union too; negative gap
    # lengths yield '' from substring).
    clean = F.expr(
        f"""CASE WHEN __sp IS NULL THEN {text_q} ELSE
        aggregate(
            __sp,
            struct(cast(0 as bigint) as prev, '' as acc),
            (a, x) -> struct(
                greatest(a.prev, x.e) as prev,
                concat(a.acc, substring({text_q}, int(a.prev) + 1,
                                        int(x.s) - 1 - int(a.prev))) as acc),
            a -> concat(a.acc, substring({text_q}, int(a.prev) + 1,
                                         length({text_q}) - int(a.prev))))
        END"""
    )
    out = j.withColumn("__clean", clean)
    return out.select(
        F.col(id_col).alias("doc_id"),
        F.col("__clean").alias(text_col),
        (F.length(F.coalesce(F.col(text_col), F.lit(""))) - F.length("__clean"))
        .cast("long")
        .alias("n_removed_chars"),
    )


def decontaminate_exact(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Exact n-gram eval-set decontamination — the GPT-3 appendix-C
    policy (Brown et al. 2020): flag every training document sharing at
    least ``min_hits`` distinct word ``n``-grams with any evaluation
    probe. Complements :func:`decontaminate` (banded MinHash, fuzzy):
    exact collision is the conservative leakage test suites use.

    Returns (probe_id, doc_id, n_shared_grams) for pairs with
    ``n_shared_grams >= min_hits`` (distinct-gram counts).

    Scale shape: the probe side (an eval suite) collapses to its
    distinct gram hashes and broadcasts, so the corpus-side gram stream
    is probed MAP-SIDE — no shuffle of corpus grams against probes, no
    pair explosion; only colliding (doc, probe, gram) rows survive into
    the final small groupBy. Documents shorter than ``n`` words hash
    their full token run (same convention as :func:`shingle_hashes`)."""
    gram = gram_expr(n)
    if hash_fn == "xxhash64":
        h = f"xxhash64({gram})"
    elif hash_fn == "md5":
        h = MD5I.format(s=gram)
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64': {hash_fn!r}")
    ngrams = (
        f"array_distinct(transform("
        f"  sequence(1, greatest(size(__toks) - {n} + 1, 1)),"
        f"  i -> {h}))"
    )

    def _grams(d: DataFrame, out_id: str) -> DataFrame:
        return (
            d.select(
                F.col(id_col).alias(out_id),
                F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
            )
            .select(out_id, F.explode(F.expr(ngrams)).alias("h"))
        )

    pg = _grams(probes, "probe_id")
    if broadcast_probes:
        pg = F.broadcast(pg)
    hits = (
        _grams(corpus, "doc_id")
        .join(pg, "h")
        .groupBy("probe_id", "doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= min_hits)
    )
    return hits


def dedup_lines(
    df: DataFrame,
    min_len: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-global line-level dedup — the C4 rule family (Raffel et
    al. 2020): every exact line of text is kept only at its globally
    first occurrence (minimal ``(doc_id, line_no)``); later occurrences
    are dropped and the document is reassembled from its surviving
    lines. Lines whose trimmed length is < ``min_len`` (default:
    empty lines) are exempt and always kept.

    Returns (doc_id, <text_col> rebuilt, n_lines, n_removed). A
    document whose every line was removed disappears from the output —
    an exact whole-document duplicate IS dropped, which is the C4
    behavior.

    Scale shape: posexplode to lines, ONE shuffle on the line hash for
    the keep-first row_number (line content is high-cardinality and
    unskewed after the min_len exemption removes the empty-line hot
    key), then a groupBy doc_id reassembly. All Catalyst; no UDF."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )
    participates = F.length(F.trim(F.col("line"))) >= min_len
    w = Window.partitionBy(F.md5("line")).orderBy("doc_id", "line_no")
    # A hash partition is content-homogeneous, so the participation
    # predicate is constant within it — exempt rows never perturb the
    # row_number of participating ones.
    flagged = lines.withColumn(
        "__keep",
        (~participates) | (F.row_number().over(w) == 1),
    )
    kept = flagged.filter("__keep")
    removed = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_removed"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(line_no, line))),"
            " x -> x.line), chr(10))"
        ).alias(text_col)
    )
    return rebuilt.join(removed, "doc_id").select(
        "doc_id", text_col, "n_lines", "n_removed"
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over the near-dup pair graph:
    (doc_id, canonical_id) where canonical = the smallest doc id
    reachable through dup pairs — the step a real dedup pipeline needs
    after pair mining (A~B, B~C must collapse to ONE canonical even
    without an A~C pair). Only documents appearing in a pair are
    returned; singletons are trivially their own canonical.

    Shape: iterative min-label propagation with POINTER JUMPING — per
    round one join of the (tiny, relative to the corpus) edge table
    against the labels, a min-aggregate, and a label <- label(label)
    shortcut join, cached per round, stopping at fixpoint. The shortcut
    halves the remaining label-chain depth each round, so convergence
    is O(log diameter) rounds instead of O(diameter) — a 10M-doc corpus
    whose natural near-dup chains stretch to diameter ~50+ still
    converges in a handful of rounds. Raises if ``max_iter`` rounds do
    not reach the fixpoint: un-converged labels are silently WRONG
    canonicals, never an acceptable return value.

    Canonical integrity is bounded by the PAIR-MINING recall upstream,
    not by this operator: one missed edge splits a chain into two
    components with two canonicals. Banded MinHash misses a true pair
    at Jaccard s with probability (1 - s^r)^b — ~1.7e-4 per 0.97-pair
    at the 16-perm/4-band defaults, i.e. single-digit split chains per
    10M docs. For chain-critical dedup, mine the pairs with
    ``dedup_minhash(..., n_passes=2)`` (a second independent banding
    pass squares the miss to ~3e-8; see its docstring for cost)."""
    e = pairs.select(
        F.col(id_a).cast("long").alias("s"), F.col(id_b).cast("long").alias("d")
    )
    edges = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("s").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    labels.count()
    converged = False
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("node", "d"), "d"
        ).select(F.col("s").alias("node"), "label")
        # localCheckpoint TRUNCATES lineage: the self-join below reads
        # mins twice, so without the cut each round's logical plan
        # would embed two copies of the previous round's plan —
        # exponential plan growth that stalls Catalyst analysis long
        # before any data is touched
        mins = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # pointer jump: follow one hop of the label chain (labels are
        # node ids, so label(label) exists whenever the label node
        # carries a smaller name already) — halves chain depth/round
        new = (
            mins.alias("a")
            .join(
                mins.select(
                    F.col("node").alias("label"), F.col("label").alias("label2")
                ).alias("b"),
                "label",
                "left",
            )
            .select("node", F.least("label", F.coalesce("label2", "label")).alias("label"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") < F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — "
            "raise max_iter (component diameter exceeds 2^rounds)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    )


def simhash_neardup(
    df: DataFrame,
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """SimHash near-dup JOIN — the banded lookup the fingerprint was
    built for: split the n_bits fingerprint into ``n_bands`` bit bands;
    by pigeonhole, two fingerprints within hamming distance < n_bands
    share at least one band EXACTLY, so candidates come from an
    equi-join on (band_id, band_bits) — the only shuffle key, never
    doc x doc — and only candidates pay the popcount verify.
    Returns (doc_a, doc_b, hamming) with hamming <= max_hamming,
    doc_a < doc_b.

    Completeness holds for ``max_hamming <= n_bands - 1``; a larger
    ``max_hamming`` still returns only verified-true pairs but may miss
    pairs whose differing bits touch every band. ``max_bucket_size``
    caps degenerate hot buckets like :func:`lsh_candidate_pairs`.

    SCALE: 32-bit fingerprints saturate on ~100M+ docs (8-bit bands
    have only 256 buckets — everything collides); pass
    ``n_bits=64, hash_fn="xxhash64"`` for corpus scale (16-bit bands,
    65k buckets per band — the Spark-only path, gated metamorphically:
    candidates cover every verified 32-bit pair on planted fixtures).

    ``n_bands >= 2`` is required: one band is the full fingerprint, so
    the "band" equality degenerates to exact-duplicate lookup (and the
    w == n_bits mask would overflow a BIGINT literal)."""
    if n_bands < 2:
        raise ValueError(f"n_bands must be >= 2 (got {n_bands}); a single band "
                         "degenerates to exact-fingerprint equality")
    if n_bits % n_bands:
        raise ValueError(f"n_bands {n_bands} must divide n_bits {n_bits}")
    w = n_bits // n_bands
    mask = (1 << w) - 1
    fp = simhash(df, n_bits, text_col, id_col, hash_fn=hash_fn)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                f" b -> struct(b as band_id,"
                f" (shiftright(simhash, b * {w}) & {mask}L) as band_bits))"
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_bits").alias("band_bits"),
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        wnd = Window.partitionBy("band_id", "band_bits")
        bands = bands.withColumn("__bs", F.count("*").over(wnd)).filter(
            F.col("__bs") <= max_bucket_size
        ).drop("__bs")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("__ha"),
            F.col("b.simhash").alias("__hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("bit_count(__ha ^ __hb)").cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash(
    df: DataFrame,
    n_bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, simhash BIGINT): frequency-weighted n_bits SimHash over
    token hashes (bit b set iff the signed bit-count is > 0).

    ``hash_fn="md5"`` (the oracle contract — DuckDB reproduces it
    bit-for-bit) supports n_bits <= 60, the md5-derived term hash's
    usable width. ``hash_fn="xxhash64"`` (Spark-only) supports the full
    n_bits <= 64: narrow fingerprints saturate at corpus scale — on
    ~100M+ docs every band bucket collides and the pigeonhole join
    degenerates — so the 64-bit variant is the scale path (gated
    metamorphically in tests: its candidate set must cover every
    verified 32-bit pair on planted fixtures). Bit 63 is the sign bit:
    setting it adds -2^63 in two's complement, and the bit test uses
    arithmetic shiftright + mask, correct for negative hashes."""
    if hash_fn == "md5":
        if n_bits > 60:
            raise ValueError(
                f"n_bits {n_bits} > 60 requires hash_fn='xxhash64' "
                "(md5 term hashes carry exactly 60 usable bits)"
            )
        toks_hashes = f"transform(__toks, t -> {MD5I.format(s='t')})"
        bit_test = "(h div {p}) % 2 = 1"
    elif hash_fn == "xxhash64":
        if n_bits > 64:
            raise ValueError(f"n_bits {n_bits} > 64")
        toks_hashes = "transform(__toks, t -> xxhash64(t))"
        # arithmetic shiftright sign-extends; & 1 isolates the bit —
        # correct for all 64 bits of a signed hash
        bit_test = "(shiftright(h, {b}) & 1) = 1"
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64': {hash_fn!r}")

    def weight(b: int) -> str:
        if b == 63:
            return "(-9223372036854775807L - 1L)"  # 2^63 = sign bit
        return f"{1 << b}L"

    bit_terms = " + ".join(
        f"(case when aggregate(__hs, 0L,"
        f" (acc, h) -> acc + (case when {bit_test.format(p=1 << b, b=b)}"
        f" then 1 else -1 end)) > 0"
        f" then {weight(b)} else 0L end)"
        for b in range(n_bits)
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
        )
        .select("doc_id", F.expr(toks_hashes).alias("__hs"))
        .select("doc_id", F.expr(bit_terms).alias("simhash"))
    )
