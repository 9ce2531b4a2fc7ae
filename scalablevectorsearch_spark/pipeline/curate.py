"""Corpus-curation operators for large-scale training-data pipelines —
intra-document repetition signals, deterministic dataset splits, PII
redaction.

These extend the reference's surface the same way ``pipeline/text.py``
does (BASELINE.json north star): before a 100 TB crawl becomes training
data it is filtered for degenerate repetition (the Gopher/C4 quality
rules), split train/val/test reproducibly, and scrubbed of obvious PII.
Everything here is expressible as Catalyst plans; the only shuffle in
the module is :func:`repetition_stats`'s (doc_id, ngram) aggregation —
the scale-safe shape for arbitrarily long documents (an in-array
frequency count would be O(uniq x len) per row).

Cross-engine protocol: every computed ratio is emitted by the gates at
e4 fixed point (round-half-up), and every operator keeps one canonical
operation order so the DuckDB oracles (oracles.repetition_stats_sql
etc.) reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Sequential redaction order — FIXED, part of the cross-engine
#: protocol: each pattern counts and rewrites the text produced by the
#: previous stage. Patterns restrict themselves to the regex subset
#: with identical semantics in Java regex (Spark) and RE2 (DuckDB):
#: character classes, bounded repetition, \d, \b.
#: Case matters: emails are case-insensitive in the wild (Bob@Gmail.com)
#: so the classes carry A-Z explicitly — explicit ranges rather than a
#: (?i) flag keeps the pattern in the Java-regex ∩ RE2 common subset.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,6}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def word_ngrams_over(toks: F.Column, n: int) -> F.Column:
    """Array of space-joined word ``n``-grams over an ALREADY-PROJECTED
    token array column (empty when the document has fewer than ``n``
    tokens — guarded, because ``sequence(0, negative)`` would DESCEND,
    not return empty).

    ``toks`` must be a bound attribute (a real column from a prior
    select), NOT an inline ``split(...)`` expression: a lambda that
    captures a non-attribute subexpression RE-EVALUATES it per element
    — per-gram re-tokenization turned the 2-gram build into ~100
    splits/doc, measured 11x slower end-to-end at 1M docs
    (tools/profile_repetition.py). Grams are built with an unrolled
    ``concat(element_at(i), ' ', ..., element_at(i+n-1))`` — O(1) array
    lookups per gram — instead of ``array_join(slice(...))``, which
    materializes a throwaway sub-array per gram (measured 6x slower)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))

    def gram(i: F.Column) -> F.Column:
        parts: list[F.Column] = [F.element_at(toks, i)]
        for j in range(1, n):
            parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + j))
        return F.concat(*parts)

    grams = F.transform(idx, gram)
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style intra-document repetition signals over word
    ``n``-grams: (doc_id, n_ngrams, top_ngram_frac, dup_ngram_frac).

    ``top_ngram_frac`` is the fraction of n-gram slots taken by the
    single most frequent n-gram; ``dup_ngram_frac`` the fraction of
    slots whose n-gram occurs more than once. Documents with fewer
    than ``n`` tokens yield n_ngrams=0 and zero fractions (kept, so
    the output is total over the input — the filter policy is the
    caller's).

    Scale shape: SCAN-ONLY. A document's n-gram multiset is already a
    single row value, so per-doc frequencies never need a shuffle:
    ``array_sort`` groups equal grams into runs and one ``aggregate``
    fold walks the runs carrying (prev, run, top, dup) — O(len log
    len) JVM-side per row, zero exchanges, zero Python. (The
    explode -> groupBy(doc_id, ngram) alternative shuffles every gram
    as a string; at 1M x 100-token docs that measured 6x slower.)
    """
    # r12: the fold below is built as ONE SQL string parsed JVM-side
    # (guide §4, the driver's py4j boundary) — the Column-algebra
    # version paid ~130ms of round trips per construction. Node-for-node
    # the same Catalyst expressions (CaseWhen/CreateNamedStruct/
    # ArrayAggregate), so results are bit-identical; the `new_run` CASE
    # is textually repeated exactly where the Column version reused the
    # subtree, preserving the evaluated tree shape.
    new_run = "CASE WHEN acc.prev IS NOT NULL AND x = acc.prev THEN acc.run + 1 ELSE 1 END"
    fold = (
        "aggregate(array_sort(__ngrams), "
        "named_struct('prev', cast(null as string), 'run', cast(0 as bigint), "
        "'top', cast(0 as bigint), 'dup', cast(0 as bigint)), "
        "(acc, x) -> named_struct("
        f"'prev', x, "
        f"'run', {new_run}, "
        f"'top', greatest(acc.top, {new_run}), "
        f"'dup', acc.dup + CASE WHEN ({new_run}) = 2 THEN 2 "
        f"WHEN ({new_run}) > 2 THEN 1 ELSE 0 END))"
    )
    gram_parts = ["element_at(__toks, i)"]
    for j in range(1, n):
        gram_parts.append("' '")
        gram_parts.append(f"element_at(__toks, i + {j})")
    grams = (
        f"transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat({', '.join(gram_parts)}))"
    )
    # n_ngrams comes from the TOKEN count (size(toks) - n + 1 when the
    # doc has >= n tokens), not size(__ngrams): referencing __ngrams
    # once keeps the gram array a single-use intermediate the optimizer
    # can pipeline, instead of a twice-referenced value
    from .text import _qident

    id_col, text_col = _qident(id_col), _qident(text_col)
    stage = df.selectExpr(
        f"{id_col} as doc_id",
        f"split(trim({text_col}), '\\\\s+') as __toks",
    ).selectExpr(
        "doc_id",
        f"CASE WHEN size(__toks) >= {n} THEN cast(size(__toks) - {n - 1} as bigint) "
        f"ELSE cast(0 as bigint) END as n_ngrams",
        f"CASE WHEN size(__toks) >= {n} THEN {grams} "
        f"ELSE cast(array() as array<string>) END as __ngrams",
    ).selectExpr("doc_id", "n_ngrams", f"{fold} as __acc")
    tot = "cast(greatest(n_ngrams, 1) as double)"
    return stage.selectExpr(
        "doc_id",
        "n_ngrams",
        f"(cast(__acc.top as double) / {tot}) as top_ngram_frac",
        f"(cast(__acc.dup as double) / {tot}) as dup_ngram_frac",
    )


def split_boundaries(weights: list[float], digits: int = 4) -> list[str]:
    """Cumulative-weight boundaries as ``digits``-char lowercase hex
    strings over the [0, 16^digits) hash space. Shared verbatim with
    the oracle SQL so both engines compare against identical literals."""
    if any(w <= 0 for w in weights) or abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must be positive and sum to 1: {weights}")
    space = 16**digits
    bounds, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        bounds.append(format(min(int(acc * space), space - 1), f"0{digits}x"))
    return bounds


def dataset_split(
    df: DataFrame,
    names: list[str] | None = None,
    weights: list[float] | None = None,
    id_col: str = "doc_id",
    salt: str = "",
    digits: int = 4,
) -> DataFrame:
    """Deterministic, content-independent train/val/test assignment:
    ``df`` + a ``split`` column chosen by ``md5(salt:doc_id)``.

    The first ``digits`` hex chars of the digest are compared
    LEXICOGRAPHICALLY against cumulative-weight boundary strings —
    pure string comparison, so Spark and any SQL oracle agree without
    hex->int conversion. Reproducible across runs, clusters, and
    engines; adding documents never reassigns existing ones (the
    property random() splits lack). Narrow op: no shuffle, no UDF.
    """
    names = names or ["train", "val", "test"]
    weights = weights or [0.9, 0.05, 0.05]
    if len(names) != len(weights):
        raise ValueError("names and weights must align")
    bounds = split_boundaries(weights, digits)
    # one SQL string (r12, guide §4 driver boundary) — the same nested
    # CaseWhen tree the Column loop built, `h` repeated per level
    # exactly as the Column version reused the subtree
    from .text import _qident, _qlit

    h = (
        f"substring(md5(cast(concat({_qlit(salt)}, ':', "
        f"cast({_qident(id_col)} as string)) as binary)), 1, {digits})"
    )
    expr = _qlit(names[-1])
    for name, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = f"CASE WHEN {h} < '{b}' THEN {_qlit(name)} ELSE {expr} END"
    return df.withColumn("split", F.expr(expr))


def fraction_bound(frac: float, digits: int = 4) -> str:
    """``digits``-char lowercase-hex literal b such that keeping rows
    with ``md5_prefix < b`` samples ~``frac`` of the [0, 16^digits)
    hash space. Shared verbatim with the oracle SQL."""
    if not 0.0 < frac < 1.0:
        raise ValueError(f"fraction_bound needs 0 < frac < 1: {frac}")
    return format(int(frac * 16**digits), f"0{digits}x")


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
    digits: int = 4,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the domain-mixing /
    importance-sampling step of a training pipeline: keep ~``fractions
    [key]`` of each ``key_col`` stratum (e.g. upweight curated sources,
    downweight crawl), chosen by ``md5(salt:key:doc_id)`` so the
    decision is reproducible across runs, engines, and corpus growth
    (adding documents never flips an existing row, unlike
    ``sampleBy``'s RNG). Keys absent from ``fractions`` fall back to
    ``default_fraction``.

    Returns ``df`` + a ``kept`` boolean (callers filter; keeping the
    column makes the decision auditable). Scale shape: the fraction
    table is a driver-side literal folded into ONE scan-only CASE
    expression — no shuffle, no join, no UDF; the same lexicographic
    hex comparison as :func:`dataset_split`.
    """
    for k, f_ in fractions.items():
        if not 0.0 <= f_ <= 1.0:
            raise ValueError(f"fraction out of [0,1] for {k!r}: {f_}")
    h = F.substring(
        F.md5(
            F.concat(
                F.lit(salt), F.lit(":"), F.col(key_col), F.lit(":"),
                F.col(id_col).cast("string"),
            ).cast("binary")
        ),
        1,
        digits,
    )

    def keep_for(frac: float) -> F.Column:
        if frac <= 0.0:
            return F.lit(False)
        if frac >= 1.0:
            return F.lit(True)
        return h < F.lit(fraction_bound(frac, digits))

    expr = keep_for(default_fraction)
    # deterministic literal order (sorted keys) so the generated plan —
    # and therefore the gate hash — is stable across dict orderings
    for key in sorted(fractions, reverse=True):
        expr = F.when(F.col(key_col) == key, keep_for(fractions[key])).otherwise(expr)
    return df.withColumn("kept", expr)


#: Rule order is FIXED — ``reason`` reports the FIRST failing rule, so
#: the order is part of the cross-engine protocol.
QUALITY_RULES: list[str] = [
    "too_short",
    "too_long",
    "top_ngram_repetition",
    "dup_ngram_repetition",
    "low_quality",
    "bad_lang",
]


def quality_filter(
    stats: DataFrame,
    rep: DataFrame,
    lang: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    max_top_ngram_e4: int = 2000,
    max_dup_ngram_e4: int = 1200,
    min_quality_e4: int = 3500,
    langs: list[str] | None = None,
) -> DataFrame:
    """Gopher/C4-style document filter over PRECOMPUTED metadata:
    (doc_id, keep, reason), where ``reason`` is the first failing rule
    in :data:`QUALITY_RULES` order or ``'ok'``.

    Deliberately takes the outputs of :func:`~.text.text_stats`,
    :func:`repetition_stats` and :func:`~.text.lang_id` rather than raw
    text — at 100 TB the metadata tables are computed once (each is a
    single pass over the corpus) and every downstream policy is then a
    narrow three-way join on doc_id, re-runnable at metadata cost
    whenever thresholds change. Ratio thresholds compare at e4 fixed
    point so any SQL engine reproduces the decision bit-for-bit.
    """
    langs = langs or ["en"]
    # single SQL strings (r12, guide §4 driver boundary) — identical
    # CaseWhen/Floor expressions to the Column-algebra version
    e4 = lambda c: f"cast(floor(cast({c} as double) * 10000 + 0.5D) as bigint)"
    j = (
        stats.selectExpr("doc_id", "n_tokens", f"{e4('quality_score')} as __q")
        .join(
            rep.selectExpr(
                "doc_id",
                f"{e4('top_ngram_frac')} as __top",
                f"{e4('dup_ngram_frac')} as __dup",
            ),
            "doc_id",
        )
        .join(lang.select("doc_id", "pred_lang"), "doc_id")
    )
    from .text import _qlit

    lang_list = "(" + ", ".join(_qlit(x) for x in langs) + ")"
    reason = (
        f"CASE WHEN n_tokens < {min_tokens} THEN 'too_short' "
        f"WHEN n_tokens > {max_tokens} THEN 'too_long' "
        f"WHEN __top > {max_top_ngram_e4} THEN 'top_ngram_repetition' "
        f"WHEN __dup > {max_dup_ngram_e4} THEN 'dup_ngram_repetition' "
        f"WHEN __q < {min_quality_e4} THEN 'low_quality' "
        f"WHEN NOT (pred_lang IN {lang_list}) THEN 'bad_lang' "
        f"ELSE 'ok' END"
    )
    return j.selectExpr(
        "doc_id", f"{reason} as reason", f"(({reason}) = 'ok') as keep"
    )


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub obvious PII: (doc_id, clean_text, n_email, n_ip, n_ssn,
    n_phone).

    Patterns run SEQUENTIALLY in :data:`PII_PATTERNS` order; each
    stage counts matches in — and rewrites — the text produced by the
    previous stage (so an IP inside an already-redacted email is never
    double-counted). Counts use ``regexp_count``-equivalent semantics
    (non-overlapping, leftmost). Pure Catalyst regexp chain: scan-only,
    no shuffle, no Python in the row path.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select(
        F.col(id_col).alias("doc_id"),
        *counts,
        cur.alias("clean_text"),
    )
