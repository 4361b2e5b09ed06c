"""Text analysis for training-data pipelines over the documents table.

All pure JVM expressions (regexp_* / length / split) — these run at
full codegen speed over 100 TB of text with zero Python. Each has a
DuckDB-expressible twin for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small curated stopword sets per language for the n-gram/stopword
# language-ID heuristic (public-knowledge word lists).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "de", "y"],
}

PUNCT_CLASS = r"[.,;:!?]"
STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish proxy: words + punct runs are
    counted separately by token_count_bpeish)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def token_count_bpeish(col: Column) -> Column:
    """A BPE-ish regex token count: alphanumeric runs and single
    non-space symbols each count as one token (the dialect-common
    subset of the GPT-2 pretokenizer split, no lookarounds)."""
    return F.when(
        col.isNull(), F.lit(None).cast("int")
    ).otherwise(F.size(F.regexp_extract_all(col, F.lit(r"(\w+|[^\w\s])"), 0)))


def punct_ratio(col: Column) -> Column:
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, r"[^.,;:!?]", "")) / F.length(col)
    )


def stopword_hits(col: Column, words: list[str] | None = None) -> Column:
    """Number of distinct common-stopword types present (word-boundary
    match, case-insensitive)."""
    words = words or STOPWORDS_EN
    hits = [
        F.when(F.lower(col).rlike(rf"\b{w}\b"), 1).otherwise(0) for w in words
    ]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def quality_score(col: Column) -> Column:
    """Composite document quality heuristic in [0,1]: length band +
    punctuation sanity + stopword presence. Deterministic, no UDF."""
    n = F.length(col)
    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(
        F.when(n > 0, 0.5).otherwise(0.0)
    )
    punct_ok = F.when(punct_ratio(col) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.least(stopword_hits(col) / F.lit(5.0), F.lit(1.0))
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


def lang_id(col: Column) -> Column:
    """Stopword-marker language ID: the language with the most distinct
    marker hits wins; ties broken by fixed language order; no hits →
    'unk'. Word-boundary, case-insensitive."""
    scores = {
        lang: stopword_hits(col, words) for lang, words in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS.keys())
    best = F.lit("unk")
    best_score = F.lit(0)
    # fixed iteration order => deterministic tie-break (first wins ties)
    for lang in langs:
        s = scores[lang]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def fingerprint64(col: Column) -> Column:
    """Deterministic 60-bit document fingerprint: delegates to
    common.md5_hash64 — first 15 hex chars of md5 → signed BIGINT
    (the ONE cross-engine hash definition; DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``). 15 chars, not 16:
    16 would need UBIGINT on the DuckDB side, which the driver's
    pandas fetch can't hash (see CLAUDE.md invariants)."""
    from ilogtail_spark.common import md5_hash64

    return md5_hash64(col)


ROLL_BASE = 1000003
ROLL_MOD = 2147483647  # 2^31 - 1: keeps acc*BASE + x < 2^63 (no overflow)


def rolling_fingerprint(col: Column) -> Column:
    """True polynomial rolling hash over the word sequence:
    h = Σ w_i · B^(n-i) mod M, folded left-to-right as
    h = (h·B + md5_64(w) mod M) mod M. Order-sensitive (unlike the
    whole-text md5 fingerprint, a word swap changes it predictably)
    and incrementally updatable — the Rabin-Karp shape. All JVM
    ``aggregate`` fold; DuckDB twin is the same fold via
    list_reduce."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    from ilogtail_spark.common import md5_hash64

    hashes = F.transform(words, lambda w: F.pmod(md5_hash64(w), F.lit(ROLL_MOD)))
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLL_BASE + x) % ROLL_MOD,
    )


CLS_DIM = 4096  # hashed-feature space
CLS_MULT = 2654435761  # Knuth multiplicative constant
CLS_MOD = 10007  # weight range prime; weights in [-5003, 5003]


def classifier_weight(tok_hash: Column) -> Column:
    """Deterministic pseudo-weight for a hashed token feature:
    bucket = h mod DIM, w = (bucket·MULT mod MOD) − (MOD−1)/2 — an
    integer in [−5003, 5003].  Stands in for trained fasttext-style
    weights; the POINT is the execution shape (hash → bucket → weight
    lookup → fold), which is exactly a linear text classifier's."""
    bucket = F.pmod(tok_hash, F.lit(CLS_DIM))
    return F.pmod(bucket * F.lit(CLS_MULT), F.lit(CLS_MOD)) - F.lit(
        (CLS_MOD - 1) // 2
    )


def classifier_score(col: Column) -> Column:
    """Hashed-feature linear classifier margin — the quality-filter
    stage of a curation pipeline (CCNet/fasttext shape) with
    deterministic weights so the score is oracle-exact.  The whole
    model runs in INTEGER space (Σ w over tokens) with ONE float
    division at the end (margin = Σw / (n·5003) ∈ [−1, 1]) — float
    summation order can differ between engines, integer sums cannot.
    Pure codegen fold, zero shuffle; a real weight vector would swap
    classifier_weight for a broadcast map lookup with the same plan.
    """
    from ilogtail_spark.common import md5_hash64

    toks = F.split(F.lower(F.trim(col)), r"\s+")
    total = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + classifier_weight(md5_hash64(t)),
    )
    return total / (F.size(toks) * F.lit(float((CLS_MOD - 1) // 2)))


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(c),
            "n_tokens_bpe": token_count_bpeish(c),
            "punct_ratio": punct_ratio(c),
            "quality": quality_score(c),
            "lang_guess": lang_id(c),
            "fp64": fingerprint64(c),
        }
    )


def _top_run(arr: Column) -> Column:
    """(count, value) of the most frequent element of ``arr`` — the
    longest equal run of the SORTED array, one linear JVM fold, zero
    shuffle. Ties resolve to the lexicographically smallest value
    (sort order), mirrored exactly in the DuckDB oracle
    (ORDER BY cnt DESC, g ASC)."""
    s = F.array_sort(arr)
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(None).cast("string").alias("bestv"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestv"]).alias("bestv"),
        )

    out = F.aggregate(s, acc0, step)
    return F.struct(out["best"].alias("cnt"), out["bestv"].alias("val"))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021 §A1.1 quality heuristics, adapted to the whitespace token
    model the rest of this module uses):

      * ``dup_word_frac``   — 1 - distinct/total words
      * ``top_word_frac``   — occurrences of the most frequent word /
                              total words
      * ``top_bigram_char_frac`` — characters covered by copies of the
                              most frequent word BIGRAM / total
                              non-space characters

    All three are per-row linear folds over the token array — narrow,
    no shuffle, survives any scale-up untouched. A repetition FILTER
    is then a plain Catalyst predicate over these columns.
    """
    c = F.lower(F.trim(F.col(text_col)))
    # materialize the shared token arrays in their own projections —
    # each signal references them several times and an inlined split
    # would be re-evaluated per reference (the expression-blowup trap)
    wc, gc = "_rep_words", "_rep_grams"
    out = df.withColumn(
        wc,
        F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
            F.split(c, r"\s+")
        ),
    )
    words = F.col(wc)
    nw = F.size(words)
    out = out.withColumn(
        gc,
        F.when(
            nw >= 2,
            F.transform(
                F.slice(words, 1, F.greatest(nw - 1, F.lit(0))),
                lambda w, i: F.concat(
                    w, F.lit(" "), F.try_element_at(words, i + 2)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    grams = F.col(gc)
    chars = F.length(F.regexp_replace(c, r"\s+", ""))
    top_w = _top_run(words)
    top_g = _top_run(grams)
    return out.withColumns(
        {
            "dup_word_frac": F.when(
                nw > 0,
                1.0 - F.size(F.array_distinct(words)).cast("double") / nw,
            ).otherwise(F.lit(0.0)),
            "top_word_frac": F.when(
                nw > 0, top_w["cnt"].cast("double") / nw
            ).otherwise(F.lit(0.0)),
            "top_bigram_char_frac": F.when(
                (chars > 0) & (F.size(grams) > 0),
                top_g["cnt"].cast("double")
                * F.length(F.regexp_replace(top_g["val"], r"\s+", ""))
                / chars,
            ).otherwise(F.lit(0.0)),
        }
    ).drop(wc, gc)


def c4_line_filters(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """C4-style line-level quality filtering (Raffel et al. 2020 §2.2,
    applied per line like the reference pipeline's line filters): a
    line SURVIVES only if it

      * ends in terminal punctuation (``. ! ? "``),
      * has >= ``min_words`` whitespace words,
      * does not contain the boilerplate marker ``lorem ipsum``,
      * does not contain ``{`` (code/markup leak).

    Docs with fewer than ``min_lines`` surviving lines are dropped
    entirely (C4's short-page rule). Everything is one codegen pass —
    split -> array lambdas -> array_join — zero shuffle; the whole
    operator fuses into the scan and survives any scale-up untouched.
    Per-rule counts are INDEPENDENT (a line failing two rules counts
    in both) so downstream monitoring sees each rule's bite.
    """
    lines_c = "_c4_lines"
    out = df.withColumn(lines_c, F.split(F.col(text_col), "\n"))
    lines = F.col(lines_c)

    def words(line: Column) -> Column:
        return F.size(F.split(F.trim(line), r"\s+"))

    def no_punct(line: Column) -> Column:
        return ~line.rlike(r'[.!?"]$')

    def short(line: Column) -> Column:
        return words(line) < min_words

    def lorem(line: Column) -> Column:
        return F.instr(line, "lorem ipsum") > 0

    def brace(line: Column) -> Column:
        return F.instr(line, "{") > 0

    def keep(line: Column) -> Column:
        return ~no_punct(line) & ~short(line) & ~lorem(line) & ~brace(line)

    kept = F.filter(lines, keep)
    out = out.withColumns(
        {
            "n_lines": F.size(lines),
            "n_no_punct": F.size(F.filter(lines, no_punct)),
            "n_short": F.size(F.filter(lines, short)),
            "n_lorem": F.size(F.filter(lines, lorem)),
            "n_brace": F.size(F.filter(lines, brace)),
            "n_kept": F.size(kept),
            "text_filtered": F.array_join(kept, "\n"),
        }
    ).drop(lines_c)
    return out.filter(F.col("n_kept") >= min_lines)


GOPHER_STOPWORDS = ["and", "be", "have", "of", "that", "the", "to", "with"]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021 §A1.1,
    the full table — complements repetition_stats which covers the
    repetition block): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (# and ...), bullet-line and ellipsis-line
    fractions, alphabetic-word fraction, and the >= ``min_stopwords``
    distinct-stopword requirement.

    Every metric is an exact integer count or a single division of
    two exact integers (IEEE-exact in both engines — no float
    summation order anywhere), so the whole operator is oracle-exact.
    One codegen pass, zero shuffle; the quality FILTER downstream is
    a plain Catalyst predicate over these columns.
    """
    t = F.col(text_col)
    wc, lc = "_gq_words", "_gq_lines"
    out = df.withColumn(wc, F.split(F.trim(t), r"\s+")).withColumn(
        lc, F.split(t, "\n")
    )
    words, lines = F.col(wc), F.col(lc)
    n_words = F.size(words)
    n_lines = F.size(lines)
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: l.startswith("- ") | l.startswith("•"))
    )
    n_ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    n_stop = F.aggregate(
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        F.lit(0),
        lambda a, s: a + F.when(F.array_contains(words, s), 1).otherwise(0),
    )
    mean_wl = sum_len.cast("double") / n_words.cast("double")
    sym_ratio = (n_hash + n_ellipsis).cast("double") / n_words.cast("double")
    bullet_frac = n_bullet_lines.cast("double") / n_lines.cast("double")
    ellipsis_frac = n_ellipsis_lines.cast("double") / n_lines.cast("double")
    alpha_frac = n_alpha_words.cast("double") / n_words.cast("double")
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (n_stop >= min_stopwords)
    )
    return out.withColumns(
        {
            "word_count": n_words,
            "mean_word_len": F.round(mean_wl, 6),
            "symbol_ratio": F.round(sym_ratio, 6),
            "bullet_frac": F.round(bullet_frac, 6),
            "ellipsis_frac": F.round(ellipsis_frac, 6),
            "alpha_frac": F.round(alpha_frac, 6),
            "n_stopwords": n_stop,
            "gopher_keep": keep,
        }
    ).drop(wc, lc)
