"""Text-analysis column expressions for training-data pipelines.

All pure Column expressions (whole-stage codegen, no Python boundary):
tokenization, shingling, quality stats, language-ID heuristic, token
counting, fingerprinting. These back the dedup operators
(operators/dedup.py) and the text_suite queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Minimal stopword list used for quality ratios (must stay in sync with
#: DD_STOPWORDS below — the DuckDB oracle uses the same list).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
DD_STOPWORDS = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

#: Marker-token lists for the language-ID heuristic. Deterministic argmax
#: with fixed precedence (en > es > de > unknown) on ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
}

#: BPE-ish token pattern: letter runs, digit runs, single other non-space.
#: Kept to RE2-compatible syntax so Spark (Java regex) and DuckDB (RE2)
#: agree exactly.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

#: Java-regex spelling of the same classes. Java compiles an explicit
#: multi-range class like ``[^a-zA-Z0-9 ]`` into a chain of nested
#: CharProperty unions evaluated per character — measured ~40x slower than
#: the single-table POSIX properties on the sf10 corpus scan (22.5s vs
#: 0.6s for the punct census; see PLANS.md round-7 notes). ``\p{Alnum}``
#: etc. are ASCII-only in Java's default mode, so the two spellings accept
#: IDENTICAL strings; RE2 (DuckDB) doesn't parse ``\p{Alnum}``, which is
#: why the portable spelling above must stay for oracle SQL. Twin-checked
#: by every oracle hash over these expressions.
TOKEN_PATTERN_JVM = r"\p{Alpha}+|\p{Digit}+|[^\p{Alnum} ]"
PUNCT_CLASS_JVM = r"[^\p{Alnum} ]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on single spaces, drop empties)."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def n_tokens(toks: Column) -> Column:
    return F.size(toks).cast("bigint")


def n_distinct_tokens(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)).cast("bigint")


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks))


def stopword_ratio(toks: Column) -> Column:
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, hits / F.size(toks))


def type_token_ratio(toks: Column) -> Column:
    """Lexical diversity: distinct/total — low values flag repetitive docs."""
    return F.when(F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks))


def punct_ratio(text: Column) -> Column:
    """Share of non-alphanumeric, non-space characters."""
    n = F.length(text)
    clean = F.length(F.regexp_replace(text, PUNCT_CLASS_JVM, ""))
    return F.when(n > 0, (n - clean) / n)


def quality_score(toks: Column, text: Column) -> Column:
    """Composite [0,1] doc-quality heuristic: length band + diversity -
    punctuation noise. Deterministic, SQL-expressible."""
    lens_ok = F.when((F.size(toks) >= 10) & (F.size(toks) <= 5000), F.lit(0.4)).otherwise(
        F.lit(0.0)
    )
    diversity = F.least(
        F.coalesce(type_token_ratio(toks), F.lit(0.0)) * F.lit(2.0), F.lit(1.0)
    ) * F.lit(0.4)
    punct_pen = F.least(
        F.coalesce(punct_ratio(text), F.lit(0.0)) * F.lit(2.0), F.lit(1.0)
    ) * F.lit(0.2)
    return lens_ok + diversity + (F.lit(0.2) - punct_pen)


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count via TOKEN_PATTERN (regexp, JVM-side)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(TOKEN_PATTERN_JVM), F.lit(0))
    ).cast("bigint")


def _marker_counter(markers: tuple[str, ...]):
    # single-arg lambda factory: PySpark infers higher-order-function arity
    # from the signature, so the markers must be captured by closure, not by
    # a defaulted parameter.
    def counter(t: Column) -> Column:
        return t.isin(*markers)

    return counter


def lang_scores(toks: Column) -> dict[str, Column]:
    low = F.transform(toks, F.lower)
    return {
        lang: F.size(F.filter(low, _marker_counter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang(toks: Column) -> Column:
    """Deterministic argmax over marker counts; 'unknown' when all zero.

    Ties resolve by the fixed precedence en > es > de (strict > comparisons
    in precedence order), identical in the DuckDB oracle twin.
    """
    s = lang_scores(toks)
    en, es, de = s["en"], s["es"], s["de"]
    return (
        F.when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )


def md5_fingerprint(text: Column) -> Column:
    """Exact-content fingerprint; identical in DuckDB (md5 of UTF-8)."""
    return F.md5(text)


def md5_uniform_int(c: Column) -> Column:
    """Portable deterministic uniform integer in [0, 2^60): the first 15
    hex digits of md5. Unlike xxhash64 (engine-specific), this reproduces
    bit-for-bit in any engine with md5 — DuckDB twin:
    :func:`dd_md5_uniform_int`. Use as the RNG-free randomness source for
    cross-engine-verifiable sampling."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def dd_md5_uniform_int(expr: str) -> str:
    """DuckDB twin of :func:`md5_uniform_int`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def word_shingles_all(toks: Column, n: int = 3) -> Column:
    """ALL n-word shingles (duplicates kept — the denominator for
    repetition ratios)."""
    shingled = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, shingled).otherwise(
        F.array().cast("array<string>")
    )


def word_shingle_hashes(toks: Column, n: int = 3) -> Column:
    """ALL n-word shingles as 64-bit hashes (duplicates kept). ~6x cheaper
    than the string-building :func:`word_shingles_all`: the lambda hashes
    ``n`` array elements instead of slicing + concatenating substrings.
    Multi-arg xxhash64 chains per token, so no separator ambiguity;
    distinct-counts match string shingles up to ~2^-64 collisions.

    The length guard matters: ``sequence(1, 0)`` in Spark infers step -1
    and yields [1, 0] rather than an empty array, so an unguarded short
    doc would produce phantom shingles."""
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    shingled = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(toks, i + j) for j in range(n)])
    )
    return F.when(F.size(toks) >= n, shingled).otherwise(
        F.array().cast("array<bigint>")
    )


def dup_ratio_from_shingles(sh: Column) -> Column:
    """Repeated-shingle ratio given a PRE-MATERIALIZED shingle array column
    (0 when too short to shingle). Keep the array in its own projection
    (``withColumn``) so it is computed once per row — referencing a
    shingling *expression* from several output columns re-evaluates it."""
    total = F.size(sh)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(sh)) / total.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_ngram_ratio(toks: Column, n: int = 3) -> Column:
    """Repeated n-gram ratio: 1 - distinct/total shingles (0 when the doc
    is too short to shingle). The Rae et al. (Gopher) repetition signal,
    as a pure column expression. For hot paths, materialize
    :func:`word_shingle_hashes` in a projection and apply
    :func:`dup_ratio_from_shingles` instead (single evaluation per row)."""
    return dup_ratio_from_shingles(word_shingle_hashes(toks, n))


def stopword_count(toks: Column) -> Column:
    """Number of stopword occurrences (Gopher's >=2-stopwords rule input)."""
    return F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    ).cast("bigint")


# --- DuckDB twins -----------------------------------------------------------

DD_TOKENS = "list_filter(string_split({text}, ' '), t -> t <> '')"


def dd_tokens(text: str) -> str:
    return DD_TOKENS.format(text=text)


def dd_shingles(toks: str, n: int = 3) -> str:
    """DuckDB distinct n-word shingles (1-based inclusive slicing)."""
    return (
        f"list_distinct([array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 1}, 0) + 1)])"
    )


def dd_shingles_all(toks: str, n: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles_all` (duplicates kept)."""
    return (
        f"[array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 1}, 0) + 1)]"
    )


def dd_dup_ngram_ratio(toks: str, n: int = 3) -> str:
    """DuckDB twin of :func:`dup_ngram_ratio`."""
    all_sh = dd_shingles_all(toks, n)
    return (
        f"CASE WHEN len({all_sh}) > 0 THEN 1.0 - "
        f"len(list_distinct({all_sh})) / CAST(len({all_sh}) AS DOUBLE) "
        f"ELSE 0.0 END"
    )


def dd_stopword_count(toks: str) -> str:
    """DuckDB twin of :func:`stopword_count`."""
    return (
        f"CAST(len(list_filter({toks}, t -> lower(t) IN {DD_STOPWORDS})) "
        f"AS BIGINT)"
    )


DD_LANG_CASE = (
    "CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en' "
    "WHEN s_es >= s_de AND s_es > 0 THEN 'es' "
    "WHEN s_de > 0 THEN 'de' ELSE 'unknown' END"
)


def dd_lang_score(toks: str, lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({toks}, t -> lower(t) IN ({markers})))"
