"""String/text column expressions.

Covers the reference's scalar-function inventory (SURVEY.md §2.7
STR-1..STR-7) as reusable column expressions, plus the text-analysis
surface a large-scale training-data pipeline needs (token stats, quality
score, fingerprints, shingles, MinHash) — each designed to be exactly
reproducible in the DuckDB oracle (md5-based hashing, not engine-native
hash functions, so both engines agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Episode ids whose names keep their ':' (Scraper.py:227-229,295-297).
COLON_KEEP_IDS = (19, 25, 32, 35)


def normalize_name_col(name: Column, id_col: Column | None = None) -> Column:
    """The reference's episode-name → wiki-URL-slug normalization:
    strip ',' always; strip ':' unless id ∈ {19,25,32,35}; split on
    whitespace and re-join with '_' (Scraper.py:227-231, STR-4/STR-5)."""
    no_comma = F.regexp_replace(name, ",", "")
    if id_col is not None:
        stripped = F.when(
            id_col.isin(*COLON_KEEP_IDS), no_comma
        ).otherwise(F.regexp_replace(no_comma, ":", ""))
    else:
        stripped = F.regexp_replace(no_comma, ":", "")
    return F.concat_ws("_", F.split(F.trim(stripped), "\\s+"))


def wiki_url_col(name: Column, id_col: Column | None = None) -> Column:
    """f-string URL templating (STR-7, Scraper.py:219,334)."""
    return F.concat(
        F.lit("https://rickandmorty.fandom.com/wiki/"),
        normalize_name_col(name, id_col),
    )


def capitalize_col(c: Column) -> Column:
    """Python ``str.capitalize`` (Scraper.py:405 STR-2) — first char upper,
    rest lower. (Not ``initcap``: that uppercases every word.)"""
    return F.concat(
        F.upper(F.substring(c, 1, 1)), F.lower(c.substr(F.lit(2), F.length(c)))
    )


def stopword_ratio_col(text: Column, stopwords: list[str] = ("the", "a")) -> Column:
    toks = F.split(text, " ")
    sw = list(stopwords)
    return F.size(F.filter(toks, lambda t: t.isin(sw))) / F.size(toks)


def quality_score_cols(text: Column) -> dict[str, Column]:
    """Length/stopword/uniqueness heuristics for document quality filtering."""
    toks = F.split(text, " ")
    n = F.size(toks)
    return {
        "n_tokens": n,
        "n_chars2": F.length(text),
        "avg_token_len": (F.length(text) - (n - F.lit(1))) / n,
        "stopword_ratio": stopword_ratio_col(text),
        "distinct_ratio": F.size(F.array_distinct(toks)) / n,
    }


def fingerprint_col(text: Column) -> Column:
    """Exact-dup document fingerprint: md5 of whitespace-collapsed,
    lower-cased text. md5 is identical across Spark and DuckDB, so the
    oracle reproduces it exactly."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), "\\s+", " ")))


def tokens_col(text: Column) -> Column:
    """Whitespace tokens.  Materialize this as its own projection
    (``df.select(..., tokens_col(text).alias("_tk"))``) before building
    shingles: a plain column reference is cheap to re-reference, whereas
    inlining the split expression into a lambda re-runs the regexp per
    element access (measured 8× slower at sf0.1)."""
    return F.split(text, " ")


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Token k-gram shingles from a (materialized) token array;
    empty-safe for short docs.  Uses ``slice`` (one array reference per
    shingle) rather than k ``element_at`` calls."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(n >= k, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def shingle_hashes_col(shingles: Column, num_hashes: int = 8) -> Column:
    """Per-shingle hash material: ceil(num_hashes/4) md5 digests per
    shingle, concatenated (each 128-bit digest yields four 32-bit /
    8-hex-char MinHash components).  One array pass computes ALL the
    hash material — vs. one md5 per (shingle, component), an O(k)
    reduction in hashing.  md5-based so the DuckDB oracle reproduces
    the bytes exactly (engine-native xxhash64 vs duckdb hash diverge)."""
    n_digests = (num_hashes + 3) // 4
    return F.transform(
        shingles,
        lambda s: F.concat(
            *[F.md5(s if d == 0 else F.concat(s, F.lit("#" * d))) for d in range(n_digests)]
        ),
    )


def minhash_components(hashes: Column, num_hashes: int = 8) -> list[Column]:
    """MinHash component i = min over shingles of hex slice
    [8i, 8i+8) of the per-shingle digest material.  Lexicographic min
    of fixed-width hex == numeric min of the 32-bit value, so plain
    ``array_min`` on strings is correct."""
    def slice_min(off: int) -> Column:
        # NB: the lambda must take exactly one parameter — pyspark
        # binds a second parameter to the element INDEX, so a default
        # arg (lambda m, o=off: ...) would silently be clobbered.
        return F.array_min(F.transform(hashes, lambda m: F.substring(m, off, 8)))

    return [slice_min(8 * i + 1) for i in range(num_hashes)]

