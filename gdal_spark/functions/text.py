"""Web-text analysis functions as pure Spark Column expressions.

Everything here stays JVM-side (built-in functions only → whole-stage
codegen), deliberately avoiding Python UDFs: these run per-document on
10^12-row tables, so the hot path must not cross the Python boundary.

Each expression has a DuckDB-equivalent SQL twin in
``gdal_spark.queries`` used for the oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_RE = "[.,!?;:]"

# Tiny deterministic stopword profiles for language scoring.  Not a
# real lang-id model — a portable n-gram/stopword heuristic whose exact
# semantics can be mirrored in ANSI SQL for the oracle.
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
}


def tokens(col) -> Column:
    """Whitespace tokens, empties dropped (split keeps empties in both
    Spark and DuckDB — filter them identically)."""
    return F.filter(F.split(col, " "), lambda t: t != F.lit(""))


def token_count(col) -> Column:
    return F.size(tokens(col))


def word_shingles(col, k: int = 3) -> Column:
    """Word k-gram shingles ('a b c' windows over the token stream) —
    the MinHash unit.  Shingling (vs unigram tokens) is what makes
    near-dup detection discriminative on small vocabularies: the
    shingle universe is |V|^k, so unrelated docs share almost none.
    Twin DuckDB SQL: list_transform(range(1, greatest(len(toks)-K+2, 1)),
    i -> array_to_string(list_slice(toks, i, i+K-1), ' '))."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_count(col) -> Column:
    return F.length(col)


def mean_token_len(col) -> Column:
    tc = token_count(col)
    nonspace = F.length(F.regexp_replace(col, " ", ""))
    return F.when(tc > 0, nonspace / tc).otherwise(F.lit(0.0))


def stopword_count(col, words: list[str]) -> Column:
    """Occurrences (not distinct) of marker words among tokens."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t)))


def stopword_ratio(col, words: list[str]) -> Column:
    tc = token_count(col)
    return F.when(tc > 0, stopword_count(col, words) / tc).otherwise(F.lit(0.0))


def lang_guess(col) -> Column:
    """Stopword-vote language guess over the marker profiles; ties and
    no-signal → 'und'.  Deterministic tie-break: highest count wins,
    then alphabetical language code."""
    scores = [
        (lang, stopword_count(col, words)) for lang, words in sorted(LANG_MARKERS.items())
    ]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    out = F.lit("und")
    # alphabetical order + strict > when scanning right-to-left gives
    # first-alphabetical-wins on ties
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def fingerprint(col) -> Column:
    """Document fingerprint: md5 of the lowercased, punctuation-stripped,
    whitespace-normalized text — the exact-dedup key."""
    norm = F.regexp_replace(F.lower(col), PUNCT_RE, "")
    norm = F.regexp_replace(norm, " +", " ")
    return F.md5(F.trim(norm).cast("binary"))


def token_hash32(tok) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5, as long.
    Identical in DuckDB via CAST('0x' || substr(md5(t),1,8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(tok.cast("binary")), 1, 8), 16, 10).cast("long")


def winnow_fingerprints_df(docs, id_col: str = "doc_id", text_col: str = "text",
                           k: int = 5, w: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every char k-gram, take the min hash of each w-length sliding
    window, keep the distinct mins per doc.  Near-dup docs share
    fingerprints; the selection is position-robust (a local change
    perturbs only nearby windows).

    Shape: k-gram hashes explode to rows, the sliding min is a Window
    ``rowsBetween(0, w-1)`` over gram position — one shuffle on the doc
    id.  (A pure higher-order-function formulation re-evaluates the
    hash array once per window inside the interpreted HOF path —
    measured quadratic; the row/Window form is the scalable one.)

    Returns (id_col, fp) rows, distinct."""
    from pyspark.sql import Window

    grams = docs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"filter(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
                f"i -> substring({text_col}, i, {k})), g -> length(g) = {k})"
            )
        ).alias("pos", "gram"),
    )
    h = grams.select(
        id_col, "pos", token_hash32(F.col("gram")).alias("h")
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    cnt = Window.partitionBy(id_col)
    mins = h.select(
        F.col(id_col),
        F.col("pos"),
        F.min("h").over(win).alias("fp"),
        F.count("*").over(cnt).alias("_n"),
    ).filter(F.col("pos") <= F.col("_n") - w)  # full windows only
    return mins.select(id_col, "fp").distinct()


def canonical_url(col) -> Column:
    """URL canonicalization for dedup keys — the normalization ladder a
    Common-Crawl-style pipeline applies before exact URL dedup
    (scheme+host lowercased, leading ``www.`` and default ``:80``
    dropped, ``utm_*`` tracking params stripped, fragment stripped,
    trailing slash and dangling ``?``/``&`` removed).  Pure JVM Column
    chain — regexp_replace/regexp_extract only, no UDF."""
    url = F.col(col) if isinstance(col, str) else col
    # fragment off first
    u = F.regexp_replace(url, "#.*$", "")
    # tracking params — every pattern ANCHORED to a [?&] boundary
    # (ADVICE round-3: an unanchored 'utm_…&' strips mid-token or
    # in-path occurrences like 'xutm_source=1&').  Order matters:
    # '&utm' strips repeat-safely (each match owns its own '&'), then
    # the leading '?utm' with and without following params.
    u = F.regexp_replace(u, "&utm_[a-z]+=[^&]*", "")
    u = F.regexp_replace(u, "\\?utm_[a-z]+=[^&]*&", "?")
    u = F.regexp_replace(u, "\\?utm_[a-z]+=[^&]*$", "")
    host = F.lower(F.regexp_extract(u, "^https?://([^/?#]+)", 1))
    host = F.regexp_replace(host, "^www\\.", "")
    host = F.regexp_replace(host, ":80$", "")
    rest = F.regexp_replace(u, "^https?://[^/?#]*", "")
    # one collapse handles trailing slashes AND multi-slash-before-
    # query identically to the oracle's '(/+)(\?|$)' → '\2'
    rest = F.regexp_replace(rest, "(/+)(\\?|$)", "$2")
    return F.concat(F.lit("https://"), host, rest)


def word_ngrams(col_name: str, n: int) -> Column:
    """All space-delimited word n-grams of a text column (BY NAME) as
    an array of joined strings — JVM-side (transform + slice +
    array_join), empty array when the text has fewer than n words."""
    return F.expr(
        f"CASE WHEN size(split({col_name}, ' ')) < {n} THEN array() "
        f"ELSE transform(sequence(0, size(split({col_name}, ' ')) - {n}), "
        f"i -> array_join(slice(split({col_name}, ' '), i + 1, {n}), ' ')) END"
    )
