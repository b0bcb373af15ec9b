"""Text normalization + analysis kernels (all JVM-side Column expressions).

``normalize_text`` is the web-text analogue of the reference sequence
cleaner (uppercase + ``[^ACGTN] -> N``, code/dedup2.py:467-468): a
deterministic, versioned canonical form computed once per document, which
every downstream shingle/signature stage consumes. The per-row invariant of
BASELINE.json:input_hint (byte-identical extracted text per url) holds
because the transform is pure string algebra — no locale, no rand.

Each Spark expression has a DuckDB-SQL twin (``*_duckdb_sql``) so the
driver's oracle recomputes the identical value. DuckDB's ``regexp_replace``
is first-match-only by default, hence the explicit ``'g'`` flag there.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- normalization (P1) ----------------------------------------------------

NORMALIZE_SPARK_SQL = "lower(trim(regexp_replace({c}, '\\\\s+', ' ')))"
NORMALIZE_DUCKDB_SQL = "lower(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


def normalize_text(col: Column) -> Column:
    """Collapse whitespace runs, trim, lowercase."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def extract_text_from_html(html: Column) -> Column:
    """Deterministic HTML -> text extraction (S2/P1 analogue).

    Strips script/style blocks, tags, and entities with pure regexp — not a
    browser-grade extractor, but fully deterministic and versioned
    (EXTRACTOR_VERSION), which is what the byte-identical-per-url invariant
    requires. Runs JVM-side (no Python in the hot path).
    """
    # lenient decode: real crawls contain malformed bytes, and one bad page
    # must not fail the job (decode() throws under ANSI; the binary->string
    # cast + make_valid_utf8 substitutes U+FFFD deterministically)
    s = F.make_valid_utf8(html.cast("string"))
    s = F.regexp_replace(s, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?s)<[^>]+>", " ")
    s = F.regexp_replace(s, r"&nbsp;", " ")
    s = F.regexp_replace(s, r"&amp;", "&")
    s = F.regexp_replace(s, r"&lt;", "<")
    s = F.regexp_replace(s, r"&gt;", ">")
    return normalize_text(s)


EXTRACTOR_VERSION = "regex-v1"

# --- language-ID heuristic --------------------------------------------------

# marker words per language; scored by distinct-marker hits on token set
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}


def lang_id(col: Column) -> Column:
    """Tiny n-gram/marker-word language guesser; 'und' when no markers hit."""
    toks = F.split(normalize_text(col), " ")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        marr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(marr, lambda m: F.array_contains(toks, m)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


# --- repetition metrics (Gopher-style quality filter) -----------------------


def top_gram_run_chars(toks_col: str, k: int) -> Column:
    """Characters covered by the most frequent word ``k``-gram: count ×
    length of the space-joined gram (the Gopher repetition-filter
    numerator; occurrences may overlap, so callers cap the fraction).

    Computed entirely row-local in one codegen expression — NO explode,
    NO shuffle: build the gram strings, ``array_sort`` them, then a
    linear ``aggregate`` pass tracks the longest equal run. Ties break to
    the lexicographically smallest gram (strictly-greater keeps the
    earlier run of the ascending sort) — the DuckDB oracle mirrors with
    ``ORDER BY n DESC, phrase ASC``. Reference analogue: the k-mer
    count table consulted per window, code/dedup2.py:418-443 — here the
    "table" is a per-document run scan, so the operator is shuffle-free
    at any corpus size.
    """
    grams = (
        f"array_sort(transform(sequence(1, size({toks_col}) - {k} + 1), "
        f"s -> concat_ws(' ', slice({toks_col}, s, {k}))))"
    )
    scan = f"""
    aggregate(
      {grams},
      named_struct(
        'prev', cast(null as string), 'run', cast(0 as bigint),
        'best', cast(0 as bigint), 'bg', cast('' as string)),
      (st, x) -> named_struct(
        'prev', x,
        'run', if(x <=> st.prev, st.run + 1, cast(1 as bigint)),
        'best', if(if(x <=> st.prev, st.run + 1, cast(1 as bigint)) > st.best,
                   if(x <=> st.prev, st.run + 1, cast(1 as bigint)), st.best),
        'bg',   if(if(x <=> st.prev, st.run + 1, cast(1 as bigint)) > st.best,
                   x, st.bg)),
      st -> st.best * length(st.bg))
    """
    return F.when(
        F.size(F.col(toks_col)) >= k, F.expr(scan)
    ).otherwise(F.lit(0).cast("bigint"))
