"""Text / source-code scalar functions — all JVM-side built-ins.

Spark-first recast of the reference's scalar surface (SURVEY.md §2.7):
regex extraction (extract_redirects.py:22-23), ``\\W+`` tokenization
(count_unigrams.py:14), case predicates (hyperlink_reference_linker.py:57),
bracket-strip normalization (hyperlink_reference_linker.py:106), whitespace
normalization (write_articles.py:240) — plus the training-data-pipeline
additions: language-ID heuristic, quality scoring, token counting, rolling
document fingerprints.

Every function returns a Column built from ``pyspark.sql.functions`` so the
expression stays inside whole-stage codegen; nothing here drops to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from wiki_entity_linker_spark.functions.hashing import h64

TOKEN_SPLIT_RE = "\\W+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_content(col: Column | str) -> Column:
    """Canonical form for exact-duplicate detection: collapse runs of
    whitespace to one space, trim, lowercase.

    Recast of write_articles.py:240 (``re.sub(r"\\s", " ")``) + the
    reference's pervasive ``.lower()`` alias normalization.
    """
    return F.lower(F.trim(F.regexp_replace(_c(col), "\\s+", " ")))


def tokenize(col: Column | str) -> Column:
    """``\\W+`` token array of the normalized text, empty tokens removed.

    Recast of count_unigrams.py:14,17 (``re.split(r"\\W+")``).
    """
    toks = F.split(normalize_content(col), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: t != "")


def _bind(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Higher-order functions fall back to interpreted evaluation, where
    codegen's common-subexpression elimination never runs, so a row
    expression referenced n times inside (or beside) a HOF is computed n
    times. Wrapping it as the sole element of a one-element array and
    mapping ``body`` over that binds it as a lambda variable instead.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def ngrams(tokens: Column | str, k: int = 5) -> Column:
    """k-token grams (space-joined) WITH multiplicity, in document order.

    Implementation note: built by zipping k shifted slices of the token
    array rather than ``transform(sequence(...), i -> slice(t, i, k))`` —
    interpreted HOF lambdas re-evaluate any captured row expression per
    element, so the transform form re-tokenizes the document once per
    shingle (O(n²) and catastrophic on real documents). The zip form
    still refers to the token array 2k+1 times, and HOFs run interpreted,
    without common-subexpression elimination, so the token expression is
    bound once per row through :func:`_bind` and the body sees only the
    lambda variable.
    """

    def grams(t: Column) -> Column:
        n = F.size(t)
        m = F.greatest(n - F.lit(k - 1), F.lit(0))  # gram count when n >= k
        acc = F.slice(t, 1, m)
        for i in range(1, k):
            acc = F.zip_with(
                acc, F.slice(t, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
            )
        # degenerate doc shorter than k tokens → single whole-doc gram
        short = F.array(F.concat_ws(" ", t))
        return F.when(n >= k, acc).otherwise(short)

    return _bind(_c(tokens), grams)


def shingles(tokens: Column | str, k: int = 5) -> Column:
    """Distinct k-token shingles (space-joined) from a token array —
    ``array_distinct`` over :func:`ngrams`.

    The graft's mention-span analogue: where the reference scans text for
    alias substrings (hyperlink_reference_linker.py:160-215), the code graft
    shingles `content` tokens for MinHash blocking. Pure higher-order
    functions — no UDF.
    """
    return F.array_distinct(ngrams(tokens, k))


def strip_parenthetical(col: Column | str) -> Column:
    """Title normalization ``re.sub(r" \\([^)]*?\\)", "")`` —
    hyperlink_reference_linker.py:106."""
    return F.regexp_replace(_c(col), " \\([^)]*?\\)", "")


def singular_variants(col: Column | str) -> Column:
    """Lookup candidates for a snippet: itself plus its singular form when it
    ends in ``s`` (prefix_trie_linker.py:235-246 ``is_snippet_variant_in_trie``
    recast — explode this array into the alias join instead of probing a
    trie twice)."""
    c = _c(col)
    return F.array_distinct(
        F.when(
            c.endswith("s"),
            F.array(c, F.substring(c, 1, F.length(c) - 1)),
        ).otherwise(F.array(c))
    )


def middle_name_variants(col: Column | str) -> Column:
    """Name variants for names with middle parts
    (hyperlink_reference_linker.py:65-89): "Habern William Archibald Freeman"
    → ["Habern Freeman", "Habern W A Freeman", "Habern W.A. Freeman",
    "Habern W. A. Freeman"]. Empty array unless the name has >2 parts all
    starting uppercase (the reference's Karl-I-of-Austria guard). The
    caller applies the person-not-organization type filter as a join, like
    the reference does with its entity type whitelist.

    Pure higher-order functions — sorted + deduped so the output is a
    deterministic set.
    """
    c = _c(col)
    parts = F.split(c, " ")
    mids = F.filter(
        F.slice(parts, 2, F.greatest(F.size(parts) - 2, F.lit(0))),
        lambda p: p != "",
    )
    nonempty = F.filter(parts, lambda p: p != "")
    first_char = lambda p: F.substring(p, 1, 1)  # noqa: E731
    is_upper = lambda p: (  # true-case check, unicode-safe via JVM upper/lower
        (first_char(p) == F.upper(first_char(p)))
        & (first_char(p) != F.lower(first_char(p)))
    )  # noqa: E731
    cond = (F.size(parts) > 2) & F.forall(nonempty, is_upper)
    first = F.element_at(parts, 1)
    last = F.element_at(parts, -1)
    initials = F.transform(mids, first_char)
    dotted = F.transform(mids, lambda p: F.concat(first_char(p), F.lit(".")))
    join_fl = lambda mid: F.concat_ws(" ", first, mid, last)  # noqa: E731
    variants = F.array(
        F.concat_ws(" ", first, last),
        join_fl(F.array_join(initials, " ")),
        join_fl(F.array_join(dotted, "")),
        join_fl(F.array_join(dotted, " ")),
    )
    return F.when(cond, F.array_sort(F.array_distinct(variants))).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline text analysis (documents table)
# ---------------------------------------------------------------------------

# Tiny per-language stopword marker sets for the n-gram language-ID heuristic.
# Deliberately deterministic and closed-vocabulary (no external model).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "para", "del"],
}


def _marker_hits(distinct_tokens: Column, lang: str) -> Column:
    markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
    return F.size(F.array_intersect(distinct_tokens, markers))


def lang_marker_hits(col: Column | str, lang: str) -> Column:
    """Count of marker-word hits for one language (token-set intersection)."""
    return _marker_hits(F.array_distinct(tokenize(col)), lang)


def lang_id(col: Column | str) -> Column:
    """Deterministic language-ID heuristic: argmax marker hits, ties broken
    by language code ascending; 'und' when nothing matches. The distinct
    token set is bound once per row (:func:`_bind`) and shared by all four
    marker counts."""

    def pick(toks: Column) -> Column:
        pairs = [(lang, _marker_hits(toks, lang)) for lang in sorted(_LANG_MARKERS)]
        best_score = F.greatest(*[s for _, s in pairs])
        out = F.lit("und")
        # reverse order so earlier (ascending) language wins ties
        for lang, score in reversed(pairs):
            out = F.when((score > 0) & (score == best_score), F.lit(lang)).otherwise(out)
        return out

    return _bind(F.array_distinct(tokenize(col)), pick)


def token_count(col: Column | str) -> Column:
    """Whitespace-ish token count — count_unigrams.py analogue."""
    return F.size(tokenize(col))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: penalize extreme length, high
    punctuation density and low stopword ratio. Deterministic column math."""
    c = _c(col)
    n_chars = F.length(c).cast("double")
    n_tokens = token_count(c).cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace(c, "[^\\w\\s]", ""))).cast("double")
    n_stop = lang_marker_hits(c, "en").cast("double")
    len_ok = F.when((n_tokens >= 10) & (n_tokens <= 10000), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ok = F.when(n_stop >= 3, F.lit(1.0)).otherwise(F.lit(0.6))
    return F.round(len_ok * punct_ok * stop_ok, 6)


def fingerprint(col: Column | str) -> Column:
    """Order-sensitive document fingerprint: portable h64 over the normalized
    content (rolling-hash analogue, stable across engines)."""
    return h64(normalize_content(col))


# PII scrubbing — the redaction pass a pretraining pipeline runs before any
# text leaves the ingest tier. Patterns are deliberately written in the
# RE2 ∩ java.util.regex common dialect (non-capturing groups, \b, \d, bounded
# repetition) so the SAME literal string drives both the Spark production
# path and the DuckDB oracle. Replacement order is load-bearing: emails are
# consumed first so their digit runs can't be re-matched as phones/IPs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (``email``/``ipv4``/``phone``)."""
    return F.regexp_count(_c(col), F.lit(PII_PATTERNS[kind]))


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its ``[KIND]`` tag, in dict order."""
    c = _c(col)
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, f"[{kind.upper()}]")
    return c


def chunk_count(n_tokens: Column | str, window: int, stride: int) -> Column:
    """Number of ``window``-token chunks advancing by ``stride`` that cover a
    document of ``n_tokens`` tokens: 1 when it fits in one window, else
    ``ceil((n - window) / stride) + 1``. Float ``floor`` is exact here —
    unlike the corpus-wide prefix sum in operators/packing.py, a PER-DOCUMENT
    token count is nowhere near 2^53."""
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    n = _c(n_tokens)
    return F.when(n <= window, F.lit(1).cast("long")).otherwise(
        F.floor((n - window + (stride - 1)) / stride).cast("long") + 1
    )


_SOUNDEX_FROM = "bfpvcgjkqszxdtlmnraeiouyhw"
_SOUNDEX_TO = "111122222222334556" + "0" * 8


def soundex(col: Column | str) -> Column:
    """Simplified American Soundex of a lowercase alphabetic word: first
    letter + first three consonant-class digits, adjacent duplicates
    collapsed, vowels dropped, zero-padded (Russell 1918; the classic
    phonetic blocking key of record linkage — Fellegi–Sunter deployments
    block on it to catch spelling-variant names the exact key misses).
    Simplification: h/w are treated as vowels (separators), not as
    transparent — stated so the DuckDB oracle can reproduce the key
    exactly with the same translate/regexp steps. Non-alphabetic input
    yields NULL. Pure column expressions — codegen, no UDF."""
    w = F.lower(_c(col))
    digits = F.translate(w, _SOUNDEX_FROM, _SOUNDEX_TO)
    # collapse runs per digit (seven passes) instead of a '(.)\1+'
    # backreference: DuckDB's RE2 oracle has no backreferences, and the
    # run alphabet is just 0-6, so the chain is exactly adjacent-dedup
    collapsed = digits
    for d in "0123456":
        collapsed = F.regexp_replace(collapsed, f"{d}+", d)
    tail = F.translate(F.substring(collapsed, 2, 100), "0", "")
    return F.when(
        w.rlike("^[a-z]+$"),
        F.concat(
            F.upper(F.substring(w, 1, 1)),
            F.rpad(F.substring(tail, 1, 3), 3, "0"),
        ),
    )
