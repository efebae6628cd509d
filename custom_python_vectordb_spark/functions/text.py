"""Text expression library (SURVEY.md §2.8 E6/E7/E12).

Tokenizer parity: the reference tokenizes with lowercase + ``\\b\\w+\\b``
(``hybrid_search.py:71-75``). For the ASCII corpora used in tests this is
exactly "split on non-[a-z0-9_] and drop empties", which both Spark and the
DuckDB oracle express identically — so that split form is our canonical
tokenizer (documented divergence: non-ASCII word chars).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from custom_python_vectordb_spark.functions.expr import let_once

TOKEN_SPLIT = "[^a-z0-9_]+"
#: the complement class — a token is a maximal run of these chars
TOKEN_RUN = "[a-z0-9_]+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: Column | str) -> Column:
    """lowercase → token runs of [a-z0-9_]. Array<string>.

    r14: `regexp_extract_all` of the token-run class, not
    `split(non-token-class) + filter empties` — token-identical on every
    input (a token IS a maximal run of allowed chars; verified 0
    differing rows corpus-wide and oracle-hashed tri-scale), but
    StringSplit re-compiles its java.util.regex Pattern PER ROW while the
    regexp_* family caches it per task: 2.35 → 0.87 s serial over 50K
    docs, and under 32 concurrent tasks the per-row compile's allocation
    storm burned 62 CPU-s for 2.85 s of work (22× inflation) where
    extract_all actually parallelizes (0.57 s wall). Tokenize feeds
    bm25/dedup/shingles/LM scoring — the single hottest expression in the
    engine."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(TOKEN_RUN), 0)


def tokenize_py(text: str) -> list[str]:
    """Driver-side twin of :func:`tokenize` for constant query strings."""
    import re

    return [t for t in re.split(TOKEN_SPLIT, text.lower()) if t]


def duck_tokenize(col: str) -> str:
    """DuckDB-SQL twin of :func:`tokenize`."""
    return f"list_filter(regexp_split_to_array(lower({col}), '{TOKEN_SPLIT}'), x -> x <> '')"


def extract_text(*cols: Column | str, sep: str = " ") -> Column:
    """E7 — concat string fields into the indexable document text
    (``hybrid_search.py:266-281``)."""
    return F.concat_ws(sep, *[_c(c) for c in cols])


def slugify(col: Column | str) -> Column:
    """E12 — the reference's id-slugging (lower + spaces→underscores,
    ``query_news_db.py:329,336``)."""
    return F.regexp_replace(F.lower(_c(col)), " ", "_")


# ---- training-data text analysis (pipeline additions) --------------------

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu"],
    "es": ["el", "la", "los", "y", "de", "que", "es"],
    "fr": ["le", "la", "les", "et", "de", "que", "est"],
}

BPE_ISH_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _stopword_hits(toks: Column, lang: str) -> Column:
    """Count (with multiplicity) of `toks` elements in `lang`'s stopword set."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def quality_score(col: Column | str) -> Column:
    """Deterministic doc-quality heuristic in [0, 1]:
    0.4·min(n_tokens/100, 1) + 0.3·en-stopword-ratio·3 (capped at 0.3)
    + 0.3·(1 − punct_ratio) — length, naturalness, cleanliness."""
    c = _c(col)

    def _score(toks: Column) -> Column:
        n = F.size(toks)
        ratio = F.when(n > 0, _stopword_hits(toks, "en").cast("double") / n).otherwise(
            F.lit(0.0)
        )
        length_part = F.least(n.cast("double") / 100.0, F.lit(1.0)) * 0.4
        sw_part = F.least(ratio * 3.0, F.lit(1.0)) * 0.3
        n_chars = F.length(c)
        punct = F.length(F.regexp_replace(F.lower(c), "[a-z0-9_\\s]", ""))
        punct_part = (
            F.when(n_chars > 0, 1.0 - punct.cast("double") / n_chars).otherwise(F.lit(1.0))
            * 0.3
        )
        return length_part + sw_part + punct_part

    return let_once(tokenize(c), _score)


def langid_predict(col: Column | str) -> Column:
    """argmax language by stopword votes; 'und' when no votes; ties →
    lexicographically-first language (deterministic).

    Built as array_max over (votes, -rank, lang) structs with let-bound
    tokens: every per-language count is evaluated once, vs the folded
    when/otherwise chain that duplicated each earlier count into both
    branches of every later comparison (2^langs blowup)."""

    def _pick(toks: Column) -> Column:
        entries = [
            F.struct(
                _stopword_hits(toks, lang).alias("n"),
                F.lit(-i).alias("nr"),  # on tied votes, max(nr) = earliest lang
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(STOPWORDS))
        ]
        best = F.array_max(F.array(*entries))
        return let_once(
            best, lambda b: F.when(b["n"] > 0, b["lang"]).otherwise(F.lit("und"))
        )

    return let_once(tokenize(col), _pick)


def token_stats(col: Column | str) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish regex token count)."""
    c = _c(col)
    # regexp_extract_all of \S+ runs ≡ split(\s+)+drop-empties (r14: same
    # per-row Pattern-recompile fix as tokenize)
    ws = F.size(F.regexp_extract_all(c, F.lit("\\S+"), 0))
    bpe = F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_ISH_REGEX), 0))
    return ws, bpe


def doc_fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — a rolling-hash-free canonical fingerprint identical across
    engines (duck: md5(array_to_string(list_sort(list_distinct(toks)),' ')))."""
    toks = tokenize(col)
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
