"""Text kernels — tokenize / clean / n-grams / stopwords / subsumption.

Re-expresses the reference's text kernels as pure Catalyst expressions
(SURVEY.md §2.8-2.9):

- string cleaning chains (``nlp/CleanHtml.scala:20-37``,
  ``nlp/PrepProcess.scala:24-37``) → chained ``regexp_replace`` — no UDF;
- n-gram generation 1..4 (``nlp/NewsNgrams.scala:17-32``) →
  higher-order functions over the token array (``transform`` +
  ``sequence`` + ``slice``) — stays inside whole-stage codegen, no
  Python worker, no shuffle;
- stopword filtering (``NewsNgrams.scala:60-72`` broadcast list) →
  in-plan array literal for small lists, join for big dictionaries.

Each kernel is SQL TEXT, rendered once per engine: ``ss_*`` for Spark
(callers parse it with ``F.expr``/``selectExpr`` — one py4j send per
expression instead of one per nested ``F.*`` call) and ``sql_*`` for
the DuckDB oracle, so Spark results can be hash-compared exactly.
Regex and string arguments go through :func:`ss_lit`, which applies
Spark's backslash escaping (a Python ``r"\\S"`` is ``'\\\\S'`` in SQL).
"""

from __future__ import annotations

# Small English-ish stopword list (reference loads ~120 words from HDFS
# and broadcasts them — NewsNgrams.scala:63; we inline a deterministic
# subset so oracles are self-contained).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with",
)


def ss_lit(s: str) -> str:
    """Spark-SQL string literal of ``s`` (backslash and quote escaped:
    Spark's parser unescapes ``\\`` and ``\\'`` inside '...')."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ss_str_array(words) -> str:
    """array<string> literal of ``words`` — one parse instead of one
    py4j lit per word."""
    return "array(" + ", ".join(ss_lit(w) for w in words) + ")"


def ss_tokenize(expr: str) -> str:
    """Whitespace tokenizer (the testdata corpus is space-joined)."""
    return f"split({expr}, ' ')"


def ss_clean_text(expr: str) -> str:
    """Reference cleaning chain (CleanHtml.scala:20-37) as pure
    Catalyst: strip URLs, emails, control chars, collapse whitespace,
    lowercase. regexp_replace chains stay in codegen."""
    c = expr
    for pattern in (r"https?://\S+", r"\S+@\S+\.\S+", r"[\r\n\t]", r" +"):
        c = f"regexp_replace({c}, {ss_lit(pattern)}, ' ')"
    return f"lower(trim({c}))"


def ss_ngrams(tokens: str, n: int, sep: str = " ") -> str:
    """n-grams of a token array via HOFs (no shuffle, no UDF).

    Guarded with CASE because Spark's ``sequence(1, 0)`` produces a
    DESCENDING range rather than an empty one.
    """
    count = f"(size({tokens}) - {n - 1})"
    return (
        f"CASE WHEN {count} >= 1 THEN transform(sequence(1, {count}), "
        f"i_ -> concat_ws({ss_lit(sep)}, slice({tokens}, i_, {n}))) "
        "ELSE CAST(array() AS array<string>) END"
    )


def sql_ngrams(tokens_expr: str, n: int, sep: str = " ") -> str:
    """DuckDB twin of :func:`ss_ngrams` (1-based list_slice, empty range)."""
    return (
        f"list_transform(range(1, len({tokens_expr}) - {n} + 2), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), '{sep}'))"
    )


def ss_stopword_array() -> str:
    return ss_str_array(STOPWORDS)


def sql_stopword_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def ss_longest_match_filter(arr: str) -> str:
    """取长不取短 — keep only candidates NOT space-bounded-contained in a
    longer candidate (reference ``nlp/NewsNgrams.scala:34-41``
    ``getLonger``: pad every phrase with spaces, drop any phrase another
    padded phrase contains). Applied over distinct non-empty values; the
    reference's ``Seq.diff`` variant incidentally deletes exact
    duplicates outright, which is an artifact, not a semantic.

    Pure array HOFs — per-row arithmetic stays inside the row, no
    explode/join at any scale.
    """
    a = f"array_distinct(filter({arr}, x_ -> x_ IS NOT NULL AND x_ != ''))"
    return (
        f"filter({a}, w_ -> NOT exists({a}, o_ -> o_ != w_ AND "
        "contains(concat(' ', o_, ' '), concat(' ', w_, ' '))))"
    )


def sql_longest_match_filter(arr: str) -> str:
    """DuckDB twin of :func:`ss_longest_match_filter` (nested list lambdas)."""
    a = f"list_distinct(list_filter({arr}, x_ -> x_ IS NOT NULL AND x_ <> ''))"
    return (
        f"list_filter({a}, w_ -> len(list_filter({a}, "
        f"o_ -> o_ <> w_ AND contains(' ' || o_ || ' ', ' ' || w_ || ' '))) = 0)"
    )
