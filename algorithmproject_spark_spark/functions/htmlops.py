"""HTML kernels — T1 (html→text) and T13 (entity-keyword tagging)
from SURVEY.md §2.9.

The reference parses with Jsoup inside a scala UDF per row
(``ArticleInfoProcess.scala:61``; ``nlp/CleanHtml.scala:58-68``). For
the markup its pipelines actually see (server-rendered article bodies),
a regexp_replace chain covers the semantics while staying inside
Catalyst — no Python worker, codegen-friendly. A DOM-correct variant
for adversarial HTML belongs in a pandas_udf.

Each kernel is SQL text: ``ss_*`` for Spark (parsed once by
``F.expr``/``selectExpr``) and ``sql_*`` for the DuckDB oracle.
"""

from __future__ import annotations

from algorithmproject_spark_spark.functions.text import ss_lit

_WS = ss_lit(r"\s+")
_WORD_B = ss_lit(r"\b")
_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "))


def ss_html_to_text(expr: str) -> str:
    """T1: strip script/style blocks, comments, all tags; decode the
    common entities; collapse whitespace."""
    c = expr
    # two passes, no backreference: DuckDB's RE2 has none, and the
    # oracle must run the same pattern.
    for pattern in (
        r"(?is)<script[^>]*>.*?</script>",
        r"(?is)<style[^>]*>.*?</style>",
        r"(?s)<!--.*?-->",
        r"<[^>]+>",
    ):
        c = f"regexp_replace({c}, {ss_lit(pattern)}, ' ')"
    for ent, rep in _ENTITIES:
        c = f"replace({c}, {ss_lit(ent)}, {ss_lit(rep)})"
    c = f"regexp_replace({c}, {_WS}, ' ')"
    return f"trim({c})"


def sql_html_to_text(expr: str) -> str:
    """DuckDB twin of :func:`ss_html_to_text` (RE2 flags spelled the
    same way)."""
    c = f"regexp_replace({expr}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?s)<!--.*?-->', ' ', 'g')"
    c = f"regexp_replace({c}, '<[^>]+>', ' ', 'g')"
    for ent, rep in _ENTITIES:
        rep_sql = rep.replace("'", "''")
        c = f"replace({c}, '{ent}', '{rep_sql}')"
    c = f"regexp_replace({c}, '\\s+', ' ', 'g')"
    return f"trim({c})"


def ss_tag_entity_words(text: str, keywords: str) -> str:
    """T13: wrap every whole-word occurrence of each keyword in
    ``<i class="apus-entity-words">…</i>`` (ArticleInfoProcess.scala:
    130-164 — same markup class). Sequential fold over the keyword
    array; assumes alphanumeric keywords (the reference regex-escapes
    special chars — out of scope for the synthetic corpus)."""
    return (
        f"aggregate({keywords}, {text}, (acc_, kw_) -> regexp_replace(acc_, "
        f"concat({_WORD_B}, kw_, {_WORD_B}), "
        f"concat('<i class=\"apus-entity-words\">', kw_, '</i>')))"
    )


def sql_tag_entity_words(text_expr: str, keywords_expr: str) -> str:
    """DuckDB twin of :func:`ss_tag_entity_words` (note the 'g' flag —
    DuckDB replaces only the first match by default; Spark replaces
    all)."""
    return (
        f"list_reduce(list_prepend({text_expr}, {keywords_expr}), "
        f"(acc_, kw_) -> regexp_replace(acc_, '\\b' || kw_ || '\\b', "
        f"'<i class=\"apus-entity-words\">' || kw_ || '</i>', 'g'))"
    )
