"""Marker-word language-ID fragments — the shared core behind
text_lang_id (operators/text.py) and the round-10 evaluation card
text_lang_confusion (operators/text_langconf.py).

The heuristic: count each language's five marker stopwords in the
whitespace token list; predict the max-score language with the fixed
tie order en > de > fr > es, `und` when every score is zero.  Both
engines evaluate the IDENTICAL expression tree (integer scores, same
CASE ladder), so per-doc predictions agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import sql_list

# language marker words for the n-gram/stopword heuristic (tiny fixed
# profiles; the honest version of langid at SQL speed)
MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}


def marker_count(toks: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def pred_lang(toks: Column) -> Column:
    """The predicted-language CASE ladder over the marker scores."""
    s = {lang: marker_count(toks, ws) for lang, ws in MARKERS.items()}
    return (
        F.when(
            (s["en"] >= s["de"])
            & (s["en"] >= s["fr"])
            & (s["en"] >= s["es"])
            & (s["en"] > 0),
            F.lit("en"),
        )
        .when(
            (s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0),
            F.lit("de"),
        )
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), F.lit("fr"))
        .when(s["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


#: per-doc (doc_id, true_lang, pred_lang) — the DuckDB twin both the
#: projection query and the confusion card build on
LANG_PRED_SQL = """
    WITH scored AS (
        SELECT doc_id, lang AS true_lang,
               {scores}
        FROM (SELECT doc_id, lang, {toks} AS toks FROM documents)
    )
    SELECT doc_id, true_lang,
           CASE
             WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
             WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
             WHEN fr >= es AND fr > 0 THEN 'fr'
             WHEN es > 0 THEN 'es'
             ELSE 'und'
           END AS pred_lang
    FROM scored
""".format(
    toks=H.sql_tokens("text"),
    scores=", ".join(
        f"len(list_filter(toks, t -> list_contains({sql_list(ws)}, t))) AS {lang}"
        for lang, ws in MARKERS.items()
    ),
)
