"""Reference render-layer string scalars (SURVEY.md §2.8 F3/F4/F10/F12).

Catalyst-native Column builders for the reference's web-page and
Overpass renderers: HTML escaping, Overpass string escaping, a
pluralized count and a cascading length-budget fallback. Each is a
JVM-codegen expression, so it runs without a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def html_escape_col(text: Column) -> Column:
    """F3 (`htmlify`, generate_webpage_with_error_output.py:1083-1089):
    HTML-escape &, <, > and turn newlines into <br> — native
    regexp_replace chain, order matters (& first)."""
    c = F.regexp_replace(text, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    return F.regexp_replace(c, "\n", "<br>")


def escape_for_overpass_col(text: Column) -> Column:
    """F4 (`escape_for_overpass`, :1128-1130): backslash-escape \\ and '."""
    c = F.regexp_replace(text, r"\\", r"\\\\")
    return F.regexp_replace(c, "'", r"\\'")


def pluralized_count_col(n: Column, singular: str, plural: str) -> Column:
    """F10 (`problem_count_string`, :1280-1283)."""
    return F.when(n == 1, F.format_string(f"%d {singular}", n)).otherwise(
        F.format_string(f"%d {plural}", n)
    )


def fit_within_limit_col(candidates: list[Column], limit: int) -> Column:
    """F12 cascading length-budget fallback
    (`fit_wikipedia_edit_description_within_character_limit_*`,
    osm_editor_bot_for_approved_tasks.py:62-78): first candidate that
    fits wins; NULL if none do."""
    return F.coalesce(
        *[F.when(F.length(c) <= limit, c) for c in candidates]
    )
