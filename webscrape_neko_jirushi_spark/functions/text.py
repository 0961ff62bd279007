"""Text/naming column functions (SURVEY.md §2.2 P5, P6, P8, P9).

All pure built-in Column expressions — Catalyst folds the constants and
keeps them inside whole-stage codegen; no Python executes at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference: advanced_cleaning.py:65-69
NON_CAT_PATTERNS = [
    "icon", "button", "banner", "logo", "avatar", "profile",
    "noimage", "placeholder", "default", "empty", "loading",
    "spacer", "pixel", "transparent", "blank", "sample",
]

# reference: cleanup_dataset.py:136-156 (3-valued filename classifier)
CLEANUP_BLOCK_PATTERNS = [
    "ad", "advertisement", "banner", "logo", "icon", "button",
    "thumb", "thumbnail", "preview", "placeholder", "dummy",
    "loading", "error", "404", "noimage", "default",
    "illustration", "drawing", "cartoon", "anime", "manga",
    "graphic", "design", "art", "painting",
]
CLEANUP_ALLOW_PATTERNS = ["cat", "foster", "pet", "animal", "kitten", "kitty"]


def _contains_any(col: Column, patterns: list[str]) -> Column:
    """Any-substring predicate as ONE regex alternation over ONE
    lowercasing (r6) instead of an N-term Contains chain. Same truth
    table (patterns are regex-escaped, the match is unanchored). Why it
    matters: when Catalyst pushes a filter through the projection that
    builds ``col``, every Contains term gets the column's DEFINING
    expression substituted in — N lowercases and N string rebuilds per
    row in the pushed filter. One compiled regex keeps the inlined
    expression a single evaluation (advanced removal_breakdown
    4.3 s -> 1.1 s at sf0.1, output parity-checked). No patterns match
    nothing: false for a non-NULL value and NULL for NULL, as a
    non-empty list answers when none matches (the empty alternation
    would match every string)."""
    import re as _re

    if not patterns:
        return F.when(col.isNotNull(), F.lit(False))
    rx = "|".join(_re.escape(p) for p in patterns)
    return F.lower(col).rlike(rx)


def suspicious_filename(filename: Column) -> Column:
    """advanced_cleaning.py:91-94 — any of 15 substrings in lowercase name."""
    return _contains_any(filename, NON_CAT_PATTERNS)


def filename_class(filename: Column) -> Column:
    """cleanup_dataset.py:131-157 — 'block' / 'allow' / NULL (unknown).

    Order matters: block patterns are checked first (first-match-wins
    in the reference loop).
    """
    return (
        F.when(_contains_any(filename, CLEANUP_BLOCK_PATTERNS), F.lit("block"))
        .when(_contains_any(filename, CLEANUP_ALLOW_PATTERNS), F.lit("allow"))
        .otherwise(F.lit(None).cast("string"))
    )


def coalesce_name(*candidates: Column, cat_id: Column) -> Column:
    """First non-empty of name fields, else cat_{id}, else 'unknown_cat'
    (reorganize_dataset.py:37-57)."""
    cleaned = [F.nullif(F.trim(c), F.lit("")) for c in candidates]
    return F.coalesce(
        *cleaned,
        F.when(cat_id.isNotNull(), F.concat(F.lit("cat_"), cat_id.cast("string"))),
        F.lit("unknown_cat"),
    )


def sanitize_filename(name: Column) -> Column:
    """reorganize_dataset.py:59-70 — strip non-word chars, collapse
    [-\\s]+ to '_', trim '_', truncate to 50, 'unknown_cat' fallback."""
    cleaned = F.regexp_replace(name, r"[^\w\s-]", "")
    cleaned = F.regexp_replace(cleaned, r"[-\s]+", "_")
    cleaned = F.regexp_replace(cleaned, r"^_+|_+$", "")
    cleaned = F.substring(cleaned, 1, 50)
    return F.coalesce(F.nullif(cleaned, F.lit("")), F.lit("unknown_cat"))


def key_value_map(text: Column) -> tuple[Column, Column]:
    """``text.split(':', 1)`` -> (lower(trim(key)), trim(value))
    (smart_cat_discovery.py:238-243). Returns (NULL, NULL) when no colon."""
    has_colon = F.instr(text, ":") > 0
    key = F.when(has_colon, F.lower(F.trim(F.split(text, ":", 2).getItem(0))))
    value = F.when(has_colon, F.trim(F.split(text, ":", 2).getItem(1)))
    return key, value
