"""Text cleaning column expressions (reference ops A13/A14/A17).

Semantics lifted from the reference's transformers:
  * clean_position  — keep ASCII letters/digits/` .,()-`, collapse runs of
    spaces, trim (DataTransform/transform_data.py:38-44).
  * clean_text      — NBSP→space, collapse all whitespace, trim
    (DataTransform/transform_data.py:124-127).

All pure column expressions → whole-stage codegen, no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NBSP = " "


def clean_text(col: Column | str) -> Column:
    """Whitespace normalization (A14): NBSP→space, collapse, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(c, NBSP, " "), r"\s+", " "))


def clean_position(col: Column | str) -> Column:
    """ASCII-whitelist strip + space collapse (A13)."""
    c = F.col(col) if isinstance(col, str) else col
    kept = F.regexp_replace(c, r"[^A-Za-z0-9 .,()\-]", "")
    return F.trim(F.regexp_replace(kept, r" {2,}", " "))
