"""Text normalization (SURVEY.md §2.7 F1-F5).

The reference normalizes free-text columns before matching and dim
construction: lowercase + NFD accent strip + whitespace collapse
(Datos/preprocessing.py:14-21) and Kettle trim/lower steps
(etl_final.ktr:3158-3162, 3366-3369). All implemented as JVM-side column
expressions so the hot path stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spanish-corpus accent map — covers every accented char the reference's
# data contains (á é í ó ú ü ñ and uppercase). `translate` is codegen'd.
_ACCENTED = "áéíóúüñÁÉÍÓÚÜÑàèìòùâêîôûäëïöÀÈÌÒÙÂÊÎÔÛÄËÏÖ"
_PLAIN = "aeiouunAEIOUUNaeiouaeiouaeioAEIOUAEIOUAEIO"


def lower(col: Column | str) -> Column:
    """F1: lowercase (Kettle lower_upper=lower, etl_final.ktr:3158-3162)."""
    return F.lower(F.col(col) if isinstance(col, str) else col)


def strip_accents(col: Column | str) -> Column:
    """F2: accent strip via codegen'd translate (Spanish corpus coverage).

    Reference: unicodedata.normalize('NFD') + drop combining marks
    (Datos/preprocessing.py:18-19). For the Latin-1 range the reference's
    data actually uses, a char-map translate is semantically identical and
    stays JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ACCENTED, _PLAIN)


def collapse_whitespace(col: Column | str) -> Column:
    """F3: `' '.join(text.split())` (Datos/preprocessing.py:21)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def normalize_text(col: Column | str) -> Column:
    """The reference's composite normalize_text: lower → accent strip →
    whitespace collapse (Datos/preprocessing.py:14-21). Idempotent."""
    return collapse_whitespace(strip_accents(lower(col)))


def normalize_column_names(df):
    """F5: apply text normalization to header names
    (Datos/preprocessing.py:125). Spaces become underscores so the names
    stay referenceable."""
    import unicodedata

    def norm(name: str) -> str:
        stripped = "".join(
            ch
            for ch in unicodedata.normalize("NFD", name.lower())
            if unicodedata.category(ch) != "Mn"
        )
        return "_".join(stripped.split())

    return df.toDF(*[norm(c) for c in df.columns])
