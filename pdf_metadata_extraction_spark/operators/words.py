"""The repo-wide word tokenisation: lowercase, split on every run of
characters outside ``[a-z0-9]``, drop the empty pieces.

Every operator that counts, hashes or n-grams words uses this one
definition, so their outputs agree on what a word is. The DuckDB
oracles spell the same rule as
``list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), w -> w <> '')``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# SQL template; ``{t}`` is the text column (SQL expressions embed it)
WORDS_SQL = "filter(split(lower({t}), '[^a-z0-9]+'), x -> x != '')"


def word_array(text_col: str) -> Column:
    """array<string> of the words of column ``text_col``."""
    return F.expr(WORDS_SQL.format(t=text_col))
