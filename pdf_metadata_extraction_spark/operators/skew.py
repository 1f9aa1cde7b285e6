"""Explicit skew handling — salting for mega-domains
(north rule; the reference has no analogue — SURVEY.md §4 'absent').

Common-Crawl-style corpora put ~half the rows in a handful of domains
(the synthetic pages table reproduces this with its 50% mega-domain).
Any per-domain shuffle (groupBy domain, domain-bucketed joins) then
hot-spots one partition. Two tools:

- ``with_salt``: add ``salt = pmod(crc32(url), n_salt)`` — keying a
  shuffle on (key, salt) splits a hot key across n_salt partitions.
  Aggregates then run in two phases (partial per (key, salt), final per
  key) — ``salted_groupby_count`` shows the pattern.
- AQE skew-join splitting is enabled session-wide (session.py) for the
  join side of the same problem.

The lineage rows record the salt (schemas.LINEAGE.salt) so a resumed
partition range recomputes with the same layout (SURVEY.md §7.3 #4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def domain_of(url_col: str | Column = "url") -> Column:
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(c, r"^[a-z]+://([^/]+)/?", 1)


def with_salt(df: DataFrame, key: str | Column, n_salt: int = DEFAULT_SALT,
              salt_col: str = "salt", salt_src: str = "url") -> DataFrame:
    """Deterministic salt derived from a per-row column (``salt_src``,
    default url — not random: resume must reproduce the same layout)."""
    return df.withColumn(
        salt_col, F.pmod(F.crc32(F.col(salt_src).cast("string")), F.lit(n_salt)).cast("int")
    )


def salted_groupby_count(df: DataFrame, key: str, n_salt: int = DEFAULT_SALT,
                         salt_src: str = "url") -> DataFrame:
    """Two-phase skew-safe count per key: partial per (key, salt) — the
    hot key's rows spread over n_salt reducers — then a tiny final agg."""
    partial = (
        with_salt(df, key, n_salt, salt_src=salt_src)
        .groupBy(F.col(key), F.col("salt"))
        .agg(F.count("*").alias("partial_n"))
    )
    return partial.groupBy(key).agg(F.sum("partial_n").alias("n"))
