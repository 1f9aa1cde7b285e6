"""Benchmark decontamination: word-n-gram overlap against a held-out
eval set.

A training-data pipeline must not train on its own benchmarks. The
standard defence (GPT-3 appendix C, Brown et al. 2020; Gopher §A.2,
Rae et al. 2021) is n-gram collision: extract order-preserving word
n-grams from every candidate training document, test them against the
set of n-grams occurring in the evaluation suites, and drop (or flag)
documents whose overlap fraction crosses a threshold.

Reference anchor: the reference engine's closest analogue is the
frequent-words overlap scoring used for method selection
(`/root/reference` dependency `trainable-entity-extractor`, surfaced
here as operators/selector.py A1) — this module generalises "does this
text share surface with that corpus" to the corpus-vs-benchmark
membership test a 100 TB pipeline needs.

Scale design (the 100x lens):
- The eval-side n-gram set is SMALL relative to the corpus (benchmark
  suites are ~10^6-10^8 n-grams even for large eval batteries) — it is
  collected once, de-duplicated, and joined as the build side of a
  hash join.  At sandbox scale Spark/AQE broadcasts it; at 100 TB the
  set still fits executor memory, so the join stays broadcast and the
  corpus side remains MAP-ONLY: no shuffle touches the 100 TB side
  until the final per-doc aggregation, which is a groupBy on the
  corpus's own primary key with map-side partial aggregation.
- n-gram assembly is pure array expressions (split / sequence / slice /
  array_join): whole-stage codegen, zero Python.
- The per-doc result is one narrow row per input doc (id + 3 ints) —
  re-joinable to the corpus by key without carrying text.

Determinism: tokenisation is the repo-wide ``words.word_array``, and the
"contaminated" verdict uses integer arithmetic (``n_hit * den >=
n_grams * num``) so no float threshold edge can disagree cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators.words import word_array


def word_ngram_col(words_col: str, n: int):
    """Order-preserving word n-grams as an array<string> column.

    1-based ``sequence(1, size-n+1)`` + ``slice(w, i, n)`` — the same
    index discipline as the DuckDB mirror (``range(1, len-n+2)`` +
    1-based inclusive list slicing), so both engines emit identical
    gram strings.  Guarded for short docs: Spark's ``sequence(1, k)``
    DESCENDS when k <= 0, so docs with fewer than ``n`` words get an
    explicit empty array.
    """
    return F.when(
        F.size(words_col) >= n,
        F.expr(
            f"transform(sequence(1, size({words_col}) - {n - 1}),"
            f" i -> array_join(slice({words_col}, i, {n}), ' '))"
        ),
    ).otherwise(F.expr("array()"))


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        word_array(text_col).alias("_w"),
    )


def eval_ngram_set(
    eval_df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 7
) -> DataFrame:
    """Distinct word n-grams of the evaluation suite: one ``gram``
    column, deduplicated — the broadcast build side of the
    contamination join."""
    return (
        _tokens(eval_df, id_col, text_col)
        .select(F.explode(word_ngram_col("_w", n)).alias("gram"))
        .distinct()
    )


def scrub_contaminated_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 7,
) -> DataFrame:
    """Span-level decontamination surgery: instead of dropping a
    contaminated document wholesale, remove exactly the tokens covered
    by any eval-colliding n-gram and rebuild the rest in order (the
    removal discipline of Lee et al. 2022's exact-substring dedup,
    aimed at benchmark overlap: a 10k-word page quoting one benchmark
    question loses 7 tokens' worth of span, not the page).

    Returns (id, text_clean, n_tokens, n_removed) — one row per corpus
    doc; docs shorter than ``n`` words are untouched.

    Scale shape: the eval gram set joins broadcast exactly as in
    ``contamination``; hit grams explode to their ``n`` member token
    positions (map-side), the kept-token anti-join runs on narrow
    (id, pos) pairs, and the rebuild is ONE groupBy on the doc key
    with an in-row positional sort — the same reassembly discipline as
    boilerplate.drop_duplicated_lines.
    """
    toks = _tokens(corpus, id_col, text_col).select(
        "id", F.posexplode_outer("_w").alias("pos0", "word")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "word")
    grams = (
        _tokens(corpus, id_col, text_col)
        .select("id", F.posexplode(word_ngram_col("_w", n)).alias("gpos0", "gram"))
        .select("id", (F.col("gpos0") + 1).alias("start"), "gram")
    )
    ev = F.broadcast(eval_ngram_set(eval_df, id_col, text_col, n))
    covered = (
        grams.join(ev, "gram", "left_semi")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = toks.where(F.col("word").isNotNull()).join(
        covered, ["id", "pos"], "left_anti"
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("text_clean"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = (
        toks.groupBy("id")
        .agg(
            F.sum(F.when(F.col("word").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_tokens")
        )
    )
    return totals.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def contamination(
    corpus: DataFrame,
    eval_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 7,
    threshold_num: int = 1,
    threshold_den: int = 5,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination report of ``corpus`` against
    ``eval_df``.

    Returns (id, n_grams, n_hit, contam_frac, contaminated):
    - ``n_grams``  — total word n-grams in the doc (0 for short docs),
    - ``n_hit``    — how many occur anywhere in the eval set,
    - ``contam_frac`` — round(n_hit / n_grams, 6) (0.0 when no grams),
    - ``contaminated`` — 1 iff n_hit/n_grams >= threshold_num/
      threshold_den, decided in exact integer arithmetic.

    Every corpus doc gets a row (docs shorter than ``n`` words report
    zeros) so the output is a drop-in keep/drop gate column source.

    ``eval_grams``: a precomputed (and ideally persisted)
    ``eval_ngram_set`` output — pass it when judging many batches
    against one eval suite (the streaming gate) so the set is not
    re-derived per call; ``eval_df`` is ignored when given.
    """
    grams = (
        _tokens(corpus, id_col, text_col)
        .select("id", F.explode_outer(word_ngram_col("_w", n)).alias("gram"))
    )
    if eval_grams is None:
        eval_grams = eval_ngram_set(eval_df, id_col, text_col, n)
    ev = F.broadcast(eval_grams)
    hit = (
        grams.join(ev.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("id")
        .agg(
            F.sum(F.when(F.col("gram").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    return hit.select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_hit",
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_hit") / F.col("n_grams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("contam_frac"),
        (
            (F.col("n_grams") > 0)
            & (F.col("n_hit") * threshold_den >= F.col("n_grams") * threshold_num)
        )
        .cast("int")
        .alias("contaminated"),
    )
