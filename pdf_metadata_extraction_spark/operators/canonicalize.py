"""Canonicalization — MinHash/LSH candidate pairs → connected components
→ canonical entity ids (north rule; generalizes the reference's
multilingual aligner shape, SURVEY.md §2.3 J4 / §7.1 step 7).

Everything is expressed with portable primitives (md5-based minhash) so
the same computation has a DuckDB oracle.

Pipeline:
1. ``shingles``        — char n-gram shingles per (id, text), normalized.
2. ``minhash_signature`` — for P permutations, min(md5(seed‖shingle)).
   Min over *strings* — portable across engines, no UDF, pure
   whole-stage-codegen expressions.
3. ``lsh_candidate_pairs`` — group the P minhashes into B bands of R
   rows; equal band-signature → candidate pair (self-join on the band
   bucket — the shuffle is on short hash keys, AQE handles bucket skew).
4. ``connected_components`` — large/small-star iterative join with
   checkpointing each round (bounded iterations; SURVEY.md §7.3 #3).
5. ``canonical ids``     — component representative = min member id.

Scale notes: step 3's self-join is quadratic per bucket; band width R
controls bucket selectivity. At 10¹² docs use R≥4 and salt mega-buckets.
Step 4 converges in O(log n) rounds; each round materializes (the
checkpoint cuts the lineage that would otherwise grow exponentially).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

DEFAULT_PERMS = 16
DEFAULT_BANDS = 4  # 4 bands × 4 rows

# CC round-checkpoint sizing: ~4M (u, v) rows ≈ 100 MB per partition
# (guide §2.2/§6 file-sizing discipline applied to the iterate state)
_CC_ROWS_PER_PARTITION = 4_000_000


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct char n-gram shingles of the lower-cased, space-collapsed text."""
    return df.select(
        F.col(id_col).alias("id"),
        F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")).alias("_t"),
    ).select(
        "id",
        F.explode_outer(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length(_t) - {n - 1}, 1)),"
                    f" i -> substr(_t, i, {n}))"
                )
            )
        ).alias("shingle"),
    )


def minhash_signature(
    shingles_df: DataFrame, perms: int = DEFAULT_PERMS
) -> DataFrame:
    """One row per id with mh_0..mh_{P-1} = min(md5(seed‖shingle))."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"p{p}:"), F.col("shingle")))).alias(f"mh_{p}")
        for p in range(perms)
    ]
    return shingles_df.groupBy("id").agg(*aggs)


def band_buckets(
    signatures: DataFrame, perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, sig) banded bucket rows of a minhash signature table
    — the join key material of LSH. ALSO the persistable corpus state
    for incremental membership (lsh_membership_candidates): at scale,
    store it parquet/Iceberg bucketed by (band, hash(sig)) so the
    new-batch probe is a co-located join."""
    rows_per_band = perms // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("sig")))
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def lsh_membership_candidates(
    new_signatures: DataFrame,
    corpus_buckets: DataFrame,
    perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate NEAR-dup pairs between a NEW batch and the EXISTING
    corpus — the incremental analogue of lsh_candidate_pairs' self-join
    (and the near-dup complement of dedup.incremental_exact): the new
    batch's band buckets join the PERSISTED corpus bucket table on
    (band, sig); corpus text and shingles are never recomputed, and
    the corpus state grows by appending the accepted batch's buckets.

    Returns distinct (new_id, corpus_id). ``max_bucket_size`` caps
    CORPUS-side buckets (boilerplate shells — same rationale and same
    deliberate-recall-cut contract as lsh_candidate_pairs). Verify
    candidates with minhash_jaccard / ngram_jaccard_for_pairs exactly
    as in the batch path.
    """
    nb = band_buckets(new_signatures, perms, bands)
    cb = corpus_buckets
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "sig")
        cb = (
            cb.withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    return (
        nb.alias("n")
        .join(cb.alias("c"), ["band", "sig"])
        .select(
            F.col("n.id").alias("new_id"), F.col("c.id").alias("corpus_id")
        )
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band-bucket self-join → candidate (id_a < id_b) pairs, deduped.

    ``max_bucket_size``: drop buckets above the cap before the self-join.
    On a web corpus the giant buckets are boilerplate shells (cookie
    banners, parked domains) whose members are already collapsed by
    EXACT dedup upstream — the n²-per-bucket blowup they cause here buys
    nothing. This is the standard guard in C4/OpenWebText-style
    pipelines; capped buckets are a deliberate recall cut, so log/count
    them (the window count below is one extra shuffle on the same key
    the join shuffles on — AQE coalesces it)."""
    buckets = band_buckets(signatures, perms, bands)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "sig")
        buckets = (
            buckets.withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_jaccard(signatures: DataFrame, pairs: DataFrame, perms: int = DEFAULT_PERMS) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing minhashes for each pair."""
    sig_a = signatures.select(
        F.col("id").alias("id_a"), *[F.col(f"mh_{p}").alias(f"a_{p}") for p in range(perms)]
    )
    sig_b = signatures.select(
        F.col("id").alias("id_b"), *[F.col(f"mh_{p}").alias(f"b_{p}") for p in range(perms)]
    )
    joined = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = sum(
        (F.col(f"a_{p}") == F.col(f"b_{p}")).cast("int") for p in range(perms)
    )
    return joined.select("id_a", "id_b", (agree / F.lit(perms)).alias("est_jaccard"))


def _cc_star(cur: DataFrame, large: bool) -> DataFrame:
    """One large/small-star round over an (u, v) edge set.

    Rows stay narrow, and no task ever sees one key's whole row set
    (round 7, guide §2.3/§2.5): the per-node neighborhood min is ONE
    map-side-combinable hash aggregate — a 10⁹-degree hub key arrives
    at its reducer as a handful of per-map-task partial mins, so the
    hub problem the old window-plus-salting branch existed for cannot
    occur — joined back on the same key (the join's probe side REUSES
    the aggregate's exchange; residual join skew is AQE skew-split).
    This replaces the round-2..6 ``_with_neighbor_min`` window/salted-
    hub machinery: same rows out, one aggregation instead of a per-key
    sorted window, and partial aggregation shrinks the shuffle from
    |sym| rows to ≤ (#map tasks × #distinct keys) partials."""
    sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.col("u"), F.min("v")).alias("m")
    )
    joined = sym.join(mins, "u")
    cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
    out = joined.where(cond).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    ).union(mins.select("u", F.col("m").alias("v")))
    out = out.where(F.col("u") != F.col("v"))
    # the inter-star distinct looks optional (duplicate edges don't
    # change any neighborhood min) but it PAYS: star rounds emit ~|E|
    # duplicate (v, min) rows on near-dup graphs and the distinct
    # collapses them to ~|V| before the next shuffle — measured 2× on
    # the sf0.1 bench when skipped
    return out.distinct()


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
    lineage=None,
) -> DataFrame:
    """Alternating large-star / small-star → (id, component).

    The Kiveris et al. (MapReduce CC) algorithm: converges in
    O(log² n) rounds even on long chains — unlike plain min-label
    propagation, whose round count is the graph diameter (SURVEY.md
    §7.3 #3). Deterministic: component id = min member id.

    ``checkpoint_dir``: when set, every round's edge set is written to
    ``{checkpoint_dir}/round_{i}`` (parquet + a fingerprint sidecar) and
    a re-run RESUMES from the last completed round instead of
    recomputing (north rule: resumable from checkpoint) — rounds are
    deterministic, so the resumed result is identical. The dir is
    stamped with an INPUT fingerprint (``_input.json``: xor-hash +
    count of the deduped edge set); reusing it with a different edge
    set wipes the stale rounds instead of silently resuming them.
    When unset, rounds use ``localCheckpoint`` (lineage cut only;
    driver-lifetime).

    Each round the edge set is rewritten:
    - **large-star**: for every node, connect all *strictly larger*
      neighbors to the minimum of (node ∪ neighbors);
    - **small-star**: for every node, connect all neighbors ≤ node to
      that minimum.
    Fixpoint = edge set stable; components are then the (node → min
    neighbor) pairs. ``localCheckpoint`` cuts the otherwise-exponential
    lineage (swap for reliable checkpoint on a real cluster).

    Round 7: each star's per-node min is a map-side-combinable hash
    aggregate joined back on the same key (one reused exchange) — the
    r2-r6 window + salted-hub-branch machinery is gone, because a
    partial-aggregated min never funnels a hub key's rows through one
    task in the first place (guide §2.3/§2.5); the one spot where a
    key's row set must be co-located (the join probe) is an AQE
    skew-splittable join, not a window.
    """
    import time

    from pdf_metadata_extraction_spark.operators import ckpt

    spark = edges.sparkSession

    def _round_dir(i: int) -> str:
        return f"{checkpoint_dir.rstrip('/')}/round_{i}"

    def _load_fp(i: int) -> tuple | None:
        p = f"{_round_dir(i)}/_fingerprint.json"
        if not (ckpt.fs_exists(spark, p)
                and ckpt.fs_exists(spark, f"{_round_dir(i)}/_SUCCESS")):
            return None
        d = ckpt.fs_read_json(spark, p)
        return (d["h"], d["n"])

    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )

    prev_hash = None
    rounds = 0
    converged = False
    input_n = None
    done_fps: list[tuple] = []
    if checkpoint_dir:
        # resume is gated on an INPUT fingerprint: completed round_N
        # dirs are only trusted when they were produced from this edge
        # set — a caller reusing a checkpoint_dir with different edges
        # (kg_run scopes by run_id, but the API must not rely on it)
        # would otherwise silently get the stale run's components. One
        # extra action over the deduped input; its n is reused below in
        # place of the e.count() the un-checkpointed path runs.
        row = e.select(
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        input_n = row["n"]
        ckpt.reset_dir_if_input_changed(
            spark, checkpoint_dir,
            {"h": row["h"] if input_n else 0, "n": input_n, "op": "cc"},
        )
        # resume: reuse every completed round on disk (rounds are
        # deterministic, so the continued run is identical)
        while (fp := _load_fp(len(done_fps) + 1)) is not None:
            done_fps.append(fp)
        rounds = len(done_fps)
        if rounds:
            e.unpersist()
            e = spark.read.parquet(_round_dir(rounds)).persist()
            prev_hash = done_fps[-1]
            converged = rounds >= 2 and done_fps[-1] == done_fps[-2]
    cur_n = (
        done_fps[-1][1] if done_fps
        else (input_n if input_n is not None else e.count())
    )
    # round 1 reads through the same scale-adaptive partition count the
    # later rounds get from their checkpoints (the count above already
    # materialized the cache, so this coalesce is a narrow wrapper over
    # the cached partitions): at bench scale the static 32-partition
    # deduped input otherwise makes every round-1 stage a 64-task
    # launch over ~100 rows/task (measured 7.7 s vs 0.75 s for the
    # identical round over a 1-partition checkpoint)
    e_pin = e  # the persisted handle (coalesce() would hide unpersist)
    e = e.coalesce(max(1, -(-cur_n // _CC_ROWS_PER_PARTITION)))

    while not converged and rounds < max_iter:
        t0 = time.monotonic()
        rounds += 1
        # both stars run in ONE plan per round: no driver actions mid-
        # round (the old hub-detection collects are gone — the agg+join
        # star has no hub failure mode to detect), and the small star's
        # branches share the large star's distinct exchange via
        # ReuseExchange
        e2 = _cc_star(_cc_star(e, large=True), large=False)
        # scale-adaptive round materialization (guide §2.2): the edge
        # count is KNOWN (cur_n from the previous fingerprint), so size
        # the checkpointed partition count from it — ~4M edge rows
        # (~100 MB) per partition — instead of inheriting the static
        # shuffle-partition count. At oracle/bench scale that is ONE
        # partition (every downstream stage stops paying 32-64 empty
        # task launches per round); at 10¹² edges it is thousands.
        # coalesce never increases partition count, so a huge round
        # keeps its natural parallelism.
        e2 = e2.coalesce(max(1, -(-cur_n // _CC_ROWS_PER_PARTITION)))
        # materialize the round: reliable parquet checkpoint when a dir
        # is given (resumable across drivers), localCheckpoint otherwise.
        # Convergence test: stable edge-set fingerprint (order-
        # insensitive) — observed on the round's own write when there is
        # one, so the checkpointed path runs no second action per round
        fp = (
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            F.count(F.lit(1)).alias("n"),
        )
        if checkpoint_dir:
            seen = Observation()
            e2.observe(seen, *fp).write.mode("overwrite").parquet(
                _round_dir(rounds)
            )
            # explicit schema: inference would run a footer-reading job
            e2 = spark.read.schema(e2.schema).parquet(_round_dir(rounds))
            h = seen.get
        else:
            e2 = e2.localCheckpoint(eager=True)
            h = e2.select(*fp).collect()[0]
        cur_hash = (h["h"], h["n"])
        if checkpoint_dir:
            ckpt.fs_write_json(
                spark,
                f"{_round_dir(rounds)}/_fingerprint.json",
                {"h": cur_hash[0], "n": cur_hash[1]},
            )
        if lineage is not None:
            # per-round cost telemetry (round-2 verdict #7): CC is the
            # most expensive bench query and its cost is round-dominated
            # — a 100× regression must be attributable to a round
            lineage.record(
                f"cc_round_{rounds}", input_rows=cur_n, output_rows=h["n"],
                wall_ms=int((time.monotonic() - t0) * 1000),
            )
        e_pin.unpersist()
        # the localCheckpoint path is ALREADY cached (MEMORY_AND_DISK
        # on the checkpointed RDD) — persisting again would populate a
        # second InMemoryRelation copy per round; only the parquet
        # read-back needs a cache
        e = e_pin = e2.persist() if checkpoint_dir else e2
        cur_n = h["n"]
        if cur_hash == prev_hash:
            break
        prev_hash = cur_hash

    # at fixpoint every node points at its component min
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    comp = sym.groupBy("u").agg(F.min("v").alias("m")).select(
        F.col("u").alias("id"),
        F.least("u", "m").alias("component"),
    )
    e_pin.unpersist()
    return comp


def canonicalize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    min_jaccard: float = 0.5,
    lineage=None,
    cc_checkpoint_dir: str | None = None,
) -> DataFrame:
    """Full canonicalization: (id, text) → (id, canonical_id)."""
    sigs = minhash_signature(shingles(df, id_col, text_col), perms).persist()
    pairs = lsh_candidate_pairs(sigs, perms, bands)
    verified = minhash_jaccard(sigs, pairs, perms).where(
        F.col("est_jaccard") >= min_jaccard
    )
    comps = connected_components(
        verified.select("id_a", "id_b"), lineage=lineage,
        checkpoint_dir=cc_checkpoint_dir,
    )
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(comps, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("component"), F.col("id")).alias("canonical_id"),
        )
    )
    sigs.unpersist()
    return out
