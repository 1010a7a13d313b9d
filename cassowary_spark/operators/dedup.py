"""Deduplication operators for large-scale text corpora (SURVEY.md §2 C1/C2).

All formulations are shuffle-aware and JVM-side (no Python in the hot
path); nothing collects to the driver.

- exact:      content-hash groupBy — one shuffle on a 64-hex key.
- minhash:    shingle → 64 minhashes → band-bucket join (LSH). The
              candidate join keys on (band, signature), so only
              colliding docs meet — never a cartesian.
- simhash:    64-bit sign fingerprint of token hashes; near-dups have
              small Hamming distance.
- n-gram Jaccard: exact pairwise similarity via shingle equi-join —
              the verify stage for LSH candidates, and an oracle-
              checkable operator on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassowary_spark.caches import persist, release

DEFAULT_NUM_HASHES = 64
DEFAULT_BANDS = 16

# Production stop-shingle document-frequency cap, shared by every
# shingle-pair operator AND its oracle SQL (the two engines must
# filter the identical shingle space or the Jaccard/containment
# quotients diverge). Total pair work through the shingle equi-join
# is sum over retained shingles of df²/2, so the cap is the operator
# family's scale knob: the r12 sf1→sf10 rehearsal measured the old
# cap of 1000 super-linear (α up to +2.15, 64 GiB heap) because the
# fixture's dense vocabulary pushes a growing shingle mass through
# the df∈[100,1000] band across that decade. 128 bounds per-shingle
# fanout at ~8.2k pairs (61× less than 1000²/2) while staying far
# above any real near-dup cluster width; at sf0.01 (the driver's
# correctness gate) the fixture's max 5-gram df is 15, so the cap
# never binds there and adjudicated results are cap-invariant.
SHINGLE_DF_CAP = 128


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content hash (C1).

    groupBy on sha2 gets map-side partial aggregation; at 100 TB the
    shuffle carries one row per distinct hash, not per row.
    """
    # NULL text never dedups against other NULLs: sha2(NULL)=NULL and
    # groupBy treats NULLs as equal, so a dirty ingest with >1
    # null-text row would keep one and silently delete the rest —
    # rows sharing no content. NULLs pass through untouched.
    nonnull = df.filter(F.col(text_col).isNotNull())
    h = F.sha2(F.col(text_col), 256).alias("__h")
    keep = (
        nonnull.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return nonnull.join(keep, id_col, "left_semi").unionByName(
        df.filter(F.col(text_col).isNull())
    )


def drop_hot_keys(
    df: DataFrame,
    key_cols: str | list[str],
    cap: int,
    broadcast_hot: bool = False,
) -> DataFrame:
    """Drop every row whose key occurs STRICTLY MORE than ``cap``
    times — the hot-key filter every bucketed family applies before a
    self-/equi-join so stop-shingles or mega-buckets can't explode
    the pair fanout. One definition so the strictly-greater-than
    semantics can't drift between call sites.

    The hot set is found with a partial-agg groupBy (map-side combine
    shrinks the shuffle to distinct keys per partition) and removed
    with an anti join; when the cap is doing its job the hot set is
    tiny, so AQE broadcasts the anti-join side on its own —
    ``broadcast_hot`` forces the hint where the caller knows that.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > cap)
        .select(*keys)
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    return df.join(hot, keys, "left_anti")


def shingles(text_col: str, k: int = 3) -> F.Column:
    """Distinct k-word shingles of a whitespace-tokenized text column.

    Documents shorter than k tokens yield one shingle (the whole text).
    """
    return shingles_of_tokens(f"split({text_col}, ' ')", k)


def shingles_of_tokens(tokens_expr: str, k: int = 3) -> F.Column:
    """Shingles from an already-tokenized array expression — pass a
    materialized tokens column to avoid re-splitting the text for
    every shingle sub-expression (3× the split cost otherwise)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({tokens_expr}) - {k - 1}, 1)),"
        f" i -> array_join(slice({tokens_expr}, i, {k}), ' ')))"
    )


def hashed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(id, sh_h) — xxhash64 of each per-doc-distinct k-shingle, the
    shared input of MinHash signing AND exact-Jaccard verification.

    ``max_shingle_df`` drops stop-shingles (document frequency above
    the cap) from the shingle SPACE itself, so every consumer —
    signatures, banding, intersection counts, sizes — sees the same
    filtered universe. Computing the filter here (rather than in each
    consumer) is what keeps a two-stage LSH+verify pipeline coherent:
    signatures built on a different shingle space than the verifier
    measures would silently destroy candidate recall on hot-shingle
    corpora.
    """
    # No unconditional repartition before the explode (r14): the old
    # repartition(id) exchanged the FULL TEXT column — the heaviest
    # bytes in the frame — to buy downstream per-id partitioning, but
    # the per-id groupBys it fed (signatures, sizes) aggregate map-side
    # and shuffle narrow (id, hash) state, so at corpus scale the text
    # exchange cost more than it saved (§8 "never shuffle the
    # payload"). Scan parallelism normally comes from parquet splits —
    # EXCEPT when the input is a handful of single-row-group files
    # (parquet cannot split below a row group), which serializes the
    # explode+hash on a few tasks while the cluster idles (the r14
    # q_dedup_near regression). spread_narrow_input repartitions ONLY
    # in that under-parallel regime (guide §2.5 input-skew rule) and
    # is a no-op on any corpus-sized scan.
    from cassowary_spark.operators.skew import spread_narrow_input

    sh = (
        spread_narrow_input(df, id_col)
        .withColumn("__toks", F.split(F.col(text_col), " "))
        .select(
            F.col(id_col),
            F.explode(shingles_of_tokens("__toks", shingle_k)).alias("__shingle"),
        )
        .select(F.col(id_col), F.xxhash64("__shingle").alias("sh_h"))
    )
    if max_shingle_df is not None:
        # shingles are per-doc distinct, so count(*) per hash == df
        sh = drop_hot_keys(sh, "sh_h", max_shingle_df)
    return sh


def signatures_from_hashes(
    sh: DataFrame, id_col: str, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """(id, sig: array<bigint>) from a hashed-shingle frame — sig[j] =
    min over shingles of a seeded mix. One groupBy; the agg is
    num_hashes parallel min()s, all map-side combinable. The shingle
    string was hashed once upstream; each of the num_hashes functions
    is a cheap (seed, int64) mix instead of a full string hash.

    The aggregate is one SQL expression, so building it is one JVM
    call rather than a few per Column node (wide per-index lists like
    this one and ``band_signatures``' dominate the plan-building time
    of the LSH queries). The seed ``{j}`` must stay an INT literal:
    xxhash64 hashes 4 bytes for an int and 8 for a long, so a ``{j}L``
    seed would change every signature.
    """
    mins = ", ".join(f"min(xxhash64({j}, sh_h))" for j in range(num_hashes))
    return sh.groupBy(id_col).agg(F.expr(f"array({mins}) AS sig"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>) over the full (unfiltered) shingle
    space — composition of the two shared stages."""
    return signatures_from_hashes(
        hashed_shingles(df, id_col, text_col, shingle_k), id_col, num_hashes
    )


def band_signatures(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_sig) — one row per band of each signature, the
    band_sig an xxhash64 of the band's num_hashes // bands minhashes
    seeded by the band index.

    The whole band array is one SQL expression (see
    ``signatures_from_hashes``); the band seed is an INT literal.
    """
    if bands <= 0 or num_hashes % bands != 0:
        # indivisible: trailing minhashes would silently drop out of
        # every band (wrong collision math); bands > num_hashes would
        # make every band signature a CONSTANT, flooding one bucket
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    band_sigs = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return sigs.selectExpr(
        id_col, f"posexplode(array({band_sigs})) AS (band, band_sig)"
    )


def band_candidates(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    bucket_cap: int | None,
) -> DataFrame:
    """(id_a, id_b) candidate pairs from banded signatures.

    The band rows carry (id, band, band_sig) ONLY — 3 longs. Shipping
    the full num_hashes-long signature through the bands× explode and
    both sides of the self-join would multiply the shuffle ~20×;
    callers re-join the signatures (or the shingle table) for just the
    candidate pairs, which LSH keeps a tiny fraction of the row count.

    ``bucket_cap`` bounds bucket width: the self-join is all-pairs
    WITHIN a bucket, so one degenerate band signature would otherwise
    go quadratic; buckets wider than the cap are dropped before the
    join (standard MinHash hygiene — their members still pair through
    more selective bands, and docs identical enough to flood EVERY
    band belong to exact dedup by content hash).
    """
    banded = band_signatures(sigs, id_col, num_hashes, bands)
    if bucket_cap is not None:
        # hot buckets only (≤ n/cap rows by construction)
        banded = drop_hot_keys(banded, ["band", "band_sig"], bucket_cap)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH (C2).

    rows (id_a, id_b, est_jaccard): docs sharing >=1 of `bands` band
    signatures, with est_jaccard = fraction of agreeing minhashes.
    At 100 TB: the only joins are equi-joins on (band, band_sig) and on
    id — LSH guarantees the bucket join touches candidate pairs only.

    ``bucket_cap`` bounds bucket width: the self-join is all-pairs
    WITHIN a bucket, so one degenerate band signature (empty or
    boilerplate docs hashing identically) would otherwise go quadratic
    on real corpora — at 100 TB that mega-bucket IS the job. Buckets
    wider than the cap are dropped before the join (standard MinHash
    hygiene): their members still pair through their other, more
    selective bands, and docs identical enough to flood EVERY band
    belong to exact dedup (C1), which catches them by content hash.
    Candidate work is thus O(n_buckets · cap²) worst-case instead of
    unbounded. None disables the cap.
    """
    sigs = persist(minhash_signatures(df, id_col, text_col, num_hashes, shingle_k))
    cand = band_candidates(sigs, id_col, num_hashes, bands, bucket_cap)
    est = (
        cand.join(sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
                / F.lit(num_hashes)
            ).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via shingle equi-join.

    Exact but quadratic in the worst case (all docs sharing shingles);
    at scale it runs AFTER an LSH prefilter. The join is on the shingle
    value, so disjoint docs never meet.

    ``max_shingle_df`` drops stop-shingles — shingles appearing in more
    than that many documents — from the shingle SPACE (both the
    intersection and the size counts, so the quotient stays a true
    Jaccard over the filtered space). A shingle like "of the and" in
    millions of docs pushes ~df²/2 pairs through one join key while
    contributing ~0 discrimination; capping df bounds the join fanout
    at df_max² per shingle. Jaccard over the filtered space is the
    standard corpus-dedup estimator; None (default) keeps exact
    full-space semantics.

    Perf: shingles are computed once per doc (tokens materialized
    first), persisted so the self-join's two sides and the size table
    reuse them, and the join keys on a 64-bit shingle hash instead of
    the string (half the shuffle bytes; a 64-bit collision altering a
    count is ~1e-12 at any realistic shingle cardinality).
    """
    sh = persist(hashed_shingles(df, id_col, text_col, shingle_k, None))
    if max_shingle_df is not None:
        # the df filter is applied here (off the persisted unfiltered
        # frame) rather than inside hashed_shingles so the persist
        # backs both the hot-set scan and the filtered consumers
        sh = drop_hot_keys(sh, "sh_h", max_shingle_df)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        inter.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment C = |A∩B| / min(|A|,|B|) ≥
    threshold → ``(contained_id, container_id, containment)``.

    Containment catches what Jaccard misses: a short document fully
    quoted inside a long one has C ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 —
    the boilerplate-inclusion / quote-plagiarism case a corpus dedup
    pass must flag separately. The contained side is the SMALLER
    shingle set (ties broken by id), so the pair is reported in
    "keep the container, drop the contained" orientation.

    Same join shape and stop-shingle cap as ``ngram_jaccard_pairs``
    (shingle equi-join on 64-bit hashes; disjoint docs never meet;
    ``max_shingle_df`` bounds per-key fanout at scale). The
    hashed-shingle frame is persisted because the self-join's two
    sides plus the size table consume it.
    """
    sh = persist(hashed_shingles(df, id_col, text_col, shingle_k, None))
    if max_shingle_df is not None:
        sh = drop_hot_keys(sh, "sh_h", max_shingle_df)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh_h") == F.col("b.sh_h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    small_is_a = (F.col("sa.n") < F.col("sb.n")) | (
        (F.col("sa.n") == F.col("sb.n")) & (F.col("id_a") < F.col("id_b"))
    )
    j = (
        inter.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            F.when(small_is_a, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
            F.when(small_is_a, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("container_id"),
            (
                F.col("n_inter").cast("double")
                / F.least(F.col("sa.n"), F.col("sb.n")).cast("double")
            ).alias("containment"),
        )
    )
    return j.filter(F.col("containment") >= threshold)


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 32,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = SHINGLE_DF_CAP,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Two-stage production near-dup: LSH candidates → exact Jaccard
    verification, computed ONLY for candidate pairs.

    This is the shape that survives 100 TB — the full shingle
    self-join of ``ngram_jaccard_pairs`` never runs; exact Jaccard is
    an equi-join of the candidate pair list against the per-doc
    shingle table (fanout = |candidates| × shingles-per-doc, bounded).
    Output equals the exact pair set iff LSH candidate recall is 100%,
    which makes the operator oracle-checkable against the brute-force
    SQL: a single missed pair fails the row-count gate. bands=32 with
    2 rows/band keeps the miss probability at the j=0.5 boundary below
    1e-4 per pair (verified exhaustively on the fixtures).

    Signatures, banding, intersections, and sizes ALL consume one
    shared df-filtered shingle frame (``hashed_shingles``): signing on
    an unfiltered space while verifying on the filtered one would make
    banding collision probability track the wrong Jaccard and silently
    lose candidates on hot-shingle corpora — exactly the corpora the
    df cap exists for. The shingle explode+hash runs once, persisted.
    """
    sh = persist(hashed_shingles(df, id_col, text_col, shingle_k, max_shingle_df))
    # Persist the signatures too: band_candidates consumes them TWICE
    # (the hot-bucket pass and the bucket self-join probe have
    # different plans, so exchange reuse cannot unify them) — without
    # the cache each pass re-runs the 64-min aggregation over the
    # shingle table. K×num_hashes longs per doc: corpus-row-bounded,
    # tiny next to the shingle cache it derives from.
    sigs = persist(signatures_from_hashes(sh, id_col, num_hashes))
    cand = band_candidates(sigs, id_col, num_hashes, bands, bucket_cap)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), "sh_h"), "id_a")
        .join(
            sh.select(F.col(id_col).alias("__idb"), F.col("sh_h").alias("__shb")),
            (F.col("id_b") == F.col("__idb")) & (F.col("sh_h") == F.col("__shb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("__nb"))
    j = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Each distinct token votes ±1 per bit of its xxhash64; the sign of
    each bit-sum becomes the fingerprint bit. One explode + groupBy
    (64 map-side-combinable sums), then bit packing — all JVM exprs.
    """
    # No unconditional repartition(id) before the explode (r14, same
    # reasoning as hashed_shingles): it exchanged the full text column
    # to buy a per-id partitioning the vote groupBy doesn't need — the
    # 64 sums partially aggregate map-side, so the groupBy shuffles
    # narrow per-partition vote state, not token rows. The conditional
    # spread below fires only when the scan occupies fewer splits than
    # the cluster has slots (single-row-group fixtures; guide §2.5).
    from cassowary_spark.operators.skew import spread_narrow_input

    toks = spread_narrow_input(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("__tok"),
    ).withColumn("__h", F.xxhash64("__tok"))
    # The vote sums and the bit packing are one aggregate SQL
    # expression: one JVM call to build instead of several per Column
    # node. Bit i of the fingerprint is set when the sum of ±1 votes of
    # bit i of the token hashes is positive.
    fp = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"CASE WHEN sum(CASE WHEN (shiftright(__h, {i}) & 1) = 1 THEN 1 ELSE -1 END) > 0"
            f" THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE 0 END"
            for i in range(bits)
        ]
    )
    return toks.groupBy(id_col).agg(F.expr(f"{fp} AS simhash"))


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    ``(id_col, cluster_id)`` with cluster_id = min vertex id in the
    component — the step that turns pairwise dedup output into "keep
    one doc per cluster".

    Min-label propagation: each round every vertex takes the min of
    its own label and its neighbors' labels; converges in diameter(G)
    rounds (near-dup clusters are shallow — pairs/stars — so this is
    2-4 rounds in practice, bounded by ``max_iter``). The per-round
    work is one equi-join + groupBy on the edge list: all shuffled
    hash operations, no driver data. The driver sees only a one-row
    convergence count per round (orchestration, not data collect).
    At extreme scale swap the loop body for the large-star/small-star
    alternation — same join shape, fewer rounds on high-diameter
    graphs; near-dup graphs don't have high diameter.

    Only vertices incident to an edge enter the loop: an isolated
    vertex can never receive a neighbor label, so its component is
    itself. In a real corpus duplicates are a small minority, which
    makes the iterated frame |V(E)| ≈ 2·|pairs| rather than |corpus| —
    at 100 TB that is the difference between shuffling the whole
    document id set every round and shuffling only the dup subgraph.
    Isolated vertices are unioned back (label = own id) at the end,
    one shuffle-free projection.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # localCheckpoint, NOT persist: the edge list is consumed every
    # round, and a persist would re-spell the full upstream pair-gen
    # plan (for LSH inputs, a 64-min-agg + banded-join tree) inside
    # EVERY round's query plan — at sf10 the repeated explain/UI
    # plan-string rendering of that tree OOMed an 8g driver before
    # any round ran (r13 finding). Checkpointing truncates lineage to
    # a leaf, so each round's plan is a few nodes regardless of how
    # the edges were produced.
    sym = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    all_vertices = vertices.select(F.col(id_col).alias("__v"))
    edge_vertices = persist(sym.select(F.col("src").alias("__v")).distinct())
    labels = edge_vertices.select("__v", F.col("__v").alias("__label"))
    prev_cached = None
    converged = False
    for it in range(1, max_iter + 1):
        nb_min = (
            sym.join(labels, sym.dst == labels["__v"])
            .groupBy("src")
            .agg(F.min("__label").alias("__nb_min"))
        )
        # carry the "did this row's label drop" flag through the same
        # pass, so convergence is a filter on the persisted frame — no
        # extra old-vs-new join per round
        stepped = persist(
            labels.join(nb_min, labels["__v"] == nb_min.src, "left")
            .select(
                "__v",
                F.least(
                    F.col("__label"), F.coalesce(F.col("__nb_min"), F.col("__label"))
                ).alias("__label"),
                (F.coalesce(F.col("__nb_min"), F.col("__label")) < F.col("__label")).alias(
                    "__chg"
                ),
            )
        )
        changed = stepped.filter("__chg").limit(1).count()
        if prev_cached is not None:
            release(prev_cached)
        prev_cached = stepped
        labels = stepped.select("__v", "__label")
        if changed == 0:
            converged = True
            break
        # every 5 rounds, truncate lineage (high-diameter graphs would
        # otherwise stack 5 joins per round into one growing plan) and
        # release the cache backing it
        if it % 5 == 0:
            labels = labels.localCheckpoint(eager=True)
            release(prev_cached)
            prev_cached = None
    # no sym.unpersist(): a locally-checkpointed frame's blocks ARE
    # its data (lineage is gone — unpersisting would make it
    # unrecomputable); the ContextCleaner frees them when the RDD is
    # garbage-collected after return
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: max_iter={max_iter} exhausted before "
            "convergence — labels are an over-segmented upper bound "
            "(raise max_iter for high-diameter graphs)",
            RuntimeWarning,
            stacklevel=2,
        )
    if prev_cached is not None:
        # materialize the result off the cached frame so the cache can
        # be dropped now
        labels = labels.localCheckpoint(eager=True)
        release(prev_cached)
    isolated = all_vertices.join(edge_vertices, "__v", "left_anti").select(
        "__v", F.col("__v").alias("__label")
    )
    out = labels.unionByName(isolated).select(
        F.col("__v").alias(id_col), F.col("__label").alias("cluster_id")
    )
    # checkpoint before dropping the edge-vertex cache: the anti-join
    # above is its last consumer
    out = out.localCheckpoint(eager=True)
    release(edge_vertices)
    return out
