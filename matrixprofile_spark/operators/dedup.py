"""Deduplication operators for large-scale training-data pipelines.

All pure DataFrame/Catalyst expressions — no Python UDFs — so every
stage stays in whole-stage codegen and scales by shuffle:

- exact_dedup: hash-groupBy on md5(text); survivor = min id.
- shingles: word n-gram shingling via sequence/transform/slice.
- minhash_signatures: k independent min-hashes; h_i(doc) =
  min over shingles of md5(i || '|' || shingle) (lexicographic min over
  a uniform hex hash is a valid min-hash).
- lsh_candidate_pairs: band the signature, group by (band, band-hash),
  emit intra-bucket pairs — the classic MinHash-LSH candidate join. The
  bucket join is an equi-join on the band hash (shuffle on a short hex
  string), never an all-pairs cross join.
- jaccard_pairs: exact n-gram Jaccard for candidate pairs via a
  shingle-level join: |A∩B| / (|A|+|B|−|A∩B|).
- simhash: b-bit sign-of-weighted-sum over token hashes, bit arithmetic
  in SQL; equal simhash → near-dup bucket.

At 100 TB: every groupBy key here (text hash, band hash, simhash) is
high-cardinality and uniform by construction (cryptographic hash), so
the shuffles are skew-free; candidate pairs are bounded by bucket sizes
rather than n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tokens_col(text_col: str = "text"):
    return F.split(F.trim(F.col(text_col)), " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: survivor id + duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
    )


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text", distinct: bool = True) -> DataFrame:
    """(id, shingle) rows — word n-grams per document.

    ``distinct=True`` (needed by exact-Jaccard counting) costs a full
    shuffle of the exploded table. Pass ``distinct=False`` for
    min-based consumers (minhash_signatures): min is duplicate-
    insensitive, and skipping the dedup lets the signature groupBy's
    map-side partial-min collapse each partition to one row per id
    BEFORE its exchange — measured ~2× on the LSH pipeline (a raw
    repartition-by-id variant that tried to share one exchange shipped
    every duplicate shingle unreduced and came out slower)."""
    # materialize the token array in a projection BELOW the generator:
    # referencing tokens_col() directly inside the transform lambda
    # re-evaluates the split() for every gram (n_grams × O(text) — was
    # the single hottest expression in the LSH pipeline); as a bound
    # column it is computed once per row
    toks = F.col("__toks")
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = docs.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("__toks")
    ).select("id", F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def minhash_signatures(sh: DataFrame, num_hashes: int = 8) -> DataFrame:
    """(id, sig array<string>) — sig[i] = min md5(i||'|'||shingle)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sigs = sh.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_sets(sh: DataFrame, num_hashes: int = 8) -> DataFrame:
    """(id, sig, sh_set) in ONE aggregation over the shingle stream.

    The LSH pipeline needs two per-doc reductions of the same exploded
    shingle table: the k min-hashes (signatures) and the distinct
    shingle set (exact-Jaccard verification). Aggregating them together
    halves the explode/md5 work and merges two exchanges into one —
    min() is duplicate-insensitive and collect_set dedupes, so both
    remain correct on the NON-distinct stream, and the partial
    aggregate still collapses map-side before the exchange."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    aggs.append(F.collect_set("shingle").alias("sh_set"))
    g = sh.groupBy("id").agg(*aggs)
    return g.select(
        "id",
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        "sh_set",
    )


def lsh_jaccard_dedup(
    docs: DataFrame, n: int = 3, num_hashes: int = 8, bands: int = 4,
    max_bucket: int | None = 10_000, id_col: str = "doc_id",
    text_col: str = "text", checkpoint: bool = True,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dedup: shingle → fused (signatures +
    shingle sets) aggregate → banded candidate join → exact Jaccard.

    The fused aggregate is localCheckpoint()ed (like salted.py's band
    merge): Catalyst's column pruning would otherwise split the shared
    groupBy back into per-consumer aggregates — one min-hash chain per
    join side plus one collect_set chain per Jaccard side — re-running
    the corpus-wide explode+md5 pass up to 4× (AQE stage reuse dedupes
    only the two identical join sides). The checkpoint pins exactly ONE
    explode + ONE exchange over the shingle stream; everything after it
    reads the KB-per-doc (sig, set) table. At 100 TB that single pass
    is the floor any implementation pays.

    The one exchange is moved BEFORE the shingle explode: repartition
    the raw docs on the id. The per-doc groupBy then needs only
    ClusteredDistribution(id) — satisfied by hashpartitioning(id, ANY n)
    — so it adds no second exchange (plan-shape-tested), and the
    md5-heavy shingle stage runs at full cluster width instead of at
    the input's file layout (a single-file corpus scans as 1-3 tasks;
    measured 3.5 s -> 1.2 s for the fused aggregate at sf0.1). Shuffle
    bytes are unchanged: the old plan's map-side combine shipped one
    (id, sigs, shingle-set) row per doc — the same volume as the raw
    text. Explicit numPartitions keeps AQE from coalescing the
    deliberately small exchange back into a handful of tasks."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.repartition(par, F.col(id_col))
    ss = minhash_sets(shingles(docs, n=n, id_col=id_col,
                               text_col=text_col, distinct=False),
                      num_hashes)
    if checkpoint:
        ss = ss.localCheckpoint()
    pairs = lsh_candidate_pairs(ss.select("id", "sig"),
                                bands=bands, max_bucket=max_bucket)
    return jaccard_pairs(None, pairs, sets=ss.select("id", "sh_set"))


def _banded(sigs: DataFrame, bands: int) -> DataFrame:
    """(id, band, bucket) rows — md5 of each signature band slice."""
    return sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.slice(
                                F.col("sig"),
                                b * (F.size("sig") / bands).cast("int") + 1,
                                (F.size("sig") / bands).cast("int"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, max_bucket: int | None = 10_000,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band.

    A degenerate bucket (boilerplate text shared by millions of docs)
    would emit O(bucket²) candidate pairs; buckets larger than
    ``max_bucket`` are excluded from pair generation, bounding any one
    bucket's fan-out to max_bucket²/2. Audit what was skipped with
    `hot_lsh_buckets` — members of a >max_bucket bucket are
    near-identical by construction, so exact_dedup (or one
    representative per hot bucket) already covers them; silently
    quadratic candidate joins do not.

    Shape: ONE aggregation packs each bucket's member ids into an
    array and the ordered pairs stream out of two chained explodes — no
    self-join at all. The cap is a member count over a (band, bucket)
    window applied BEFORE that aggregation, so a hot bucket's id list
    is never built; the window and the aggregation share one exchange.
    A bucket of b members yields b(b-1)/2 rows, pipelined through
    Generate rather than materialized; the residual distinct() exchange
    on (id_a, id_b) is inherent — a pair discovered via two bands must
    emit once."""
    banded = _banded(sigs, bands)
    if max_bucket is not None:
        n = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        banded = (banded.withColumn("_n", n)
                  .where(F.col("_n") <= max_bucket).drop("_n"))
    buckets = banded.groupBy("band", "bucket").agg(
        F.collect_list("id").alias("ids"))
    return (
        buckets.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def hot_lsh_buckets(
    sigs: DataFrame, bands: int = 4, max_bucket: int = 10_000,
) -> DataFrame:
    """(band, bucket, n_docs) for buckets the candidate join skipped —
    the audit twin of lsh_candidate_pairs' cap, so a pipeline can count
    or sample what was excluded instead of silently losing it."""
    return (
        _banded(sigs, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )


def jaccard_pairs(sh: DataFrame | None, pairs: DataFrame,
                  sets: DataFrame | None = None) -> DataFrame:
    """Exact shingle-Jaccard for the candidate pairs.

    Pass ``sets`` (id, sh_set) to reuse a per-doc set table an upstream
    stage already aggregated — minhash_sets emits one — instead of
    re-aggregating the shingle stream here.

    One aggregate packs each doc's distinct shingles into a set array
    (collect_set dedupes, so feeding the NON-distinct shingle stream is
    correct and skips the upstream distinct()'s full shuffle); the
    candidate pairs then equi-join that compact per-doc table twice on
    id, and |A∩B| is a codegen array_intersect over two in-row arrays.
    The previous shape joined the exploded shingle stream twice —
    shipping |pairs| × |shingles(doc)| rows through an exchange keyed
    on (id, shingle) — and needed a separate sizes aggregate besides.
    Zero-intersection candidates cannot exist (equal band hash ⇒ equal
    min-md5 ⇒ the minimizing shingle is shared), so emitting
    jaccard = 0 rows for them is a non-difference."""
    if sets is None:
        sets = sh.groupBy("id").agg(F.collect_set("shingle").alias("sh_set"))
    a = sets.select(F.col("id").alias("id_a"), F.col("sh_set").alias("set_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("sh_set").alias("set_b"))
    n_int = F.size(F.array_intersect("set_a", "set_b"))
    n_uni = F.size("set_a") + F.size("set_b") - n_int
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            (n_int / n_uni).alias("jaccard"),
            # the exact integer pieces: emit THESE in hash-checked
            # outputs — round(jaccard, k) is an integer ratio, the
            # cross-engine half-boundary class that sank gap_report
            n_int.cast("bigint").alias("n_intersect"),
            n_uni.cast("bigint").alias("n_union"),
        )
    )


def simhash(docs: DataFrame, bits: int = 16, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """b-bit SimHash: per bit, sign of Σ_tokens (bit(h(tok)) ? +1 : −1).

    Token hash = first 15 hex chars of md5 as an integer (portable to
    the DuckDB oracle via the same construction)."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_col(text_col)).alias("token"),
    )
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint")
    tok = tok.select("id", h.alias("th"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*bit_sums)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("id", sim.cast("bigint").alias("simhash"))


def rare_shingle_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5,
    max_shingle_freq: int = 50, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup WITHOUT hashing: blocking on rare
    shingles, then exact Jaccard over the full shingle sets.

    The brief's third dedup family (exact / MinHash-LSH / n-gram
    Jaccard): MinHash answers "probably similar" with a signature;
    this answers "provably Jaccard ≥ t" and costs one more pass over
    the shingles. Candidate pairs are documents sharing at least one
    RARE shingle — global document frequency ≤ ``max_shingle_freq`` —
    which bounds fan-out the way lsh_candidate_pairs' max_bucket does:
    a shingle seen in f docs emits ≤ f(f-1)/2 candidates, so no
    boilerplate phrase can go quadratic, and the frequency cut uses
    the same window-over-the-join-key trick (one exchange keyed on
    shingle feeds both the frequency count and the self-join).
    Recall note: a true near-dup ALL of whose shared shingles are
    globally frequent is missed — at n=3 a shared frequent trigram
    set means shared boilerplate, which exact_dedup's md5 pass or one
    representative per hot shingle covers; audit what the cut skipped
    with ``hot_shingles``. Exact Jaccard then reuses jaccard_pairs
    (per-doc collect_set + in-row array_intersect, codegen) — fed the
    NON-distinct shingle stream, like the MinHash pipeline: collect_set
    dedupes in-aggregate, so that branch skips the distinct()'s full
    (id, shingle) shuffle and its map-side partial collapses each
    partition before the id exchange.
    """
    from pyspark.sql import Window

    sh = shingles(docs, n, id_col, text_col, distinct=True)
    wf = Window.partitionBy("shingle")
    rare = (
        sh.withColumn("df", F.count(F.lit(1)).over(wf))
        .where(F.col("df") <= max_shingle_freq)
        .drop("df")
    )
    a = rare.alias("a")
    b = rare.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    raw_sh = shingles(docs, n, id_col, text_col, distinct=False)
    return jaccard_pairs(raw_sh, cand).where(
        F.col("jaccard") >= threshold)


def hot_shingles(
    docs: DataFrame, n: int = 3, max_shingle_freq: int = 50,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(shingle, n_docs) for shingles rare_shingle_pairs' frequency cut
    excluded from candidate generation — the audit twin, same contract
    as hot_lsh_buckets."""
    return (
        shingles(docs, n, id_col, text_col, distinct=True)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_shingle_freq)
    )
