"""Deduplication operators (north-star extension, BASELINE.json).

Exact dedup, n-gram Jaccard near-dup (exact, oracle-checked), and
MinHash-LSH / SimHash (approximate scale paths, rows-only checked —
their hash functions are Spark-native and not reproducible in ANSI SQL).

Scale notes (the whole point of these operators):

* **Exact dedup** is one hash-aggregate on a 32-char fingerprint — the
  shuffle carries (fingerprint, doc_id) pairs only, never document text.
* **Exact Jaccard** (d2) joins on shingles. Hot shingles (appearing in
  thousands of docs) make the postings self-join quadratic; the guard is
  ``max_shingle_freq`` — drop shingles more common than a cutoff before
  the join (a standard near-dup trick: ubiquitous shingles carry no
  discriminative signal). With the cutoff, the join is linear in the
  number of truly-shared shingles.
* **MinHash-LSH** (d3) is the sub-quadratic path: constant-size
  signatures (k hashes) per doc, banded so only same-band-bucket docs
  are candidate pairs; candidates are then verified with exact Jaccard.
  Everything is built-in expressions (`xxhash64`, array lambdas,
  explode + groupBy) — no UDFs, fully distributed, and the only
  shuffles are the signature aggregation and the band-bucket join.
* **SimHash** (d4) gives a 64-bit near-dup key per doc in a single
  projection + explode/agg; Hamming-distance bucketing via bit-band
  prefixes follows the same LSH pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from .text import (
    ALPHA_RATIO_BP_SQL_DUCK,
    TOKEN_PATTERN,
    alpha_ratio_bp_col,
    tokens_col,
)

SHINGLE_K = 3


# DuckDB oracle fragments. Each is the SQL twin of one Spark-side step,
# generated from the same constant, so the oracles compose them instead
# of restating the step.


def _ngram_concat(k: int, i: str = "i") -> str:
    """The ``k``-token window of ``t`` starting at 1-based index ``i``,
    its tokens joined by one space (``concat_ws(" ", ...)``)."""
    return " || ' ' || ".join(f"t[{i}+{j}]" if j else f"t[{i}]" for j in range(k))


def _ngram_sql(k: int) -> str:
    """Every ``k``-token window of ``t`` in order, as a DuckDB list; empty
    below ``k`` tokens, like the Spark side's guarded window ladder."""
    return (
        f"list_transform(range(1, GREATEST(len(t) - {k - 1}, 0) + 1), "
        f"i -> {_ngram_concat(k)})"
    )


def _toks_cte(cols: str = "doc_id") -> str:
    """``toks``: ``cols`` of each document and its ``tokens_col`` list ``t``."""
    return f"""toks AS (
            SELECT {cols}, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
            FROM documents
        )"""


def _shingles_cte(cols: str = "doc_id", src: str = "toks") -> str:
    """``sh``: ``cols`` of each ``src`` row and its distinct shingles."""
    return f"""sh AS (
            SELECT {cols}, list_distinct({_ngram_sql(SHINGLE_K)}) AS shingles
            FROM {src}
        )"""


#: ``postings`` → ``pairs``: every doc pair (``doc_a < doc_b``) sharing a
#: shingle of ``sh``, with both shingle counts and the overlap ``common``;
#: the exact Jaccard ground truth the candidate stages are verified against.
_PAIRS_CTES = """postings AS (
            SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS common
            FROM postings a JOIN postings b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )"""

#: A ``pairs`` row is a near-dup at rounded Jaccard >= 0.18, the default
#: ``threshold`` of the Spark near-dup operators.
_JACCARD_KEEP = "ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) >= 0.18"

#: Degenerate-bucket cap of the CROSS-frame LSH probe (named so s9's
#: runtime headroom check and the cap-boundary pytest pin the same
#: number the probe actually uses). The within-corpus variants keep
#: their own literal defaults; only the cross probe's cap participates
#: in a stream/batch parity contract.
LSH_MAX_BUCKET = 1_000


def lsh_hottest_bucket(
    sigs: DataFrame, extra_counts: DataFrame | None = None
) -> int:
    """Max (band, bucket) occupancy of a signature frame — the exact
    quantity the degenerate-bucket cap compares against. For the
    cross-frame probe, feeding the UNION of base and probe signatures
    bounds every bucket the all-at-once probe forms (and any per-batch
    probe's buckets are subsets of those), so s9's runtime guard calls
    this once per run to prove cap HEADROOM on real data: proximity
    fails loudly and diagnosably at the operator instead of surfacing
    as a mystifying red parity row at the driver — a firing cap is
    batch-composition-dependent and breaks the stream/batch parity
    contract by design. A row-count bound would be
    uselessly conservative (all-rows-in-one-bucket); the measured
    occupancy is the fact (3–4 vs cap 1000 on the fixtures).

    ``extra_counts``: a precomputed (band, bucket, n) frame to
    union into the occupancy — a caller that already holds a cached
    bucket index for one side (s9's standing base index) passes its
    counts instead of re-exploding that side's signatures. Per-bucket
    occupancy of a union of disjoint frames is the SUM of the sides'
    counts, so ``max(count_sigs + count_extra)`` over a full outer
    join is exactly the ``max`` over the unioned signatures."""
    counts = _band_rows(sigs).groupBy("band", "bucket").count()
    if extra_counts is not None:
        counts = (
            counts.join(
                extra_counts.select("band", "bucket", F.col("n").alias("__n")),
                ["band", "bucket"],
                "full",
            )
            .select(
                (
                    F.coalesce(F.col("count"), F.lit(0))
                    + F.coalesce(F.col("__n"), F.lit(0))
                ).alias("count")
            )
        )
    hottest = counts.agg(F.max("count").alias("m")).collect()[0]["m"]
    return int(hottest or 0)


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Round the scan's parallelism up to the session default.

    The local fixtures are single-row-group parquet files, so the scan
    plans ONE task and every CPU-heavy per-row operator (tokenize /
    shingle / hash) runs single-threaded. On a production layout (many
    files / row groups) the scan already yields ≥ defaultParallelism
    partitions and this is a no-op — the repartition only fires when
    input parallelism is the bottleneck.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def shingles_from_tokens(toks):
    """Distinct k-word shingles (k=3) over a pre-projected token column.

    ``toks`` must be a NAMED column (not an inline ``tokens_col(...)``
    expression): it is referenced three times per window element, and
    Catalyst's CollapseProject would inline — and so re-evaluate — an
    expensive producer expression at every reference. Projecting tokens
    first keeps tokenization at once-per-row (measured 2.6× on the
    shingle stage). Documents with fewer than k tokens yield an empty
    array (guarded — ``sequence(0, -1)`` would count *down* in Spark).
    """
    windows = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SHINGLE_K),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= SHINGLE_K, windows).otherwise(
            F.array().cast("array<string>")
        )
    )


def shingles_col(text_col):
    """Shingles straight from a text column (tests / one-shot use).
    Hot paths should project tokens first — see shingles_from_tokens."""
    return shingles_from_tokens(tokens_col(text_col))


def with_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingles) projection with the tokenize step materialized as
    its own named column so it is evaluated once per row. A caller that
    already carries a ``__toks`` column (e2's pipeline caches one) is
    trusted — tokenization is not repeated."""
    if "__toks" not in docs.columns:
        docs = parallelize_scan(docs).withColumn(
            "__toks", tokens_col(F.col(text_col))
        )
    return docs.select(
        id_col, shingles_from_tokens(F.col("__toks")).alias("shingles")
    )


def content_fp_from_toks(toks):
    """md5 over space-joined tokens — the exact-dup content identity.
    Every operator that keys on exact-duplicate content computes it
    through this helper, never through its own copy. DuckDB twin, kept
    in lockstep by the oracles:
    ``md5(array_to_string(regexp_extract_all(lower(text), TOKEN_PATTERN),
    ' '))``. A tokenizer/normalization change edits THIS helper (and
    the oracle twin)."""
    return F.md5(F.concat_ws(" ", toks))


def fingerprint_reps(rows: DataFrame, keys: list[str], payload: str) -> DataFrame:
    """Collapse ``rows`` to one representative per fingerprint group.

    A group (``keys``, e.g. ``["__fp"]`` or ``["lang", "__fp"]``) is
    represented by its ``min(doc_id)`` and that doc's ``payload``
    column, and carries its member count ``n`` and ``id_sum`` (so a
    group-level flag expands to member counts arithmetically). A side
    that reads only ``doc_id``/``payload`` selects them, and Catalyst
    prunes the unread aggregates.
    """
    return rows.groupBy(*keys).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by(payload, "doc_id").alias(payload),
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
    )


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: str | Column,
    cap: int | None = None,
    star: bool = False,
) -> DataFrame:
    """Candidate pairs from inside each group of ``rows``: the candidate
    step of every group-then-verify near-dup operator (shingle, MinHash
    band, SimHash band, SRP bucket, source fingerprint).

    ``rows`` is grouped by ``keys`` into a sorted array of ``member``, a
    column name or a struct (a struct sorts by its first field first).
    ONE shuffle builds the groups, and the pairs come from array lambdas
    inside each group, so the input is scanned once where a self-join
    would scan and shuffle it twice. A group with one member gives
    nothing, and so does a group with more than ``cap`` members when
    ``cap`` is set: a hot group's pairs grow quadratically and carry no
    pruning signal.

    Returns one row ``(a, b)`` per candidate, ``a`` before ``b`` in sort
    order: every in-group pair, or with ``star`` each member paired with
    its group's minimum (linear in group size). A pair that shares
    several groups comes back once per group; the caller deduplicates
    before or after its verify.
    """
    ids = F.col("ids")
    size = F.size(ids)
    keep = size > 1 if cap is None else (size > 1) & (size <= cap)
    grouped = (
        rows.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("ids"))
        .filter(keep)
    )
    if star:
        return grouped.select(
            ids[0].alias("a"), F.explode(F.slice(ids, 2, size)).alias("b")
        )
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, size),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return grouped.select(F.explode(pair_arr).alias("p")).select("p.a", "p.b")


def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest
    doc_id per group. One hash-agg shuffle of (fingerprint, id) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            content_fp_from_toks(tokens_col(F.col("text"))).alias("fingerprint")
        )
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("copies"))
    )


def jaccard_pairs(
    docs: DataFrame, threshold: float = 0.18, max_shingle_freq: int = 10_000
) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ threshold over ANY
    document DataFrame with (doc_id, text) — the reusable core of d2,
    also composed into e2's training pipeline. Candidates are the
    :func:`bucket_pairs` of each shingle's postings; the cap is the
    hot-shingle guard (ubiquitous shingles carry no signal) — no-op at
    test SF, load-bearing at 100 TB. Each candidate row is one shared
    shingle, so counting them gives the intersection size."""
    sh = with_shingles(docs).withColumn("n_sh", F.size("shingles"))
    postings = sh.select("doc_id", "n_sh", F.explode("shingles").alias("shingle"))
    pairs = (
        bucket_pairs(
            postings, ["shingle"], F.struct("doc_id", "n_sh"), cap=max_shingle_freq
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )
    return pairs


def d2_ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.18,
    max_shingle_freq: int = 10_000,
) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ threshold.

    **Diagnostic surface** (registered as ``d2_ngram_jaccard_pairs_diag``):
    pair materialization is quadratic per duplicate cluster by
    definition, and the hot-shingle cap bounds cost at the price of
    recall (``d2b_cap_report`` quantifies the loss). The scale path for
    actually deduplicating a corpus is ``d7_dedup_apply_lsh`` (linear);
    use d2 to audit/calibrate thresholds on samples, not on full data.

    Plan shape: docs → distinct shingles (projection) → explode postings
    → (optional hot-shingle cutoff) → group-and-pair on shingle →
    pair-count agg → jaccard = |∩| / (|A|+|B|-|∩|). All counts are
    integers, the final division is one double op — bit-identical to
    the SQL oracle.
    """
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold, max_shingle_freq
    )


def shingle_cap_report(docs: DataFrame, max_shingle_freq: int = 10_000) -> DataFrame:
    """Observability for ``jaccard_pairs``' hot-shingle cap: how many
    shingles the cap silences and how many postings that drops. A
    capped shingle generates ZERO pairs, so d2's output is complete
    only when ``n_capped_shingles`` is 0 — this makes that a queryable
    number instead of a silent recall loss on skew-heavy corpora."""
    dfreq = (
        with_shingles(docs)
        .select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hot = F.col("df") > max_shingle_freq
    return dfreq.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(hot.cast("long")).alias("n_capped_shingles"),
        F.sum(F.when(hot, F.col("df")).otherwise(0)).cast("long").alias(
            "n_dropped_postings"
        ),
        F.max("df").alias("max_df"),
    )


def d2b_cap_report(
    spark: SparkSession, sf_dir: str, max_shingle_freq: int = 10_000
) -> DataFrame:
    """d2's truncation companion: the hot-shingle cap's effect as
    data. One shuffle on shingle (the same key d2 groups on),
    four-column single-row summary out."""
    return shingle_cap_report(
        load_table(spark, sf_dir, "documents"), max_shingle_freq
    )


NUM_HASHES = 64
BANDS = 16  # 16 bands × 4 rows — catches J≳0.3 pairs w.h.p.
ROWS_PER_BAND = NUM_HASHES // BANDS


D3B_AUDIT_DOCS = 2000  # fixed calibration slice — constant-work audit


def d3b_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration audit — the a5b pattern applied to d3's
    estimator: over the exact near-dup pair set, compare the SIGNATURE
    Jaccard estimate (fraction of agreeing minhash components) against
    exact shingle Jaccard, and emit the statistical verdicts AS DATA.
    "Measure, don't guess": NUM_HASHES/BANDS are the recall/cost dial,
    and this query is the measured error that justifies the setting.

    Oracle shape: xxhash64 has no DuckDB twin, so the estimates can't
    be replayed — instead the audited pair set and its exact-side
    stats ARE replayed (the d2 exact-pairs SQL, aggregated), and the
    estimator's quality enters as hash-checked booleans the oracle
    expects TRUE: ``bias_ok`` (|mean(est−J)| within 4σ of the
    k-component estimator's mean-error bound — per-pair σ ≤
    0.5/√k = 0.0625) and ``rmse_ok`` (RMSE ≤ 0.1, generous vs the
    ≤0.0625 theoretical per-pair σ). A FALSE on either
    hash-mismatches the row, making estimator quality itself a
    driver-checkable claim on every fixture.

    Scale shape: calibration does NOT need the corpus — the audit runs
    on the fixed slice ``doc_id < D3B_AUDIT_DOCS``, so the (inherently
    quadratic-per-cluster) exact-pair stage does CONSTANT work at any
    corpus size; without the slice the 20×-replica measurement was
    ~120-185 s (the d2 all-dups regime) vs ~1 s bounded. At 100 TB the
    slice is a stratified sample instead of an id prefix; the bound is
    the design either way.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < D3B_AUDIT_DOCS
    )
    pairs = jaccard_pairs(docs)
    sigs = minhash_signatures(docs).select("doc_id", "signature")
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("signature").alias("__sa")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("signature").alias("__sb")
    )
    est = (
        F.aggregate(
            F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda a, b: a + b,
        )
        / F.lit(float(NUM_HASHES))
    )
    audited = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select("jaccard", (est - F.col("jaccard")).alias("__err"))
    )
    sigma = 0.5 / NUM_HASHES**0.5  # per-pair estimator std upper bound
    n = F.count(F.lit(1))
    # vacuously-true guard: on a fixture with zero near-dup pairs the
    # averages are NULL and NULL-vs-TRUE would hash-mismatch — an empty
    # audit passes by definition (current fixtures: 25-28 pairs).
    return audited.agg(
        n.alias("n_pairs"),
        F.round(F.avg("jaccard"), 4).alias("avg_jaccard"),
        F.min("jaccard").alias("min_jaccard"),
        F.max("jaccard").alias("max_jaccard"),
        F.coalesce(
            F.abs(F.avg("__err")) <= 4 * sigma / F.sqrt(n) + F.lit(0.005),
            F.lit(True),
        ).alias("bias_ok"),
        F.coalesce(
            F.sqrt(F.avg(F.col("__err") * F.col("__err"))) <= F.lit(0.1),
            F.lit(True),
        ).alias("rmse_ok"),
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """MinHash signatures as a single projection: base-hash each shingle
    string ONCE (xxhash64 over a ~20-char string), then derive the k
    per-seed hashes by rehashing the resulting long (xxhash64 over 8
    bytes — far cheaper than k string hashes). Array lambdas keep it in
    codegen; no explode, no shuffle — the signature lives with the row.
    """
    base = F.col("__base")
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
        lambda seed: F.array_min(
            F.transform(base, lambda h: F.xxhash64(seed, h))
        ),
    )
    # No row filter for empty docs: a filter on a derived column gets
    # pushed below the exchange with the full expression inlined (same
    # trap as InferFiltersFromGenerate — see session.py). Instead the
    # signature is NULL for shingle-less docs; the band explode in d3
    # skips nulls, so such docs never become candidates.
    return (
        with_shingles(docs, text_col, id_col)
        .withColumn("__base", F.transform(F.col("shingles"), lambda s: F.xxhash64(s)))
        .select(
            F.col(id_col),
            F.when(F.size("shingles") > 0, sig)
            .otherwise(F.lit(None).cast("array<bigint>"))
            .alias("signature"),
            F.col("shingles"),
        )
    )


def band_buckets_col():
    """The ``BANDS`` band-bucket hashes derived from a MinHash
    ``signature`` column — ONE home for the banding arithmetic shared
    by d3/d7 and the cross-frame variant (a bands/rows tuning change
    edits this expression only). Null signature (shingle-less doc) →
    null array → the explode in :func:`_band_rows` emits zero rows."""
    return F.when(
        F.col("signature").isNotNull(),
        F.transform(
            F.sequence(F.lit(0), F.lit(BANDS - 1)),
            lambda b: F.xxhash64(
                F.slice(
                    F.col("signature"), b * ROWS_PER_BAND + 1, ROWS_PER_BAND
                )
            ),
        ),
    )


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows of a signature frame — the ONE
    explode of :func:`band_buckets_col`. The within-corpus candidates
    (:func:`bucket_pairs` in d3/d7 and their reuses), the cross-probe
    index (:func:`lsh_band_buckets`) and the cap guard
    (:func:`lsh_hottest_bucket`) build from it."""
    return sigs.select(
        "doc_id", F.posexplode(band_buckets_col()).alias("band", "bucket")
    )


def lsh_band_buckets(sigs: DataFrame, ids_alias: str) -> DataFrame:
    """(band, bucket) → sorted doc-id array index of a signature frame,
    uncapped and with singleton buckets kept: the two sides of the
    cross-frame probe (:func:`minhash_lsh_cross_pairs_over`, serving
    d18/e14/s9), which caps their joined occupancy instead. A repeat
    prober (s9) computes the BASE side once, caches it, and reuses it
    across micro-batches (the stored-index shape of the 100 TB
    story)."""
    return (
        _band_rows(sigs)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias(ids_alias))
    )


def verify_exact_jaccard(
    cand: DataFrame, sigs: DataFrame, threshold: float,
    sigs_b: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verify of candidate ``(doc_a, doc_b)`` pairs
    against the signature frame's shingle arrays — the shared verify
    step of the within-corpus and cross-frame LSH paths (the
    ``ROUND(j, 4) >= threshold`` contract the oracles mirror lives
    here once). ``sigs_b``: the cross-frame probe resolves ``doc_a``
    from the probe frame and ``doc_b`` from the base frame directly —
    doc-id spaces are disjoint, so two frames and their union are the
    same lookup, minus materializing a combined cache."""
    sh_a = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = (sigs_b if sigs_b is not None else sigs).select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (
                    F.size("sh_a") + F.size("sh_b") - F.col("common")
                ).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def d3_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.18,
    max_bucket_size: int = 1_000,
) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified with exact Jaccard.

    Banding: signature split into BANDS bands of ROWS_PER_BAND hashes;
    docs sharing any band hash become candidates (explode bands →
    groupBy band-bucket → pairs), then exact Jaccard over the candidate
    pairs only. Sub-quadratic: the all-pairs join is replaced by
    same-bucket joins.

    Oracle: the exact-Jaccard pair set (d2's SQL). Valid because the
    exact verify step makes the output equal to the exact algorithm
    whenever LSH candidate recall is 1 — and here it deterministically
    is: every true pair in the fixtures has Jaccard ≥ 0.8 (miss
    probability at 16 bands × 4 rows: (1-0.8^4)^16 ≈ 2e-4 per pair,
    and the seeded xxhash64 banding is deterministic, so the outcome
    is fixed, not per-run). Checked equal to d2 at sf0.01 AND sf0.1.
    """
    return minhash_lsh_pairs_over(
        load_table(spark, sf_dir, "documents"), threshold, max_bucket_size
    )


def minhash_lsh_pairs_over(
    docs: DataFrame,
    threshold: float = 0.18,
    max_bucket_size: int = 1_000,
    caches: list | None = None,
) -> DataFrame:
    """d3's banded MinHash-LSH + exact-Jaccard verify over an arbitrary
    (doc_id, text) frame — factored out so cluster-level consumers
    (d16, d17, e13) can run it over a pre-collapsed representative set
    instead of the raw corpus. Candidates are the :func:`bucket_pairs`
    of each (band, bucket); the cap is the degenerate-bucket guard (a
    boilerplate-heavy corpus can put thousands of near-identical docs
    into one bucket) — no-op at test SF, load-bearing at 100 TB. The
    signature frame is cached (it feeds the band explode AND both
    verify joins); a MATERIALIZING caller passes ``caches`` and hands
    the registered frame to ``materialize_release`` so the cache's
    lifetime ends with the query (an unregistered internal cache
    outlives every handle on a long-lived shared session)."""
    sigs = minhash_signatures(docs).cache()
    if caches is not None:
        caches.append(sigs)
    cand = (
        bucket_pairs(
            _band_rows(sigs), ["band", "bucket"], "doc_id", cap=max_bucket_size
        )
        .toDF("doc_a", "doc_b")
        .distinct()
    )
    return verify_exact_jaccard(cand, sigs, threshold)


SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed int64
SIMHASH_BANDS = 4
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
_BAND_MASK = (1 << _BAND_BITS) - 1


def token_hash60(t):
    """60-bit token hash both engines compute bit-identically: the
    first 15 hex chars of md5, parsed as an integer. SimHash needs
    uniform bit marginals, so the hash must be well mixed — md5 is,
    and unlike ``xxhash64`` it has a DuckDB twin, which is what makes
    d4/d5 oracle-checkable. Swap ``xxhash64`` back in when token
    hashing itself is the CPU bottleneck."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document, as pure array expressions.

    For each bit b: sign of Σ_tokens (bit_b(hash(token)) ? +1 : -1).
    Computed with a transform over bit positions and an aggregate over
    token hashes — single projection, zero shuffle. Oracle: the same
    polynomial of md5 bits evaluated in DuckDB.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Project token hashes into a named column: the bit-sum transform
    # references them once per bit position, and an inline expression
    # would be re-tokenized + re-hashed 60× per row (see
    # shingles_from_tokens for the same Catalyst inlining trap).
    docs = (
        parallelize_scan(docs)
        .withColumn("__toks", tokens_col(F.col("text")))
        .withColumn("__th", F.transform(F.col("__toks"), token_hash60))
    )
    tok_hashes = F.col("__th")
    bit_sums = F.transform(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        # F.shiftright's numBits wrapper only takes a Python int; the SQL
        # function itself accepts a column — call it by name.
        lambda b: F.aggregate(
            tok_hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    simhash = F.aggregate(
        F.zip_with(
            bit_sums,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda s, b: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    # Hamming-LSH keys: docs within Hamming distance 3 share at least
    # one of the four 15-bit bands (pigeonhole) — the join/bucket keys
    # a near-dup pass groups on, same pattern as d3's band buckets.
    # Emitted as scalar columns (engine-portable compare).
    keyed = docs.select("doc_id", simhash.alias("simhash"))
    for i in range(SIMHASH_BANDS):
        keyed = keyed.withColumn(
            f"band_{i}",
            F.call_function("shiftright", F.col("simhash"), F.lit(i * _BAND_BITS))
            .bitwiseAND(F.lit(_BAND_MASK))
            .cast("int"),
        )
    return keyed


def d5_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3,
    max_bucket_size: int = 1_000,
) -> DataFrame:
    """SimHash near-dup pairs: Hamming-band candidates + bit_count
    verify. By pigeonhole, any pair within Hamming distance 3 agrees on
    at least one of the four 16-bit bands, so candidates come from ONE
    shuffle on (band_idx, band_key) with in-group pair generation
    (:func:`bucket_pairs` with the degenerate-bucket cap) and are verified with
    ``bit_count(a XOR b) <= 3`` — no all-pairs stage anywhere. Oracle:
    all-pairs Hamming SQL — pigeonhole makes the banded candidate set
    EXACTLY complete (not probabilistically), so the outputs are equal
    whenever no bucket exceeds the degenerate-bucket cap (true here)."""
    keyed = d4_simhash(spark, sf_dir)
    bands = keyed.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[f"band_{i}" for i in range(SIMHASH_BANDS)])
        ).alias("band", "key"),
    )
    return (
        bucket_pairs(
            bands, ["band", "key"], F.struct("doc_id", "simhash"), cap=max_bucket_size
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def d6_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step: drop near-duplicates, keep canonical docs.

    Keep rule: a doc survives unless it is the greater partner of any
    near-dup pair (doc_a < doc_b ⇒ doc_b drops) — deterministic, one
    left-anti join against the pair set's doc_b column, no connected-
    components iteration. Every surviving doc is the minimum of its
    pair-neighborhood; a training pipeline points this at d3's LSH
    pairs for the sub-quadratic version (same apply, cheaper pairs).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = d2_ngram_jaccard_pairs(spark, sf_dir)
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = docs.join(drop, "doc_id", "left_anti")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
        F.min("doc_id").alias("min_kept_id"),
        F.max("doc_id").alias("max_kept_id"),
    )


def d7_dedup_apply_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.18,
    max_bucket_size: int = 1_000,
) -> DataFrame:
    """The 100 TB dedup apply: LSH buckets + verify-against-bucket-min.

    Pair materialization (d2/d3/d6) is inherently quadratic per
    near-dup cluster — a cluster of k copies IS k(k-1)/2 pairs
    (measured: 20× corpus with 20-copy clusters → 36× d2 runtime, all
    of it real output). A pipeline that only needs the deduplicated
    table never builds pairs: within each LSH bucket, verify every doc
    against the bucket MINIMUM only (:func:`bucket_pairs` with
    ``star=True`` — candidates are linear in bucket size) and drop docs
    that match their bucket min. Greedy (keeps
    the per-bucket canonical, not a transitive-closure canonical),
    which is the standard large-corpus trade. Oracle: the exact
    drop-rule SQL — valid here because the fixture clusters are
    quasi-cliques whose bucket min is the cluster min, making the
    greedy survivor set equal the exact one (deterministic; checked
    at sf0.01 and sf0.1).

    Measured on a 20×-replicated corpus (100k docs, every doc in a
    20-copy near-dup cluster): d2 scaled 36× (pair output), d7 scaled
    6.2× (near-linear) and kept the same 4,756 canonical docs as the
    5k run — the clusters collapse instead of exploding.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).cache()
    # (bucket-min, member) candidates: LINEAR in bucket size.
    cand = (
        bucket_pairs(
            _band_rows(sigs),
            ["band", "bucket"],
            "doc_id",
            cap=max_bucket_size,
            star=True,
        )
        .toDF("doc_a", "doc_b")
        .distinct()
    )
    drop = (
        verify_exact_jaccard(cand, sigs, threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = docs.join(drop, "doc_id", "left_anti")
    out = kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
    )
    # One summary row out; release the signature cache with it.
    from .util import materialize_release

    return materialize_release(spark, out, sigs)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Connected components by min-label propagation: every node's
    label converges to the minimum node id in its component.

    Iterative DataFrame algorithm (the idiomatic Spark shape for graph
    fixpoints, cf. GraphFrames/GraphX). Per round (r16 staging):

    * POINTER JUMP (from round 3 on — see the in-loop note): each node
      first takes its label's label (``labels ⋈ labels`` on
      ``label == node`` — every label value is itself a node id, so
      the join is total). Jumping halves the remaining
      distance-to-root, turning O(diameter) rounds into
      O(log diameter) — the difference between ~18 and ~5 rounds on
      x16's chain-shaped thresholded k-NN graphs (measured r16), and
      at 100 TB the difference between d and log d full label
      shuffles.
    * neighbor-min: ``min(own, min neighbor label)`` — one join + one
      groupBy, as before.
    * the convergence check is a column compare on the SAME frame (the
      pre-round label rides along as ``__old``) — the former new⋈old
      join re-shuffled every label row purely to count changes. The
      lazy ``localCheckpoint`` materializes inside the ``count()`` job
      (one action per round instead of eager-checkpoint + count), and
      later rounds read the checkpointed blocks, not the lineage.

    Early-stopped on a zero-change round; the fixpoint (minimum node
    id per component) is identical to plain propagation — jumping only
    accelerates monotone convergence to the same labels.

    A component needing more than the round budget would otherwise
    return silently WRONG labels — split communities with duplicate
    representatives — so an UNCONFIRMED fixpoint raises instead:
    convergence is confirmed only by a zero-change round, so the
    usable budget is ``max_iter - 1`` rounds (a graph whose labels
    settle exactly on the last round still raises — a conservative
    false positive, never a quiet wrong answer). With jumping from
    round 3 on, the budget covers diameters ~2^(max_iter-2):
    effectively any graph.

    Returns (node, label) for every node with at least one edge.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for rnd in range(max_iter):
        if rnd < 2:
            # Rounds 1–2 skip the jump outright (r17, VERDICT r16 #6):
            # round 1's jump is the identity (labels start node→node),
            # and round 2's is near-identity on the dense quasi-clique
            # graphs that dominate this repo's cc calls (they converge
            # in 2 rounds and would pay the self-join for nothing —
            # d16's accepted +0.4 s in r16 was exactly that join).
            # Chain-shaped graphs still get O(log d): jumping from
            # round 3 costs them at most one extra round.
            jumped = labels.withColumn("__old", F.col("label"))
        else:
            jumped = (
                labels.alias("l")
                .join(labels.alias("p"), F.col("l.label") == F.col("p.node"))
                .select(
                    F.col("l.node").alias("node"),
                    F.col("p.label").alias("label"),
                    F.col("l.label").alias("__old"),
                )
            )
        nbr_min = sym.join(jumped, sym.b == jumped.node).groupBy("a").agg(
            F.min("label").alias("nbr_label")
        )
        new_label = F.least(
            F.col("label"), F.coalesce("nbr_label", F.col("label"))
        )
        stepped = (
            jumped.join(nbr_min, jumped.node == nbr_min.a, "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("__old")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter("__changed").count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "connected_components could not confirm convergence within"
            f" {max_iter} rounds (last round still changed {changed}"
            " labels) — raise max_iter (with pointer jumping from round 3"
            " on, the usable diameter budget is already"
            " ~2^(max_iter-2))"
        )
    return labels


def d8_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the d2
    pair graph — the closure d6/d7 deliberately skip (A~B, B~C ⇒
    {A,B,C} one cluster even when A≁C directly). Output is one row per
    cluster (component = min doc_id, member count); a pipeline keeps
    exactly the component representative. Oracle: DuckDB recursive CTE
    transitive closure over the same pair SQL.
    """
    pairs = d2_ngram_jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        cc.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("label").alias("component"), "n_members")
        .orderBy("component")
    )


#: Deterministic "held-out benchmark" selector for d9 (≈1% of docs).
DECON_MOD = 97


def d9_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination — the overlap check every serious
    pretraining pipeline runs (the GPT-3/Pile recipe): flag corpus
    documents sharing any token n-gram with a held-out benchmark set.
    Here the benchmark is the deterministic ~1% slice
    ``doc_id % {mod} == 0`` and the n-grams are the package's 3-word
    shingles.

    Scale shape — this is NOT a dedup self-join: the benchmark side is
    tiny by construction, so its distinct shingle set BROADCASTS and
    the corpus side streams through a broadcast LEFT SEMI join with no
    corpus shuffle before the final per-language count. At 100 TB the
    benchmark-shingle set is still only benchmark-sized.

    Oracle: the identical overlap in SQL (exact — no hashing anywhere).
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    docs = docs.withColumn("__toks", tokens_col(F.col("text")))
    docs = docs.withColumn(
        "shingles", shingles_from_tokens(F.col("__toks"))
    ).select("doc_id", "lang", "shingles")
    bench_shingles = (
        docs.filter(F.col("doc_id") % DECON_MOD == 0)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % DECON_MOD != 0)
    contaminated = (
        corpus.select("doc_id", "lang", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(bench_shingles), "shingle", "left_semi")
        .select("doc_id", "lang")
        .distinct()
    )
    totals = corpus.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    flagged = contaminated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return totals.join(flagged, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            / F.col("n_docs").cast("double"),
            4,
        ).alias("contamination_rate"),
    )


d9_decontaminate.__doc__ = d9_decontaminate.__doc__.format(mod=DECON_MOD)


#: d14 grading: n-gram order and the flag threshold (basis points of a
#: document's n-grams found in the benchmark set).
CONTAM_N = 5
CONTAM_FLAG_BP = 2000


def d14_contamination_grade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark contamination — d9's binary any-overlap flag is
    the Pile recipe; the GPT-3 appendix-C variant MEASURES each
    document's overlap instead: what fraction of a doc's word
    ``CONTAM_N``-grams appear in the held-out benchmark set. A doc
    quoting one benchmark sentence scores a few hundred basis points; a
    wholesale copy scores ~10000 — the number that decides drop vs
    trim-the-span vs keep. Benchmark = the same deterministic ~1% slice
    d9 uses (``doc_id % DECON_MOD == 0``).

    Scale shape: identical to d9's — the benchmark's distinct n-gram
    set is benchmark-sized and BROADCASTS; the corpus streams through
    one broadcast left join, and the only corpus-wide shuffle is the
    per-doc rollup (keyed on doc_id, then the bounded per-lang
    summary). The n-gram constructor is the named-column ladder (t11's
    CollapseProject trap: inlining the transform into the generator
    re-evaluates the tokenizer per element). Contamination is integer
    basis points end-to-end — no float anywhere.

    Oracle: identical grams + arithmetic in DuckDB (``//`` == ``DIV``).
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__t", tokens_col(F.col("text"))
    )
    t = F.col("__t")
    windows = F.transform(
        F.sequence(F.lit(0), F.size(t) - CONTAM_N),
        lambda i: F.concat_ws(
            " ", *[t[i + j] for j in range(CONTAM_N)]
        ),
    )
    grams = F.when(F.size(t) >= CONTAM_N, windows).otherwise(
        F.array().cast("array<string>")
    )
    ex = docs.withColumn("__g", grams).select(
        "doc_id", "lang", F.explode("__g").alias("gram")
    )
    bench = (
        ex.filter(F.col("doc_id") % DECON_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    per_doc = (
        ex.filter(F.col("doc_id") % DECON_MOD != 0)
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0)).cast("long")).alias(
                "n_hit"
            ),
        )
        .withColumn("bp", F.expr("(10000 * n_hit) DIV n_grams"))
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("bp") >= CONTAM_FLAG_BP).cast("long")
            ).alias("n_flagged"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_hit").alias("matched_grams"),
            F.max("bp").alias("max_doc_bp"),
        )
        .orderBy("lang")
    )


D10_DELTA_MOD = 5  # doc_id % 5 == 0 → the incoming delta batch


def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus building — dedup a DELTA batch against the
    existing BASE corpus, the shape every continuously-ingesting
    training pipeline runs on each arrival: (1) collapse exact dups
    WITHIN the delta (keep min doc_id per fingerprint, d1's rule),
    (2) anti-join the survivors against the base's fingerprint set —
    only genuinely novel content is admitted.

    Scale shape: both sides reduce to (fingerprint[, min id]) BEFORE
    the join, so the shuffle carries 32-byte keys, never text; at
    100 TB the base fingerprint table is stored bucketed on
    fingerprint so each delta ingest co-locates instead of reshuffling
    the corpus. Per-lang summary out (bounded by |langs|).
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = content_fp_from_toks(tokens_col(F.col("text"))).alias("fingerprint")
    is_delta = F.col("doc_id") % D10_DELTA_MOD == 0
    base_fps = docs.filter(~is_delta).select(fp).distinct()
    delta = (
        docs.filter(is_delta)
        .select("doc_id", "lang", fp)
        .groupBy("fingerprint", "lang")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    novel = delta.join(base_fps, "fingerprint", "left_anti")
    return (
        novel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_novel"),
            F.sum("n_copies").alias("n_delta_rows_represented"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("lang")
    )


SEG_TOKENS = 4  # disjoint segment width (tokens)
SEG_BOILERPLATE_DF = 3  # a segment in >= this many distinct docs is boilerplate


def d12_segment_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level boilerplate removal — the C4/RefinedWeb step that
    drops text SEGMENTS repeated across many documents (nav bars,
    license footers, share buttons) while keeping the documents
    themselves: finer-grained than d1 (whole-doc dedup), coarser than
    token filters.

    Segments are disjoint ``SEG_TOKENS``-token chunks (the fixture
    text has no natural line breaks; on real corpora the splitter is
    a line/sentence rule, every other shape identical). Pipeline:
    explode segments → document-frequency count per segment → segments
    with df ≥ ``SEG_BOILERPLATE_DF`` form the boilerplate set → anti-
    join segments against it → per-document retention summary.

    Scale shape: both the df-count and the anti-join shuffle on the
    SAME key (segment), so the exchange is paid once and reused; the
    boilerplate set is NOT broadcast by hint — its size is corpus-
    dependent (bounded by n_segments/df), so the planner picks
    broadcast vs shuffle from stats (AQE). Text crosses the shuffle
    only as individual segments, never whole documents.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    n_chunks = F.ceil(F.size("__toks") / F.lit(SEG_TOKENS)).cast("int")
    # Zero-token guard: sequence(0, -1) counts DOWN in Spark (the
    # shingles_from_tokens lesson), which would fabricate two phantom
    # empty segments per empty doc while the SQL oracle emits none —
    # empty docs must contribute no segment rows on either engine.
    seg_arr = F.when(
        F.size("__toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice("__toks", i * SEG_TOKENS + 1, SEG_TOKENS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = toks.select(
        "doc_id", F.posexplode(seg_arr).alias("pos", "segment")
    )
    hot = (
        chunks.groupBy("segment")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= SEG_BOILERPLATE_DF)
        .select("segment")
    )
    kept = chunks.join(hot, "segment", "left_anti")
    per_doc = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    kept_counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        per_doc.join(kept_counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_segments") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )


#: d15: tokens per window for substring-level dedup. Lee et al. 2022
#: ("Deduplicating Training Data Makes Language Models Better") use
#: 50-token spans on web corpora; 25 keeps the majority of the
#: shorter fixture documents span-eligible (measured: 425/500 docs
#: carry >=1 window at sf0.01, 41 flagged) while preserving the
#: long-shared-span semantics. The contract is the same either way.
D15_K = 25


def d15_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup — the ExactSubstr pass of Lee et
    al. 2022, the dedup mode this suite lacked: d1 removes whole-doc
    copies, d3/d13 near/semantic duplicates, but a doc that EMBEDS a
    long span of another (quoted boilerplate, syndicated paragraphs,
    licence blocks) passes all three. This operator scores exactly
    that: for every document, how many of its distinct ``D15_K``-token
    windows also occur in some OTHER document, rolled up per language
    (docs spanned, docs carrying any cross-doc span, window totals,
    duplicated-window basis points).

    Scale shape — the d1/d10 fingerprint discipline end to end: each
    window is reduced to its md5 before anything shuffles, so both
    corpus-wide exchanges (the window-count groupBy and the
    duplicated-set join back) carry 32-byte keys, never window text;
    window construction is the named-column ladder (t11's
    CollapseProject trap) and windows are deduped per-doc with
    ``array_distinct`` before exploding. No self-join, no all-pairs
    path at any scale — cost is linear in corpus tokens. (The paper's
    suffix-array formulation finds maximal spans; the fixed-K window
    formulation is the shuffle-friendly equivalent measure — any
    duplicated span >= K surfaces as >= 1 duplicated window.)

    Oracle: the identical window ladder + counts in DuckDB, md5 on
    both sides, integer-bp arithmetic (``//`` == ``DIV``).
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__t", tokens_col(F.col("text"))
    )
    t = F.col("__t")
    ladder = F.transform(
        F.sequence(F.lit(0), F.size(t) - D15_K),
        lambda i: F.concat_ws(" ", *[t[i + j] for j in range(D15_K)]),
    )
    wins = F.when(F.size(t) >= D15_K, ladder).otherwise(
        F.array().cast("array<string>")
    )
    dw = (
        docs.withColumn("__w", F.array_distinct(wins))
        .select("doc_id", "lang", F.explode("__w").alias("w"))
        .select("doc_id", "lang", F.md5("w").alias("h"))
    )
    dup = (
        dw.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
        .withColumn("__m", F.lit(1))
    )
    per_doc = (
        dw.join(dup, "h", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("nw"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0)).cast("long")).alias(
                "ndup"
            ),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_spanned"),
            F.sum((F.col("ndup") > 0).cast("long")).alias("n_docs_with_dup"),
            F.sum("nw").alias("total_windows"),
            F.sum("ndup").alias("dup_windows"),
        )
        .select(
            "lang",
            "n_docs_spanned",
            "n_docs_with_dup",
            "total_windows",
            "dup_windows",
            F.expr(
                "CAST(CASE WHEN total_windows = 0 THEN 0 ELSE"
                " (10000 * dup_windows) DIV total_windows END AS BIGINT)"
            ).alias("dup_bp"),
        )
        .orderBy("lang")
    )


def d15b_exact_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT step — d15 MEASURES duplicated 25-token
    spans; Lee et al. 2022's operator REMOVES them. Keep-first,
    corpus-wide, position-level: every occurrence of a duplicated
    ``D15_K``-token window is cut except the global first (min
    (doc_id, pos) lexicographic — deterministic on both engines), a
    token is removed iff some cut window covers it, and the report is
    the per-language retained-token accounting a release pipeline
    publishes (docs, tokens, cut/retained tokens, docs touched,
    retained basis points).

    Scale shape — two disciplines composed: (1) the d16 exact-collapse
    STAGING: exact-duplicate docs collapse to one representative per
    content fingerprint BEFORE window explosion, so the all-clones
    regime never multiplies the corpus-tokens-linear window pass (a
    non-first clone's windows are all duplicated by its rep's, so its
    coverage is closed-form: the full windowed span — n tokens when
    n ≥ K, zero otherwise — exactness argued in-line below); (2) the
    d15 fingerprint discipline: windows reduce to md5 before anything
    shuffles, so both corpus-wide exchanges (per-hash occurrence
    stats, duplicated-set join back) carry 32-byte keys + ints, never
    window text. Token-coverage union per doc is ONE lead() window
    over cut starts (fixed width K ⇒ union = Σ min(next−pos, K)),
    partitioned by doc — bounded by per-doc cut windows, no global
    sort. The staging is exact: group members share every (window,
    pos), so the global occurrence count is Σ group-size over rep
    occurrences and the global canonical min is the min over reps
    (reps are per-group min ids).

    Oracle: the UNCOLLAPSED global rule in DuckDB — same ladder, md5,
    keep-first canonical (zero-padded string keys: DuckDB MIN on
    structs vs Spark min-struct trap), lead() coverage union —
    proving the collapse is pure plan optimization.
    """
    docs = (
        parallelize_scan(load_table(spark, sf_dir, "documents"))
        .withColumn("__t", tokens_col(F.col("text")))
        .withColumn("n", F.size("__t"))
        .withColumn("fp", content_fp_from_toks(F.col("__t")))
        # feeds the group build, the rep window pass, and the member
        # rollup — cache, or the tokenize+md5 lineage executes thrice
        .cache()
    )
    groups = docs.groupBy("fp").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("gsz")
    )
    reps = docs.join(
        groups.select(F.col("rep_id").alias("doc_id"), "fp", "gsz"),
        ["fp", "doc_id"],
    )
    t = F.col("__t")
    ladder = F.transform(
        F.sequence(F.lit(0), F.size(t) - D15_K),
        lambda i: F.concat_ws(" ", *[t[i + j] for j in range(D15_K)]),
    )
    occ = (
        reps.filter(F.col("n") >= D15_K)
        .select("doc_id", "gsz", F.posexplode(ladder).alias("pos", "w"))
        .select("doc_id", "gsz", "pos", F.md5("w").alias("h"))
    )
    hs = occ.groupBy("h").agg(
        # global occurrence count = Σ gsz (each group member repeats
        # its rep's windows at the same positions)
        F.sum("gsz").alias("n_occ"),
        # global keep-first = min over reps (rep = min id of its group)
        F.min(F.struct("doc_id", "pos")).alias("canon"),
    )
    cut = (
        occ.join(hs, "h")
        .filter(
            (F.col("n_occ") >= 2)
            & ~(
                (F.col("doc_id") == F.col("canon.doc_id"))
                & (F.col("pos") == F.col("canon.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        cut.withColumn("nxt", F.lead("pos").over(wl))
        .select(
            "doc_id",
            F.when(F.col("nxt").isNull(), F.lit(D15_K))
            .otherwise(F.least(F.col("nxt") - F.col("pos"), F.lit(D15_K)))
            .alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("covered"))
    )
    rep_doc = (
        reps.select("doc_id", "lang", "n")
        .join(cov, "doc_id", "left")
        .select(
            "lang",
            "n",
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered"),
        )
    )
    # a non-first exact clone's windows are ALL cut (its rep precedes
    # it at every position), so coverage is the full windowed span
    nonrep_doc = (
        docs.select("doc_id", "lang", "n", "fp")
        .join(groups.select("fp", "rep_id"), "fp")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(
            "lang",
            "n",
            F.when(F.col("n") >= D15_K, F.col("n"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("covered"),
        )
    )
    per_doc = rep_doc.unionByName(nonrep_doc)
    out = (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum("covered").alias("cut_tokens"),
            F.sum((F.col("covered") > 0).cast("long")).alias("n_docs_cut"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "cut_tokens",
            (F.col("total_tokens") - F.col("cut_tokens")).alias(
                "retained_tokens"
            ),
            "n_docs_cut",
            F.expr(
                "CAST(CASE WHEN total_tokens = 0 THEN 10000 ELSE"
                " (10000 * (total_tokens - cut_tokens)) DIV total_tokens"
                " END AS BIGINT)"
            ).alias("retained_bp"),
        )
        .orderBy("lang")
    )
    from .util import materialize_release

    return materialize_release(spark, out, docs)


def d16_cluster_best_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization — d8 keeps the MIN-id
    member of each transitive cluster; real pipelines keep the BEST
    one (RefinedWeb/FineWeb keep the highest-quality copy so dedup
    never trades a clean original for a mangled mirror). Per cluster:
    the kept representative = argmax(quality, tie → min doc_id) on the
    integer alpha-ratio proxy (e10's basis-point heuristic — exact on
    both engines, so the argmax is deterministic cross-engine).

    Scale shape — the production STAGING, not just the production
    pair path: exact duplicates collapse to one representative per
    token-fingerprint (:func:`fingerprint_reps`) BEFORE near-dup pair
    generation (the d1-then-d3 ordering every real pipeline uses), so
    identical copies never enter the LSH join — the
    replicated/mirror-heavy regime that makes pair materialization
    quadratic in copy count does its work in one fingerprint hash-agg
    instead (measured 45.7×→~1× wall at the 100× all-clones stress).
    The LSH pairs then run over representatives
    only (d3's banded MinHash + exact-Jaccard verify — output provably
    equal to the exact pair set); components via diameter-bounded
    min-label propagation; membership expands back through the
    fingerprint map (label = component of the group's rep, or the rep
    itself for exact-only groups — identical labels to the uncollapsed
    closure, because exact copies share all shingles and reps are
    per-group min ids). The argmax is one row_number over label.
    Output is one row per multi-member cluster — bounded by duplicate
    clusters, not corpus.

    Oracle: d8's UNCOLLAPSED recursive-CTE closure extended with the
    quality argmax — the collapse is pure plan optimization, checked
    equal to the direct closure (so component semantics stay
    hash-verified through this slot as well).
    """
    docs = (
        parallelize_scan(load_table(spark, sf_dir, "documents"))
        .withColumn("__toks", tokens_col(F.col("text")))
        .withColumn("quality_bp", alpha_ratio_bp_col())
        .withColumn("__fp", content_fp_from_toks(F.col("__toks")))
        # shingle-less docs (< k tokens) can never form a pair in the
        # uncollapsed graph — exclude them from exact-only fallback too
        .withColumn("__has_sh", F.size("__toks") >= SHINGLE_K)
        # consumed by BOTH the rep build and the membership expansion —
        # cache, or the tokenize+md5 lineage executes twice
        .cache()
    )
    reps = fingerprint_reps(docs, ["__fp"], "text")
    lsh_caches: list = []
    pairs = minhash_lsh_pairs_over(
        reps.select("doc_id", "text"), caches=lsh_caches
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    # reps already holds (fp -> min doc_id): reuse, don't re-aggregate
    rep_map = reps.select("__fp", F.col("doc_id").alias("rep"))
    members = (
        docs.select("doc_id", "quality_bp", "__fp", "__has_sh")
        .join(rep_map, "__fp")
        .join(
            cc.select(F.col("node").alias("rep"), "label"), "rep", "left"
        )
        .withColumn(
            "label",
            F.coalesce(
                "label", F.when(F.col("__has_sh"), F.col("rep"))
            ),
        )
        .filter(F.col("label").isNotNull())
        .select("label", "doc_id", "quality_bp")
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("quality_bp"), F.asc("doc_id")
    )
    ranked = members.withColumn("rk", F.row_number().over(w))
    out = (
        ranked.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("kept_doc"),
            F.max(F.when(F.col("rk") == 1, F.col("quality_bp"))).alias(
                "kept_quality_bp"
            ),
            F.sum((F.col("rk") > 1).cast("long")).alias("n_dropped"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("label").alias("component"),
            "n_members",
            "kept_doc",
            "kept_quality_bp",
            "n_dropped",
        )
        .orderBy("component")
    )
    from .util import materialize_release

    return materialize_release(docs.sparkSession, out, docs, *lsh_caches)


def t16_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level overlap matrix — before mixing N crawl/corpus
    sources into one training set, measure how much they duplicate
    EACH OTHER (CommonCrawl snapshots overlap 30-60%; two "different"
    curated sets often share a wholesale mirror). Per source pair:
    Jaccard similarity of their distinct 3-word-shingle fingerprint
    sets — the source-granularity twin of d2's per-document measure.

    Scale shape: shingles reduce to 32-char md5 fingerprints BEFORE
    anything shuffles (the d1/d15 discipline); one shuffle builds the
    distinct (source, fp) posting set (cached — it feeds totals AND
    pairs), and :func:`bucket_pairs` on fp collects each fingerprint's
    source set and emits its source pairs (no self-join, no lineage
    recompute). Per-fingerprint
    fanout is bounded by |sources|·(|sources|-1)/2 structurally, and
    the output is |sources|² rows at ANY corpus size. Pairs with zero
    shared shingles are omitted (both engines).

    Oracle: identical shingle → md5 → distinct → self-join pipeline in
    DuckDB; integer counts, one final double division ROUND-ed.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # ONE tokenize+shingle+hash pass: per_src is cached and feeds both
    # the per-source totals and the pair counts (a per_src⋈per_src
    # self-join would re-run the whole corpus lineage per side — the
    # d3 recompute trap); pairs come from bucket_pairs (sources per
    # fingerprint, fanout bounded by |sources| per row) instead.
    per_src = (
        docs.withColumn("__toks", tokens_col(F.col("text")))
        .select(
            "source",
            F.explode(shingles_from_tokens(F.col("__toks"))).alias("sh"),
        )
        .select("source", F.md5("sh").alias("fp"))
        .distinct()
        .cache()
    )
    counts = per_src.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        bucket_pairs(per_src, ["fp"], "source")
        .groupBy(F.col("a").alias("src_a"), F.col("b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
    )
    cb = counts.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
    )
    out = (
        inter.join(F.broadcast(ca), "src_a")
        .join(F.broadcast(cb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "common",
            F.round(
                F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )
    from .util import materialize_release

    return materialize_release(docs.sparkSession, out, per_src)


D20_K = 16  # MinHash slots per source sketch


def d20_minhash_source_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE MinHash sketches + the pairwise overlap ESTIMATE they
    support, graded in-plan against t16's exact Jaccard — the scale
    path for the source-overlap matrix. t16's exact answer needs the
    distinct (source, fingerprint) posting set: one corpus-sized
    distinct shuffle plus a group-and-pair pass. At 100 TB the
    operational pattern is instead Broder's sketch: ``D20_K`` min-hash
    slots per source, built in ONE corpus pass with NO distinct
    shuffle at all — min over a multiset equals min over its distinct
    set, so the slot minima ride a plain map-side-combining groupBy.
    Each snapshot/shard persists its |sources|·K sketch; any two
    sketches estimate Jaccard as the slot-agreement fraction without
    touching either corpus again (how CC snapshot overlap is actually
    audited).

    The exact posting-set pipeline still runs HERE as the grading
    baseline (the x-family discipline: an estimator ships with its
    in-plan truth), reusing t16's shapes — distinct (source, fp), one
    group-and-pair pass (fanout bounded by |sources|), never a
    postings self-join. Output is driven from the SKETCH pair table
    (all |sources|·(|sources|−1)/2 pairs) with the exact counts
    left-joined and COALESCEd, so zero-overlap pairs — the estimator's
    worst case — stay visible instead of vanishing (the x20 lesson).

    Slot hashes are ``md5(j || ':' || shingle)`` — K string hashes per
    shingle instance, identical in both engines. (The per-doc MinHash
    in :func:`minhash_signatures` derives its k hashes from one
    xxhash64 via reseeding, which DuckDB can't replay; the per-source
    sketch is hash-checked END to END, so it pays K md5s for exact
    cross-engine parity. A production deployment would switch to the
    Kirsch-Mitzenmacher two-hash scheme — same one-pass plan shape.)

    Integer output: counts and basis points (``(10000·x) DIV y``);
    ``err_bp = est − exact`` signed, the sketch-quality column.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    sh = (
        docs.withColumn("__toks", tokens_col(F.col("text")))
        .select(
            "source",
            F.explode(shingles_from_tokens(F.col("__toks"))).alias("sh"),
        )
        .cache()
    )
    sig = sh.groupBy("source").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("sh")))).alias(
                f"s{j}"
            )
            for j in range(D20_K)
        ]
    )
    eq_slots = sum(
        F.when(F.col(f"a.s{j}") == F.col(f"b.s{j}"), 1).otherwise(0)
        for j in range(D20_K)
    )
    est = (
        sig.alias("a")
        .join(
            F.broadcast(sig.alias("b")),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            eq_slots.cast("long").alias("eq_slots"),
        )
    )
    # exact grading baseline — t16's posting-set shapes
    per_src = sh.select("source", F.md5("sh").alias("fp")).distinct().cache()
    counts = per_src.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    inter = (
        bucket_pairs(per_src, ["fp"], "source")
        .groupBy(F.col("a").alias("src_a"), F.col("b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
    )
    cb = counts.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
    )
    out = (
        est.join(inter, ["src_a", "src_b"], "left")
        .join(F.broadcast(ca), "src_a")
        .join(F.broadcast(cb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            "eq_slots",
        )
        .withColumn(
            "jaccard_bp",
            F.expr(
                "(10000 * n_common)"
                " DIV greatest(n_a + n_b - n_common, 1)"
            ),
        )
        .withColumn(
            "jaccard_est_bp", F.expr(f"(10000 * eq_slots) DIV {D20_K}")
        )
        .withColumn(
            "err_bp", F.col("jaccard_est_bp") - F.col("jaccard_bp")
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            "eq_slots",
            "jaccard_bp",
            "jaccard_est_bp",
            "err_bp",
        )
        .orderBy("src_a", "src_b")
    )
    from .util import materialize_release

    return materialize_release(spark, out, sh, per_src)


def _o8_split_col(id_col):
    """o8's deterministic train/holdout rule (first md5 nibble < 'd'),
    shared so the leakage audit classifies with EXACTLY the split the
    pipeline ships (`relational.o8_hash_split`)."""
    return F.when(
        F.substring(F.md5(id_col.cast("string")), 1, 1) < "d", "train"
    ).otherwise("holdout")


def d17_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate LEAKAGE audit — the eval-hygiene
    check every training pipeline needs before trusting a holdout
    number: a holdout document with a near-duplicate in train is a
    memorization channel, not a generalization measure (the
    train-test-overlap concern of the GPT-3 appendix-C analysis,
    applied at the SPLIT boundary rather than against an external
    benchmark like d9/d14). Near-dup pairs (d3's banded MinHash-LSH +
    exact-Jaccard verify) are classified by o8's deterministic split
    rule into within_train / within_holdout / cross_split; per
    category: pair count, distinct holdout docs touched, and the
    leaked share of the holdout in integer basis points.

    Scale shape — d16's production staging with ARITHMETIC pair
    expansion: exact duplicates collapse to one representative per
    token-fingerprint BEFORE the LSH join (the replicated-corpus
    regime that makes pair materialization quadratic — measured 72×
    wall at the 100× all-clones stress on the naive pair path — does
    its work in one fingerprint hash-agg instead, 100× row now ~2×),
    carrying per-group (train, holdout) member counts. Member-level
    pair counts are then EXACT integer arithmetic, never materialized:
    a rep pair (A,B) contributes t_A·t_B / h_A·h_B / t_A·h_B+h_A·t_B
    member pairs per category (valid because exact copies share all
    shingles, so every cross-member pair has the rep pair's Jaccard),
    and a group with n members and shingles contributes C(t,2) /
    C(h,2) / t·h internal Jaccard-1.0 pairs. Leaked-holdout-doc
    counting is per-group flag logic over the (bounded) rep-pair
    neighbor aggregate. Every shuffle carries fingerprints, counts, or
    rep pairs — never member pairs, never text.

    Oracle: the UNCOLLAPSED exact-Jaccard pair set (valid because the
    LSH verify step makes d3's output equal the exact pair set at this
    threshold — d3's argument, checked at sf0.01 and sf0.1) + the same
    split arithmetic — so the collapse+expansion is proven pure plan
    optimization, exactly d16's staging contract. All-integer outputs.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # project tokens ONCE (the 2.6x re-evaluation trap documented on
    # shingles_from_tokens) — __fp and has_sh both read __toks
    tagged = docs.withColumn("__toks", tokens_col(F.col("text"))).select(
        "doc_id",
        "text",
        _o8_split_col(F.col("doc_id")).alias("split"),
        content_fp_from_toks(F.col("__toks")).alias("__fp"),
        (F.size("__toks") >= SHINGLE_K).alias("has_sh"),
    )
    groups = (
        tagged.groupBy("__fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
            F.sum((F.col("split") == "train").cast("long")).alias("t"),
            F.sum((F.col("split") == "holdout").cast("long")).alias("h"),
            F.max("has_sh").alias("has_sh"),
        )
        .cache()
    )
    lsh_caches: list = []
    rep_pairs = minhash_lsh_pairs_over(
        groups.select("doc_id", "text"), caches=lsh_caches
    ).select("doc_a", "doc_b")
    cnt_a = groups.select(
        F.col("doc_id").alias("doc_a"),
        F.col("t").alias("t_a"),
        F.col("h").alias("h_a"),
    )
    cnt_b = groups.select(
        F.col("doc_id").alias("doc_b"),
        F.col("t").alias("t_b"),
        F.col("h").alias("h_b"),
    )
    pe = rep_pairs.join(cnt_a, "doc_a").join(cnt_b, "doc_b").cache()
    # cross-group member-pair counts + per-rep neighbor split presence
    agg_pairs = pe.agg(
        F.coalesce(F.sum(F.expr("t_a * t_b")), F.lit(0)).alias("wt_x"),
        F.coalesce(F.sum(F.expr("h_a * h_b")), F.lit(0)).alias("wh_x"),
        F.coalesce(F.sum(F.expr("t_a * h_b + h_a * t_b")), F.lit(0)).alias(
            "cx_x"
        ),
    )
    nbr = (
        pe.select(
            F.col("doc_a").alias("rep"),
            F.col("t_b").alias("nt"),
            F.col("h_b").alias("nh"),
        )
        .unionByName(
            pe.select(
                F.col("doc_b").alias("rep"),
                F.col("t_a").alias("nt"),
                F.col("h_a").alias("nh"),
            )
        )
        .groupBy("rep")
        .agg(
            F.max((F.col("nt") > 0).cast("int")).alias("nbr_t"),
            F.max((F.col("nh") > 0).cast("int")).alias("nbr_h"),
        )
    )
    gflag = groups.join(
        nbr, groups["doc_id"] == nbr["rep"], "left"
    ).select(
        "t",
        "h",
        "has_sh",
        F.coalesce("nbr_t", F.lit(0)).alias("nbr_t"),
        F.coalesce("nbr_h", F.lit(0)).alias("nbr_h"),
    )
    internal = F.col("has_sh").cast("long")
    agg_groups = gflag.agg(
        F.sum(F.expr("t * (t - 1) DIV 2") * internal).alias("wt_in"),
        F.sum(F.expr("h * (h - 1) DIV 2") * internal).alias("wh_in"),
        F.sum(F.expr("t * h") * internal).alias("cx_in"),
        # a holdout member is in >=1 cross pair iff its group holds a
        # train member (internal pair) or neighbors one
        F.sum(
            F.when(
                ((F.col("t") >= 1) & F.col("has_sh"))
                | (F.col("nbr_t") == 1),
                F.col("h"),
            ).otherwise(F.lit(0))
        ).alias("hd_cx"),
        F.sum(
            F.when(
                ((F.col("h") >= 2) & F.col("has_sh"))
                | (F.col("nbr_h") == 1),
                F.col("h"),
            ).otherwise(F.lit(0))
        ).alias("hd_wh"),
        F.sum("h").alias("n_holdout"),
    )
    cats = agg_groups.crossJoin(F.broadcast(agg_pairs)).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("cross_split").alias("category"),
                    (F.col("cx_in") + F.col("cx_x")).alias("n_pairs"),
                    F.col("hd_cx").alias("n_holdout_docs"),
                ),
                F.struct(
                    F.lit("within_holdout").alias("category"),
                    (F.col("wh_in") + F.col("wh_x")).alias("n_pairs"),
                    F.col("hd_wh").alias("n_holdout_docs"),
                ),
                F.struct(
                    F.lit("within_train").alias("category"),
                    (F.col("wt_in") + F.col("wt_x")).alias("n_pairs"),
                    F.lit(0).cast("long").alias("n_holdout_docs"),
                ),
            )
        ).alias("c"),
        "n_holdout",
    )
    out = (
        cats.select("c.*", "n_holdout")
        .filter(F.col("n_pairs") > 0)
        .select(
            "category",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_holdout_docs").cast("long").alias("n_holdout_docs"),
            F.when(
                F.col("n_holdout") > 0,
                F.expr("(10000 * n_holdout_docs) DIV n_holdout"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("leak_bp"),
        )
        .orderBy("category")
    )
    from .util import materialize_release

    return materialize_release(spark, out, groups, pe, *lsh_caches)


def minhash_lsh_cross_pairs_over(
    probe: DataFrame,
    base: DataFrame | None = None,
    threshold: float = 0.18,
    max_bucket_size: int = LSH_MAX_BUCKET,
    caches: list | None = None,
    base_sigs: DataFrame | None = None,
    base_buckets: DataFrame | None = None,
) -> DataFrame:
    """Banded MinHash-LSH candidates BETWEEN two frames — probe×base
    pairs only, never probe×probe or base×base — verified with exact
    Jaccard (the shared :func:`verify_exact_jaccard`; doc-id spaces
    are disjoint, so the union signature frame serves both verify
    sides). The incremental twin of :func:`minhash_lsh_pairs_over`:
    a delta batch probes a (conceptually pre-stored) base signature
    index instead of re-pairing the whole corpus.

    Same scale contract as d3: signatures are row-local projections,
    the single pair-generating shuffle is the (band, bucket) hash-agg,
    per-bucket cross products are bounded by the degenerate-bucket
    cap, and only candidate pairs reach the exact verify join.
    ``caches`` registers the internal signature cache for release by
    the materializing caller (see minhash_lsh_pairs_over).

    ``base_sigs`` (instead of ``base``): a PRECOMPUTED
    ``minhash_signatures(base)`` frame — the stored signature index of
    the 100 TB story. A caller probing the same base repeatedly (s9's
    per-micro-batch admission) computes it once and caches it; passing
    raw ``base`` would re-shingle and re-hash the base text on every
    probe.

    ``base_buckets``: a PRECOMPUTED ``lsh_band_buckets(base_sigs,
    "bids")`` frame. The two sides bucket separately and inner-join on
    (band, bucket): a repeat prober passes the cached base bucket
    index once and each batch shuffles only its OWN bands — at 100 TB,
    exactly "each ingest co-locates against the stored band-bucketed
    signature table". One-shot callers (d18, e14) omit it and the
    index is derived internally, uncached: it is read once, by the
    bucket join. The inner join keeps exactly the buckets where both
    sides are non-empty, the cap compares the combined occupancy, and
    the verify resolves each pair side from its own frame (disjoint
    id spaces — see ``verify_exact_jaccard``).
    """
    if (base is None) == (base_sigs is None):
        raise ValueError("pass exactly one of base / base_sigs")
    sig_p = minhash_signatures(probe).cache()
    if caches is not None:
        caches.append(sig_p)
    if base_sigs is not None:
        sig_b = base_sigs  # caller owns its cache lifecycle
    else:
        sig_b = minhash_signatures(base).cache()
        if caches is not None:
            caches.append(sig_b)
    if base_buckets is None:
        base_buckets = lsh_band_buckets(sig_b, "bids")
    buckets = (
        lsh_band_buckets(sig_p, "pids")
        .join(base_buckets, ["band", "bucket"])
        .filter((F.size("pids") + F.size("bids")) <= max_bucket_size)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("pids"),
            lambda x: F.transform(
                F.col("bids"),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return verify_exact_jaccard(cand, sig_p, threshold, sigs_b=sig_b)


def d18_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission — the missing layer between d10
    (exact delta-vs-base dedup) and d3 (whole-corpus near-dup pairs):
    each delta batch is screened against the BASE corpus for near
    duplicates before admission, the check a continuously-ingesting
    pipeline needs so paraphrased/boilerplate-shifted re-submissions
    don't slip past the exact-fingerprint gate. Delta = d10's
    convention (doc_id % {mod} == 0); output is the per-language
    admission report: delta docs, flagged-as-near-dup-of-base docs,
    novel remainder, flag rate in basis points, and an id checksum
    pinning the flagged SET.

    Scale shape: both sides collapse through :func:`fingerprint_reps`
    (the d16/s9/e14 collapse) before any signature work — the base per
    fingerprint, the delta per (lang, fingerprint) to keep the rollup a
    pure group property — so clone-heavy corpora cost hash-aggs, not
    quadratic buckets. Cross-LSH then pairs delta reps
    against base reps ONLY (no delta×delta, no base×base — the base's
    internal duplication is irrelevant to admission, and at 100 TB the
    base side is a stored signature/fingerprint table bucketed on
    band-bucket, so each ingest co-locates instead of rescanning
    text). Member-level flags expand arithmetically: exact copies of a
    flagged rep are near-dups of the same base doc, so a group's flag
    is a group property (the collapse's ``n`` and ``id_sum``).

    Oracle: the UNCOLLAPSED exact cross-Jaccard pair set (valid by
    d3's recall-1 argument, which the exact verify makes deterministic)
    + the same per-language arithmetic.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    fp = content_fp_from_toks(tokens_col(F.col("text"))).alias("__fp")
    is_delta = F.col("doc_id") % D10_DELTA_MOD == 0
    dg = fingerprint_reps(
        docs.filter(is_delta).select("doc_id", "lang", "text", fp),
        ["lang", "__fp"],
        "text",
    ).cache()
    bg = fingerprint_reps(
        docs.filter(~is_delta).select("doc_id", "text", fp), ["__fp"], "text"
    )
    lsh_caches: list = []
    flagged_reps = (
        minhash_lsh_cross_pairs_over(
            dg.select("doc_id", "text"),
            bg.select("doc_id", "text"),
            caches=lsh_caches,
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("__flag", F.lit(1))
    )
    out = (
        dg.join(flagged_reps, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_delta"),
            F.coalesce(
                F.sum(F.when(F.col("__flag") == 1, F.col("n"))), F.lit(0)
            )
            .cast("long")
            .alias("n_flagged"),
            F.coalesce(
                F.sum(F.when(F.col("__flag") == 1, F.col("id_sum"))),
                F.lit(0),
            )
            .cast("long")
            .alias("flagged_id_checksum"),
        )
        .select(
            "lang",
            "n_delta",
            "n_flagged",
            (F.col("n_delta") - F.col("n_flagged")).alias("n_novel"),
            F.expr(
                "CASE WHEN n_delta > 0 THEN (10000 * n_flagged) DIV n_delta"
                " ELSE 0 END"
            ).alias("flagged_bp"),
            "flagged_id_checksum",
        )
        .orderBy("lang")
    )
    from .util import materialize_release

    return materialize_release(spark, out, dg, *lsh_caches)


d18_incremental_neardup.__doc__ = d18_incremental_neardup.__doc__.format(
    mod=D10_DELTA_MOD
)


def d19_duplicate_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware soft dedup — count-once reweighting instead of
    dropping: every document is downweighted by its exact-duplicate
    cluster size (w = 1/|c|, so each distinct CONTENT contributes unit
    mass no matter how many copies exist, across sources). This is the
    softer alternative to d6's hard apply when duplication frequency
    itself carries signal (Web-crawl practice: dedup the loss weight,
    not the data). Output: per-source raw vs effective mass — docs,
    tokens, and the downweight factor the sampler multiplies in.

    Cross-engine determinism: weights are integer micro-units
    (``1000000 DIV |c|`` == ``1000000 // |c|``) — no float division,
    so sums agree bit-wise; all operands non-negative, so truncating
    and flooring DIV coincide.

    Scale shape — the d17 discipline (expand arithmetically from
    per-fingerprint-group counts, never revisit per-doc rows): ONE
    corpus aggregation to the (fp, source) rollup, where the partial
    agg combines clone copies map-side BEFORE the exchange (the
    shuffle carries distinct (fp, source) pairs, not docs — a naive
    per-doc window over fp would shuffle the whole corpus with no
    combine and could not skew-split a hot fingerprint, e.g. empty
    docs). Cluster size is then a window over the collapsed frame
    (a hot fp spans ≤ \\|sources\\| rollup rows), and every output is
    a per-cluster constant times a rollup count: Σ_docs w = Σ n·w,
    Σ_docs n_toks·w = Σ tok·w. Output is \\|sources\\| rows.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    base = docs.withColumn("__t", tokens_col(F.col("text"))).select(
        "source",
        F.size("__t").cast("long").alias("n_toks"),
        content_fp_from_toks(F.col("__t")).alias("__fp"),
    )
    g = base.groupBy("__fp", "source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("tok")
    )
    per = g.withColumn(
        "csz", F.sum("n").over(Window.partitionBy("__fp"))
    ).withColumn("w_micro", F.expr("1000000 DIV csz"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(
                F.when(F.col("csz") > 1, F.col("n")).otherwise(F.lit(0))
            ).alias("n_dup_docs"),
            F.sum(F.col("n") * F.col("w_micro")).alias("eff_docs_micro"),
            F.sum("tok").alias("raw_tokens"),
            F.sum(F.col("tok") * F.col("w_micro")).alias(
                "eff_tokens_micro"
            ),
        )
        .withColumn(
            "downweight_bp",
            F.expr(
                "(10000 * eff_docs_micro)"
                " DIV greatest(1000000 * n_docs, 1)"
            ),
        )
        .orderBy("source")
    )


QUERIES = {
    "d18_incremental_neardup": d18_incremental_neardup,
    "d17_split_leakage": d17_split_leakage,
    "d16_cluster_best_select": d16_cluster_best_select,
    "t16_source_overlap": t16_source_overlap,
    "d1_exact_dedup": d1_exact_dedup,
    "d2_ngram_jaccard_pairs_diag": d2_ngram_jaccard_pairs,
    "d2b_cap_report": d2b_cap_report,
    "d3_minhash_lsh_pairs": d3_minhash_lsh_pairs,
    "d3b_minhash_accuracy": d3b_minhash_accuracy,
    "d4_simhash": d4_simhash,
    "d5_simhash_pairs": d5_simhash_pairs,
    "d6_dedup_apply": d6_dedup_apply,
    "d7_dedup_apply_lsh": d7_dedup_apply_lsh,
    "d8_dedup_components": d8_dedup_components,
    "d9_decontaminate": d9_decontaminate,
    "d10_incremental_dedup": d10_incremental_dedup,
    "d12_segment_boilerplate": d12_segment_boilerplate,
    "d14_contamination_grade": d14_contamination_grade,
    "d15_exact_substring_spans": d15_exact_substring_spans,
    "d15b_exact_substring_cut": d15b_exact_substring_cut,
    "d19_duplicate_reweight": d19_duplicate_reweight,
    "d20_minhash_source_sketch": d20_minhash_source_sketch,
}

# DuckDB twin of d4's SimHash: identical md5-derived 60-bit token
# hashes, identical sign-of-bit-sum arithmetic.
_SIMHASH_SQL = f"""
        WITH {_toks_cte()}, th AS (
            SELECT doc_id,
                   list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)
                       AS th
            FROM toks
        )
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}), b ->
                   CASE WHEN COALESCE(list_sum(list_transform(th, h ->
                            CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
                                 THEN 1 ELSE -1 END)), 0) > 0
                        THEN (1::BIGINT << CAST(b AS INT)) ELSE 0::BIGINT END))
                   AS BIGINT) AS simhash
        FROM th
"""

# Shared by d2 (exact algorithm) and d3 (LSH + exact verify): with
# candidate recall 1 — deterministically true on the fixtures, see the
# d3 docstring — both produce exactly this pair set.
_EXACT_PAIRS_SQL = f"""
        WITH {_toks_cte()}, {_shingles_cte()}, {_PAIRS_CTES}
        SELECT doc_a, doc_b, common,
               ROUND(common / CAST(n_a + n_b - common AS DOUBLE), 4) AS jaccard
        FROM pairs
        WHERE {_JACCARD_KEEP}
        ORDER BY doc_a, doc_b
    """

#: The exact drop rule of d6/d7: ``drops`` holds the later doc of every
#: near-dup pair.
_DROPS_SQL = f"""
        WITH {_toks_cte()}, {_shingles_cte()}, {_PAIRS_CTES}, drops AS (
            SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE {_JACCARD_KEEP}
        )"""

#: d8's closure (shared with d16): ``lab`` labels every doc of a near-dup
#: pair with the minimum doc_id of its connected component.
_COMPONENTS_SQL = f"""
        WITH RECURSIVE {_toks_cte()}, {_shingles_cte()}, {_PAIRS_CTES}, fp AS (
            SELECT doc_a, doc_b FROM pairs WHERE {_JACCARD_KEEP}
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM fp
            UNION
            SELECT doc_b AS a, doc_a AS b FROM fp
        ), reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ), lab AS (
            SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a
        )"""

ORACLE = {
    # d18: uncollapsed exact cross-Jaccard (delta×base postings join —
    # valid by d3's recall-1 argument) + identical per-lang arithmetic;
    # member-level flags here equal Spark's group-flag expansion
    # because exact copies share all shingles.
    "d18_incremental_neardup": f"""
        WITH {_toks_cte("doc_id, lang")}, {_shingles_cte("doc_id, lang")}, pd AS (
            SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
            FROM sh WHERE doc_id % {D10_DELTA_MOD} = 0
        ), pb AS (
            SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
            FROM sh WHERE doc_id % {D10_DELTA_MOD} <> 0
        ), pairs AS (
            SELECT d.doc_id AS doc_a, d.n_sh AS n_a,
                   b.doc_id AS doc_b, b.n_sh AS n_b, COUNT(*) AS common
            FROM pd d JOIN pb b USING (shingle)
            GROUP BY 1, 2, 3, 4
        ), fl AS (
            SELECT DISTINCT doc_a FROM pairs
            WHERE {_JACCARD_KEEP}
        ), dd AS (
            SELECT s.doc_id, s.lang,
                   CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END AS flag
            FROM sh s LEFT JOIN fl f ON f.doc_a = s.doc_id
            WHERE s.doc_id % {D10_DELTA_MOD} = 0
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_delta,
               CAST(SUM(flag) AS BIGINT) AS n_flagged,
               CAST(COUNT(*) - SUM(flag) AS BIGINT) AS n_novel,
               CAST(CASE WHEN COUNT(*) > 0
                         THEN (10000 * SUM(flag)) // COUNT(*)
                         ELSE 0 END AS BIGINT) AS flagged_bp,
               CAST(COALESCE(SUM(CASE WHEN flag = 1 THEN doc_id END), 0)
                    AS BIGINT) AS flagged_id_checksum
        FROM dd GROUP BY lang ORDER BY lang
    """,
    "d17_split_leakage": f"""
        WITH {_toks_cte()}, {_shingles_cte()}, {_PAIRS_CTES}, vp AS (
            SELECT doc_a, doc_b,
                   CASE WHEN substring(md5(CAST(doc_a AS VARCHAR)), 1, 1) < 'd'
                        THEN 'train' ELSE 'holdout' END AS sa,
                   CASE WHEN substring(md5(CAST(doc_b AS VARCHAR)), 1, 1) < 'd'
                        THEN 'train' ELSE 'holdout' END AS sb
            FROM pairs
            WHERE {_JACCARD_KEEP}
        ), cat AS (
            SELECT doc_a, doc_b, sa, sb,
                   CASE WHEN sa = sb THEN 'within_' || sa
                        ELSE 'cross_split' END AS category
            FROM vp
        ), pc AS (
            SELECT category, COUNT(*) AS n_pairs FROM cat GROUP BY 1
        ), sides AS (
            SELECT category, doc_a AS d, sa AS s FROM cat
            UNION ALL
            SELECT category, doc_b AS d, sb AS s FROM cat
        ), hl AS (
            SELECT category, COUNT(DISTINCT d) AS n_holdout_docs
            FROM sides WHERE s = 'holdout' GROUP BY 1
        ), tot AS (
            SELECT COUNT(*) AS n_holdout FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'd'
        )
        SELECT pc.category,
               CAST(pc.n_pairs AS BIGINT) AS n_pairs,
               CAST(COALESCE(hl.n_holdout_docs, 0) AS BIGINT) AS n_holdout_docs,
               CAST(CASE WHEN tot.n_holdout > 0
                         THEN (10000 * COALESCE(hl.n_holdout_docs, 0)) // tot.n_holdout
                         ELSE 0 END AS BIGINT) AS leak_bp
        FROM pc LEFT JOIN hl USING (category) CROSS JOIN tot
        ORDER BY category
    """,
    # d15b: the UNCOLLAPSED global keep-first cut rule — same window
    # ladder/md5 as d15, canonical occurrence via zero-padded string
    # keys (DuckDB MIN rejects struct ordering), coverage union via
    # the same fixed-width lead() arithmetic as the Spark side.
    "d15b_exact_substring_cut": f"""
        WITH {_toks_cte("doc_id, lang")}, occ AS (
            SELECT doc_id, lang, u.i - 1 AS pos,
                   md5({_ngram_concat(D15_K, 'u.i')}) AS h
            FROM toks,
                 UNNEST(range(1, GREATEST(len(t) - {D15_K - 1}, 0) + 1)) u(i)
        ), hs AS (
            SELECT h, COUNT(*) AS n_occ,
                   MIN(lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':'
                       || lpad(CAST(pos AS VARCHAR), 12, '0')) AS canon
            FROM occ GROUP BY h
        ), cut AS (
            SELECT o.doc_id, o.pos
            FROM occ o JOIN hs USING (h)
            WHERE hs.n_occ >= 2
              AND lpad(CAST(o.doc_id AS VARCHAR), 12, '0') || ':'
                  || lpad(CAST(o.pos AS VARCHAR), 12, '0') <> hs.canon
        ), cov AS (
            SELECT doc_id,
                   SUM(CASE WHEN nxt IS NULL THEN {D15_K}
                            ELSE LEAST(nxt - pos, {D15_K}) END) AS covered
            FROM (
                SELECT doc_id, pos,
                       LEAD(pos) OVER (PARTITION BY doc_id
                                       ORDER BY pos) AS nxt
                FROM cut
            ) GROUP BY doc_id
        ), pd AS (
            SELECT tk.doc_id, tk.lang, len(tk.t) AS n,
                   COALESCE(c.covered, 0) AS covered
            FROM toks tk LEFT JOIN cov c USING (doc_id)
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(SUM(covered) AS BIGINT) AS cut_tokens,
               CAST(SUM(n) - SUM(covered) AS BIGINT) AS retained_tokens,
               CAST(SUM(CASE WHEN covered > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_cut,
               CAST(CASE WHEN SUM(n) = 0 THEN 10000
                         ELSE (10000 * (SUM(n) - SUM(covered))) // SUM(n)
                    END AS BIGINT) AS retained_bp
        FROM pd GROUP BY lang ORDER BY lang
    """,
    "d15_exact_substring_spans": f"""
        WITH {_toks_cte("doc_id, lang")}, w AS (
            SELECT doc_id, lang,
                   md5(unnest(list_distinct({_ngram_sql(D15_K)}))) AS h
            FROM toks
        ), c AS (
            SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h
        ), pd AS (
            SELECT doc_id, lang, COUNT(*) AS nw,
                   SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS ndup
            FROM w JOIN c USING (h) GROUP BY 1, 2
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs_spanned,
               CAST(SUM(CASE WHEN ndup > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_with_dup,
               CAST(SUM(nw) AS BIGINT) AS total_windows,
               CAST(SUM(ndup) AS BIGINT) AS dup_windows,
               CAST(CASE WHEN SUM(nw) = 0 THEN 0
                         ELSE (10000 * SUM(ndup)) // SUM(nw) END AS BIGINT)
                   AS dup_bp
        FROM pd GROUP BY lang ORDER BY lang
    """,

    "d1_exact_dedup": f"""
        SELECT md5(array_to_string(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), ' '))
                   AS fingerprint,
               MIN(doc_id) AS keep_doc_id, COUNT(*) AS copies
        FROM documents GROUP BY fingerprint ORDER BY keep_doc_id
    """,
    "d19_duplicate_reweight": f"""
        WITH t AS (
            SELECT doc_id, source,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
            FROM documents
        ), base AS (
            SELECT doc_id, source, len(t) AS n_toks,
                   md5(array_to_string(t, ' ')) AS fp
            FROM t
        ), per AS (
            SELECT source, n_toks, fp,
                   1000000 // (COUNT(*) OVER (PARTITION BY fp)) AS w_micro,
                   COUNT(*) OVER (PARTITION BY fp) AS csz
            FROM base
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fps,
               CAST(SUM(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs,
               CAST(SUM(w_micro) AS BIGINT) AS eff_docs_micro,
               CAST(SUM(n_toks) AS BIGINT) AS raw_tokens,
               CAST(SUM(n_toks * w_micro) AS BIGINT) AS eff_tokens_micro,
               CAST((10000 * SUM(w_micro))
                    // GREATEST(1000000 * COUNT(*), 1) AS BIGINT)
                   AS downweight_bp
        FROM per GROUP BY source ORDER BY source
    """,
    "d2_ngram_jaccard_pairs_diag": _EXACT_PAIRS_SQL,
    # d3b: exact-side stats replayed over the same pair set; the
    # estimator verdicts are asserted TRUE (see the d3b docstring).
    "d3b_minhash_accuracy": f"""
        WITH p AS ({_EXACT_PAIRS_SQL.replace("FROM documents", f"FROM documents WHERE doc_id < {D3B_AUDIT_DOCS}")})
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(jaccard), 4) AS avg_jaccard,
               MIN(jaccard) AS min_jaccard,
               MAX(jaccard) AS max_jaccard,
               TRUE AS bias_ok,
               TRUE AS rmse_ok
        FROM p
    """,
    "d12_segment_boilerplate": f"""
        WITH {_toks_cte()}, chunks AS (
            -- lateral unnest of the scalar range(): per-document chunk
            -- indices derived from len(t), so the oracle is unbounded
            -- like the Spark side (a fixed CROSS JOIN range(0, 4096)
            -- would cap docs at 16384 tokens).
            -- Zero-token docs yield range(0,0) = [] and drop out, the
            -- same guard as the Spark side's ceil(size/SEG_TOKENS)=0.
            SELECT doc_id, u.i AS pos,
                   array_to_string(
                       t[(u.i * {SEG_TOKENS} + 1):(u.i * {SEG_TOKENS} + {SEG_TOKENS})],
                       ' ') AS segment
            FROM toks, UNNEST(range(0, CAST(CEIL(len(t) / {SEG_TOKENS}.0) AS BIGINT))) u(i)
        ), hot AS (
            SELECT segment FROM (
                SELECT segment, COUNT(DISTINCT doc_id) AS df
                FROM chunks GROUP BY segment
            ) WHERE df >= {SEG_BOILERPLATE_DF}
        ), kept AS (
            SELECT c.doc_id FROM chunks c
            LEFT JOIN hot h USING (segment)
            WHERE h.segment IS NULL
        ), per_doc AS (
            SELECT doc_id, COUNT(*) AS n_segments FROM chunks GROUP BY doc_id
        ), kc AS (
            SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY doc_id
        )
        SELECT p.doc_id,
               CAST(p.n_segments AS BIGINT) AS n_segments,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(p.n_segments - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
        FROM per_doc p LEFT JOIN kc k USING (doc_id)
    """,
    "d10_incremental_dedup": f"""
        WITH f AS (
            SELECT doc_id, lang,
                   md5(array_to_string(
                       regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                       ' ')) AS fingerprint
            FROM documents
        ), base AS (
            SELECT DISTINCT fingerprint FROM f WHERE doc_id % 5 <> 0
        ), delta AS (
            SELECT fingerprint, lang, MIN(doc_id) AS doc_id,
                   COUNT(*) AS n_copies
            FROM f WHERE doc_id % 5 = 0
            GROUP BY fingerprint, lang
        ), novel AS (
            SELECT d.* FROM delta d
            LEFT JOIN base b USING (fingerprint)
            WHERE b.fingerprint IS NULL
        )
        SELECT lang, COUNT(*) AS n_novel,
               CAST(SUM(n_copies) AS BIGINT) AS n_delta_rows_represented,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum
        FROM novel GROUP BY lang ORDER BY lang
    """,
    "d2b_cap_report": f"""
        WITH {_toks_cte()}, {_shingles_cte()}, postings AS (
            SELECT unnest(shingles) AS shingle FROM sh
        ), dfreq AS (
            SELECT shingle, COUNT(*) AS df FROM postings GROUP BY 1
        )
        SELECT COUNT(*) AS n_shingles,
               CAST(COALESCE(SUM(CASE WHEN df > 10000 THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_capped_shingles,
               CAST(COALESCE(SUM(CASE WHEN df > 10000 THEN df ELSE 0 END), 0)
                    AS BIGINT) AS n_dropped_postings,
               MAX(df) AS max_df
        FROM dfreq
    """,
    "d3_minhash_lsh_pairs": _EXACT_PAIRS_SQL,
    "d4_simhash": f"""
        WITH sh AS ({_SIMHASH_SQL})
        SELECT doc_id, simhash,
               {", ".join(
                   f"CAST((simhash >> {i * _BAND_BITS}) & {_BAND_MASK} AS INT)"
                   f" AS band_{i}"
                   for i in range(SIMHASH_BANDS)
               )}
        FROM sh
    """,
    # All-pairs Hamming twin of the banded path (exact by pigeonhole;
    # see the d5 docstring).
    "d5_simhash_pairs": f"""
        WITH sh AS ({_SIMHASH_SQL})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "d6_dedup_apply": f"""
{_DROPS_SQL}
        SELECT COUNT(*) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
               MIN(doc_id) AS min_kept_id,
               MAX(doc_id) AS max_kept_id
        FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    # d7's greedy verify-against-bucket-min keeps exactly the exact
    # apply's survivor set whenever near-dup clusters are quasi-cliques
    # whose bucket min is the cluster min — deterministically true on
    # the fixtures (fixed hashes; checked equal to d6 at sf0.01 and
    # sf0.1), so the exact drop-rule SQL is a valid oracle.
    "d7_dedup_apply_lsh": f"""
{_DROPS_SQL}
        SELECT COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    "d9_decontaminate": f"""
        WITH {_toks_cte("doc_id, lang")}, {_shingles_cte("doc_id, lang")}, bench AS (
            SELECT DISTINCT unnest(shingles) AS shingle FROM sh
            WHERE doc_id % {DECON_MOD} = 0
        ), corpus AS (
            SELECT * FROM sh WHERE doc_id % {DECON_MOD} <> 0
        ), contaminated AS (
            SELECT DISTINCT doc_id, lang
            FROM (SELECT doc_id, lang, unnest(shingles) AS shingle FROM corpus) p
            WHERE shingle IN (SELECT shingle FROM bench)
        ), totals AS (
            SELECT lang, COUNT(*) AS n_docs FROM corpus GROUP BY lang
        ), flagged AS (
            SELECT lang, COUNT(*) AS n_contaminated
            FROM contaminated GROUP BY lang
        )
        SELECT t.lang, t.n_docs,
               COALESCE(f.n_contaminated, 0) AS n_contaminated,
               ROUND(COALESCE(f.n_contaminated, 0)
                     / CAST(t.n_docs AS DOUBLE), 4) AS contamination_rate
        FROM totals t LEFT JOIN flagged f ON t.lang = f.lang
    """,
    "d14_contamination_grade": f"""
        WITH {_toks_cte("doc_id, lang")}, g AS (
            SELECT doc_id, lang,
                   unnest({_ngram_sql(CONTAM_N)}) AS gram
            FROM toks
        ), bench AS (
            SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_MOD} = 0
        ), per_doc AS (
            SELECT g.doc_id, g.lang, COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM g LEFT JOIN bench b USING (gram)
            WHERE g.doc_id % {DECON_MOD} <> 0
            GROUP BY 1, 2
        ), scored AS (
            SELECT *, (10000 * n_hit) // n_grams AS bp FROM per_doc
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN bp >= {CONTAM_FLAG_BP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               CAST(SUM(n_grams) AS BIGINT) AS total_grams,
               CAST(SUM(n_hit) AS BIGINT) AS matched_grams,
               CAST(MAX(bp) AS BIGINT) AS max_doc_bp
        FROM scored GROUP BY lang ORDER BY lang
    """,
    "d8_dedup_components": f"""
{_COMPONENTS_SQL}
        SELECT label AS component, COUNT(*) AS n_members
        FROM lab GROUP BY label ORDER BY component
    """,
    # d16: d8's closure + the quality argmax. LSH candidates verified
    # with exact Jaccard == the exact pair set (see d3's docstring), so
    # the d2-replay closure is the valid oracle for the LSH apply path.
    "d16_cluster_best_select": f"""
{_COMPONENTS_SQL}, q AS (
            SELECT doc_id, {ALPHA_RATIO_BP_SQL_DUCK} AS quality_bp
            FROM documents
        ), m AS (
            SELECT lab.label, lab.node AS doc_id, q.quality_bp,
                   ROW_NUMBER() OVER (PARTITION BY lab.label
                                      ORDER BY q.quality_bp DESC, lab.node ASC)
                       AS rk
            FROM lab JOIN q ON q.doc_id = lab.node
        )
        SELECT label AS component,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
               CAST(MAX(CASE WHEN rk = 1 THEN quality_bp END) AS BIGINT)
                   AS kept_quality_bp,
               CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped
        FROM m GROUP BY label ORDER BY component
    """,
    "t16_source_overlap": f"""
        WITH {_toks_cte("source")}, sh AS (
            SELECT source,
                   unnest(list_distinct({_ngram_sql(SHINGLE_K)})) AS shingle
            FROM toks
        ), ps AS (
            SELECT DISTINCT source, md5(shingle) AS fp FROM sh
        ), cnt AS (
            SELECT source, COUNT(*) AS n_sh FROM ps GROUP BY 1
        ), pr AS (
            SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS common
            FROM ps a JOIN ps b USING (fp)
            WHERE a.source < b.source
            GROUP BY 1, 2
        )
        SELECT src_a, src_b,
               CAST(ca.n_sh AS BIGINT) AS n_a,
               CAST(cb.n_sh AS BIGINT) AS n_b,
               CAST(common AS BIGINT) AS common,
               ROUND(common / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE), 4)
                   AS jaccard
        FROM pr
        JOIN cnt ca ON ca.source = pr.src_a
        JOIN cnt cb ON cb.source = pr.src_b
        ORDER BY src_a, src_b
    """,
    "d20_minhash_source_sketch": f"""
        WITH {_toks_cte("source")}, sh AS (
            SELECT source,
                   unnest(list_distinct({_ngram_sql(SHINGLE_K)})) AS shingle
            FROM toks
        ), sig AS (
            SELECT source,
                   {", ".join(
                       f"MIN(md5('{j}:' || shingle)) AS s{j}"
                       for j in range(D20_K)
                   )}
            FROM sh GROUP BY source
        ), est AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   {" + ".join(
                       f"(CASE WHEN a.s{j} = b.s{j} THEN 1 ELSE 0 END)"
                       for j in range(D20_K)
                   )} AS eq_slots
            FROM sig a JOIN sig b ON a.source < b.source
        ), ps AS (
            SELECT DISTINCT source, md5(shingle) AS fp FROM sh
        ), cnt AS (
            SELECT source, COUNT(*) AS n_sh FROM ps GROUP BY 1
        ), pr AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   COUNT(*) AS n_common
            FROM ps a JOIN ps b USING (fp)
            WHERE a.source < b.source
            GROUP BY 1, 2
        )
        SELECT e.src_a, e.src_b,
               CAST(ca.n_sh AS BIGINT) AS n_a,
               CAST(cb.n_sh AS BIGINT) AS n_b,
               CAST(COALESCE(pr.n_common, 0) AS BIGINT) AS n_common,
               CAST(e.eq_slots AS BIGINT) AS eq_slots,
               (10000 * COALESCE(pr.n_common, 0))
                   // GREATEST(ca.n_sh + cb.n_sh - COALESCE(pr.n_common, 0), 1)
                   AS jaccard_bp,
               (10000 * e.eq_slots) // {D20_K} AS jaccard_est_bp,
               (10000 * e.eq_slots) // {D20_K}
                   - (10000 * COALESCE(pr.n_common, 0))
                     // GREATEST(ca.n_sh + cb.n_sh - COALESCE(pr.n_common, 0), 1)
                   AS err_bp
        FROM est e
        LEFT JOIN pr ON pr.src_a = e.src_a AND pr.src_b = e.src_b
        JOIN cnt ca ON ca.source = e.src_a
        JOIN cnt cb ON cb.source = e.src_b
        ORDER BY e.src_a, e.src_b
    """,
    # d3/d4: engine-native hash functions — no ANSI-SQL oracle (driver
    # records rows-only checks; d2 is the oracle-checked exact twin).
}
