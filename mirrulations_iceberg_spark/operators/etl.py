"""Driver-surface queries for the conversion ETL (SURVEY Phase 2).

e1 runs the whole pipeline — synthesize the docket tree (seeded),
tolerant scan, flatten, partitioned write, re-read — and returns the
landed row counts. The fixture is deterministic, so the oracle is the
ground truth declared by the fixture itself; a hash match means the
scan found every file, quarantined exactly the corrupt ones, and the
flatten/write/re-read cycle lost nothing.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl.fixtures import expected_counts, write_docket_tree
from .dedup import content_fp_from_toks as _content_fp
from ..etl.pipeline import run_pipeline


def e1_docket_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree → tables → counts. ``sf_dir`` is unused (the ETL input is
    the synthesized JSON:API tree, not the relational fixtures)."""
    base = tempfile.mkdtemp(prefix="miis_etl_")
    try:
        write_docket_tree(f"{base}/tree")
        result = run_pipeline(spark, f"{base}/tree", f"{base}/out")
        rows = [(t, n) for t, n in sorted(result.counts.items())]
        rows.append(("quarantine", result.quarantined))
        return spark.createDataFrame(rows, "tbl string, n_rows long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _oracle() -> str:
    exp = expected_counts()
    rows = [
        ("comments", exp["comments"]),
        ("docket_info", exp["dockets"]),
        ("documents", exp["documents"]),
        ("quarantine", exp["corrupt"]),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT '{t}' AS tbl, {n} AS n_rows" for t, n in rows
    )


E2_MIN_TOKENS = 25  # quality gate: ≈ the corpus' p15 token count
E2_SAMPLE_EVERY = 3  # systematic per-stratum sample stride


def e2_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's reason-to-exist, composed end-to-end: quality gate →
    exact dedup → near-dup drop → stratified systematic sample →
    per-language corpus summary. Every stage is the scale shape its
    standalone operator uses (t2 projection gate, d1 min-per-
    fingerprint, d2/d6 group-and-pair near-dup with hot-shingle guard,
    o7 per-stratum window), and the whole composition is one
    oracle-checked query — stage interop is what composite pipelines
    usually get wrong, so it is what this checks.
    """
    from pyspark.sql import Window

    from ..tables import load_table
    from .dedup import jaccard_pairs, parallelize_scan
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    docs = docs.withColumn("__toks", tokens_col(F.col("text")))
    # The gate gets pushed into the scan (tokenize evaluated there too):
    # deliberate — pruning before the fingerprint exchange beats the
    # extra tokenize of survivors, and on a production multi-row-group
    # layout the scan-side evaluation is fully parallel.
    quality = docs.filter(F.size("__toks") >= E2_MIN_TOKENS)
    fp = quality.withColumn("__fp", _content_fp(F.col("__toks")))
    w_fp = Window.partitionBy("__fp")
    # cache(): exact_kept feeds BOTH the survivor side and the near-dup
    # pair pipeline — without it the whole scan→gate→fingerprint-window
    # lineage executes twice (the self-join recompute trap).
    exact_kept = (
        fp.withColumn("__min_id", F.min("doc_id").over(w_fp))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "lang", "__toks")
        .cache()
    )
    drops = (
        jaccard_pairs(exact_kept)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    near_kept = exact_kept.join(drops, "doc_id", "left_anti")
    w_lang = Window.partitionBy("lang").orderBy("doc_id")
    selected = near_kept.withColumn("rn", F.row_number().over(w_lang)).filter(
        (F.col("rn") - 1) % E2_SAMPLE_EVERY == 0
    )
    out = selected.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks").cast("long")).alias("total_tokens"),
        F.round(F.avg(F.size("__toks")), 4).alias("avg_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    # Per-lang rows out; release the survivor cache with them.
    from .util import materialize_release

    return materialize_release(spark, out, exact_kept)


def _e2_oracle() -> str:
    return f"""
        WITH {_toks_cte("doc_id, lang")}, quality AS (
            SELECT * FROM toks WHERE len(t) >= {E2_MIN_TOKENS}
        ), fp AS (
            SELECT *, md5(array_to_string(t, ' ')) AS f FROM quality
        ), exact_kept AS (
            SELECT * FROM fp
            QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY f)
        ), {_shingles_cte(src="exact_kept")}, {_PAIRS_CTES}, drops AS (
            SELECT DISTINCT doc_b AS doc_id FROM pairs WHERE {_JACCARD_KEEP}
        ), near_kept AS (
            SELECT * FROM exact_kept
            WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        ), selected AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                             ORDER BY doc_id) AS rn
                FROM near_kept
            ) WHERE (rn - 1) % {E2_SAMPLE_EVERY} = 0
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
               ROUND(AVG(len(t)), 4) AS avg_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM selected GROUP BY lang
    """


N_SHARDS = 16


E7_SEED = 1337


def e7_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch reshuffle — the training-order randomization
    every epoch of a large-scale run needs: each document gets a
    pseudorandom seed-keyed sort key (md5 of ``seed:doc_id``); epoch
    order is ascending key. Changing the seed permutes the corpus; the
    same seed replays the identical order on any cluster size — no
    ``rand()`` (non-reproducible across retries), no zipWithIndex
    (partition-layout-dependent).

    Scale shape: materializing the order is
    ``repartitionByRange(N, "skey").sortWithinPartitions("skey")`` —
    range exchange + local sorts, never Exchange SinglePartition (the
    NTILE trap, see w7); e3 owns shard-file writes. The query itself
    returns the summary that PINS the permutation at any corpus size:
    per key-prefix bucket (256) the row count, id checksum and key
    range — if any document's key, bucket, or presence differed, a
    checksum or boundary diverges. Output bounded at 256 rows.
    """
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(f"{E7_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    )
    return (
        keyed.groupBy(F.substring("skey", 1, 2).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("id_checksum"),
            F.min("skey").alias("first_key"),
            F.max("skey").alias("last_key"),
        )
        .orderBy("bucket")
    )


def e3_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment — the export step after
    curation: every document lands in one of ``N_SHARDS`` shards keyed
    by a content-independent stable hash (first hex digit of
    md5(doc_id), identical in any engine), and the query reports the
    shard manifest a writer would emit. Pure projection + one hash
    agg; at 100 TB the same expression is the ``partitionBy`` column
    of the actual shard write, so balance here is balance on disk.
    """
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - 1
    ).cast("int")
    return (
        docs.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


PACK_BUDGET = 200  # tokens per packed training sequence
#: Independent packing groups — THE parallelism knob: each shard packs
#: sequentially in one task, shards pack in parallel, so set this ≈ the
#: cluster's task slots (or the trainer's shard count). Derived from the
#: first md5 byte (256 distinct values) mod this, so any divisor of 256
#: works without touching the hash.
PACK_SHARDS = 32


def greedy_pack(token_counts, budget: int) -> list[tuple[int, int]]:
    """Greedy fixed-budget sequence packing over an ordered stream:
    a document joins the current bin unless that would overflow
    ``budget``; a document alone may overflow (never split, never
    drop). Returns ``(bin_tokens, n_docs)`` per closed bin, in order.
    Property-tested in tests/test_packing.py (hypothesis)."""
    bins: list[tuple[int, int]] = []
    fill, ndocs = 0, 0
    for t in token_counts:
        if ndocs > 0 and fill + t > budget:
            bins.append((fill, ndocs))
            fill, ndocs = 0, 0
        fill += int(t)
        ndocs += 1
    if ndocs:
        bins.append((fill, ndocs))
    return bins


def pack_shard_col():
    """The e4/e12 shard key: first md5 byte of doc_id mod PACK_SHARDS.
    ONE home for the ladder — its DuckDB twin is :func:`_pack_shard_sql`;
    the two must stay bit-identical or the packing oracles break."""
    md5 = F.md5(F.col("doc_id").cast("string"))
    nib = "0123456789abcdef"
    first_byte = (F.instr(F.lit(nib), F.substring(md5, 1, 1)) - 1) * 16 + (
        F.instr(F.lit(nib), F.substring(md5, 2, 1)) - 1
    )
    return (first_byte % PACK_SHARDS).cast("int")


def _pack_shard_sql() -> str:
    """DuckDB twin of :func:`pack_shard_col`."""
    return f"""CAST((
                       (strpos('0123456789abcdef',
                               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                       * 16 +
                       (strpos('0123456789abcdef',
                               substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                   ) % {PACK_SHARDS} AS INT)"""


def e4_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing — the step between curation and the
    trainer: greedily fill fixed token-budget sequences ("bins") with
    whole documents, never splitting one. Packing is inherently
    sequential *within* a stream, so the scale shape is
    shard-then-pack: a deterministic hash shards the corpus, each
    shard packs independently in one Arrow-batched ``applyInPandas``
    pass (linear, no quadratic anything), and shards pack in parallel.
    At 100 TB the shard count is the parallelism knob — thousands of
    shards, each a single partition-local linear scan; the only
    shuffle is the hash partitioning the trainer wants anyway.

    A doc larger than the budget gets its own (overflowing) bin —
    standard "don't split, don't drop" packing semantics. The oracle
    replays the exact greedy recurrence as a DuckDB recursive CTE, so
    the hash check pins every bin boundary, not just totals.
    """
    import pandas as pd

    from ..tables import load_table
    from .text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        pack_shard_col().alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bins = greedy_pack(pdf["n_toks"], PACK_BUDGET)
        # Emit the shard summary here: the group already holds the whole
        # shard, so aggregating Spark-side would round-trip one row per
        # bin through a second shuffle for nothing (bins ≈ docs/5 — a
        # real exchange at corpus scale).
        return pd.DataFrame(
            [
                (
                    int(pdf["shard"].iloc[0]),
                    len(bins),
                    int(pdf["n_toks"].count()),
                    sum(t for t, _ in bins),
                    max(n for _, n in bins),
                )
            ],
            columns=["shard", "n_bins", "n_docs", "total_tokens", "max_docs_bin"],
        )

    packed = with_toks.groupBy("shard").applyInPandas(
        pack,
        "shard int, n_bins long, n_docs long, total_tokens long, max_docs_bin long",
    )
    # Fill ratio in basis points via integer division — double ROUND is
    # a cross-engine trap on exact halves (627/800 = 0.78375 rounds
    # differently under Spark's HALF_UP-on-decimal-repr vs DuckDB's
    # round(x·10⁴) double path); (10⁴·total) div (bins·budget) is exact
    # everywhere.
    return packed.select(
        "shard",
        "n_bins",
        "n_docs",
        "total_tokens",
        F.expr(
            f"CAST((10000 * total_tokens) DIV (n_bins * {PACK_BUDGET}) AS INT)"
        ).alias("fill_bp"),
        "max_docs_bin",
    ).orderBy("shard")


def _e4_oracle() -> str:
    from .text import TOKEN_PATTERN

    return f"""
        WITH RECURSIVE base AS (
            SELECT {_pack_shard_sql()} AS shard,
                   doc_id,
                   CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                        AS BIGINT) AS n_toks
            FROM documents
        ), ord AS (
            SELECT shard, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
            FROM base
        ), pack AS (
            SELECT shard, rn, n_toks, CAST(0 AS BIGINT) AS bin_id, n_toks AS fill
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.rn, o.n_toks,
                   CASE WHEN p.fill + o.n_toks <= {PACK_BUDGET}
                        THEN p.bin_id ELSE p.bin_id + 1 END,
                   CASE WHEN p.fill + o.n_toks <= {PACK_BUDGET}
                        THEN p.fill + o.n_toks ELSE o.n_toks END
            FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
        ), bins AS (
            SELECT shard, bin_id, SUM(n_toks) AS bin_tokens, COUNT(*) AS n_docs
            FROM pack GROUP BY shard, bin_id
        )
        SELECT shard, COUNT(*) AS n_bins,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
               CAST((10000 * SUM(bin_tokens)) // (COUNT(*) * {PACK_BUDGET})
                    AS INT) AS fill_bp,
               CAST(MAX(n_docs) AS BIGINT) AS max_docs_bin
        FROM bins GROUP BY shard ORDER BY shard
    """


#: e12 sweep points: candidate context lengths (tokens per packed
#: sequence). 64 sits below the largest fixture docs so the overflow
#: path is exercised; 512 sits near one-bin-per-shard.
E12_BUDGETS = (64, 128, 256, 512)


def e12_packing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency curve — e4 packs at ONE context length; the
    decision a training team actually makes is WHICH length: shorter
    contexts waste less padding but truncate long-range structure,
    longer ones pad more. This sweep reports, per candidate length,
    the bin count, fill rate, and overflow incidence — the curve read
    before committing a context length (the x11/x13 sweep discipline
    applied to e4).

    Shares-everything shape: ONE tokenize + shard pass; each shard's
    Arrow batch replays the same greedy recurrence once per budget (a
    |budgets|-constant factor on a partition-local linear scan), and
    only the |budgets|×|shards| summary rows leave Python. Oracle:
    e4's recursive-CTE greedy replay with the budget as a recursion
    column — one recursion covers the whole sweep, so every bin
    boundary at every operating point is hash-pinned.
    """
    import pandas as pd

    from ..tables import load_table
    from .text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        pack_shard_col().alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks"),
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        out = []
        for budget in E12_BUDGETS:
            bins = greedy_pack(pdf["n_toks"], budget)
            out.append(
                (
                    budget,
                    int(pdf["shard"].iloc[0]),
                    len(bins),
                    sum(t for t, _ in bins),
                    sum(1 for t, _ in bins if t > budget),
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "budget",
                "shard",
                "n_bins",
                "total_tokens",
                "n_overflow",
            ],
        )

    per_shard = with_toks.groupBy("shard").applyInPandas(
        sweep,
        "budget int, shard int, n_bins long, total_tokens long,"
        " n_overflow long",
    )
    return (
        per_shard.groupBy("budget")
        .agg(
            F.sum("n_bins").alias("n_bins"),
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("n_overflow").alias("n_overflow_bins"),
        )
        .select(
            "budget",
            "n_bins",
            "total_tokens",
            F.expr("(10000 * total_tokens) DIV (n_bins * budget)").alias(
                "fill_bp"
            ),
            "n_overflow_bins",
        )
        .orderBy("budget")
    )


def _e12_oracle() -> str:
    from .text import TOKEN_PATTERN

    budgets_values = ", ".join(f"({b})" for b in E12_BUDGETS)
    return f"""
        WITH RECURSIVE budgets(budget) AS (
            VALUES {budgets_values}
        ), base AS (
            SELECT b.budget,
                   {_pack_shard_sql()} AS shard,
                   doc_id,
                   CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                        AS BIGINT) AS n_toks
            FROM documents CROSS JOIN budgets b
        ), ord AS (
            SELECT budget, shard, n_toks,
                   ROW_NUMBER() OVER (PARTITION BY budget, shard
                                      ORDER BY doc_id) AS rn
            FROM base
        ), pack AS (
            SELECT budget, shard, rn, n_toks,
                   CAST(0 AS BIGINT) AS bin_id, n_toks AS fill
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.budget, o.shard, o.rn, o.n_toks,
                   CASE WHEN p.fill + o.n_toks <= p.budget
                        THEN p.bin_id ELSE p.bin_id + 1 END,
                   CASE WHEN p.fill + o.n_toks <= p.budget
                        THEN p.fill + o.n_toks ELSE o.n_toks END
            FROM pack p JOIN ord o
              ON o.budget = p.budget AND o.shard = p.shard AND o.rn = p.rn + 1
        ), bins AS (
            SELECT budget, shard, bin_id,
                   SUM(n_toks) AS bin_tokens
            FROM pack GROUP BY 1, 2, 3
        )
        SELECT budget,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
               CAST((10000 * SUM(bin_tokens)) // (COUNT(*) * budget)
                    AS BIGINT) AS fill_bp,
               CAST(SUM(CASE WHEN bin_tokens > budget THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_overflow_bins
        FROM bins GROUP BY budget ORDER BY budget
    """


#: Per-source sampling thresholds for the training mixture, as an
#: upper bound on the first byte of md5(doc_id): keep iff
#: substring(md5, 1, 2) < hex(thr). thr/256 IS the exact target rate
#: (granularity 1/256), and membership is stable under corpus growth —
#: the property a reproducible mixture needs. Spread 38..228 so every
#: source gets a distinct rate.
MIX_THRESHOLDS = {f"src{i}": 38 + 10 * i for i in range(20)}


def e5_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted mixture sampling — build a training mix by
    downsampling each source to its target rate. The rate table is a
    20-row dim broadcast to every executor (zero shuffle of the
    corpus); membership is a pure projection on md5(doc_id), so the
    same doc is kept or dropped identically on every run, engine, and
    corpus size. The single shuffle is the final per-source rollup.
    At 100 TB this is the exact plan you want: scan → broadcast-hash
    join → project → partial agg → 20-row exchange.
    """
    from ..tables import load_table

    rates = spark.createDataFrame(
        [(s, t, round(t / 256.0, 4)) for s, t in sorted(MIX_THRESHOLDS.items())],
        "source string, thr int, target_rate double",
    ).withColumn("thr_hex", F.lpad(F.conv(F.col("thr"), 10, 16), 2, "0"))
    docs = load_table(spark, sf_dir, "documents")
    kept = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < F.lower(
        F.col("thr_hex")
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .withColumn("kept", kept)
        .groupBy("source", "target_rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("kept"), F.col("n_chars")).otherwise(0).cast("long")
            ).alias("kept_chars"),
        )
        # Achieved rate in integer basis points — a ratio of small
        # integers hits the cross-engine double-ROUND half-value trap
        # (see operators/__init__ conventions); DIV is exact everywhere.
        .withColumn(
            "achieved_bp", F.expr("CAST((10000 * n_kept) DIV n_total AS INT)")
        )
        .orderBy("source")
    )


def _e5_oracle() -> str:
    values = ", ".join(
        f"('{s}', '{t:02x}', {round(t / 256.0, 4)})"
        for s, t in sorted(MIX_THRESHOLDS.items())
    )
    return f"""
        WITH rates(source, thr_hex, target_rate) AS (VALUES {values}),
        flagged AS (
            SELECT d.source, r.target_rate, d.n_chars,
                   substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < r.thr_hex
                       AS kept
            FROM documents d JOIN rates r USING (source)
        )
        SELECT source, CAST(target_rate AS DOUBLE) AS target_rate,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
                   AS kept_chars,
               CAST((10000 * SUM(CASE WHEN kept THEN 1 ELSE 0 END))
                    // COUNT(*) AS INT) AS achieved_bp
        FROM flagged GROUP BY source, target_rate ORDER BY source
    """


E6_TOKEN_BUDGET = 12_000  # global token budget for the selected corpus


def e6_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked corpus selection under a global token budget —
    "take the best documents until N tokens" — WITHOUT the global sort
    that rule naively implies. The greedy order is (quality desc,
    doc_id); the naive plan is a single-partition window cumsum over
    the whole corpus (the exact scale-killer w7 once had). Instead:

    1. score every doc with an integer quality score (pure integer
       arithmetic — ``(10000·alpha_chars) div len`` — so both engines
       agree bit-exactly and score buckets align with greedy order);
    2. aggregate per-score token sums (≤ 10 001 rows — bounded), walk
       them descending on the driver to find the cutoff score and the
       residual budget (control flow over a dimension-sized result,
       like d8's convergence counts and x5's centroid table);
    3. keep every doc strictly above the cutoff (no sort, no window —
       a filter), and run the window cumsum ONLY inside the cutoff
       bucket (~1/n_distinct_scores of the corpus through one task).

    The result is bit-identical to the global greedy prefix — the
    oracle IS the naive global window in DuckDB — but no stage ever
    sorts more than one score bucket on one task. At 100 TB with a
    pathological one-score corpus the boundary bucket degenerates to
    the naive plan; real quality scores spread over thousands of
    distinct values.
    """
    from ..tables import load_table
    from .text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""))
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_toks"),
        alpha.alias("__alpha"),
        F.length("text").alias("__len"),
    ).selectExpr(
        "doc_id",
        "lang",
        "n_toks",
        # BIGINT intermediate: 10000 * an INT length wraps (non-ANSI)
        # past ~214k chars; DuckDB's LENGTH is already BIGINT.
        "CAST((10000 * CAST(__alpha AS BIGINT)) DIV GREATEST(__len, 1) AS INT)"
        " AS iscore",
    )
    # cache(): scored feeds the bucket-sum action AND both branches of
    # the final union — uncached, the scan+tokenize lineage runs three
    # times. The cached projection is ~24 bytes/doc, tiny vs the corpus.
    scored = scored.cache()
    bsums = sorted(
        (
            (r["iscore"], r["btoks"])
            for r in scored.groupBy("iscore")
            .agg(F.sum("n_toks").alias("btoks"))
            .collect()
        ),
        reverse=True,
    )
    cum, cutoff, residual = 0, -1, 0
    for iscore, btoks in bsums:
        if cum + btoks <= E6_TOKEN_BUDGET:
            cum += btoks
        else:
            cutoff, residual = iscore, E6_TOKEN_BUDGET - cum
            break
    kept_full = scored.filter(F.col("iscore") > cutoff)
    from pyspark.sql import Window

    w = Window.partitionBy("iscore").orderBy("doc_id")
    boundary = (
        scored.filter(F.col("iscore") == cutoff)
        .withColumn("cumt", F.sum("n_toks").over(w))
        .filter(F.col("cumt") <= residual)
        .drop("cumt")
    )
    out = (
        kept_full.unionByName(boundary)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("kept_tokens"),
            F.min("iscore").alias("min_score"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )
    # Per-lang rows out; release the scored cache with them.
    from .util import materialize_release

    return materialize_release(spark, out, scored)


def _e6_oracle() -> str:
    from .text import TOKEN_PATTERN

    return f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                        AS BIGINT) AS n_toks,
                   CAST((10000 * LENGTH(regexp_replace(lower(text),
                                                       '[^a-z0-9]', '', 'g')))
                        // GREATEST(LENGTH(text), 1) AS INT) AS iscore
            FROM documents
        ), ranked AS (
            SELECT *, SUM(n_toks) OVER (
                ORDER BY iscore DESC, doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
            FROM scored
        ), kept AS (
            SELECT * FROM ranked WHERE cum <= {E6_TOKEN_BUDGET}
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS kept_tokens,
               MIN(iscore) AS min_score,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM kept GROUP BY lang ORDER BY lang
    """


#: e8: sampling temperature exponent numerator/denominator (α = 1/2 →
#: sqrt, which IEEE 754 rounds exactly — identical doubles on both
#: engines) and the token budget to allocate across sources.
E8_BUDGET_TOKENS = 1_000_000
E8_SQRT_SCALE = 1_000_000


def e8_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture weights — the multilingual /
    multi-domain sampling recipe (mBERT's exponential smoothing, the
    DoReMi baseline): raw domain shares p_i get flattened to
    p_i^α / Σ p_j^α with α = 0.5, upsampling small domains so the
    model doesn't starve them. Output compares each source's natural
    share against its temperature share and allocates a fixed token
    budget accordingly.

    Cross-engine determinism: α = 1/2 makes the power a ``sqrt`` —
    exactly rounded under IEEE 754, so both engines produce the same
    double from the same integer token count; it is then floored into
    an integer score at ``E8_SQRT_SCALE`` and every share/allocation
    after that is ``(x * s_i) DIV Σ s_j`` integer arithmetic — no
    float summation anywhere.

    Scale shape: one map-side-partial per-source token-count
    aggregation over the corpus (the only corpus-wide work), then all
    mixture math happens on the |sources|-row rollup — a window over a
    dimension-bounded frame. At 100 TB the rollup is bytes.
    """
    from pyspark.sql import Window

    from ..tables import load_table
    from .dedup import parallelize_scan
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = per_source.withColumn(
        "score",
        F.floor(F.sqrt(F.col("n_tokens")) * E8_SQRT_SCALE).cast("long"),
    )
    return (
        scored.withColumn("total_tokens", F.sum("n_tokens").over(w))
        .withColumn("total_score", F.sum("score").over(w))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(10000 * n_tokens) DIV total_tokens").alias(
                "natural_bp"
            ),
            F.expr("(10000 * score) DIV total_score").alias("temp_bp"),
            F.expr(
                f"({E8_BUDGET_TOKENS} * score) DIV total_score"
            ).alias("alloc_tokens"),
        )
        .orderBy("source")
    )


E9_MIN_TOKENS = 20  # delta-admission quality gate


def _delta_stages(docs: DataFrame, base_fps: DataFrame) -> DataFrame:
    """The arriving delta (``doc_id % D10_DELTA_MOD == 0``) of the
    tokenized ``docs`` as ONE frame — ``doc_id, lang, __toks, __fp`` —
    with one boolean flag per admission stage, each a subset of the
    one before:

    * ``__g``: passes the ``E9_MIN_TOKENS`` quality gate;
    * ``__e``: ``__g`` and the minimum ``doc_id`` of its fingerprint
      (exact dedup WITHIN the delta);
    * ``__n``: ``__e`` and its fingerprint is not in ``base_fps``
      (exact novelty against the base corpus).

    The window runs over every delta row, not only the gated ones.
    That is the same window: ``__fp`` is a function of the token list,
    so every row of a fingerprint partition has the same gate value.
    ``base_fps`` (one ``__fp`` column) must be distinct on ``__fp``,
    or the left join duplicates delta rows.
    """
    from pyspark.sql import Window

    from .dedup import D10_DELTA_MOD

    first_of_fp = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy("__fp")
    )
    return (
        docs.filter(F.col("doc_id") % D10_DELTA_MOD == 0)
        .select(
            "doc_id",
            "lang",
            "__toks",
            _content_fp(F.col("__toks")).alias("__fp"),
            (F.size("__toks") >= E9_MIN_TOKENS).alias("__g"),
        )
        .withColumn("__e", F.col("__g") & first_of_fp)
        .join(base_fps.withColumn("__in_base", F.lit(True)), "__fp", "left")
        .withColumn("__n", F.col("__e") & F.col("__in_base").isNull())
        .drop("__in_base")
    )


def _delta_stages_sql() -> str:
    """Oracle twin of :func:`_delta_stages`: ``toks`` split into ``delta``
    and ``base``, then one CTE per stage (``gated`` → ``fp``/``exact`` →
    ``novel``). Novelty is NOT EXISTS, not NOT IN: a NULL fingerprint in
    base (md5 of NULL text) poisons NOT IN to zero rows, while Spark's
    left join keeps them."""
    from .dedup import D10_DELTA_MOD

    return f"""{_toks_cte("doc_id, lang")}, delta AS (
            SELECT * FROM toks WHERE doc_id % {D10_DELTA_MOD} = 0
        ), base AS (
            SELECT * FROM toks WHERE doc_id % {D10_DELTA_MOD} <> 0
        ), gated AS (
            SELECT * FROM delta WHERE len(t) >= {E9_MIN_TOKENS}
        ), fp AS (
            SELECT *, md5(array_to_string(t, ' ')) AS f FROM gated
        ), exact AS (
            SELECT * FROM fp
            QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY f)
        ), basefp AS (
            SELECT DISTINCT md5(array_to_string(t, ' ')) AS f FROM base
        ), novel AS (
            SELECT * FROM exact e
            WHERE NOT EXISTS (SELECT 1 FROM basefp b WHERE b.f = e.f)
        )"""


def _stage_report(
    stages: DataFrame, dropped: DataFrame, **extra: Column
) -> DataFrame:
    """One bounded per-language row per language of the delta: every
    stage's survivor count, then the ADMITTED set's ``extra`` sums, token
    mass and id checksum (pinning the exact admitted set).

    A row of ``stages`` (see :func:`_delta_stages`) is admitted when it
    is novel (``__n``) and its ``doc_id`` is not in the caller's
    ``dropped`` set (one ``doc_id`` column, distinct) — the last stage.
    One left join and one ``groupBy("lang")`` give every count.
    """
    dropped = dropped.withColumn("__drop", F.lit(True))
    admitted = F.col("__n") & F.col("__drop").isNull()

    def _admitted_sum(c: Column) -> Column:
        return F.coalesce(F.sum(F.when(admitted, c)), F.lit(0))

    sums = {
        **extra,
        "admitted_tokens": F.size("__toks").cast("long"),
        "id_checksum": F.col("doc_id"),
    }
    return (
        stages.join(dropped, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_delta"),
            F.count_if("__g").alias("n_gated"),
            F.count_if("__e").alias("n_exact"),
            F.count_if("__n").alias("n_novel"),
            F.count_if(admitted).alias("n_admitted"),
            *[_admitted_sum(c).alias(name) for name, c in sums.items()],
        )
        .orderBy("lang")
    )


def e9_refresh_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second flagship — CONTINUOUS-ingest corpus refresh, composed
    end-to-end the way a production pipeline admits each arriving
    batch: quality gate → exact dedup WITHIN the delta → novelty
    against the base corpus → benchmark decontamination →
    per-language admission report with every stage's survivor count
    (the observability a curation team actually reviews). e2 is the
    batch-curation flagship; e9 is its incremental twin (d10's
    split convention: ``doc_id % {mod} == 0`` is the arriving delta).

    The stages are flags on one delta frame (:func:`_delta_stages`),
    not one re-derived frame per stage, so the delta is scanned and
    tokenized once for every count. The base side reduces to DISTINCT
    fingerprints before its join (32-byte keys through the shuffle,
    never text — d10's shape), and the benchmark shingle set
    broadcasts (benchmark-sized at any corpus — d9's shape). Only
    novel rows are shingled for decontamination, and the contaminated
    ids are the drop set of :func:`_stage_report`: one bounded
    per-language row carrying all five stage counts, admitted token
    mass, and an id checksum pinning the exact admitted SET.
    """
    from ..tables import load_table
    from .dedup import (
        DECON_MOD,
        D10_DELTA_MOD,
        parallelize_scan,
        shingles_from_tokens,
    )
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__toks", tokens_col(F.col("text"))
    )
    base = docs.filter(F.col("doc_id") % D10_DELTA_MOD != 0)
    stages = _delta_stages(
        docs, base.select(_content_fp(F.col("__toks")).alias("__fp")).distinct()
    )
    bench_shingles = (
        base.filter(F.col("doc_id") % DECON_MOD == 0)
        .select(
            F.explode(shingles_from_tokens(F.col("__toks"))).alias("sh")
        )
        .distinct()
    )
    contaminated = (
        stages.filter("__n")
        .select(
            "doc_id", F.explode(shingles_from_tokens(F.col("__toks"))).alias("sh")
        )
        .join(F.broadcast(bench_shingles), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return _stage_report(stages, contaminated)


def _e8_oracle() -> str:
    from .text import TOKEN_PATTERN

    return f"""
        WITH per_source AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(regexp_extract_all(lower(text),
                                                   '{TOKEN_PATTERN}'))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ), scored AS (
            SELECT *,
                   CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * {E8_SQRT_SCALE})
                        AS BIGINT) AS score
            FROM per_source
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(score) AS BIGINT) AS total_score
            FROM scored
        )
        SELECT source, n_docs, n_tokens,
               CAST((10000 * n_tokens) // total_tokens AS BIGINT)
                   AS natural_bp,
               CAST((10000 * score) // total_score AS BIGINT) AS temp_bp,
               CAST(({E8_BUDGET_TOKENS} * score) // total_score AS BIGINT)
                   AS alloc_tokens
        FROM scored CROSS JOIN tot
        ORDER BY source
    """


def _e9_oracle() -> str:
    from .dedup import DECON_MOD

    return f"""
        WITH {_delta_stages_sql()}, bench AS (
            SELECT DISTINCT unnest(list_distinct({_ngram_sql(_SHINGLE_K)})) AS sh
            FROM base WHERE doc_id % {DECON_MOD} = 0
        ), contaminated AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct({_ngram_sql(_SHINGLE_K)})) AS sh
                FROM novel
            ) WHERE sh IN (SELECT sh FROM bench)
        ), admitted AS (
            SELECT * FROM novel n
            WHERE NOT EXISTS
                (SELECT 1 FROM contaminated c WHERE c.doc_id = n.doc_id)
        )
        SELECT d.lang,
               COUNT(*) AS n_delta,
               COALESCE(g.n, 0) AS n_gated,
               COALESCE(x.n, 0) AS n_exact,
               COALESCE(v.n, 0) AS n_novel,
               COALESCE(a.n, 0) AS n_admitted,
               COALESCE(a.tok, 0) AS admitted_tokens,
               COALESCE(a.ck, 0) AS id_checksum
        FROM delta d
        LEFT JOIN (SELECT lang, COUNT(*) AS n FROM gated GROUP BY 1) g
               ON d.lang IS NOT DISTINCT FROM g.lang
        LEFT JOIN (SELECT lang, COUNT(*) AS n FROM exact GROUP BY 1) x
               ON d.lang IS NOT DISTINCT FROM x.lang
        LEFT JOIN (SELECT lang, COUNT(*) AS n FROM novel GROUP BY 1) v
               ON d.lang IS NOT DISTINCT FROM v.lang
        LEFT JOIN (SELECT lang, COUNT(*) AS n,
                          CAST(SUM(len(t)) AS BIGINT) AS tok,
                          CAST(SUM(doc_id) AS BIGINT) AS ck
                   FROM admitted GROUP BY 1) a
               ON d.lang IS NOT DISTINCT FROM a.lang
        GROUP BY 1, g.n, x.n, v.n, a.n, a.tok, a.ck
        ORDER BY d.lang
    """


def e14_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD flagship — full RELEASE admission for an arriving
    batch: e9's refresh with near-dup novelty (paraphrased
    re-submissions that slip past the exact-fingerprint gate, d18's
    cross-frame LSH) in place of decontamination, and train/holdout
    ROUTING of the admitted set (o8's deterministic split rule).
    Composed end-to-end: quality gate → exact dedup WITHIN the delta →
    exact novelty vs the base's distinct fingerprints → NEAR-dup
    novelty vs the base's fingerprint representatives → split routing
    → one bounded per-language release report carrying every stage's
    survivor count, the train/holdout routing, admitted token mass,
    and an id checksum pinning the admitted SET. (e9 keeps the
    benchmark-decontamination stage on the oracle board; a deployment
    chains both.)

    Scale shape, stage by stage: the stages are flags on one delta
    frame (:func:`_delta_stages`), so the delta is scanned and
    tokenized once; fingerprints are 32-byte keys through every
    exchange (d10); ONE cached base collapse
    (:func:`dedup.fingerprint_reps`, fp → rep) serves both the exact
    novelty join and the cross-LSH base side; the cross-LSH pairs
    novel delta rows against base reps only (no delta×delta, no
    base×base — d18's shape); its flagged ids are the drop set of
    :func:`_stage_report`, whose report is |langs|-bounded. At 100 TB
    the base rep/signature table is a stored, bucketed artifact — each
    release prices at the delta, not the corpus.

    Oracle: e9's stage-replay prefix + d18's uncollapsed exact
    cross-Jaccard pair set + o8's split CASE — every stage count
    hash-checked.
    """
    from ..tables import load_table
    from .dedup import (
        D10_DELTA_MOD,
        _o8_split_col,
        fingerprint_reps,
        minhash_lsh_cross_pairs_over,
        parallelize_scan,
    )
    from .text import tokens_col
    from .util import materialize_release

    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__toks", tokens_col(F.col("text"))
    )
    bg = (
        fingerprint_reps(
            docs.filter(F.col("doc_id") % D10_DELTA_MOD != 0).select(
                "doc_id", "__toks", _content_fp(F.col("__toks")).alias("__fp")
            ),
            ["__fp"],
            "__toks",
        )
        .select("__fp", "doc_id", "__toks")
        .cache()
    )
    stages = _delta_stages(docs, bg.select("__fp")).cache()
    lsh_caches: list = []
    flagged = (
        minhash_lsh_cross_pairs_over(
            stages.filter("__n").select("doc_id", "__toks"),
            bg.select("doc_id", "__toks"),
            caches=lsh_caches,
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    split = _o8_split_col(F.col("doc_id"))
    out = _stage_report(
        stages,
        flagged,
        n_train=(split == "train").cast("long"),
        n_holdout=(split == "holdout").cast("long"),
    )
    return materialize_release(spark, out, bg, stages, *lsh_caches)


def e13_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/holdout assignment — the production REMEDY
    for the leakage d17 audits: instead of splitting per-document
    (o8's rule), split per near-duplicate CLUSTER, so every member of
    a cluster lands in the same split and cross-split near-dup pairs
    are zero by construction (the split is a function of the cluster
    label). Output is one row per split with the cluster/doc counts,
    the largest cluster routed there, an identity checksum pinning the
    exact assignment, and ``n_moved`` — the docs whose cluster split
    differs from their naive doc-level split, i.e. the price of
    leakage-freedom.

    Distributed shape: d16/d17's production staging. Exact duplicates
    collapse to one representative per token fingerprint (one hash-agg
    carrying per-group naive-split counts); MinHash-LSH pairs + min-
    label connected components run over REPRESENTATIVES only; the
    final rollup is per-cluster then per-split (2 rows). Every shuffle
    carries fingerprints, counts, or rep pairs — never member pairs,
    never text past the signature stage.

    Oracle: the UNCOLLAPSED closure — components over the exact-
    Jaccard pair graph (valid as d3's LSH+verify equals it at this
    threshold) UNIONed with exact-copy edges (member → group-min; this
    also clusters copies too short to have shingles, which carry no
    Jaccard edges), with identical split/checksum arithmetic — proving
    the collapse+rep staging pure plan optimization.
    """
    from ..tables import load_table
    from .dedup import (
        _o8_split_col,
        connected_components,
        minhash_lsh_pairs_over,
        parallelize_scan,
    )
    from .text import tokens_col
    from .util import materialize_release

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    tagged = docs.select(
        "doc_id",
        "text",
        _o8_split_col(F.col("doc_id")).alias("doc_split"),
        _content_fp(tokens_col(F.col("text"))).alias("__fp"),
    )
    groups = (
        tagged.groupBy("__fp")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.min_by("text", "doc_id").alias("text"),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("doc_split") == "train").cast("long")).alias("nt"),
        )
        .cache()
    )
    rep_pairs = minhash_lsh_pairs_over(
        groups.select(F.col("rep_id").alias("doc_id"), "text")
    ).select("doc_a", "doc_b")
    cc = connected_components(rep_pairs, src="doc_a", dst="doc_b")
    clusters = (
        groups.join(cc, groups["rep_id"] == cc["node"], "left")
        .select(
            "n",
            "nt",
            F.coalesce("label", F.col("rep_id")).alias("cluster"),
        )
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("c_docs"),
            F.sum("nt").alias("c_naive_train"),
        )
    )
    out = (
        clusters.select(
            _o8_split_col(F.col("cluster")).alias("split"),
            "cluster",
            "c_docs",
            "c_naive_train",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("c_docs").cast("long").alias("n_docs"),
            F.max("c_docs").cast("long").alias("max_cluster_docs"),
            F.sum(F.col("cluster") * F.col("c_docs"))
            .cast("long")
            .alias("id_checksum"),
            F.sum(
                F.when(
                    F.col("split") == "train",
                    F.col("c_docs") - F.col("c_naive_train"),
                ).otherwise(F.col("c_naive_train"))
            )
            .cast("long")
            .alias("n_moved"),
        )
        .orderBy("split")
    )
    return materialize_release(spark, out, groups)


from ..etl.workload import DRIVER_ORACLE as _WORKLOAD_ORACLE  # noqa: E402
from .dedup import SHINGLE_K as _SHINGLE_K  # noqa: E402
from .dedup import _JACCARD_KEEP, _PAIRS_CTES, _ngram_sql, _shingles_cte, _toks_cte  # noqa: E402
from .text import ALPHA_RATIO_BP_SQL_DUCK as _ALPHA_BP  # noqa: E402
from .text import TOKEN_PATTERN as _TOKEN_PATTERN  # noqa: E402
from ..etl.workload import DRIVER_QUERIES as _WORKLOAD_QUERIES  # noqa: E402

#: e10 curriculum-stage thresholds on the integer alpha-ratio quality
#: proxy (basis points): cleanest band trains first. Cut points chosen
#: at the fixture's distribution terciles (217/124/159 at sf0.01) so
#: every stage is non-degenerate; a deployment sets its own bands.
E10_STAGE0_BP = 8230
E10_STAGE1_BP = 8190
E10_SEED = 4242


def e10_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-staged curriculum ordering — the training schedule that
    anneals data quality across a run (clean text first, noisier bands
    later; the inverse schedule is one CASE away): every document gets
    (1) a curriculum STAGE from an exact integer quality proxy
    (alpha-chars per text-char in basis points — the t2 heuristic made
    integer so both engines band identically) and (2) a deterministic
    within-stage ORDER key (the e7 seed-keyed md5 — reproducible on
    any cluster size, re-seedable per run).

    Scale shape: stage and key are pure scan-side projections; the
    schedule materializes exactly like e7 (repartitionByRange over
    (stage, skey) + local sorts — no single-partition sort), and the
    driver row is the bounded permutation-pinning summary: per (stage,
    first-hex-digit bucket) counts, id checksums, and key boundaries —
    ≤ 3·16 rows at any corpus size, any divergence in membership,
    stage, or order moves a checksum or boundary.
    """
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    from .text import alpha_ratio_bp_col

    staged = docs.select(
        "doc_id",
        alpha_ratio_bp_col().alias("quality_bp"),
        F.md5(
            F.concat(F.lit(f"{E10_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    ).withColumn(
        "stage",
        F.when(F.col("quality_bp") >= E10_STAGE0_BP, 0)
        .when(F.col("quality_bp") >= E10_STAGE1_BP, 1)
        .otherwise(2),
    )
    return (
        staged.groupBy("stage", F.substring("skey", 1, 1).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("quality_bp").alias("quality_checksum"),
            F.min("skey").alias("first_key"),
            F.max("skey").alias("last_key"),
        )
        .orderBy("stage", "bucket")
    )


#: e11: repeat ceiling (epochs) per source and the token budget in
#: units of the corpus's total supply — "train for BUDGET_EPOCHS
#: average epochs, never repeating any single source more than
#: MAX_EPOCHS times" (the data-constrained-scaling recipe: past ~4
#: repeats, extra epochs of the same source stop helping).
E11_MAX_EPOCHS = 2
E11_BUDGET_EPOCHS = 2


def e11_epoch_cap_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture allocation — when the token budget
    exceeds what the best sources can supply once, a pipeline must
    decide how many EPOCHS of each source to take. Demand is
    quality-weighted (each source's integer alpha-ratio mass), supply
    is capped at ``E11_MAX_EPOCHS`` repeats, and the budget freed by
    capped sources is redistributed to uncapped ones in one
    deterministic round (a deployment iterates to fixpoint — ≤
    |sources| rounds on a |sources|-row frame, trivially driver-side;
    one round keeps the oracle a plain window expression).

    All-integer arithmetic end to end (``DIV`` == ``//`` — the e8
    discipline): want_s = B·q_s DIV Σq, cap_s = R·supply_s, leftover
    redistributed ∝ q over the uncapped set, epochs reported in basis
    points. No float appears anywhere, so both engines agree bit-wise.

    Scale shape: ONE map-side-partial corpus aggregation (per-source
    token count + quality mass); every allocation step after that is
    window math over the |sources|-row rollup — bytes at 100 TB.
    """
    from pyspark.sql import Window

    from ..tables import load_table
    from .dedup import parallelize_scan
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    from .text import alpha_ratio_bp_col

    qbp = alpha_ratio_bp_col()
    per = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
        F.sum(qbp).alias("q"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    a0 = (
        per.withColumn("total_tokens", F.sum("n_tokens").over(w))
        .withColumn("total_q", F.sum("q").over(w))
        .withColumn(
            "budget", F.expr(f"{E11_BUDGET_EPOCHS} * total_tokens")
        )
        .withColumn(
            "want_tokens",
            F.expr("(budget * q) DIV greatest(total_q, 1)"),
        )
        .withColumn("cap_tokens", F.expr(f"{E11_MAX_EPOCHS} * n_tokens"))
        .withColumn("alloc0", F.expr("least(want_tokens, cap_tokens)"))
    )
    a1 = a0.withColumn(
        "leftover", F.expr("budget") - F.sum("alloc0").over(w)
    ).withColumn(
        "q_open",
        F.sum(
            F.when(F.col("alloc0") < F.col("cap_tokens"), F.col("q")).otherwise(
                F.lit(0)
            )
        ).over(w),
    )
    return (
        a1.withColumn(
            "alloc_tokens",
            F.expr(
                "least(alloc0 + CASE WHEN alloc0 < cap_tokens THEN"
                " (leftover * q) DIV greatest(q_open, 1) ELSE 0 END,"
                " cap_tokens)"
            ),
        )
        .select(
            "source",
            "n_tokens",
            "want_tokens",
            "cap_tokens",
            "alloc_tokens",
            F.expr(
                "(10000 * alloc_tokens) DIV greatest(n_tokens, 1)"
            ).alias("epochs_bp"),
            F.expr(
                "CAST(CASE WHEN alloc_tokens >= cap_tokens THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("capped"),
        )
        .orderBy("source")
    )


def e15_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD report — the release-notes table every corpus drop
    ships (HF dataset cards, Dolma/RedPajama release stats): per
    (source, lang) detail plus per-source subtotals plus the corpus
    grand total — one GROUPING SETS pass, NOT three scans — each row
    carrying size (docs, tokens, integer mean), exact duplication
    (``COUNT(DISTINCT fp)`` against the shared d1 content identity;
    ``dup_bp`` = the share of rows that are EXCESS copies of a
    fingerprint already counted once inside the group —
    ``(n_docs − n_unique)/n_docs`` in basis points, i.e. what exact
    dedup would delete), and quality-gate passage (the e2
    ``E2_MIN_TOKENS`` gate, in basis points).

    Scale shape: ONE corpus scan projects (source, lang, n_toks, fp);
    the Expand triples rows (the a16 grouping-sets machinery) and the
    distinct-fp count is the only corpus-cardinality aggregation —
    exact here because the card is the artifact of record; a 100 TB
    run swaps ``COUNT(DISTINCT fp)`` for ``approx_count_distinct``
    (HLL) when ±2% is acceptable, changing one expression. Grouping
    flags are emitted per column (0/1) rather than a packed
    grouping_id, whose bit order is engine-specific (the a16 lesson).

    Oracle: the identical GROUPING SETS statement in DuckDB over the
    same fingerprint projection.
    """
    from ..tables import load_table
    from .dedup import parallelize_scan
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    # Project the token array into a named column ONCE (the documented
    # convention — Catalyst re-evaluates inline expressions at every
    # reference, and tokenize is the expensive producer here; review
    # r13 caught the inline double-evaluation).
    per = docs.withColumn("__toks", tokens_col(F.col("text"))).select(
        "source",
        "lang",
        F.size("__toks").alias("n_toks"),
        _content_fp(F.col("__toks")).alias("fp"),
    )
    per.createOrReplaceTempView("e15_docs")
    return spark.sql(
        f"""
        SELECT source, lang,
               CAST(grouping(source) AS INT) AS g_source,
               CAST(grouping(lang) AS INT) AS g_lang,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT fp) AS n_unique,
               (10000 * (COUNT(*) - COUNT(DISTINCT fp))) DIV COUNT(*)
                   AS dup_bp,
               SUM(n_toks) AS n_tokens,
               SUM(n_toks) DIV COUNT(*) AS mean_tokens,
               SUM(CASE WHEN n_toks >= {E2_MIN_TOKENS} THEN 1 ELSE 0 END)
                   AS n_gated,
               (10000 * SUM(CASE WHEN n_toks >= {E2_MIN_TOKENS}
                                 THEN 1 ELSE 0 END)) DIV COUNT(*)
                   AS gated_bp
        FROM e15_docs
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        ORDER BY g_source, g_lang, source, lang
        """
    )


def e16_incremental_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE of the dataset card — the refresh
    path a 100 TB release pipeline actually runs: e15 recomputes the
    card from the corpus; e16 maintains it from a DELTA (adds +
    deletes) against a persisted auxiliary state, touching O(state +
    delta) rows instead of re-scanning the corpus, and grades itself
    against the full recompute in the same plan.

    The interesting aggregate is the non-additive one: docs and tokens
    roll forward by simple signed sums, but ``COUNT(DISTINCT fp)``
    cannot be maintained from the card alone — the textbook IVM answer
    is carried here as the auxiliary state ``(source, lang, fp) →
    (cnt, toks)``: adds apply +1, deletes −1, groups whose count
    reaches 0 vanish (the fingerprint left the corpus), and the
    distinct count is just the surviving group count. That state is
    |distinct fp| rows — the persisted artifact a deployment keeps
    next to the card, exactly how materialized-view engines maintain
    COUNT(DISTINCT).

    Fixture split (deterministic, so both paths are oracle-replayed):
    base S1 = doc_id%5 ≠ 4; adds = %5 == 4; deletes = S1 rows with
    %7 == 3. Output per (source, lang): the incrementally-maintained
    docs/tokens/distinct plus ``consistent`` = 1 iff the incremental
    result equals the full recompute on S2 — driven from a FULL OUTER
    join of the two paths, so a group present in only one path
    surfaces as consistent = 0 instead of vanishing (the x20 lesson).

    The tokenize projection is computed ONCE into a cached frame (the
    aux state + per-doc projection are the deployment's persisted
    artifacts; the four CTE references would otherwise re-run the
    regex per reference — the documented CollapseProject trap).
    """
    from ..tables import load_table
    from .dedup import parallelize_scan
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    per = (
        docs.withColumn("__toks", tokens_col(F.col("text")))
        .select(
            "doc_id",
            "source",
            "lang",
            F.size("__toks").alias("n_toks"),
            _content_fp(F.col("__toks")).alias("fp"),
        )
        .cache()
    )
    per.createOrReplaceTempView("e16_docs")
    out = spark.sql(
        """
        WITH s1 AS (SELECT * FROM e16_docs WHERE doc_id % 5 != 4),
        adds AS (SELECT * FROM e16_docs WHERE doc_id % 5 = 4),
        dels AS (SELECT * FROM s1 WHERE doc_id % 7 = 3),
        a1 AS (
            SELECT source, lang, fp, COUNT(*) AS cnt, SUM(n_toks) AS toks
            FROM s1 GROUP BY 1, 2, 3
        ),
        d AS (
            SELECT source, lang, fp, 1 AS cnt, n_toks AS toks FROM adds
            UNION ALL
            SELECT source, lang, fp, -1, -n_toks FROM dels
        ),
        a2 AS (
            SELECT source, lang, fp, SUM(cnt) AS cnt, SUM(toks) AS toks
            FROM (SELECT * FROM a1 UNION ALL SELECT * FROM d)
            GROUP BY 1, 2, 3
            HAVING SUM(cnt) > 0
        ),
        inc AS (
            SELECT source, lang, SUM(cnt) AS n_docs, SUM(toks) AS n_tokens,
                   COUNT(*) AS n_unique
            FROM a2 GROUP BY 1, 2
        ),
        s2 AS (
            SELECT * FROM s1 WHERE doc_id % 7 != 3
            UNION ALL SELECT * FROM adds
        ),
        refull AS (
            SELECT source, lang, COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens,
                   COUNT(DISTINCT fp) AS n_unique
            FROM s2 GROUP BY 1, 2
        )
        SELECT COALESCE(i.source, f.source) AS source,
               COALESCE(i.lang, f.lang) AS lang,
               CAST(COALESCE(i.n_docs, 0) AS BIGINT) AS n_docs,
               CAST(COALESCE(i.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(i.n_unique, 0) AS BIGINT) AS n_unique,
               CAST(CASE WHEN i.n_docs = f.n_docs
                          AND i.n_tokens = f.n_tokens
                          AND i.n_unique = f.n_unique
                     THEN 1 ELSE 0 END AS BIGINT) AS consistent
        FROM inc i FULL OUTER JOIN refull f
          ON i.source = f.source AND i.lang = f.lang
        ORDER BY source, lang
        """
    )
    from .util import materialize_release

    return materialize_release(spark, out, per)


def e17_changelog_card_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m19 × e16 COMPOSITION — the production refresh loop run end
    to end: a copy-on-write commit produces a manifest-level file
    diff (m19's machinery), the file diff IS the IVM delta (every row
    in a dropped file enters at −1, every row in an added file at +1
    — an UPDATE arrives as its old and new versions, which either
    cancel exactly in the state merge when the rewrite carried the
    row verbatim, or retire the old payload and admit the new one),
    and e16's auxiliary (source, lang, fp) state rolls the dataset
    card forward without touching the unchanged files. No change
    classification is needed anywhere: delete+add cancellation does
    the bookkeeping, which is exactly why changelog-driven IVM
    composes where rule-based patching doesn't — a changed row whose
    ``lang`` moved GROUPS (the rewrite prefixes it) debits the old
    group and credits the new one for free.

    Fixture: m19's snapshot layout, from the shared
    ``maintenance.two_snapshot_manifests`` (files A/B/C; commit 2
    rewrites B copy-on-write — %3==1 rows dropped, %3==0 rows get the
    ``rw:`` lang prefix, %3==2 rows carry verbatim — and appends D).
    Grading: the incrementally-maintained card vs a full recompute from
    the manifest-2 read, joined FULL OUTER so one-sided groups report
    consistent = 0.

    Scale shape: the state build and the recompute grade scan the
    corpus once each (a deployment persists the state and skips the
    grade); the refresh itself reads ONLY the symmetric-difference
    files — O(delta) — and the merge shuffles O(state + delta)
    aggregated rows.
    """
    from ..tables import load_table
    from .dedup import parallelize_scan
    from .maintenance import _tmpdir, two_snapshot_manifests
    from .text import tokens_col

    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text", "lang", "source"
    )
    base = _tmpdir()
    try:
        m1, m2 = two_snapshot_manifests(docs, base)
        only1 = sorted(set(m1) - set(m2))
        only2 = sorted(set(m2) - set(m1))

        def _proj(df):
            return df.withColumn("__toks", tokens_col(F.col("text"))).select(
                "source",
                "lang",
                F.size("__toks").alias("n_toks"),
                _content_fp(F.col("__toks")).alias("fp"),
            )

        state = (
            _proj(spark.read.parquet(*m1))
            .groupBy("source", "lang", "fp")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("n_toks").alias("toks"),
            )
        )
        delta = _proj(spark.read.parquet(*only1)).select(
            "source", "lang", "fp",
            F.lit(-1).alias("cnt"),
            (-F.col("n_toks")).alias("toks"),
        ).unionByName(
            _proj(spark.read.parquet(*only2)).select(
                "source", "lang", "fp",
                F.lit(1).alias("cnt"),
                F.col("n_toks").alias("toks"),
            )
        )
        merged = (
            state.unionByName(delta)
            .groupBy("source", "lang", "fp")
            .agg(F.sum("cnt").alias("cnt"), F.sum("toks").alias("toks"))
            .filter(F.col("cnt") > 0)
        )
        inc = merged.groupBy("source", "lang").agg(
            F.sum("cnt").alias("i_docs"),
            F.sum("toks").alias("i_tokens"),
            F.count(F.lit(1)).alias("i_unique"),
        )
        full = (
            _proj(spark.read.parquet(*m2))
            .groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).alias("f_docs"),
                F.sum("n_toks").alias("f_tokens"),
                F.countDistinct("fp").alias("f_unique"),
            )
        )
        out = (
            inc.join(
                full,
                (inc.source == full.source) & (inc.lang == full.lang),
                "full_outer",
            )
            .select(
                F.coalesce(inc.source, full.source).alias("source"),
                F.coalesce(inc.lang, full.lang).alias("lang"),
                F.coalesce("i_docs", F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce("i_tokens", F.lit(0))
                .cast("long")
                .alias("n_tokens"),
                F.coalesce("i_unique", F.lit(0))
                .cast("long")
                .alias("n_unique"),
                F.expr(
                    "CAST(CASE WHEN i_docs = f_docs"
                    " AND i_tokens = f_tokens"
                    " AND i_unique = f_unique THEN 1 ELSE 0 END AS BIGINT)"
                ).alias("consistent"),
            )
            .orderBy("source", "lang")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: e18: DSIR target slice (the "curated" corpus the raw pool is
#: resampled toward), score scale (1e-4 log2 units — the t13 exact-
#: decimal idiom, held as integers end-to-end), and the driver-walk
#: coarse-bucket geometry (1 bit per bucket; the offset shifts scores
#: non-negative so integer DIV truncation IS floor).
E18_TARGET_SOURCES = ("src0", "src1")
E18_UNIT = 10_000
E18_OFFSET = 10_000_000_000


def e18_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling") — the
    middle rung of the data-selection ladder this family was missing:
    e5/e8 apply FIXED mixture weights, t19 a trained quality gate;
    DSIR learns per-example weights from hashed-ngram DISTRIBUTIONS —
    how target-like does each raw document look — and resamples the
    raw pool to the target's size. Here: features are t19's recipe
    verbatim (unigrams + bigrams md5-hashed to ``T19_BUCKETS``
    buckets — the oracle replays the same hash), the target is the
    curated ``E18_TARGET_SOURCES`` slice, and each raw doc's score is
    the summed per-feature log-ratio ``log2(p̂(b)/q̂(b))`` under
    Laplace-smoothed bucket unigram models of target (p̂) vs raw (q̂).
    The top ``n_target`` raw docs by (score desc, doc_id) are the
    resampled corpus; output is the per-source admission report.

    Cross-engine exactness with float logs (the t13 discipline,
    tightened): per-bucket log-ratios are quantized ONCE to integer
    1e-4-log2 units via ``floor((log2(A) − log2(B)) · 10⁴)`` where A,
    B are exact integer products ``(cnt+1)·(othertot+BUCKETS)`` (all
    < 2⁵³, so the doubles entering log2 are identical in Python and
    DuckDB; floor has no rounding-mode ambiguity, unlike round-half).
    SAME-LIBM ASSUMPTION (ADVICE r15): log2 is not correctly rounded
    by IEEE-754, so "identical doubles in" guarantees "identical
    doubles out" only because Python's ``math.log2`` and DuckDB's
    ``log2`` bind the SAME platform libm here. A cross-platform oracle
    run could flip ``floor(x·10⁴)`` at a boundary and move one weight
    by 1 unit — treat a 1-unit weight diff on a foreign libm as this
    known boundary artifact, not a logic bug.
    ``tests/test_r16_operators.py`` sweeps every fixture-produced fit
    input and asserts none sits within 1e-9 of a floor boundary, so on
    THIS host no value is close enough for any sub-ulp libm divergence
    to flip it.
    Doc scores are then pure integer sums — no float accumulation
    order anywhere. (At 100 TB the products would pass 2⁵³: compute
    the same quantity as ``log2(p+1)−log2(q+1)+log2(Qt+B)−log2(Pt+B)``
    and re-pin the oracle to that op order.)

    Scale shape — exactly two corpus scans plus a column-pruned count:
    (1) the distribution pass: explode features → map-side-combined
    count to ≤ 2·BUCKETS groups → collect the bounded table and fit
    the 512-entry integer log-ratio array DRIVER-SIDE (the x15/m18
    fit-literal discipline); (2) the scoring pass: the array rides
    into a PURE PROJECTION (``F.aggregate`` over the feature array —
    zero corpus shuffle, the t19 shape with a learned table instead of
    arithmetic weights). Selection reuses e6's no-global-sort greedy:
    bounded per-coarse-bucket counts walk on the driver, a filter
    keeps whole buckets above the cutoff, and only the ONE boundary
    bucket pays a window. The only corpus-sized shuffles are the
    distribution count and the |sources|-row rollups.

    Reference anchor: extends the mixture-recommendation territory of
    ``exploration_summary.md:100-112`` to learned importance weights —
    the reference picks corpus slices by hand; a training pipeline at
    scale picks them by distribution match.
    """
    import math

    from pyspark.sql import Window

    from ..tables import load_table
    from .dedup import parallelize_scan
    from .text import T19_BUCKETS, tokens_col

    nb = T19_BUCKETS
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    t = F.col("__t")
    # t19's feature recipe, self-contained (sharing the expression
    # would put green t19 back through the rotation gate — the t20
    # precedent): unigrams + space-joined bigrams.
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(" ", t[i], t[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def bucket(f):
        return (
            F.conv(F.substring(F.md5(f), 1, 3), 16, 10).cast("long") % nb
        )

    is_target = F.col("source").isin(*E18_TARGET_SOURCES)
    featd = docs.withColumn("__t", tokens_col(F.col("text"))).select(
        "doc_id",
        "source",
        is_target.alias("__tgt"),
        F.concat(t, bigrams).alias("__f"),
    )
    # PASS 1 — both bucket distributions in one explode (≤ 2·nb groups
    # after map-side combine; the collect is bounded by construction)
    counts = (
        featd.select("__tgt", F.explode("__f").alias("f"))
        .select("__tgt", bucket(F.col("f")).alias("b"))
        .groupBy("__tgt", "b")
        .count()
        .collect()
    )
    p = {r["b"]: r["count"] for r in counts if r["__tgt"]}
    q = {r["b"]: r["count"] for r in counts if not r["__tgt"]}
    pt, qt = sum(p.values()), sum(q.values())
    lr_units = [
        math.floor(
            (
                math.log2((p.get(b, 0) + 1) * (qt + nb))
                - math.log2((q.get(b, 0) + 1) * (pt + nb))
            )
            * float(E18_UNIT)
        )
        for b in range(nb)
    ]
    n_target = docs.filter(is_target).count()

    # PASS 2 — score raw docs: the 512-long integer array is a literal
    # in the projection; per-doc score is one exact integer array fold.
    lr_arr = F.lit(lr_units)
    score = F.aggregate(
        F.col("__f"),
        F.lit(0).cast("long"),
        lambda acc, f: acc + F.element_at(lr_arr, (bucket(f) + 1).cast("int")),
    )
    scored = (
        featd.filter(~F.col("__tgt"))
        .select("doc_id", "source", score.alias("score"))
        .withColumn(
            "cscore",
            F.expr(f"CAST((score + {E18_OFFSET}) DIV {E18_UNIT} AS BIGINT)"),
        )
        .cache()  # feeds the bucket walk + both selection branches
    )
    crows = (
        scored.groupBy("cscore")
        .agg(F.count(F.lit(1)).alias("n"), F.min("score").alias("mn"))
        .collect()
    )
    # ADVICE r15: the coarse-bucket DIV is floor ONLY while
    # score + E18_OFFSET stays non-negative (Spark DIV truncates toward
    # zero). Selection would survive a breach (truncation is monotone
    # and the boundary window orders by exact score), but the documented
    # invariant would silently rot — so assert the headroom on the same
    # bounded collect the bucket walk already pays for.
    if crows and min(int(r["mn"]) for r in crows) + E18_OFFSET < 0:
        raise ValueError(
            "e18: score + E18_OFFSET went negative — DIV is no longer "
            "floor. Raise E18_OFFSET (or derive it as "
            "-min_unit * max_feature_count) before trusting cscore "
            "bucket boundaries."
        )
    csums = sorted(((r["cscore"], r["n"]) for r in crows), reverse=True)
    cum, cutoff, residual = 0, None, 0
    for cs, n in csums:
        if cum + n <= n_target:
            cum += n
        else:
            cutoff, residual = cs, n_target - cum
            break
    if cutoff is None:  # budget >= pool: keep everything
        cutoff = (csums[-1][0] - 1) if csums else 0
    kept_full = scored.filter(F.col("cscore") > cutoff)
    w = Window.partitionBy("cscore").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    boundary = (
        scored.filter(F.col("cscore") == cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= residual)
        .drop("__rn")
    )
    sel_roll = (
        kept_full.unionByName(boundary)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("score").cast("long").alias("sel_score_units"),
        )
    )
    raw_roll = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum("score").cast("long").alias("raw_score_units"),
    )
    out = (
        raw_roll.join(F.broadcast(sel_roll), "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.expr(
                "CAST((10000 * COALESCE(n_selected, 0)) DIV n_raw AS BIGINT)"
            ).alias("selected_bp"),
            F.coalesce("sel_score_units", F.lit(0))
            .cast("long")
            .alias("sel_score_units"),
            "raw_score_units",
        )
        .orderBy("source")
    )
    from .util import materialize_release

    return materialize_release(spark, out, scored)


def _e18_oracle() -> str:
    targets = ", ".join(f"'{s}'" for s in E18_TARGET_SOURCES)
    from .text import T19_BUCKETS

    nb = T19_BUCKETS
    return f"""
        WITH t AS MATERIALIZED (
            SELECT doc_id, source,
                   source IN ({targets}) AS is_target,
                   regexp_extract_all(lower(text), '{_TOKEN_PATTERN}') AS t
            FROM documents
        ), fe AS MATERIALIZED (
            SELECT doc_id, source, is_target,
                   list_transform(
                       t || CASE WHEN len(t) >= 2
                                 THEN list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i + 1])
                                 ELSE CAST([] AS VARCHAR[]) END,
                       x -> ('0x' || substr(md5(x), 1, 3))::BIGINT % {nb}
                   ) AS bks
            FROM t
        ), cnt AS MATERIALIZED (
            SELECT b,
                   CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                       AS p_cnt,
                   CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
                       AS q_cnt
            FROM (SELECT is_target, unnest(bks) AS b FROM fe) GROUP BY b
        ), tot AS (
            SELECT CAST(SUM(p_cnt) AS BIGINT) AS pt,
                   CAST(SUM(q_cnt) AS BIGINT) AS qt FROM cnt
        ), lr AS MATERIALIZED (
            -- exact op order mirrored in the operator: log2 of exact
            -- integer products, subtract, scale, FLOOR (no round-half)
            SELECT g.b,
                   CAST(FLOOR((log2((COALESCE(c.p_cnt, 0) + 1) * (t.qt + {nb}))
                             - log2((COALESCE(c.q_cnt, 0) + 1) * (t.pt + {nb})))
                              * {E18_UNIT}) AS BIGINT) AS lru
            FROM range({nb}) g(b)
            LEFT JOIN cnt c ON c.b = g.b CROSS JOIN tot t
        ), persum AS (
            SELECT u.doc_id, CAST(SUM(l.lru) AS BIGINT) AS s
            FROM (SELECT doc_id, unnest(bks) AS b
                  FROM fe WHERE NOT is_target) u
            JOIN lr l ON l.b = u.b GROUP BY u.doc_id
        ), sc AS MATERIALIZED (
            SELECT f.doc_id, f.source, COALESCE(p.s, 0) AS score
            FROM fe f LEFT JOIN persum p USING (doc_id)
            WHERE NOT f.is_target
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
            FROM sc
        ), sel AS (
            SELECT r.*,
                   r.rk <= (SELECT COUNT(*) FROM fe WHERE is_target)
                       AS selected
            FROM ranked r
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_raw,
               CAST(SUM(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_selected,
               CAST((10000 * SUM(CASE WHEN selected THEN 1 ELSE 0 END))
                    // COUNT(*) AS BIGINT) AS selected_bp,
               CAST(SUM(CASE WHEN selected THEN score ELSE 0 END) AS BIGINT)
                   AS sel_score_units,
               CAST(SUM(score) AS BIGINT) AS raw_score_units
        FROM sel GROUP BY source ORDER BY source
    """


#: e19 quality-filter thresholds, calibrated against the measured
#: fixture quantiles (sf0.01: n_toks p5=16/p25=32; alpha_bp p25=8175;
#: top-share p75=1111/p95=1603; mean-len-deci p5=41) so every filter
#: kills a real, distinct slice instead of 0% or 100%.
E19_MIN_TOKENS = 25
E19_MIN_ALPHA_BP = 8150
E19_MAX_TOPSHARE_BP = 1300
E19_MIN_MEANLEN_DECI = 42


def e19_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ABLATION report — the Gopher/MassiveText curation
    table (Rae et al. 2021 report per-rule removal rates before fixing
    an ensemble): for each candidate filter, how many docs it kills,
    how many it is the ONLY killer of (its unique contribution — the
    number that decides whether a rule earns its place), and the
    ensemble's total/exactly-one-rule kill counts. Four standard
    heuristics over integer-exact statistics: minimum token count,
    alphanumeric density (bp of text length), top-token share (bp of
    tokens — the t22 repetition axis at its crudest), and mean token
    length (deci-chars). Thresholds in the constant block, calibrated
    from measured fixture quantiles.

    Scale shape: ONE corpus scan → token-level hash-agg (map-side
    combine; the t22 shape) → per-doc rollup → LEFT join back to the
    doc spine (zero-token docs must FAIL, not vanish) → one global
    aggregate of boolean sums; the 5-row report is built from that
    single collected row (bounded driver traffic, the m2 idiom).
    Every statistic is integer arithmetic (DIV, counts), so the oracle
    replays bit-exactly.

    Reference anchor: the reference ingests every comment untouched
    (``convert_to_iceberg.py`` has no quality gate); this is the
    ablation table a curation deployment reads before choosing which
    of t2/t11/t13/t19's gates to enable.
    """
    from ..tables import load_table
    from .text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n"),
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    )
    per_doc = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"), F.max("n").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_toks"),
            F.sum(F.length("tok") * F.col("c")).alias("alpha"),
            F.max("c").alias("maxc"),
            F.max("n").alias("n"),
        )
    )
    flags = (
        docs.select("doc_id", F.length("text").cast("long").alias("__n"))
        .join(per_doc, "doc_id", "left")
        .select(
            F.coalesce("n_toks", F.lit(0)).alias("n_toks"),
            F.coalesce("alpha", F.lit(0)).alias("alpha"),
            F.coalesce("maxc", F.lit(0)).alias("maxc"),
            F.col("__n").alias("n"),
        )
        .selectExpr(
            f"(n_toks < {E19_MIN_TOKENS}) AS k_tok",
            f"((10000 * alpha) DIV GREATEST(n, 1)"
            f" < {E19_MIN_ALPHA_BP}) AS k_alpha",
            f"((10000 * maxc) DIV GREATEST(n_toks, 1)"
            f" > {E19_MAX_TOPSHARE_BP}) AS k_share",
            f"((10 * alpha) DIV GREATEST(n_toks, 1)"
            f" < {E19_MIN_MEANLEN_DECI}) AS k_len",
        )
        .selectExpr(
            "*",
            "CAST(k_tok AS INT) + CAST(k_alpha AS INT)"
            " + CAST(k_share AS INT) + CAST(k_len AS INT) AS k_n",
        )
    )
    row = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.col(k).cast("long")).alias(f"f_{k}")
            for k in ("k_tok", "k_alpha", "k_share", "k_len")
        ],
        *[
            F.sum((F.col(k) & (F.col("k_n") == 1)).cast("long")).alias(
                f"u_{k}"
            )
            for k in ("k_tok", "k_alpha", "k_share", "k_len")
        ],
        F.sum((F.col("k_n") >= 1).cast("long")).alias("f_any"),
        F.sum((F.col("k_n") == 1).cast("long")).alias("u_any"),
    ).collect()[0]
    n = int(row["n_docs"])
    comp = {
        "min_tokens": ("f_k_tok", "u_k_tok"),
        "alpha_ratio": ("f_k_alpha", "u_k_alpha"),
        "max_token_share": ("f_k_share", "u_k_share"),
        "mean_token_len": ("f_k_len", "u_k_len"),
        "ensemble": ("f_any", "u_any"),
    }
    out = [
        (
            name,
            n,
            int(row[fk] or 0),
            int(row[uk] or 0),
            (10000 * int(row[fk] or 0)) // max(n, 1),
            (10000 * int(row[uk] or 0)) // max(n, 1),
        )
        for name, (fk, uk) in sorted(comp.items())
    ]
    return spark.createDataFrame(
        out,
        "component string, n_docs long, n_fail long, n_unique_fail long,"
        " fail_bp long, unique_fail_bp long",
    )


def _e19_oracle() -> str:
    return f"""
        WITH {_e19_stats_ctes()}, f2 AS MATERIALIZED (
            SELECT CAST(k_tok AS INT) + CAST(k_alpha AS INT)
                    + CAST(k_share AS INT) + CAST(k_len AS INT) AS k_n,
                k_tok, k_alpha, k_share, k_len
            FROM stats
        ), agg AS MATERIALIZED (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN k_tok THEN 1 ELSE 0 END) AS BIGINT) AS f_tok,
                CAST(SUM(CASE WHEN k_alpha THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
                CAST(SUM(CASE WHEN k_share THEN 1 ELSE 0 END) AS BIGINT) AS f_share,
                CAST(SUM(CASE WHEN k_len THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
                CAST(SUM(CASE WHEN k_tok AND k_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_tok,
                CAST(SUM(CASE WHEN k_alpha AND k_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_alpha,
                CAST(SUM(CASE WHEN k_share AND k_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_share,
                CAST(SUM(CASE WHEN k_len AND k_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_len,
                CAST(SUM(CASE WHEN k_n >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS f_any,
                CAST(SUM(CASE WHEN k_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS u_any
            FROM f2
        )
        SELECT component, n_docs, n_fail, n_unique_fail,
               CAST((10000 * n_fail) // GREATEST(n_docs, 1) AS BIGINT)
                   AS fail_bp,
               CAST((10000 * n_unique_fail) // GREATEST(n_docs, 1) AS BIGINT)
                   AS unique_fail_bp
        FROM (
            SELECT 'min_tokens' AS component, n_docs, f_tok AS n_fail,
                   u_tok AS n_unique_fail FROM agg
            UNION ALL SELECT 'alpha_ratio', n_docs, f_alpha, u_alpha FROM agg
            UNION ALL SELECT 'max_token_share', n_docs, f_share, u_share
                FROM agg
            UNION ALL SELECT 'mean_token_len', n_docs, f_len, u_len FROM agg
            UNION ALL SELECT 'ensemble', n_docs, f_any, u_any FROM agg
        ) ORDER BY component
    """


#: e19b sweep grids (VERDICT r15 item #5): 5 points per rule spanning
#: the measured fixture quantile range (the e19 calibration comment),
#: with e19's calibrated point at the center of every grid so the
#: calibrated row of the sweep must reproduce e19's report exactly
#: (pinned in tests/test_r16_operators.py). ``lt`` rules kill when the
#: statistic is BELOW the threshold, ``gt`` when above.
E19B_GRID: tuple[tuple[str, str, str, tuple[int, ...]], ...] = (
    ("min_tokens", "lt", "n_toks", (10, 18, 25, 32, 40)),
    ("alpha_ratio", "lt", "alpha_bp", (7900, 8000, 8150, 8300, 8400)),
    ("max_token_share", "gt", "share_bp", (1000, 1150, 1300, 1450, 1600)),
    ("mean_token_len", "lt", "len_deci", (38, 40, 42, 44, 46)),
)

#: rule -> the OTHER rules' calibrated kill flags (for unique-kill /
#: ensemble-kill while sweeping one rule, others held at e19's
#: calibrated thresholds — one-factor-at-a-time ablation).
_E19B_OTHERS = {
    "min_tokens": "(k_alpha OR k_share OR k_len)",
    "alpha_ratio": "(k_tok OR k_share OR k_len)",
    "max_token_share": "(k_tok OR k_alpha OR k_len)",
    "mean_token_len": "(k_tok OR k_alpha OR k_share)",
}


def e19b_filter_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter THRESHOLD SWEEP — x11's measurement discipline
    applied to e19's ablation (VERDICT r15 item #5): e19 reports the
    four Gopher-style rules at single calibrated points; a deployment
    picks thresholds from a CURVE. For each rule, five threshold
    points spanning the measured fixture quantile range (calibrated
    point center-of-grid), one-factor-at-a-time: the swept rule moves,
    the other three stay at e19's calibrated thresholds. Per (rule,
    threshold): docs killed by the rule alone, docs it UNIQUELY kills
    (no other calibrated rule fires), and the resulting ensemble kill
    — the three numbers that price a threshold move before shipping it.

    Scale shape — ONE corpus scan, ZERO corpus shuffles: the per-doc
    token stats are a pure projection (array size / fold / sorted-run-
    length — see :func:`_e19b_stats_agg`; value-pinned to e19's
    explode recipe, which stays untouched per the t20 precedent),
    reduced to an integer stats frame (n_toks / alpha_bp / share_bp /
    len_deci + the four calibrated kill flags), and the whole 20-point
    grid is CONDITIONAL AGGREGATION over that frame — 60 boolean
    sums, map-side combined to a single row; the 20-row report
    unpivots driver-side from that one collected row (the e19/m2
    bounded-driver idiom). No per-point rescan, no crossJoin, no
    (doc, tok) exchange: adding sweep points changes only the
    projection width (A/B vs the explode shape: 1.9× at 500 K docs,
    4.1× at 5 M — PLANS.md). All statistics are integer (DIV, counts)
    so the oracle replays bit-exactly.

    Reference anchor: extends ``exploration_summary.md:100-112``'s
    quality-recommendation territory the same way x11 extends x5 —
    the operating point becomes a measured curve, not a guess.
    """
    row = _e19b_stats_agg(spark, sf_dir).collect()[0]
    n = int(row["n_docs"])
    out = [
        (
            rule,
            theta,
            n,
            int(row[f"f_{rule}_{j}"] or 0),
            int(row[f"u_{rule}_{j}"] or 0),
            int(row[f"e_{rule}_{j}"] or 0),
            (10000 * int(row[f"f_{rule}_{j}"] or 0)) // max(n, 1),
        )
        for rule, _op, _stat, grid in E19B_GRID
        for j, theta in enumerate(grid)
    ]
    return spark.createDataFrame(
        out,
        "rule string, threshold long, n_docs long, n_fail long,"
        " n_unique_fail long, n_ensemble_fail long, fail_bp long",
    )


def _e19b_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e19b's single-row conditional aggregate (un-collected — the
    plan seam ``tests/test_plans.py`` asserts on: one SinglePartition
    exchange, ONE column-pruned scan, zero joins, grid width only in
    the projection).

    The per-doc token stats are a PURE PROJECTION, not e19's explode →
    (doc, tok) shuffle → per-doc rollup → spine join: ``n_toks`` is
    the array size, ``alpha`` an array fold, and the top-token count
    ``maxc`` the longest equal-run of the SORTED token array (a
    per-row O(n log n) sort + interpreted fold instead of a corpus-
    wide (doc, tok) exchange — at 5M docs that exchange is ~325M rows,
    and the A/B on the 500K replicated corpus measured the projection
    at <<the explode shape; see PLANS.md). Values are pinned identical
    to e19's explode recipe by
    ``tests/test_r16_operators.py::test_e19b_calibrated_point_reproduces_e19``
    and the oracle, which still replays the explode form."""
    from ..tables import load_table
    from .text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    zero = F.lit(0).cast("long")
    run = lambda acc, x: F.when(  # noqa: E731 — shared by run/best legs
        x == acc["prev"], acc["run"] + 1
    ).otherwise(F.lit(1).cast("long"))
    stats = (
        docs.withColumn("__t", tokens_col(F.col("text")))
        .select(
            F.coalesce(F.size("__t"), F.lit(0)).cast("long").alias("n_toks"),
            F.coalesce(
                F.aggregate("__t", zero, lambda acc, x: acc + F.length(x)),
                zero,
            ).alias("alpha"),
            F.coalesce(
                F.aggregate(
                    F.sort_array("__t"),
                    F.struct(
                        F.lit("").alias("prev"),
                        zero.alias("run"),
                        zero.alias("best"),
                    ),
                    lambda acc, x: F.struct(
                        x.alias("prev"),
                        run(acc, x).alias("run"),
                        F.greatest(acc["best"], run(acc, x)).alias("best"),
                    ),
                    lambda acc: acc["best"],
                ),
                zero,
            ).alias("maxc"),
            F.length("text").cast("long").alias("__n"),
        )
        .selectExpr(
            "n_toks",
            "(10000 * alpha) DIV GREATEST(__n, 1) AS alpha_bp",
            "(10000 * maxc) DIV GREATEST(n_toks, 1) AS share_bp",
            "(10 * alpha) DIV GREATEST(n_toks, 1) AS len_deci",
        )
        .selectExpr(
            "n_toks",
            "alpha_bp",
            "share_bp",
            "len_deci",
            f"(n_toks < {E19_MIN_TOKENS}) AS k_tok",
            f"(alpha_bp < {E19_MIN_ALPHA_BP}) AS k_alpha",
            f"(share_bp > {E19_MAX_TOPSHARE_BP}) AS k_share",
            f"(len_deci < {E19_MIN_MEANLEN_DECI}) AS k_len",
        )
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    for rule, op, stat, grid in E19B_GRID:
        other = _E19B_OTHERS[rule]
        for j, theta in enumerate(grid):
            fail = f"({stat} {'<' if op == 'lt' else '>'} {theta})"
            aggs.append(
                F.expr(f"SUM(CAST({fail} AS BIGINT))").alias(f"f_{rule}_{j}")
            )
            aggs.append(
                F.expr(
                    f"SUM(CAST(({fail} AND NOT {other}) AS BIGINT))"
                ).alias(f"u_{rule}_{j}")
            )
            aggs.append(
                F.expr(f"SUM(CAST(({fail} OR {other}) AS BIGINT))").alias(
                    f"e_{rule}_{j}"
                )
            )
    return stats.agg(*aggs)


def _e19_stats_ctes() -> str:
    """The oracle twin of the per-document stats that e19 and e19b's
    :func:`_e19b_stats_agg` compute, in e19's explode recipe: token
    counts per (doc, tok), rolled up per doc and LEFT-joined back to
    the documents so a zero-token doc still fails. CTE ``stats`` holds
    n_toks, alpha_bp, share_bp, len_deci and the four calibrated kill
    flags."""
    return f"""tok AS (
            SELECT doc_id, unnest(
                regexp_extract_all(lower(text), '{_TOKEN_PATTERN}')) AS tok
            FROM documents
        ), tc AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ), per AS (
            SELECT doc_id, SUM(c) AS n_toks,
                   SUM(LENGTH(tok) * c) AS alpha,
                   MAX(c) AS maxc
            FROM tc GROUP BY 1
        ), stats AS MATERIALIZED (
            SELECT *,
                n_toks < {E19_MIN_TOKENS} AS k_tok,
                alpha_bp < {E19_MIN_ALPHA_BP} AS k_alpha,
                share_bp > {E19_MAX_TOPSHARE_BP} AS k_share,
                len_deci < {E19_MIN_MEANLEN_DECI} AS k_len
            FROM (
                SELECT
                    COALESCE(p.n_toks, 0) AS n_toks,
                    (10000 * COALESCE(p.alpha, 0))
                        // GREATEST(LENGTH(d.text), 1) AS alpha_bp,
                    (10000 * COALESCE(p.maxc, 0))
                        // GREATEST(COALESCE(p.n_toks, 0), 1) AS share_bp,
                    (10 * COALESCE(p.alpha, 0))
                        // GREATEST(COALESCE(p.n_toks, 0), 1) AS len_deci
                FROM documents d LEFT JOIN per p USING (doc_id)
            )
        )"""


def _e19b_oracle() -> str:
    grid_values = ", ".join(
        f"('{rule}', CAST({theta} AS BIGINT))"
        for rule, _op, _stat, grid in E19B_GRID
        for theta in grid
    )
    return f"""
        WITH {_e19_stats_ctes()}, grid(rule, threshold) AS (VALUES {grid_values}),
        crossed AS (
            SELECT g.rule, g.threshold,
                CASE g.rule
                    WHEN 'min_tokens' THEN s.n_toks < g.threshold
                    WHEN 'alpha_ratio' THEN s.alpha_bp < g.threshold
                    WHEN 'max_token_share' THEN s.share_bp > g.threshold
                    ELSE s.len_deci < g.threshold
                END AS fail,
                CASE g.rule
                    WHEN 'min_tokens' THEN (k_alpha OR k_share OR k_len)
                    WHEN 'alpha_ratio' THEN (k_tok OR k_share OR k_len)
                    WHEN 'max_token_share' THEN (k_tok OR k_alpha OR k_len)
                    ELSE (k_tok OR k_alpha OR k_share)
                END AS other
            FROM stats s CROSS JOIN grid g
        )
        SELECT rule, threshold,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_fail,
               CAST(SUM(CASE WHEN fail AND NOT other THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_unique_fail,
               CAST(SUM(CASE WHEN fail OR other THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_ensemble_fail,
               CAST((10000 * SUM(CASE WHEN fail THEN 1 ELSE 0 END))
                   // GREATEST(COUNT(*), 1) AS BIGINT) AS fail_bp
        FROM crossed
        GROUP BY rule, threshold
        ORDER BY rule, threshold
    """


def t24_predlang_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card grouped by PREDICTED language (VERDICT r15 item
    #6) — what a production corpus with NO language labels actually
    runs: e15's release card keys its language axis on the fixture's
    given ``lang`` column; real crawls don't have one, so this card
    groups by t23's argmax prediction instead, and carries an
    AGREEMENT column (pred == labeled, in basis points) so the
    self-labeling error is a visible number on every row rather than
    an assumption. Documents too short to carry one trigram get the
    ISO-639 undetermined code ``und`` (they never agree).

    Composition is the point: :func:`~.text.t23_pred_frame` is the
    shared model swap point — swap its fit literal for fastText/CLD3
    tables and this card retargets with zero changes here — and the
    card shape is e15's (GROUPING SETS detail/subtotal/total, exact
    distinct-fp duplication, integer basis points).

    Scale shape: t23's two model passes (bounded broadcast model), ONE
    card scan projecting (doc_id, source, lang, n_toks, fp), one
    doc-keyed equi-join card×pred (the only corpus-sized shuffle this
    operator adds), then the a16 Expand machinery — grouping flags
    emitted per column, never a packed grouping_id. 100 TB note: the
    doc-keyed join co-partitions with e15's ingest layout (doc_id is
    the natural bucketing key), and ``COUNT(DISTINCT fp)`` downgrades
    to HLL exactly as e15 documents.

    Oracle: ``_t23_pred_cte()`` (string-shared with t23's oracle — the
    x11/x16 anti-drift discipline) + the identical GROUPING SETS card.
    """
    from ..tables import load_table
    from .dedup import parallelize_scan
    from .text import t23_pred_frame, tokens_col

    pred = t23_pred_frame(spark, sf_dir).select("doc_id", "pred_lang")
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    per = (
        docs.withColumn("__toks", tokens_col(F.col("text")))
        .select(
            "doc_id",
            "source",
            "lang",
            F.size("__toks").alias("n_toks"),
            _content_fp(F.col("__toks")).alias("fp"),
        )
        .join(pred, "doc_id", "left")
        .withColumn("pred_lang", F.coalesce("pred_lang", F.lit("und")))
    )
    per.createOrReplaceTempView("t24_docs")
    return spark.sql(
        """
        SELECT source, pred_lang,
               CAST(grouping(source) AS INT) AS g_source,
               CAST(grouping(pred_lang) AS INT) AS g_lang,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT fp) AS n_unique,
               (10000 * (COUNT(*) - COUNT(DISTINCT fp))) DIV COUNT(*)
                   AS dup_bp,
               SUM(n_toks) AS n_tokens,
               SUM(n_toks) DIV COUNT(*) AS mean_tokens,
               SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                   AS n_agree,
               (10000 * SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END))
                   DIV COUNT(*) AS agree_bp
        FROM t24_docs
        GROUP BY GROUPING SETS ((source, pred_lang), (pred_lang), ())
        ORDER BY g_source, g_lang, source, pred_lang
        """
    )


def _t24_oracle() -> str:
    from .text import _t23_pred_cte

    return _t23_pred_cte() + f""", card AS MATERIALIZED (
            SELECT d.doc_id, d.source, d.lang,
                   CAST(len(regexp_extract_all(lower(d.text),
                                               '{_TOKEN_PATTERN}'))
                        AS BIGINT) AS n_toks,
                   md5(array_to_string(regexp_extract_all(lower(d.text),
                                                          '{_TOKEN_PATTERN}'),
                                       ' ')) AS fp,
                   COALESCE(p.pred_lang, 'und') AS pred_lang
            FROM documents d LEFT JOIN pred p USING (doc_id)
        )
        SELECT source, pred_lang,
               CAST(GROUPING(source) AS INT) AS g_source,
               CAST(GROUPING(pred_lang) AS INT) AS g_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
               CAST((10000 * (COUNT(*) - COUNT(DISTINCT fp))) // COUNT(*)
                    AS BIGINT) AS dup_bp,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(n_toks) // COUNT(*) AS BIGINT) AS mean_tokens,
               CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree,
               CAST((10000 * SUM(CASE WHEN pred_lang = lang
                                      THEN 1 ELSE 0 END)) // COUNT(*)
                    AS BIGINT) AS agree_bp
        FROM card
        GROUP BY GROUPING SETS ((source, pred_lang), (pred_lang), ())
        ORDER BY g_source, g_lang, source, pred_lang
    """


QUERIES = {
    "e19_filter_ablation": e19_filter_ablation,
    "e19b_filter_threshold_sweep": e19b_filter_threshold_sweep,
    "t24_predlang_dataset_card": t24_predlang_dataset_card,
    "e15_dataset_card": e15_dataset_card,
    "e16_incremental_card": e16_incremental_card,
    "e17_changelog_card_refresh": e17_changelog_card_refresh,
    "e18_dsir_resample": e18_dsir_resample,
    "e10_curriculum_schedule": e10_curriculum_schedule,
    "e11_epoch_cap_allocation": e11_epoch_cap_allocation,
    "e12_packing_curve": e12_packing_curve,
    "e13_cluster_aware_split": e13_cluster_aware_split,
    "e14_release_pipeline": e14_release_pipeline,
    "e1_docket_pipeline": e1_docket_pipeline,
    "e2_training_pipeline": e2_training_pipeline,
    "e3_shard_assign": e3_shard_assign,
    "e4_pack_sequences": e4_pack_sequences,
    "e5_mixture_sample": e5_mixture_sample,
    "e6_budget_select": e6_budget_select,
    "e7_epoch_shuffle": e7_epoch_shuffle,
    "e8_temperature_mixture": e8_temperature_mixture,
    "e9_refresh_pipeline": e9_refresh_pipeline,
    # The reference's own demo workload (etl/workload.py q1–q10),
    # driver-checkable: Spark runs tree→pipeline→query, the oracle is a
    # pure-Python replay of the same seeded records as literal SELECTs.
    **_WORKLOAD_QUERIES,
}
def _card_docs_cte(cols: str) -> str:
    """``per``: ``cols`` of each document, its token count ``n_toks`` and
    its content fingerprint ``fp`` (``content_fp_from_toks``), the
    per-document rows the e15–e17 cards aggregate."""
    return f"""per AS (
            SELECT {cols},
                   CAST(len(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}'))
                        AS BIGINT) AS n_toks,
                   md5(array_to_string(regexp_extract_all(lower(text), '{_TOKEN_PATTERN}'),
                                       ' ')) AS fp
            FROM documents
        )"""


ORACLE = {
    # e17: both paths replayed from the modular arithmetic — an
    # INDEPENDENT derivation of the delta the operator obtains from
    # real manifest file-set differences (delete+add at file level).
    "e17_changelog_card_refresh": f"""
        WITH {_card_docs_cte("doc_id, source, lang")},
        s1 AS (SELECT * FROM per WHERE doc_id % 4 IN (0, 1, 2)),
        bp AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'rw:' || COALESCE(lang, '')
                        ELSE lang END AS lang,
                   n_toks, fp
            FROM per WHERE doc_id % 4 = 1 AND doc_id % 3 != 1
        ),
        dnew AS (SELECT * FROM per WHERE doc_id % 4 = 3),
        a1 AS (
            SELECT source, lang, fp, COUNT(*) AS cnt, SUM(n_toks) AS toks
            FROM s1 GROUP BY 1, 2, 3
        ),
        delta AS (
            SELECT source, lang, fp, -1 AS cnt, -n_toks AS toks
            FROM per WHERE doc_id % 4 = 1
            UNION ALL
            SELECT source, lang, fp, 1, n_toks FROM bp
            UNION ALL
            SELECT source, lang, fp, 1, n_toks FROM dnew
        ),
        merged AS (
            SELECT source, lang, fp, SUM(cnt) AS cnt, SUM(toks) AS toks
            FROM (SELECT * FROM a1 UNION ALL SELECT * FROM delta)
            GROUP BY 1, 2, 3
            HAVING SUM(cnt) > 0
        ),
        inc AS (
            SELECT source, lang, SUM(cnt) AS i_docs, SUM(toks) AS i_tokens,
                   COUNT(*) AS i_unique
            FROM merged GROUP BY 1, 2
        ),
        s2 AS (
            SELECT doc_id, source, lang, n_toks, fp FROM per
            WHERE doc_id % 4 IN (0, 2)
            UNION ALL SELECT doc_id, source, lang, n_toks, fp FROM bp
            UNION ALL SELECT doc_id, source, lang, n_toks, fp FROM dnew
        ),
        refull AS (
            SELECT source, lang, COUNT(*) AS f_docs,
                   SUM(n_toks) AS f_tokens,
                   COUNT(DISTINCT fp) AS f_unique
            FROM s2 GROUP BY 1, 2
        )
        SELECT COALESCE(i.source, f.source) AS source,
               COALESCE(i.lang, f.lang) AS lang,
               CAST(COALESCE(i.i_docs, 0) AS BIGINT) AS n_docs,
               CAST(COALESCE(i.i_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(i.i_unique, 0) AS BIGINT) AS n_unique,
               CAST(CASE WHEN i.i_docs = f.f_docs
                          AND i.i_tokens = f.f_tokens
                          AND i.i_unique = f.f_unique
                     THEN 1 ELSE 0 END AS BIGINT) AS consistent
        FROM inc i FULL OUTER JOIN refull f
          ON i.source = f.source AND i.lang = f.lang
        ORDER BY source, lang
    """,
    "e16_incremental_card": f"""
        WITH {_card_docs_cte("doc_id, source, lang")},
        s1 AS (SELECT * FROM per WHERE doc_id % 5 != 4),
        adds AS (SELECT * FROM per WHERE doc_id % 5 = 4),
        dels AS (SELECT * FROM s1 WHERE doc_id % 7 = 3),
        a1 AS (
            SELECT source, lang, fp, COUNT(*) AS cnt, SUM(n_toks) AS toks
            FROM s1 GROUP BY 1, 2, 3
        ),
        d AS (
            SELECT source, lang, fp, 1 AS cnt, n_toks AS toks FROM adds
            UNION ALL
            SELECT source, lang, fp, -1, -n_toks FROM dels
        ),
        a2 AS (
            SELECT source, lang, fp, SUM(cnt) AS cnt, SUM(toks) AS toks
            FROM (SELECT * FROM a1 UNION ALL SELECT * FROM d)
            GROUP BY 1, 2, 3
            HAVING SUM(cnt) > 0
        ),
        inc AS (
            SELECT source, lang, SUM(cnt) AS n_docs, SUM(toks) AS n_tokens,
                   COUNT(*) AS n_unique
            FROM a2 GROUP BY 1, 2
        ),
        s2 AS (
            SELECT * FROM s1 WHERE doc_id % 7 != 3
            UNION ALL SELECT * FROM adds
        ),
        refull AS (
            SELECT source, lang, COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens,
                   COUNT(DISTINCT fp) AS n_unique
            FROM s2 GROUP BY 1, 2
        )
        SELECT COALESCE(i.source, f.source) AS source,
               COALESCE(i.lang, f.lang) AS lang,
               CAST(COALESCE(i.n_docs, 0) AS BIGINT) AS n_docs,
               CAST(COALESCE(i.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(i.n_unique, 0) AS BIGINT) AS n_unique,
               CAST(CASE WHEN i.n_docs = f.n_docs
                          AND i.n_tokens = f.n_tokens
                          AND i.n_unique = f.n_unique
                     THEN 1 ELSE 0 END AS BIGINT) AS consistent
        FROM inc i FULL OUTER JOIN refull f
          ON i.source = f.source AND i.lang = f.lang
        ORDER BY source, lang
    """,
    "e15_dataset_card": f"""
        WITH {_card_docs_cte("source, lang")}
        SELECT source, lang,
               CAST(GROUPING(source) AS INT) AS g_source,
               CAST(GROUPING(lang) AS INT) AS g_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
               CAST((10000 * (COUNT(*) - COUNT(DISTINCT fp))) // COUNT(*)
                    AS BIGINT) AS dup_bp,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(n_toks) // COUNT(*) AS BIGINT) AS mean_tokens,
               CAST(SUM(CASE WHEN n_toks >= {E2_MIN_TOKENS} THEN 1 ELSE 0
                             END) AS BIGINT) AS n_gated,
               CAST((10000 * SUM(CASE WHEN n_toks >= {E2_MIN_TOKENS}
                                      THEN 1 ELSE 0 END)) // COUNT(*)
                    AS BIGINT) AS gated_bp
        FROM per
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        ORDER BY g_source, g_lang, source, lang
    """,
    "e10_curriculum_schedule": f"""
        WITH staged AS (
            SELECT doc_id,
                   {_ALPHA_BP} AS quality_bp,
                   md5({E10_SEED} || ':' || CAST(doc_id AS VARCHAR)) AS skey
            FROM documents
        ), st AS (
            SELECT *, CASE WHEN quality_bp >= {E10_STAGE0_BP} THEN 0
                           WHEN quality_bp >= {E10_STAGE1_BP} THEN 1
                           ELSE 2 END AS stage
            FROM staged
        )
        SELECT stage, substring(skey, 1, 1) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
               CAST(SUM(quality_bp) AS BIGINT) AS quality_checksum,
               MIN(skey) AS first_key,
               MAX(skey) AS last_key
        FROM st GROUP BY 1, 2 ORDER BY stage, bucket
    """,

    "e11_epoch_cap_allocation": f"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                        AS BIGINT) AS n_tokens,
                   CAST(SUM({_ALPHA_BP}) AS BIGINT) AS q
            FROM documents GROUP BY 1
        ), tot AS (
            SELECT *, SUM(n_tokens) OVER () AS total_tokens,
                      SUM(q) OVER () AS total_q
            FROM per
        ), a0 AS (
            SELECT *,
                   {E11_BUDGET_EPOCHS} * total_tokens AS budget,
                   ({E11_BUDGET_EPOCHS} * total_tokens * q)
                       // GREATEST(total_q, 1) AS want_tokens,
                   {E11_MAX_EPOCHS} * n_tokens AS cap_tokens
            FROM tot
        ), a1 AS (
            SELECT *, LEAST(want_tokens, cap_tokens) AS alloc0 FROM a0
        ), a2 AS (
            SELECT *,
                   budget - SUM(alloc0) OVER () AS leftover,
                   SUM(CASE WHEN alloc0 < cap_tokens THEN q ELSE 0 END)
                       OVER () AS q_open
            FROM a1
        ), a3 AS (
            SELECT *,
                   LEAST(alloc0 + CASE WHEN alloc0 < cap_tokens THEN
                             (leftover * q) // GREATEST(q_open, 1)
                         ELSE 0 END,
                         cap_tokens) AS alloc_tokens
            FROM a2
        )
        SELECT source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(want_tokens AS BIGINT) AS want_tokens,
               CAST(cap_tokens AS BIGINT) AS cap_tokens,
               CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
               CAST((10000 * alloc_tokens) // GREATEST(n_tokens, 1)
                    AS BIGINT) AS epochs_bp,
               CAST(CASE WHEN alloc_tokens >= cap_tokens THEN 1 ELSE 0 END
                    AS BIGINT) AS capped
        FROM a3 ORDER BY source
    """,

    "e12_packing_curve": _e12_oracle(),
    # e14: e9's stage-replay prefix + d18's uncollapsed exact
    # cross-Jaccard pair set (valid by d3's recall-1 argument) + o8's
    # split CASE. Pairing novel reps against UNCOLLAPSED base members
    # equals the rep-level LSH (exact copies share all shingles).
    "e14_release_pipeline": f"""
        WITH {_delta_stages_sql()}, pn AS (
            SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
            FROM (SELECT doc_id, list_distinct({_ngram_sql(_SHINGLE_K)}) AS shingles
                  FROM novel)
        ), pb AS (
            SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
            FROM (SELECT doc_id, list_distinct({_ngram_sql(_SHINGLE_K)}) AS shingles
                  FROM base)
        ), pairs AS (
            SELECT n.doc_id AS doc_a, n.n_sh AS n_a,
                   b.n_sh AS n_b, b.doc_id AS doc_b, COUNT(*) AS common
            FROM pn n JOIN pb b USING (shingle)
            GROUP BY 1, 2, 3, 4
        ), flagged AS (
            SELECT DISTINCT doc_a FROM pairs WHERE {_JACCARD_KEEP}
        ), admitted AS (
            SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                                < 'd'
                           THEN 1 ELSE 0 END AS tr
            FROM novel n
            WHERE NOT EXISTS
                (SELECT 1 FROM flagged f WHERE f.doc_a = n.doc_id)
        )
        SELECT d.lang,
               COUNT(*) AS n_delta,
               COALESCE(g.n, 0) AS n_gated,
               COALESCE(x.n, 0) AS n_exact,
               COALESCE(v.n, 0) AS n_novel,
               COALESCE(a.n, 0) AS n_admitted,
               COALESCE(a.ntr, 0) AS n_train,
               COALESCE(a.nho, 0) AS n_holdout,
               COALESCE(a.tok, 0) AS admitted_tokens,
               COALESCE(a.ck, 0) AS id_checksum
        FROM delta d
        LEFT JOIN (SELECT lang, COUNT(*) AS n FROM gated GROUP BY 1) g
               ON d.lang IS NOT DISTINCT FROM g.lang
        LEFT JOIN (SELECT lang, COUNT(*) AS n FROM exact GROUP BY 1) x
               ON d.lang IS NOT DISTINCT FROM x.lang
        LEFT JOIN (SELECT lang, COUNT(*) AS n FROM novel GROUP BY 1) v
               ON d.lang IS NOT DISTINCT FROM v.lang
        LEFT JOIN (SELECT lang, COUNT(*) AS n,
                          CAST(SUM(tr) AS BIGINT) AS ntr,
                          CAST(COUNT(*) - SUM(tr) AS BIGINT) AS nho,
                          CAST(SUM(len(t)) AS BIGINT) AS tok,
                          CAST(SUM(doc_id) AS BIGINT) AS ck
                   FROM admitted GROUP BY 1) a
               ON d.lang IS NOT DISTINCT FROM a.lang
        GROUP BY 1, g.n, x.n, v.n, a.n, a.ntr, a.nho, a.tok, a.ck
        ORDER BY d.lang
    """,
    # e13: uncollapsed closure — exact-Jaccard pairs (== the LSH+verify
    # pair set, d3's argument) UNION exact-copy edges (member → group
    # min; also clusters shingle-less copies) — then the identical
    # split/checksum arithmetic. Proves the rep-collapse staging pure
    # plan optimization, exactly d16/d17's oracle contract.
    "e13_cluster_aware_split": f"""
        WITH RECURSIVE {_toks_cte()}, {_shingles_cte()}, {_PAIRS_CTES}, jp AS (
            SELECT doc_a, doc_b FROM pairs WHERE {_JACCARD_KEEP}
        ), fpg AS (
            SELECT doc_id, md5(array_to_string(t, ' ')) AS g FROM toks
        ), gm AS (
            SELECT g, MIN(doc_id) AS rep FROM fpg GROUP BY g
        ), fpe AS (
            SELECT f.doc_id AS doc_a, m.rep AS doc_b
            FROM fpg f JOIN gm m USING (g)
            WHERE f.doc_id <> m.rep
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jp
            UNION SELECT doc_b, doc_a FROM jp
            UNION SELECT doc_a, doc_b FROM fpe
            UNION SELECT doc_b, doc_a FROM fpe
        ), reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ), lab AS (
            SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a
        ), clu AS (
            SELECT d.doc_id,
                   COALESCE(l.label, d.doc_id) AS cluster,
                   CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'd'
                        THEN 1 ELSE 0 END AS naive_train
            FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
        ), cs AS (
            SELECT cluster, COUNT(*) AS c_docs,
                   SUM(naive_train) AS c_naive_train
            FROM clu GROUP BY cluster
        ), fin AS (
            SELECT CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 1) < 'd'
                        THEN 'train' ELSE 'holdout' END AS split,
                   cluster, c_docs, c_naive_train
            FROM cs
        )
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(c_docs) AS BIGINT) AS n_docs,
               CAST(MAX(c_docs) AS BIGINT) AS max_cluster_docs,
               CAST(SUM(cluster * c_docs) AS BIGINT) AS id_checksum,
               CAST(SUM(CASE WHEN split = 'train'
                             THEN c_docs - c_naive_train
                             ELSE c_naive_train END) AS BIGINT) AS n_moved
        FROM fin GROUP BY split ORDER BY split
    """,
    "e8_temperature_mixture": _e8_oracle(),
    "e1_docket_pipeline": _oracle(),
    "e3_shard_assign": """
        WITH s AS (
            SELECT doc_id, lang, n_chars,
                   CAST(strpos('0123456789abcdef',
                               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                        AS INT) AS shard
            FROM documents
        )
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT lang) AS n_langs,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc
        FROM s GROUP BY shard ORDER BY shard
    """,
    "e2_training_pipeline": _e2_oracle(),
    "e4_pack_sequences": _e4_oracle(),
    "e5_mixture_sample": _e5_oracle(),
    "e6_budget_select": _e6_oracle(),
    "e18_dsir_resample": _e18_oracle(),
    "e19_filter_ablation": _e19_oracle(),
    "e19b_filter_threshold_sweep": _e19b_oracle(),
    "t24_predlang_dataset_card": _t24_oracle(),
    "e9_refresh_pipeline": _e9_oracle(),
    "e7_epoch_shuffle": f"""
        WITH k AS (
            SELECT doc_id,
                   md5('{E7_SEED}:' || CAST(doc_id AS VARCHAR)) AS skey
            FROM documents
        )
        SELECT substring(skey, 1, 2) AS bucket,
               COUNT(*) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
               MIN(skey) AS first_key,
               MAX(skey) AS last_key
        FROM k GROUP BY 1 ORDER BY 1
    """,
}
ORACLE.update(_WORKLOAD_ORACLE)
