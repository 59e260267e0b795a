"""Text-analysis operators (north-star extension, BASELINE.json).

The reference's only text operation is ``LIKE '%health%'`` over comment
bodies (F1) and ``LENGTH(comment)`` (C1/P8). A training-data pipeline
needs more: token counting, quality scoring, fingerprinting, and a
scale-safe replacement for the full-scan substring search.

Everything here is pure column expressions (regexp / array lambdas) —
JVM-side, whole-stage-codegen friendly; no Python UDFs.

Scale notes:

* ``token_index`` is the 100 TB answer to F1: materialize an inverted
  (token, doc_id) table once (explode + distinct — one shuffle),
  partition/bucket it by token, and ``LIKE '%word%'`` becomes a
  partition-pruned point lookup instead of a 100 TB scan (SURVEY §4,
  "candidates for custom work").
* Per-document scoring (t2) is embarrassingly parallel: no shuffle at
  all — the plan is scan → project.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table

TOKEN_PATTERN = "[a-z0-9]+"
#: Tiny english stopword list used by the quality heuristic (shared with
#: the DuckDB oracle — keep sorted and lowercase).
STOPWORDS = ("a", "an", "and", "in", "is", "of", "on", "the", "to")


def tokens_col(text: Column) -> Column:
    """Tokenize: lowercase + regexp word extraction (BPE-ish splitter)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), F.lit(0))


#: The integer alpha-ratio quality proxy — alphanumeric chars per text
#: char in basis points — shared by e10 (curriculum bands), e11 (demand
#: weights), d16 (keep-best argmax), and m14 (drift bins). ONE home for
#: the cross-engine-critical expression: the Spark column and the
#: DuckDB fragment below must stay twins (``DIV`` == ``//``, NULL text
#: coalesced to 0 on both sides).
ALPHA_RATIO_BP_SQL_DUCK = (
    "COALESCE((10000 * length(regexp_replace(lower(text),"
    " '[^a-z0-9]', '', 'g'))) // GREATEST(length(text), 1), 0)"
)


def alpha_ratio_bp_col() -> Column:
    """Spark twin of :data:`ALPHA_RATIO_BP_SQL_DUCK` over a ``text``
    column."""
    return F.coalesce(
        F.expr(
            "(10000 * length(regexp_replace(lower(text), '[^a-z0-9]', '')))"
            " DIV greatest(length(text), 1)"
        ),
        F.lit(0),
    )


def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document + corpus aggregates (one pass)."""
    docs = load_table(spark, sf_dir, "documents")
    with_toks = docs.withColumn("n_tokens", F.size(tokens_col(F.col("text"))))
    return with_toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    ).orderBy("lang")


def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics: length, token count, mean token
    length, stopword ratio, alpha ratio — the standard pre-training
    corpus filters. Pure projection: zero shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""))
    n_stop = F.size(F.array_intersect(toks, stop_arr))  # distinct-stopword presence
    n_stop_occ = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("text_len"),
            n_tokens.alias("n_tokens"),
            F.round(alpha_chars / F.greatest(n_tokens, F.lit(1)), 4).alias(
                "mean_token_len"
            ),
            F.round(
                n_stop_occ / F.greatest(n_tokens, F.lit(1)).cast("double"), 4
            ).alias("stopword_ratio"),
            F.round(alpha_chars / F.greatest(F.length("text"), F.lit(1)), 4).alias(
                "alpha_ratio"
            ),
            (n_stop > 0).alias("has_stopwords"),
        )
    )


def t3_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the normalized token stream —
    whitespace/punct-insensitive exact-dup key (the groupBy key of
    exact dedup in :mod:`.dedup`)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", tokens_col(F.col("text")))
    return docs.select(
        "doc_id", F.md5(norm).alias("fingerprint")
    )


def t4_token_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index formulation of F1's substring search.

    Builds (token → doc) postings with explode+distinct and probes for
    one token. At 100 TB the postings table is materialized once
    (bucketed by token) and this query becomes a pruned point lookup —
    see :func:`build_token_index`.
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("token")
    )
    return (
        postings.filter(F.col("token") == "hash")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


def t5_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID plumbing: score documents against per-language marker
    token lists (n-gram-heuristic shape; the synthetic fixture's text is
    language-independent, so markers here are corpus tokens — the
    *operator* is what matters: array-intersection scoring per doc,
    zero shuffle, then a small agg)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    markers = {
        "latin": ("the", "a", "of"),
        "query": ("join", "scan", "filter", "merge"),
        "data": ("row", "column", "table", "value"),
    }
    cols = [
        F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(m) for m in ms]))).alias(
            f"score_{name}"
        )
        for name, ms in markers.items()
    ]
    scored = docs.select("doc_id", "lang", *cols)
    return scored.groupBy("lang").agg(
        F.round(F.avg("score_latin"), 4).alias("avg_score_latin"),
        F.round(F.avg("score_query"), 4).alias("avg_score_query"),
        F.round(F.avg("score_data"), 4).alias("avg_score_data"),
    ).orderBy("lang")


def build_token_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_original: bool = False,
) -> DataFrame:
    """Materializable inverted index: one (token, doc_id) row per distinct
    token occurrence. Write with ``.write.bucketBy(N, "token")`` (or an
    Iceberg bucket(token) partition spec) so lookups and token-joins are
    shuffle-free.

    ``with_original=True`` adds a ``token_orig`` column carrying the
    original-case surface form (the maximal ``[A-Za-z0-9]+`` run, whose
    lowering is exactly the ``token`` value on ASCII text). f1b's
    case-sensitive substring verify runs on this column — so the verify
    never has to re-read corpus text at query time.
    """
    if with_original:
        orig = F.array_distinct(
            F.regexp_extract_all(
                F.col(text_col), F.lit("[A-Za-z0-9]+"), F.lit(0)
            )
        )
        return docs.select(
            F.col(id_col), F.explode(orig).alias("token_orig")
        ).select(
            id_col, F.lower(F.col("token_orig")).alias("token"), "token_orig"
        )
    return docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("token"),
    )


WINNOW_K = 8  # char k-gram size
WINNOW_W = 4  # winnowing window (hashes per window)
#: Karp-Rabin polynomial base — > any ASCII code, so the (no-modulus)
#: base-131 polynomial is injective on 8-char ASCII grams and still
#: fits int64 (max ≈ 6.7e17). Precomputed powers keep both engines'
#: arithmetic literal-for-literal identical.
WINNOW_BASE = 131
_WINNOW_POWS = tuple(WINNOW_BASE ** (WINNOW_K - 1 - j) for j in range(WINNOW_K))


def winnow_sets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_grams, fingerprints bigint[]) — the winnowed fingerprint
    SET per document; t6 reports its sizes, and the guarantee test in
    tests/test_properties.py checks the sets directly."""
    norm = F.concat_ws(" ", tokens_col(F.col(text_col)))
    # Pad so every gram window is fully materialized even when the
    # normalized text is shorter than K (space = 32 in both engines).
    docs = docs.withColumn("__norm", norm).withColumn(
        "__pad", F.concat(F.col("__norm"), F.lit(" " * WINNOW_K))
    )

    def gram_hash(i):
        terms = [
            F.ascii(F.substring(F.col("__pad"), i + F.lit(j), 1)).cast("long")
            * F.lit(p)
            for j, p in enumerate(_WINNOW_POWS)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("__norm") - WINNOW_K + 1, F.lit(1))),
        gram_hash,
    )
    docs = docs.withColumn("__hashes", grams)
    winnowed = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("__hashes") - WINNOW_W + 1, F.lit(1)),
            ),
            lambda i: F.array_min(F.slice(F.col("__hashes"), i, WINNOW_W)),
        )
    )
    return docs.select(
        F.col(id_col),
        F.size("__hashes").alias("n_grams"),
        winnowed.alias("fingerprints"),
    )


def t6_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et
    al., SIGMOD'03): hash every character k-gram, keep the minimum of
    each w-window of consecutive hashes — a position-robust fingerprint
    set whose size is ~1/w of the k-gram count, guaranteed to share
    fingerprints with any document that shares a (k+w-1)-char run (the
    guarantee itself is pinned by a randomized test over
    ``winnow_sets``).

    Pure column expressions: substring windows + a Karp-Rabin base-131
    polynomial gram hash + per-window array_min — no UDF, no shuffle
    until the final summary aggregate. The polynomial (the paper's own
    hash family) is exact integer arithmetic both engines share, so the
    whole fingerprint pipeline is oracle-checked; swap in ``xxhash64``
    when gram hashing itself is the CPU bottleneck.
    """
    from .dedup import parallelize_scan

    sets = winnow_sets(parallelize_scan(load_table(spark, sf_dir, "documents")))
    return sets.select(
        "doc_id",
        "n_grams",
        F.size("fingerprints").alias("n_fingerprints"),
    )


TFIDF_TOP_K = 3


def t7_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-:data:`TFIDF_TOP_K` distinguishing terms per document.

    Shuffle-minimal shape: term frequency is one groupBy on
    (doc_id, token); document frequency comes from a **window over the
    tf rows** (count over partitionBy(token)) instead of a separate
    aggregate + self-join — one token-hash shuffle serves both df and
    the scoring join. The corpus size N joins in as a broadcast 1-row
    aggregate, never a driver-side collect. Final per-doc ranking is
    row_number ≤ k, which plans as WindowGroupLimit (map-side partial
    top-k), so the doc_id shuffle carries ≤ k rows per doc per
    partition.

    Scores are rounded to 4 decimals BEFORE ranking and tie-broken by
    token so Spark and the DuckDB oracle rank identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("token"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "token", "rnk", "tfidf")
    )


def t8_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of token bigrams that are
    duplicates (1 - distinct/total) — the Gopher-style rep-ngram
    quality gate. Pure per-row projection (zero shuffle at any scale);
    the bigram arrays exist only inside the row pipeline, never
    materialized.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    docs = docs.withColumn("__t", toks)  # named column: evaluate tokenize once
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__t") - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.element_at("__t", i), F.element_at("__t", i + 1)),
    )
    docs = docs.withColumn("__bi", bigrams)
    n_bi = F.size("__bi")
    n_uniq = F.size(F.array_distinct("__bi"))
    return docs.select(
        "doc_id",
        n_bi.alias("n_bigrams"),
        F.round(
            F.when(n_bi > 0, 1.0 - n_uniq / n_bi.cast("double")).otherwise(0.0), 4
        ).alias("rep_ratio"),
    )


#: BPE-ish pre-tokenizer: letter runs, SINGLE digits (as GPT-style
#: vocabularies split numbers), punctuation runs. The alternation uses
#: only syntax Java regex and RE2 share, so Spark and DuckDB tokenize
#: identically.
BPE_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]+"
WS_PATTERN = r"\S+"


def t9_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under the three tokenizers a data pipeline
    actually budgets with: whitespace splits (the cheap estimate),
    word tokens (the filter/stats unit), and a BPE-ish pre-tokenization
    (the LLM-cost proxy — letter runs, single digits, punctuation
    runs). One projection, one tiny aggregate; the per-document ratio
    between word and BPE counts is the fertility estimate."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    counted = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(WS_PATTERN), F.lit(0)))
        .alias("ws_tokens"),
        F.size(tokens_col(F.col("text"))).alias("word_tokens"),
        F.size(F.regexp_extract_all(low, F.lit(BPE_PATTERN), F.lit(0)))
        .alias("bpe_tokens"),
    )
    return counted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ws_tokens").cast("long")).alias("total_ws"),
        F.sum(F.col("word_tokens").cast("long")).alias("total_word"),
        F.sum(F.col("bpe_tokens").cast("long")).alias("total_bpe"),
        F.round(
            F.sum(F.col("bpe_tokens").cast("long"))
            / F.sum(F.col("word_tokens").cast("long")).cast("double"),
            4,
        ).alias("fertility"),
    )


#: PII patterns shared by the Spark query and the DuckDB oracle —
#: restricted to syntax Java regex and RE2 interpret identically.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\d{3}-\d{3}-\d{4}"


def t10_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrub step every training-data
    pipeline runs before tokenization. The fixture corpus is synthetic
    word-salad with no natural PII, so the query first plants
    deterministic emails/phone numbers into a derived column (same
    projection in the oracle — both engines scrub identical input),
    then counts matches and measures the redacted output.

    Pure JVM regex projections (regexp_count / regexp_replace) + one
    aggregate: no shuffle beyond the per-lang hash agg, scan-parallel
    at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text2",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" call 555-123-4567")),
        )
        .otherwise(F.col("text")),
    )
    scrubbed = planted.select(
        "doc_id",
        "lang",
        F.regexp_count(F.col("text2"), F.lit(EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(F.col("text2"), F.lit(PHONE_PATTERN)).alias("n_phones"),
        F.length(
            F.regexp_replace(
                F.regexp_replace(F.col("text2"), EMAIL_PATTERN, "[EMAIL]"),
                PHONE_PATTERN,
                "[PHONE]",
            )
        ).alias("redacted_len"),
    )
    return (
        scrubbed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_emails") + F.col("n_phones") > 0).cast("long")).alias(
                "docs_with_pii"
            ),
            F.sum(F.col("n_emails").cast("long")).alias("total_emails"),
            F.sum(F.col("n_phones").cast("long")).alias("total_phones"),
            F.sum(F.col("redacted_len").cast("long")).alias("redacted_chars"),
        )
        .orderBy("lang")
    )


_STOP_SQL = "', '".join(STOPWORDS)

T11_TOP_K = 50  # per-language model size (top-K bigrams by frequency)


def t11_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-proxy quality scoring with a corpus-derived model — the
    two-pass "train a tiny model on the corpus, score the corpus"
    shape (the cheap stand-in for perplexity filtering): pass 1 builds
    a per-language top-K bigram table; pass 2 scores every document by
    what fraction of its bigram occurrences the model covers. Unlike
    t2/t5 (static heuristics), the model here comes from the data.

    Scale shape: the bigram count is the canonical word-count shuffle;
    the per-language top-K ranks through ``WindowGroupLimit`` (each map
    task pre-trims to K rows per language before the exchange — w1's
    plan shape); the resulting model is K×n_langs rows and BROADCASTS
    back onto the exploded corpus, so scoring adds no corpus shuffle
    beyond the per-doc rollup. Coverage is integer basis points
    (``DIV``) end-to-end — no cross-engine float anywhere. Documents
    with fewer than two tokens carry no bigrams and drop out of both
    engines identically.
    """
    from .dedup import parallelize_scan

    # parallelize_scan (single-row-group fixture would run the
    # interpreted transform on one task) + the NAMED-column ladder
    # tokens → bigrams → explode(name): inlining the transform into the
    # generator lets CollapseProject re-evaluate the tokenizer per
    # element (measured 36 s → ~3 s at sf0.1; the d2/d9 shingle trap).
    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__t", tokens_col(F.col("text"))
    )
    t = F.col("__t")
    windows = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", t[i], t[i + 1]),
    )
    bigrams = F.when(F.size(t) >= 2, windows).otherwise(
        F.array().cast("array<string>")
    )
    # NOT cached, deliberately: the exploded stream feeds the model
    # build and the scoring join, but recomputing it is one cheap
    # codegen'd pass — while caching corpus×(tokens−1) exploded rows is
    # exactly the thing that cannot fit at 100 TB (and measured slower
    # locally than the recompute).
    ex = docs.withColumn("__bi", bigrams).select(
        "doc_id", "lang", F.explode("__bi").alias("bigram")
    )
    counts = ex.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("bigram"))
    model = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= T11_TOP_K)
        .select("lang", "bigram", F.lit(1).alias("__m"))
    )
    per_doc = (
        ex.join(F.broadcast(model), ["lang", "bigram"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bi"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0)).cast("long")).alias(
                "n_match"
            ),
        )
        .withColumn(
            "bp", F.expr("CAST((10000 * n_match) DIV n_bi AS INT)")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bi").alias("total_bigrams"),
            F.sum("n_match").alias("matched_bigrams"),
            F.min("bp").alias("min_doc_bp"),
            F.max("bp").alias("max_doc_bp"),
        )
        .withColumn(
            "coverage_bp",
            F.expr("CAST((10000 * matched_bigrams) DIV total_bigrams AS INT)"),
        )
        .select(
            "lang",
            "n_docs",
            "total_bigrams",
            "matched_bigrams",
            "coverage_bp",
            "min_doc_bp",
            "max_doc_bp",
        )
        .orderBy("lang")
    )


T12_BUCKETS = 10


def t12_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve (Heaps' law): distinct token types seen
    so far, per corpus decile in doc_id order — the saturation
    diagnostic a tokenizer-training pipeline reads before freezing a
    vocab (flattening curve ⇒ more data adds few new types).

    Distributed shape is the w9 first-seen rewrite lifted to tokens:
    a cumulative-distinct-over-order query is NOT a giant stateful
    window — each type's min(doc_id) is one hash-agg on token, new
    types bucket by that first appearance, and the only running sum is
    over T12_BUCKETS rows. Decile = doc_id·B DIV n_docs (dense ids);
    n_docs rides in as a broadcast 1-row cross join (the a5b pattern),
    never a driver-side collect.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("__toks"))
    n_docs = toks.agg(F.count(F.lit(1)).alias("__n"))
    # integer DIV, not double-divide-then-cast: Spark's double→long cast
    # truncates while DuckDB's rounds — DIV // is exact on both
    bucket = F.least(
        F.expr(f"(doc_id * {T12_BUCKETS}) DIV __n"),
        F.lit(T12_BUCKETS - 1).cast("long"),
    )
    per_doc = (
        toks.join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "__toks",
            F.size("__toks").alias("__n_toks"),
            bucket.alias("bucket"),
        )
    )
    doc_rollup = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__n_toks").cast("long")).alias("tokens_processed"),
    )
    firsts = (
        per_doc.select("bucket", "doc_id", F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        doc_rollup.join(firsts, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "tokens_processed",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .withColumn("vocab_to_date", F.sum("new_types").over(w))
        .orderBy("bucket")
    )


T13_VOCAB = 512  # top-V unigram LM vocabulary (broadcast-sized forever)


def t13_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the CCNet/KenLM perplexity-filter
    shape with the smallest model that still ranks documents: train a
    top-``T13_VOCAB`` unigram LM on the corpus itself, then charge each
    token ``-log2 p(token)`` bits, with out-of-vocabulary tokens at the
    count-1 floor (``log2 T`` bits). High mean-bits documents are
    rare-word soup / junk; low ones are templated boilerplate — the
    two tails a perplexity filter trims. Unlike t11 (bigram coverage
    ratio), the score is an actual code length in bits.

    Scale shape: the vocab is the word-count shuffle trimmed to a FIXED
    V through ``TakeOrderedAndProject`` (count desc, token asc — total
    order, both engines pick the same V rows), so the model BROADCASTS
    at any corpus size; the total-token count rides in as a broadcast
    1-row cross join (the t12 pattern). Scoring is then a broadcast
    left join on the exploded corpus — the only corpus-wide shuffle is
    the final per-language rollup. OOV rate is integer basis points
    (exact); mean bits is computed order-independently: each token's
    bits are ROUND-ed to 4 decimals (log2 doubles never sit on a
    4-decimal half boundary — that needs a dyadic rational, ~2^-47
    odds), summed as exact DECIMAL ten-thousandths, then divided with
    integer half-up arithmetic — no float summation order anywhere,
    unlike a raw SUM(double) whose accumulation order differs across
    engines.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    total = tok.agg(F.count(F.lit(1)).alias("__t"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(T13_VOCAB)
    )
    scored = (
        tok.join(F.broadcast(vocab), "token", "left")
        .join(F.broadcast(total))
        .withColumn("oov", F.col("c").isNull())
        .withColumn(
            "bits", F.log2(F.col("__t")) - F.log2(F.coalesce(F.col("c"), F.lit(1)))
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("oov").cast("long")).alias("__oov"),
            # exact integer ten-thousandths of a bit — order-independent
            F.sum(F.round(F.col("bits"), 4).cast("decimal(20,4)")).alias(
                "__bits"
            ),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("(10000 * __oov) DIV n_tokens").alias("oov_bp"),
            # half-up integer mean in 1e-4-bit units, floated once
            F.expr(
                "CAST((2 * CAST(__bits * 10000 AS BIGINT) + n_tokens)"
                " DIV (2 * n_tokens) AS DOUBLE) / 10000"
            ).alias("avg_bits_per_token"),
        )
        .orderBy("lang")
    )


def t15_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum — how many token TYPES fall in
    each log₂ occurrence band (band = ⌊log₂ c⌋: band 0 = hapaxes,
    band 1 = 2–3 occurrences, …). The count-of-counts vector is the
    input to Good–Turing smoothing and the standard corpus-health
    diagnostic: a fat hapax band means OCR noise / junk vocabulary, a
    missing low end means template spam. Log bands (not raw counts
    1..k) keep the report meaningful at any corpus size — raw-count
    buckets saturate into one tail row the moment the corpus grows.

    Cross-engine exactness: the band is ``length(bin(c)) - 1`` — the
    bit length of the integer count, an exact ⌊log₂⌋ with no float
    log anywhere (both engines render identical binary strings).

    Scale shape: two hash aggregations, both map-side-partial — the
    word-count shuffle (token-keyed), then a rollup keyed on the
    BOUNDED band (≤ 64 groups). Every output is an exact integer.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy(
            (F.length(F.bin(F.col("c"))) - 1)
            .cast("int")
            .alias("log2_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").alias("total_occurrences"),
            F.min("c").alias("min_count"),
            F.max("c").alias("max_count"),
        )
        .orderBy("log2_band")
    )


T17_TOP = 10  # report the top-N merge candidates


def t17_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge induction, iteration 1 — the statistic a
    tokenizer-training pipeline computes over the WHOLE corpus: for
    every adjacent symbol pair (symbols = characters at iteration 1),
    its corpus-weighted frequency; the argmax (ties → lexicographic)
    is the first learned merge. For each of the top-``T17_TOP``
    candidates the output also reports how many GREEDY left-to-right
    non-overlapping applications the merge would make (``'aaa'`` has
    two ``'aa'`` pair occurrences but only ONE application — computed
    exactly on both engines via replace-length arithmetic:
    ``(len - len(replace(tok, pair, ''))) DIV 2``).

    Scale shape: pair counting runs on the DISTINCT-token vocabulary
    weighted by token count, not on raw text — Heaps' law bounds the
    vocab sublinearly in corpus size (the t12 measurement), and the
    pair table itself is structurally ≤ |alphabet|² = 1,296 rows, so
    the global rank window and the broadcast of the top-N candidates
    back across the vocabulary are both bounded by construction.
    Multi-iteration training loops this same plan with the merge
    table re-broadcast per round (the fold-application step is
    Spark-side; pytest pins it) — each iteration is one bounded
    aggregate, never a corpus rewrite.

    All-integer output; full DuckDB replay oracle.
    """
    from .dedup import parallelize_scan as _pscan

    docs = _pscan(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )
    pairs = (
        vocab.filter(F.length("tok") >= 2)
        .select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("tok") - 1),
                    lambda i: F.col("tok").substr(i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
    )
    # global rank over a ≤|alphabet|²-row table: the single-partition
    # window is bounded structurally, not by corpus size
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    top = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= T17_TOP)
        .select("rnk", "pair", "pair_count")
    )
    applied = (
        vocab.crossJoin(F.broadcast(top.select("pair")))
        .withColumn(
            "m",
            F.expr(
                "cnt * ((length(tok) - length(replace(tok, pair, ''))) DIV 2)"
            ),
        )
        .groupBy("pair")
        .agg(F.sum("m").cast("long").alias("merges_applied"))
    )
    out = (
        top.join(applied, "pair")
        .select("rnk", "pair", "pair_count", "merges_applied")
        .orderBy("rnk")
    )
    from .util import materialize_release

    return materialize_release(spark, out, vocab)


def apply_bpe_merge(symbols: Column, a: str, b: str) -> Column:
    """Apply ONE learned merge (a, b) -> a+b to a symbol array with the
    standard greedy left-to-right scan, as a pure array fold (no UDF):
    append each symbol unless the accumulator ends with ``a`` and the
    incoming symbol is ``b``, in which case the tail is replaced by the
    merged symbol. Non-overlapping by construction (``a a a`` with
    merge (a,a) -> ``aa a``). The multi-iteration training loop
    re-broadcasts the merge table and reapplies this per round;
    iteration 1's statistics are the oracle-checked contract (t17)."""
    merged = F.lit(a + b)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_train(
    counts: DataFrame, batch: int, rounds: int, pool: int
) -> tuple[list[list[tuple[str, str, int]]], list[DataFrame]]:
    """The one BPE training loop behind t17b, t17c and t20: up to
    ``rounds`` rounds of count → select → apply (Sennrich et al. 2016)
    over ``counts``, a (tok, cnt) vocabulary whose other columns (t20's
    per-token keys) ride through every round. ``tok`` is split into a
    ``syms`` character array first.

    Per round, ONE pair-count aggregate over the vocabulary ranks the
    adjacent symbol pairs (zip_with on the symbol arrays, weighted by
    ``cnt``) and the driver collects the top ``pool`` in (count desc,
    lft, rgt) order — TakeOrderedAndProject, never a global sort. It
    greedily accepts up to ``batch`` of them whose symbols are PAIRWISE
    DISJOINT, and all accepted merges apply in ONE composed
    :func:`apply_bpe_merge` fold. ``batch=1, pool=1`` is the sequential
    argmax trainer (t17b, t20); a larger batch is the standard top-B
    batching that cuts driver round-trips by ~B× (t17c).

    Why disjointness: acceptance excludes any candidate whose left,
    right, OR MERGED symbol intersects the inputs-and-outputs of the
    already-accepted set. Input-disjointness alone is not enough: with
    symbols 'a','bc','abc','d' all live, ('a','bc') and ('abc','d')
    have disjoint INPUTS but the first merge's OUTPUT 'abc' feeds the
    second — its round-start count is stale and the fold becomes
    order-dependent. Excluding outputs too restores the invariant: no
    accepted merge can create or destroy instances of another accepted
    pair (an adjacency of (c,d) can only be disturbed by a replacement
    touching c or d, and no replacement produces c or d), so the
    batch's sequential fold equals applying each merge against its
    round-start counts.

    Scale shape: each round is one bounded aggregate over the
    DISTINCT-token vocabulary (Heaps-bounded, never raw text), and the
    driver holds only ``pool`` candidate rows per round — N·|vocab|
    total work, the cost shape of any production BPE trainer's
    counting phase. Each round's vocabulary is LOCAL-CHECKPOINTED so
    round r+1 never replays rounds 1..r. Checkpoint, not cache: a
    cache truncates execution but NOT the logical plan, so at N rounds
    the analyzer re-walks an r-deep plan every round (O(N²) driver
    time — measured 6.6 s/round and climbing at N=16, dead before
    N=64; with lineage truncation the marginal round is flat, see
    PLANS.md's t17b iteration-count table). Superseded rounds' blocks
    are reclaimed lazily: Dataset.unpersist is a silent no-op for a
    localCheckpoint's internally-persisted RDD, and the ContextCleaner
    frees blocks only when driver GC collects the RDD reference, so
    all N vocabulary copies may coexist for the run. That bounds
    memory at N·|vocab| rows, fine at fixture N; at production N,
    checkpoint every K rounds to a reliable store instead.

    Returns ``(merges, vocabs)``: per round the accepted (lft, rgt,
    pair_count) merges, and the checkpointed vocabulary before the
    first round followed by the one after each round. The loop stops
    early, with fewer rounds, once no symbol pair is left.
    """
    cur = counts.withColumn(
        "syms",
        F.transform(
            F.sequence(F.lit(1), F.length("tok")),
            lambda i: F.col("tok").substr(i, F.lit(1)),
        ),
    ).localCheckpoint()
    pair = F.zip_with(
        F.slice(F.col("syms"), F.lit(1), F.size("syms") - 1),
        F.slice(F.col("syms"), F.lit(2), F.size("syms") - 1),
        lambda a, b: F.struct(a.alias("lft"), b.alias("rgt")),
    )
    merges: list[list[tuple[str, str, int]]] = []
    vocabs = [cur]
    for _ in range(rounds):
        cands = (
            cur.filter(F.size("syms") >= 2)
            .select("cnt", F.explode(pair).alias("pr"))
            .groupBy("pr.lft", "pr.rgt")
            .agg(F.sum("cnt").cast("long").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("lft"), F.asc("rgt"))
            .limit(pool)
            .collect()
        )
        if not cands:  # fully merged vocabulary
            break
        accepted: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for c in cands:
            if len(accepted) == batch:
                break
            # inputs AND the would-be output must be fresh (docstring)
            if (
                c["lft"] in used
                or c["rgt"] in used
                or (c["lft"] + c["rgt"]) in used
            ):
                continue
            accepted.append((c["lft"], c["rgt"], int(c["pc"])))
            used.update((c["lft"], c["rgt"], c["lft"] + c["rgt"]))
        col = F.col("syms")
        for a, b, _pc in accepted:
            col = apply_bpe_merge(col, a, b)
        cur = cur.withColumn("syms", col).localCheckpoint()
        merges.append(accepted)
        vocabs.append(cur)
    return merges, vocabs


#: The boundary-wrapped symbol ``(x)`` of the BPE oracles.
_BPE_SYM = r"\(([a-z0-9]+)\)"


def _bpe_chain_sql(batch: int, rounds: int, pool: int) -> str:
    """The oracle twin of :func:`_bpe_train`: its rounds unrolled as
    chained ``MATERIALIZED`` CTEs ``v0`` … ``v{rounds}`` (tok, s, cnt)
    over a (tok, cnt) CTE named ``vc``, with the accepted merges of
    round r in ``accf{r}`` (lft, rgt, pc, ar). The statement must open
    with ``WITH RECURSIVE``.

    Symbol sequences are boundary-wrapped strings ``(a)(bc)…``, where
    DuckDB's left-to-right non-overlapping ``replace('(a)(b)' →
    '(ab)')`` is exactly the greedy fold: both boundaries of every
    symbol are delimited, so there is no cross-symbol false match and
    no separator consumption under self-overlap — ``a a a`` merges
    once on both engines. The greedy disjoint selection is replayed
    EXACTLY by a recursive CTE per round: walk the top-``pool`` ranked
    pairs in rank order carrying the used-symbol list, accept while
    symbols are unseen and the batch has room. The accepted merges
    apply as ``batch`` nested sequential ``replace``s
    (``COALESCE(…, chr(1))`` turns absent ranks into identity
    replaces; chr(1) cannot occur in a boundary-wrapped alnum string).
    A round with no pair left accepts nothing and leaves ``s`` as it
    was."""
    parts = [
        """v0 AS MATERIALIZED (
            SELECT tok, regexp_replace(tok, '(.)', '(\\1)', 'g') AS s, cnt
            FROM vc
        )"""
    ]
    for r in range(1, rounds + 1):
        ok = (
            "NOT (list_contains(s.used, r2.lft)"
            " OR list_contains(s.used, r2.rgt)"
            " OR list_contains(s.used, r2.lft || r2.rgt))"
            f" AND s.n_acc < {batch}"
        )
        apply_expr = "s"
        for k in range(1, batch + 1):
            pat = (
                f"(SELECT '(' || lft || ')(' || rgt || ')'"
                f" FROM accf{r} WHERE ar = {k})"
            )
            rep = (
                f"(SELECT '(' || lft || rgt || ')'"
                f" FROM accf{r} WHERE ar = {k})"
            )
            apply_expr = (
                f"replace({apply_expr}, COALESCE({pat}, chr(1)),"
                f" COALESCE({rep}, chr(1)))"
            )
        parts.append(
            f"""l{r} AS MATERIALIZED (
            SELECT tok, s, cnt,
                   regexp_extract_all(s, '{_BPE_SYM}', 1) AS li
            FROM v{r - 1}
        ), p{r} AS MATERIALIZED (
            SELECT li[u.i] AS lft, li[u.i + 1] AS rgt,
                   CAST(SUM(cnt) AS BIGINT) AS pc
            FROM l{r}, UNNEST(range(1, len(li))) u(i)
            GROUP BY 1, 2
        ), rk{r} AS MATERIALIZED (
            SELECT lft, rgt, pc,
                   CAST(row_number() OVER (ORDER BY pc DESC, lft, rgt)
                        AS INT) AS rnk
            FROM p{r} ORDER BY pc DESC, lft, rgt LIMIT {pool}
        ), sel{r} AS MATERIALIZED (
            SELECT 1 AS rnk, [lft, rgt, lft || rgt] AS used, 1 AS n_acc,
                   [struct_pack(lft := lft, rgt := rgt, pc := pc)] AS acc
            FROM rk{r} WHERE rnk = 1
            UNION ALL
            SELECT r2.rnk,
                   CASE WHEN {ok}
                        THEN list_concat(s.used,
                                         [r2.lft, r2.rgt, r2.lft || r2.rgt])
                        ELSE s.used END,
                   s.n_acc + CASE WHEN {ok} THEN 1 ELSE 0 END,
                   CASE WHEN {ok}
                        THEN list_append(s.acc, struct_pack(
                                 lft := r2.lft, rgt := r2.rgt,
                                 pc := r2.pc))
                        ELSE s.acc END
            FROM sel{r} s JOIN rk{r} r2 ON r2.rnk = s.rnk + 1
        ), fin{r} AS MATERIALIZED (
            SELECT acc FROM sel{r} ORDER BY rnk DESC LIMIT 1
        ), accu{r} AS (
            SELECT unnest(acc) AS m, generate_subscripts(acc, 1) AS ar
            FROM fin{r}
        ), accf{r} AS MATERIALIZED (
            SELECT m.lft AS lft, m.rgt AS rgt, m.pc AS pc,
                   CAST(ar AS INT) AS ar
            FROM accu{r}
        ), v{r} AS MATERIALIZED (
            SELECT tok, {apply_expr} AS s, cnt FROM l{r}
        )"""
        )
    return ", ".join(parts)


T17B_ITERS = 6  # BPE training rounds to unroll


def t17b_bpe_train_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training — t17 computes iteration 1's statistics;
    real tokenizer training is N rounds of count → select → apply
    with the growing merge table applied each round (Sennrich et al.
    2016). This runs ``T17B_ITERS`` one-merge rounds over the
    corpus-weighted vocabulary and returns the learned merge table with
    per-iteration accounting: the winning pair and its corpus
    frequency, how many greedy non-overlapping applications it made,
    the total symbol count after the round, and compression in basis
    points of the initial symbol count.

    It is the batched trainer with ``batch=1, pool=1`` — each round's
    disjoint selection is then the argmax — projected to one row per
    iteration (see :func:`_bpe_train` for the scale shape).

    Oracle: :func:`_t17c_sql` with the same parameters, projected the
    same way.
    """
    return _t17c_train(spark, sf_dir, 1, T17B_ITERS, 1).select(
        F.col("round").alias("iter"),
        "left_sym",
        "right_sym",
        "merged",
        "pair_count",
        F.col("round_merges_applied").alias("merges_applied"),
        "total_syms",
        "compression_bp",
    )


def _t17b_sql() -> str:
    return f"""
        SELECT round AS iter, left_sym, right_sym, merged, pair_count,
               round_merges_applied AS merges_applied, total_syms,
               compression_bp
        FROM ({_t17c_sql(1, T17B_ITERS, 1)}) ORDER BY iter"""


#: t17c batched-BPE geometry: merges accepted per round, rounds run by
#: the driver entry, and the ranked candidate pool each round's greedy
#: disjoint selection walks (bounded driver collect).
T17C_BATCH = 4
T17C_ROUNDS = 3
T17C_POOL = 4 * T17C_BATCH


def _t17c_train(
    spark: SparkSession,
    sf_dir: str,
    batch: int,
    rounds: int,
    pool: int,
) -> DataFrame:
    """The merge table :func:`_bpe_train` learns over the corpus
    vocabulary, one row per accepted merge with its round's accounting:
    the symbols the round's merges removed and the total left, also in
    basis points of the initial total. Every round's total comes from
    ONE aggregate over the union of the rounds' checkpointed
    vocabularies, so the driver collects one row per round once, not
    one aggregate per round. With ``batch=1`` the output equals t17b's
    merge table row-for-row (pinned by pytest)."""
    from functools import reduce

    from .dedup import parallelize_scan as _pscan

    docs = _pscan(load_table(spark, sf_dir, "documents"))
    merges, vocabs = _bpe_train(
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt")),
        batch,
        rounds,
        pool,
    )
    sized = reduce(
        DataFrame.unionByName,
        [
            v.select(
                F.lit(r).alias("r"), (F.col("cnt") * F.size("syms")).alias("n")
            )
            for r, v in enumerate(vocabs)
        ],
    )
    total = {
        row["r"]: int(row["n"])
        for row in sized.groupBy("r").agg(F.sum("n").alias("n")).collect()
    }
    return spark.createDataFrame(
        [
            (
                rnd,
                i,
                a,
                b,
                a + b,
                pc,
                total[rnd - 1] - total[rnd],
                total[rnd],
                (10000 * total[rnd]) // total[0],
            )
            for rnd, accepted in enumerate(merges, 1)
            for i, (a, b, pc) in enumerate(accepted, 1)
        ],
        "round int, rank_in_round int, left_sym string, right_sym string,"
        " merged string, pair_count long, round_merges_applied long,"
        " total_syms long, compression_bp long",
    )


def t17c_bpe_batch_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the batched trainer: ``T17C_ROUNDS`` rounds ×
    up to ``T17C_BATCH`` disjoint merges — the same learning budget
    shape as t17b in a third of the driver round-trips (measured in
    PLANS.md). See :func:`_bpe_train`."""
    return _t17c_train(spark, sf_dir, T17C_BATCH, T17C_ROUNDS, T17C_POOL)


def _t17c_sql(
    batch: int = T17C_BATCH,
    rounds: int = T17C_ROUNDS,
    pool: int = T17C_POOL,
) -> str:
    """t17c oracle: :func:`_bpe_chain_sql` over the corpus vocabulary,
    then each round's symbol total and one row per accepted merge."""
    totals = ", ".join(
        f"""t{r} AS MATERIALIZED (
            SELECT SUM(cnt * len(regexp_extract_all(s, '{_BPE_SYM}', 1)))
                AS tot FROM v{r}
        )"""
        for r in range(rounds + 1)
    )
    rows = ", ".join(
        f"""row{r} AS (
            SELECT CAST({r} AS INT) AS round, ar AS rank_in_round,
                   lft AS left_sym, rgt AS right_sym,
                   lft || rgt AS merged, pc AS pair_count,
                   CAST((SELECT tot FROM t{r - 1})
                        - (SELECT tot FROM t{r}) AS BIGINT)
                       AS round_merges_applied,
                   CAST((SELECT tot FROM t{r}) AS BIGINT) AS total_syms,
                   CAST((10000 * (SELECT tot FROM t{r}))
                        // (SELECT tot FROM t0) AS BIGINT)
                       AS compression_bp
            FROM accf{r}
        )"""
        for r in range(1, rounds + 1)
    )
    union = "\n            UNION ALL ".join(
        f"SELECT * FROM row{r}" for r in range(1, rounds + 1)
    )
    return f"""WITH RECURSIVE tok AS (
            SELECT unnest(regexp_extract_all(lower(text),
                                             '{TOKEN_PATTERN}')) AS tok
            FROM documents
        ), vc AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok
        ), {_bpe_chain_sql(batch, rounds, pool)}, {totals}, {rows}
        SELECT * FROM ({union}) ORDER BY round, rank_in_round"""


#: t22 flag thresholds, integer basis points (the Gopher/MassiveText
#: repetition filters' shape — Rae et al. 2021 App. A — retuned to the
#: fixture's token distribution so the driver row carries both flagged
#: and unflagged docs).
T22_DUP_BIGRAM_BP = 2000  # >20% of bigrams are repeats of earlier ones
T22_TOP_UNIGRAM_BP = 1000  # top token accounts for >10% of the doc


def t22_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition quality filter — the Gopher-family
    heuristic t2 doesn't cover: t2 scores surface features (length,
    stopwords, alpha ratio) and the dedup family scores CROSS-document
    duplication; degenerate generated/boilerplate text is repetitive
    WITHIN one document (the same bigram looping, one token dominating)
    and passes both. Per doc: ``dup_bigram_bp`` = basis points of
    bigram instances that repeat an earlier bigram of the SAME doc
    ((total − distinct) · 10⁴ DIV total) and ``top_unigram_bp`` = the
    modal token's share; a doc flags when either exceeds its
    threshold. Output: per-lang rollup — docs, flagged, flag rate,
    integer-mean bps, and the flagged-set id checksum.

    Scale shape: tokens are projected ONCE into a named column (the
    CollapseProject discipline), and BOTH gram granularities ride ONE
    tagged explode — a (kind, gram) struct stream through a single
    (doc, kind, gram)-keyed hash-agg with map-side combine, then the
    per-doc pivot — so the corpus is tokenized and scanned ONCE where
    the two-branch formulation paid the regex twice. Locally the win
    is modest (25.8 s → 22.7 s at 500 K docs — the gram shuffle, not
    the tokenize, bounds a 32-core box), but at 100 TB one corpus scan
    versus two is the difference that matters. The rollup is
    bounded by |langs|. Nothing quadratic, no windows over raw tokens,
    no driver-side state: the same shape as a production quality scan
    over 100 TB (one pass, two narrow shuffles on the doc key).

    All ratios are integer basis points (``(10⁴·a) DIV b``) so both
    engines agree bit-wise; the oracle replays bigram construction
    with the same list arithmetic.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__t", tokens_col(F.col("text"))
    )
    t = F.col("__t")
    grams = F.concat(
        F.transform(
            t, lambda x: F.struct(F.lit("u").alias("k"), x.alias("g"))
        ),
        F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.struct(
                    F.lit("b").alias("k"),
                    F.concat_ws(" ", t[i], t[i + 1]).alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<k:string,g:string>>")),
    )
    per_doc = (
        docs.select("doc_id", "lang", F.explode(grams).alias("gr"))
        .groupBy("doc_id", "lang", "gr.k", "gr.g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.when(F.col("k") == "u", F.col("c"))).alias("n_toks"),
            F.max(F.when(F.col("k") == "u", F.col("c"))).alias("top_c"),
            F.sum(F.when(F.col("k") == "b", F.col("c"))).alias("bi_total"),
            F.count(F.when(F.col("k") == "b", F.lit(1))).alias(
                "bi_distinct"
            ),
        )
    )
    scored = (
        docs.select("doc_id", "lang")
        .join(per_doc.drop("lang"), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.expr(
                "CASE WHEN bi_total > 0 THEN"
                " (10000 * (bi_total - bi_distinct)) DIV bi_total"
                " ELSE 0 END"
            ).alias("dup_bigram_bp"),
            F.expr(
                "CASE WHEN n_toks > 0 THEN (10000 * top_c) DIV n_toks"
                " ELSE 0 END"
            ).alias("top_unigram_bp"),
        )
        .withColumn(
            "flagged",
            (
                (F.col("dup_bigram_bp") > T22_DUP_BIGRAM_BP)
                | (F.col("top_unigram_bp") > T22_TOP_UNIGRAM_BP)
            ).cast("long"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum("dup_bigram_bp").alias("__sdb"),
            F.sum("top_unigram_bp").alias("__stb"),
            F.sum(F.col("flagged") * F.col("doc_id"))
            .cast("long")
            .alias("flagged_id_checksum"),
        )
        .select(
            "lang",
            "n_docs",
            "n_flagged",
            F.expr("(10000 * n_flagged) DIV n_docs").alias("flag_bp"),
            F.expr("__sdb DIV n_docs").cast("long").alias("avg_dup_bigram_bp"),
            F.expr("__stb DIV n_docs")
            .cast("long")
            .alias("avg_top_unigram_bp"),
            "flagged_id_checksum",
        )
        .orderBy("lang")
    )


T18_BIGRAMS = 4096  # top-B bigram table (broadcast-sized forever)
T18_BACKOFF = 2.5  # 1/0.4 — the "stupid backoff" discount as a penalty


def t18_backoff_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram surprisal — the order-2 upgrade of t13's
    unigram code length, the shape CCNet/Gopher-style quality filters
    actually run (KenLM is backoff n-grams; "stupid backoff" is the
    web-scale variant that skips normalization): each token TRANSITION
    (w1→w2) costs ``-log2(c(w1,w2)/c(w1))`` bits when the bigram is in
    the top-``T18_BIGRAMS`` table, else it backs off to the unigram
    code length plus a constant ``log2(2.5)`` discount penalty (t13's
    model: top-``T13_VOCAB`` vocab, count-1 OOV floor). Documents are
    charged per transition; the first token of each document carries
    no transition (documented start-of-text simplification).

    Scale shape: BOTH models are fixed-size-truncated through total
    orders (count desc, keys asc → ``TakeOrderedAndProject``, both
    engines pick identical rows) so they broadcast at any corpus size;
    the bigram table picks up its left-context counts by broadcasting
    INTO the corpus-wide unigram aggregate (B-row output, no unigram
    shuffle beyond its own agg). Scoring is broadcast left joins on
    the exploded transition stream; the only corpus-wide shuffles are
    the two model count-aggs and the per-language rollup. Bits use
    t13's exactness machinery: ROUND(bits, 4) into DECIMAL
    ten-thousandths, integer half-up mean — no float summation order
    anywhere.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", tokens_col(F.col("text")).alias("__toks")
    )
    uni = (
        toks.select(F.explode("__toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("__t"))
    vocab = (
        uni.orderBy(F.desc("c"), F.asc("token"))
        .limit(T13_VOCAB)
        .select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    )
    trans = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - 2),
                    lambda i: F.struct(
                        F.col("__toks")[i].alias("w1"),
                        F.col("__toks")[i + 1].alias("w2"),
                    ),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.w1", "bg.w2")
    big = (
        trans.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(T18_BIGRAMS)
    )
    # left-context counts for the kept bigrams: broadcast the B-row
    # table INTO the unigram agg — B rows out, no unigram shuffle
    big_model = F.broadcast(big).join(
        uni.select(F.col("token").alias("w1"), F.col("c").alias("c1")),
        "w1",
    )
    scored = (
        trans.join(F.broadcast(big_model), ["w1", "w2"], "left")
        .join(F.broadcast(vocab), "w2", "left")
        .join(F.broadcast(total))
        .withColumn("hit", F.col("c12").isNotNull())
        .withColumn(
            "bits",
            F.when(
                F.col("hit"), F.log2("c1") - F.log2("c12")
            ).otherwise(
                F.log2(F.lit(T18_BACKOFF))
                + F.log2("__t")
                - F.log2(F.coalesce(F.col("c2"), F.lit(1)))
            ),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(F.col("hit").cast("long")).alias("__hits"),
            F.sum(F.round(F.col("bits"), 4).cast("decimal(20,4)")).alias(
                "__bits"
            ),
        )
        .select(
            "lang",
            "n_docs",
            "n_transitions",
            F.expr("(10000 * __hits) DIV n_transitions").alias("hit_bp"),
            F.expr(
                "CAST((2 * CAST(__bits * 10000 AS BIGINT) + n_transitions)"
                " DIV (2 * n_transitions) AS DOUBLE) / 10000"
            ).alias("avg_bits_per_transition"),
        )
        .orderBy("lang")
    )


#: t19 hashed-feature linear classifier: bucket count, the Knuth
#: multiplicative constant that stands in for trained weights, and the
#: modulus/shift that center weights on zero (w ∈ [-998, +998]). A
#: real deployment broadcasts a trained float[BUCKETS] weight array;
#: deriving w arithmetically from the bucket id keeps the model
#: deterministic AND gives the oracle a closed form — the Spark-side
#: plumbing (hash → bucket → weight → fold) is exactly the production
#: shape either way.
T19_BUCKETS = 512
T19_MULT = 2654435761
T19_MOD = 1997
T19_SHIFT = 998


def t19_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped model-based quality filtering — the third rung
    of the quality ladder after t2's static heuristics and t11's
    corpus-derived coverage model: a LINEAR classifier over hashed
    bag-of-features (unigrams + bigrams, the fastText recipe) scores
    every document, and score ≥ 0 is the keep gate (the GPT-3/CCNet
    "classify against a quality reference" filtering step). Output:
    per-source keep rate and exact score mass.

    Scale shape: scoring is a PURE PROJECTION — features hash to
    ``T19_BUCKETS`` buckets (the shared md5 idiom, so DuckDB replays
    it), the weight lookup is arithmetic on the bucket id (see the
    constant block above), and the per-doc score is one array fold.
    Zero corpus shuffle: the only exchange is the \\|sources\\|-row
    rollup. At 100 TB this is exactly one codegen'd pass over text.

    Cross-engine determinism: all-integer weights and sums; the only
    division is non-negative basis-point ``DIV``.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents")).withColumn(
        "__t", tokens_col(F.col("text"))
    )
    t = F.col("__t")
    # named-column ladder (the t11/d2 inlining trap): tokens and the
    # feature array are each computed once per row
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(" ", t[i], t[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def weight(f):
        # 3 hex chars = 12 md5 bits — all the entropy a 512-bucket
        # modulus consumes, at a third of the 15-char conv parse cost
        bucket = (
            F.conv(F.substring(F.md5(f), 1, 3), 16, 10).cast("long")
            % T19_BUCKETS
        )
        return (bucket * T19_MULT) % T19_MOD - T19_SHIFT

    feats = F.col("__f")
    score = F.aggregate(
        feats, F.lit(0).cast("long"), lambda acc, f: acc + weight(f)
    )
    scored = docs.withColumn("__f", F.concat(t, bigrams)).select(
        "doc_id",
        "source",
        F.size("__f").cast("long").alias("n_feats"),
        score.alias("score"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("score") >= 0).cast("long")).alias("n_keep"),
            F.sum("score").alias("score_sum"),
            F.sum("n_feats").alias("n_feats_sum"),
        )
        .withColumn(
            "keep_rate_bp", F.expr("(10000 * n_keep) DIV greatest(n_docs, 1)")
        )
        .orderBy("source")
    )


T20_ITERS = T17B_ITERS  # encode with exactly the table t17b trains


def t20_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the learned BPE merge table — the
    inference half t17/t17b train for, and the stage a real pipeline
    runs corpus-wide before mixture math (token budgets, packing,
    per-source fertility audits all count LEARNED units, not
    whitespace words). Trains ``T20_ITERS`` merges exactly as t17b
    does, then reports per source: words, BPE units, characters,
    fertility (units per word, bp) and mean unit length (chars per
    unit, bp) — the table that decides whether a tokenizer underserves
    a source (fertility drift is the standard multilingual-equity
    audit).

    The scale insight that makes corpus-wide encoding cheap: BPE
    merges NEVER cross token boundaries, so the corpus is encoded by
    encoding each DISTINCT token once — :func:`_bpe_train` runs over
    the Heaps-bounded vocabulary with ``tok`` carried through the
    rounds, and the corpus-sized side is ONE (source, tok) count join
    against that broadcast vocabulary. Raw text is scanned once; no
    merge ever touches a document row. If the pair table exhausts
    before ``T20_ITERS`` merges the operator raises rather than
    silently encoding with a shorter table.

    Oracle: t17b's :func:`_bpe_chain_sql`, then the same vocabulary
    join and per-source integer arithmetic.
    """
    from .dedup import parallelize_scan as _pscan

    docs = _pscan(load_table(spark, sf_dir, "documents"))
    per_src = (
        docs.select(
            "source", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    merges, vocabs = _bpe_train(
        per_src.groupBy("tok").agg(F.sum("cnt").alias("cnt")),
        1,
        T20_ITERS,
        1,
    )
    if len(merges) < T20_ITERS:
        raise RuntimeError(
            "t20: pair table exhausted before"
            f" {T20_ITERS} merges — reduce T20_ITERS"
        )
    units = vocabs[-1].select(
        "tok",
        F.size("syms").alias("units"),
        F.length("tok").alias("chars"),
    )
    return (
        per_src.join(F.broadcast(units), "tok")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("units"))
            .cast("long")
            .alias("n_units"),
            F.sum(F.col("cnt") * F.col("chars"))
            .cast("long")
            .alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_units",
            "n_chars",
            F.expr("(10000 * n_units) DIV greatest(n_words, 1)").alias(
                "fertility_bp"
            ),
            F.expr("(10000 * n_chars) DIV greatest(n_units, 1)").alias(
                "chars_per_unit_bp"
            ),
        )
        .orderBy("source")
    )


def _t20_sql() -> str:
    """t20 oracle: the trainer's :func:`_bpe_chain_sql` over the
    corpus vocabulary, then the vocabulary join and per-source integer
    stats."""
    return f"""WITH RECURSIVE tok AS (
            SELECT source,
                   unnest(regexp_extract_all(lower(text),
                                             '{TOKEN_PATTERN}')) AS tok
            FROM documents
        ), pst AS MATERIALIZED (
            SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tok GROUP BY 1, 2
        ), vc AS (
            SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pst GROUP BY tok
        ), {_bpe_chain_sql(1, T20_ITERS, 1)}, enc AS (
            SELECT tok,
                   CAST(len(regexp_extract_all(s, '{_BPE_SYM}', 1))
                        AS BIGINT) AS units,
                   CAST(len(tok) AS BIGINT) AS chars
            FROM v{T20_ITERS}
        )
        SELECT p.source,
               CAST(SUM(p.cnt) AS BIGINT) AS n_words,
               CAST(SUM(p.cnt * e.units) AS BIGINT) AS n_units,
               CAST(SUM(p.cnt * e.chars) AS BIGINT) AS n_chars,
               CAST((10000 * SUM(p.cnt * e.units))
                    // GREATEST(SUM(p.cnt), 1) AS BIGINT) AS fertility_bp,
               CAST((10000 * SUM(p.cnt * e.chars))
                    // GREATEST(SUM(p.cnt * e.units), 1) AS BIGINT)
                   AS chars_per_unit_bp
        FROM pst p JOIN enc e USING (tok)
        GROUP BY p.source ORDER BY p.source
    """


T21_SIZE = 64  # tokens per chunk — the RAG/pretraining context window
T21_STRIDE = 48  # chunk step; SIZE − STRIDE = 16 tokens of overlap


def t21_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document CHUNKING — the transformation every RAG index and most
    pretraining packers run first: split each document into overlapping
    ``T21_SIZE``-token windows at ``T21_STRIDE``-token steps, emitting
    one provenance-carrying row per chunk (doc_id, chunk ordinal,
    token start offset, chunk length, content fingerprint). Overlap
    (SIZE − STRIDE tokens) is what keeps answers that straddle a
    boundary retrievable; the fingerprint is the d1 identity at chunk
    granularity, feeding chunk-level dedup downstream.

    Scale shape: a pure projection + generate — tokenize once, explode
    the per-doc start-offset sequence, slice the token array per
    start. Zero key shuffles, zero joins, no global sort
    (plan-asserted: no hash or range exchange; the only Exchange is
    parallelize_scan's fixture-only round-robin fan-out): output
    parallelism is the scan's, so this runs at full width on any
    corpus size; both the driver and oracle compares are
    order-insensitive, so unordered output — the production write
    contract — is also the test contract.

    Chunk math: starts are 1, 1+STRIDE, 1+2·STRIDE, … ≤ n, so every
    token lands in ≥1 chunk, the final chunk may be short (slice
    clamps at n on both engines — verified), and chunk_id =
    (start−1)/STRIDE is pure arithmetic — no window function, no
    ordinality dependence, identical cross-engine.
    """
    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    per = (
        docs.withColumn("__toks", tokens_col(F.col("text")))
        .withColumn("n", F.size("__toks"))
        .filter(F.col("n") > 0)
    )
    chunks = per.select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(1), F.col("n"), F.lit(T21_STRIDE))
        ).alias("start_tok"),
    ).select(
        "doc_id",
        ((F.col("start_tok") - 1) / T21_STRIDE)
        .cast("long")
        .alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.slice("__toks", F.col("start_tok"), F.lit(T21_SIZE)).alias("c"),
    )
    # No orderBy: a global sort would add the operator's ONLY exchange,
    # and both the driver compare and the oracle compare are
    # order-insensitive — unordered output is the production contract.
    return chunks.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size("c").cast("long").alias("n_chunk_toks"),
        F.md5(F.concat_ws(" ", "c")).alias("chunk_fp"),
    )


#: t23 char-n-gram language-ID geometry: gram width, model size per
#: language (top-K grams by count — deterministic total order), and
#: the 1e-4-log2 integer unit scale (the e18 floor-quantization idiom:
#: log2 over exact integers, identical doubles in the Python fit and
#: the DuckDB oracle, floor has no rounding-mode ambiguity).
T23_GRAM = 3
T23_TOP_GRAMS = 200
T23_UNIT = 10_000


def t23_pred_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t23's shared scoring machinery — THE model swap point (round
    16, VERDICT r15 #6): train the per-language trigram NB model from
    the corpus's own labels and return the per-doc prediction frame
    ``(doc_id, true_lang, pred_lang)`` for every document long enough
    to carry one gram. Both t23 (confusion rollup) and t24 (predicted-
    language dataset card) compose this frame, so swapping the fit
    literal for fastText/CLD3 tables here retargets every downstream
    consumer at once — the scoring PLAN (wide broadcast model, one
    gram-stream join, one doc-keyed aggregate) is unchanged by design.
    Plan/exactness contract: see ``t23_char_ngram_langid``.
    """
    import math

    from pyspark.sql import Window

    from .dedup import parallelize_scan

    docs = parallelize_scan(load_table(spark, sf_dir, "documents"))
    low = F.lower(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(low) - (T23_GRAM - 1)),
        lambda i: low.substr(i, F.lit(T23_GRAM)),
    )
    base = docs.filter(F.length(low) >= T23_GRAM).select(
        "doc_id", F.col("lang").alias("true_lang"), grams.alias("__g")
    )
    # PASS 1 — train: bounded (lang, gram) count table -> top-K per
    # lang (count desc, gram asc: a total order) -> bounded collect
    w = Window.partitionBy("lang").orderBy(
        F.desc("c"), F.asc("g")
    )
    top = (
        base.select(F.col("true_lang").alias("lang"), F.explode("__g").alias("g"))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= T23_TOP_GRAMS)
        .select("lang", "g", "c")
        .collect()
    )
    tot: dict[str, int] = {}
    for r in top:
        tot[r["lang"]] = tot.get(r["lang"], 0) + int(r["c"])

    def unit(c: int, lang: str) -> int:
        return math.floor(
            (math.log2(c + 1) - math.log2(tot[lang] + T23_TOP_GRAMS))
            * float(T23_UNIT)
        )

    # PASS 2 — score every doc against every language model through a
    # WIDE broadcast model: one row per gram in ANY language's top-K,
    # one weight column per language (absent (gram, lang) pairs carry
    # that language's OOV floor, so the join answers all |langs|
    # scores at once). The gram stream meets the model ONCE — |grams|
    # joined rows instead of |grams|·|langs| — and a single doc-keyed
    # aggregate (map-side combine) produces all scores; argmax is an
    # array_max over (score, lang) structs, ties to the larger lang
    # exactly as the oracle's ORDER BY score DESC, lang DESC. (The
    # first-cut per-(doc, lang) shape measured 134 s at 500 K docs;
    # this one-join/one-agg shape is the plan the volume asks for.)
    langs = sorted(tot)
    oovs = [unit(0, lg) for lg in langs]
    wide: dict[str, list[int | None]] = {}
    for r in top:
        wide.setdefault(r["g"], [None] * len(langs))[
            langs.index(r["lang"])
        ] = unit(int(r["c"]), r["lang"])
    model = spark.createDataFrame(
        [
            (g, *[w if w is not None else oovs[i] for i, w in enumerate(v)])
            for g, v in sorted(wide.items())
        ],
        "g string, " + ", ".join(f"w{i} long" for i in range(len(langs))),
    )
    scored = (
        base.select("doc_id", "true_lang", F.explode("__g").alias("g"))
        .join(F.broadcast(model), "g", "left")
        .groupBy("doc_id", "true_lang")
        .agg(
            *[
                F.sum(F.coalesce(F.col(f"w{i}"), F.lit(oovs[i])))
                .cast("long")
                .alias(f"s{i}")
                for i in range(len(langs))
            ]
        )
    )
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"s{i}").alias("score"), F.lit(lg).alias("lang")
                )
                for i, lg in enumerate(langs)
            ]
        )
    )
    return scored.select(
        "doc_id", "true_lang", best["lang"].alias("pred_lang")
    )


def t23_char_ngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram LANGUAGE-ID with a measured confusion matrix —
    the brief's "language-ID (n-gram heuristic)" as an actual
    classifier, not just t5's marker-scoring plumbing: per language a
    naive-Bayes unigram model over its ``T23_TOP_GRAMS`` most frequent
    character trigrams (trained from the corpus's own labels — the
    self-training shape; swap the fit literal for fastText/CLD3 tables
    in production, the scoring plan is unchanged), every document
    scored against every language model and argmax-assigned, and the
    output is the (true, predicted) CONFUSION MATRIX with per-true-
    language share — accuracy as DATA, so a corpus whose text carries
    no language signal (this synthetic fixture) is VISIBLE in the
    driver row rather than assumed away.

    Exactness: gram weights are integer 1e-4-log2 units —
    ``floor((log2(c+1) − log2(tot+K))·10⁴)`` fitted DRIVER-SIDE from
    the collected ≤ K·|langs| model rows (the x15/e18 fit-literal
    discipline); out-of-vocabulary grams pay the per-language floor
    weight (c=0). SAME-LIBM ASSUMPTION (ADVICE r15): log2 is not
    correctly rounded, so Python-fit and DuckDB-replayed weights agree
    only because both bind the same platform libm — a foreign-libm
    oracle could flip a ``floor(x·10⁴)`` boundary by 1 unit (known
    boundary artifact, not a logic bug). ``tests/test_r16_operators.py``
    proves no fixture fit input sits within 1e-9 of a floor boundary
    on this host. Per-doc scores are pure integer sums; argmax ties
    break to the lexicographically LARGEST language on both engines
    (Spark ``max(struct(score, lang))`` ≡ oracle ``ORDER BY score
    DESC, lang DESC LIMIT 1``). Documents shorter than one gram carry
    no evidence and are excluded on both sides.

    Scale shape — two corpus scans (the e18 pattern): (1) TRAIN: gram
    explode → map-side-combined (lang, gram) count → per-lang top-K
    through a window over the bounded count table → bounded collect →
    integer weight fit; (2) SCORE: gram explode × broadcast |langs|-row
    dim → broadcast left join against the ≤ K·|langs|-row model →
    per-(doc, lang) partial sums (map-side combine) → per-doc argmax →
    ≤ |langs|² confusion rollup with a broadcast per-true-lang total
    for the share. No corpus-sized shuffle except the two doc-keyed
    aggregates; the model never leaves broadcast size.
    """
    # Train + score through the shared swap point (round 16: the
    # machinery moved to t23_pred_frame so t24's card composes the
    # same per-doc predictions — column pruning drops doc_id here).
    pred = t23_pred_frame(spark, sf_dir).select("true_lang", "pred_lang")
    conf = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = conf.groupBy("true_lang").agg(
        F.sum("n_docs").cast("long").alias("__t")
    )
    return (
        conf.join(F.broadcast(totals), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n_docs",
            F.expr("CAST((10000 * n_docs) DIV __t AS BIGINT)").alias(
                "share_bp"
            ),
        )
        .orderBy("true_lang", "pred_lang")
    )


def _t23_pred_cte() -> str:
    """The oracle twin of :func:`t23_pred_frame`: the CTE chain from
    raw documents through per-doc ``pred (doc_id, true_lang,
    pred_lang)``. STRING-SHARED by t23's confusion oracle and t24's
    card oracle (the x11/x16 anti-drift discipline — two oracles that
    replay the same machinery share the literal SQL, so they cannot
    drift apart silently)."""
    return f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id, lang AS true_lang,
                   list_transform(
                       range(1, LENGTH(lower(text)) - {T23_GRAM - 1} + 1),
                       i -> substr(lower(text), CAST(i AS INT), {T23_GRAM})
                   ) AS g
            FROM documents WHERE LENGTH(lower(text)) >= {T23_GRAM}
        ), cnt AS MATERIALIZED (
            SELECT true_lang AS lang, gg AS g,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT true_lang, unnest(g) AS gg FROM base)
            GROUP BY 1, 2
        ), top AS MATERIALIZED (
            SELECT lang, g, c FROM (
                SELECT lang, g, c, ROW_NUMBER() OVER (
                    PARTITION BY lang ORDER BY c DESC, g ASC) AS r
                FROM cnt
            ) WHERE r <= {T23_TOP_GRAMS}
        ), tot AS MATERIALIZED (
            SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM top GROUP BY 1
        ), model AS MATERIALIZED (
            -- the exact fit arithmetic: log2 of exact integers,
            -- subtract, scale, FLOOR (mirrors the driver-side Python)
            SELECT top.lang, top.g,
                   CAST(FLOOR((log2(top.c + 1)
                             - log2(tot.t + {T23_TOP_GRAMS}))
                              * {T23_UNIT}) AS BIGINT) AS w
            FROM top JOIN tot USING (lang)
        ), oov AS MATERIALIZED (
            SELECT lang, CAST(FLOOR((log2(1)
                             - log2(t + {T23_TOP_GRAMS}))
                              * {T23_UNIT}) AS BIGINT) AS oov_w
            FROM tot
        ), dg AS MATERIALIZED (
            SELECT doc_id, true_lang, gg AS g
            FROM (SELECT doc_id, true_lang, unnest(g) AS gg FROM base)
        ), sc AS MATERIALIZED (
            SELECT d.doc_id, d.true_lang, o.lang,
                   CAST(SUM(COALESCE(m.w, o.oov_w)) AS BIGINT) AS score
            FROM dg d CROSS JOIN oov o
            LEFT JOIN model m ON m.g = d.g AND m.lang = o.lang
            GROUP BY 1, 2, 3
        ), pred AS MATERIALIZED (
            SELECT doc_id, true_lang, lang AS pred_lang FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, lang DESC
                ) AS r FROM sc
            ) WHERE r = 1
        )"""


def _t23_oracle() -> str:
    return _t23_pred_cte() + """, conf AS MATERIALIZED (
            SELECT true_lang, pred_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM pred GROUP BY 1, 2
        )
        SELECT c.true_lang, c.pred_lang, c.n_docs,
               CAST((10000 * c.n_docs) // t.t AS BIGINT) AS share_bp
        FROM conf c JOIN (
            SELECT true_lang, CAST(SUM(n_docs) AS BIGINT) AS t
            FROM conf GROUP BY 1
        ) t USING (true_lang)
        ORDER BY true_lang, pred_lang
    """


QUERIES = {
    "t23_char_ngram_langid": t23_char_ngram_langid,
    "t22_intra_doc_repetition": t22_intra_doc_repetition,
    "t21_chunk_documents": t21_chunk_documents,
    "t20_bpe_encode_corpus": t20_bpe_encode_corpus,
    "t19_quality_classifier": t19_quality_classifier,
    "t18_backoff_surprisal": t18_backoff_surprisal,
    "t17_bpe_pair_stats": t17_bpe_pair_stats,
    "t17b_bpe_train_iters": t17b_bpe_train_iters,
    "t17c_bpe_batch_train": t17c_bpe_batch_train,
    "t1_token_stats": t1_token_stats,
    "t2_quality_score": t2_quality_score,
    "t3_fingerprint": t3_fingerprint,
    "t4_token_index_lookup": t4_token_index_lookup,
    "t5_lang_profile": t5_lang_profile,
    "t6_winnow_fingerprints": t6_winnow_fingerprints,
    "t7_tfidf_top_terms": t7_tfidf_top_terms,
    "t9_token_counts": t9_token_counts,
    "t8_repetition_ratio": t8_repetition_ratio,
    "t10_pii_redact": t10_pii_redact,
    "t11_bigram_coverage": t11_bigram_coverage,
    "t12_vocab_growth": t12_vocab_growth,
    "t13_unigram_logprob": t13_unigram_logprob,
    "t15_freq_spectrum": t15_freq_spectrum,
}

# DuckDB twin of t6's gram hash: same base-131 powers, same padded
# 1-based positions — literal-for-literal identical integer arithmetic.
_WINNOW_HASH_SQL = " + ".join(
    f"CAST(ord(substr(pad, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
    for j, p in enumerate(_WINNOW_POWS)
)

ORACLE = {
    "t23_char_ngram_langid": _t23_oracle(),
    "t22_intra_doc_repetition": f"""
        WITH toked AS (
            SELECT doc_id, lang,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
            FROM documents
        ), u1 AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM toked)
            GROUP BY 1, 2
        ), uni AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
                   CAST(MAX(c) AS BIGINT) AS top_c
            FROM u1 GROUP BY 1
        ), b1 AS (
            SELECT doc_id, bg, COUNT(*) AS c
            FROM (
                SELECT doc_id, t[u.i] || ' ' || t[u.i + 1] AS bg
                FROM toked, UNNEST(range(1, len(t))) u(i)
                WHERE len(t) >= 2
            ) GROUP BY 1, 2
        ), bi AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bi_total,
                   CAST(COUNT(*) AS BIGINT) AS bi_distinct
            FROM b1 GROUP BY 1
        ), scored AS (
            SELECT d.doc_id, d.lang,
                   CASE WHEN bi_total > 0
                        THEN (10000 * (bi_total - bi_distinct)) // bi_total
                        ELSE 0 END AS dup_bigram_bp,
                   CASE WHEN n_toks > 0
                        THEN (10000 * top_c) // n_toks
                        ELSE 0 END AS top_unigram_bp
            FROM toked d LEFT JOIN uni USING (doc_id)
                 LEFT JOIN bi USING (doc_id)
        ), fl AS (
            SELECT *,
                   CASE WHEN dup_bigram_bp > {T22_DUP_BIGRAM_BP}
                          OR top_unigram_bp > {T22_TOP_UNIGRAM_BP}
                        THEN 1 ELSE 0 END AS flagged
            FROM scored
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(flagged) AS BIGINT) AS n_flagged,
               CAST((10000 * SUM(flagged)) // COUNT(*) AS BIGINT)
                   AS flag_bp,
               CAST(SUM(dup_bigram_bp) // COUNT(*) AS BIGINT)
                   AS avg_dup_bigram_bp,
               CAST(SUM(top_unigram_bp) // COUNT(*) AS BIGINT)
                   AS avg_top_unigram_bp,
               CAST(SUM(flagged * doc_id) AS BIGINT)
                   AS flagged_id_checksum
        FROM fl GROUP BY lang ORDER BY lang
    """,
    "t21_chunk_documents": f"""
        WITH per AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
            FROM documents
        ), sized AS (
            SELECT doc_id, toks, len(toks) AS n
            FROM per WHERE len(toks) > 0
        ), starts AS (
            SELECT doc_id, toks, n, CAST(s.start_tok AS BIGINT) AS start_tok
            FROM sized, UNNEST(range(1, n + 1, {T21_STRIDE}))
                 AS s(start_tok)
        )
        SELECT doc_id,
               CAST((start_tok - 1) // {T21_STRIDE} AS BIGINT) AS chunk_id,
               start_tok,
               CAST(len(list_slice(toks, CAST(start_tok AS INT),
                                   CAST(start_tok AS INT) + {T21_SIZE - 1}))
                    AS BIGINT) AS n_chunk_toks,
               md5(array_to_string(
                   list_slice(toks, CAST(start_tok AS INT),
                              CAST(start_tok AS INT) + {T21_SIZE - 1}),
                   ' ')) AS chunk_fp
        FROM starts
        ORDER BY doc_id, chunk_id
    """,
    "t19_quality_classifier": f"""
        WITH t AS (
            SELECT doc_id, source,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
            FROM documents
        ), fe AS (
            SELECT doc_id, source,
                   t || CASE WHEN len(t) >= 2
                             THEN list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i + 1])
                             ELSE CAST([] AS VARCHAR[]) END AS f
            FROM t
        ), sc AS (
            SELECT doc_id, source,
                   CAST(len(f) AS BIGINT) AS n_feats,
                   CAST(COALESCE(list_sum(list_transform(f, x ->
                       ((('0x' || substr(md5(x), 1, 3))::BIGINT
                         % {T19_BUCKETS}) * {T19_MULT}) % {T19_MOD}
                       - {T19_SHIFT})), 0) AS BIGINT) AS score
            FROM fe
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keep,
               CAST(SUM(score) AS BIGINT) AS score_sum,
               CAST(SUM(n_feats) AS BIGINT) AS n_feats_sum,
               CAST((10000 * SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END))
                    // GREATEST(COUNT(*), 1) AS BIGINT) AS keep_rate_bp
        FROM sc GROUP BY source ORDER BY source
    """,
    "t18_backoff_surprisal": f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
            FROM documents
        ), tokx AS (
            SELECT doc_id, unnest(t) AS token FROM tok
        ), uni AS (
            SELECT token, COUNT(*) AS c FROM tokx GROUP BY token
        ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni),
        vocab AS (
            SELECT token AS w2, c AS c2 FROM uni
            ORDER BY c DESC, token LIMIT {T13_VOCAB}
        ), p2 AS (
            SELECT doc_id, lang, bg.w1 AS w1, bg.w2 AS w2 FROM (
                SELECT doc_id, lang,
                       unnest(list_transform(range(1, len(t)),
                              i -> struct_pack(w1 := t[i], w2 := t[i+1])))
                           AS bg
                FROM tok WHERE len(t) >= 2) s
        ), big AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM p2
            GROUP BY 1, 2 ORDER BY c12 DESC, w1, w2 LIMIT {T18_BIGRAMS}
        ), bigm AS (
            SELECT b.w1, b.w2, b.c12, u.c AS c1
            FROM big b JOIN uni u ON u.token = b.w1
        ), scored AS (
            SELECT p.doc_id, p.lang, m.c12 IS NOT NULL AS hit,
                   CASE WHEN m.c12 IS NOT NULL
                        THEN log2(m.c1) - log2(m.c12)
                        ELSE log2({T18_BACKOFF}) + log2((SELECT t FROM tot))
                             - log2(COALESCE(v.c2, 1)) END AS bits
            FROM p2 p
            LEFT JOIN bigm m USING (w1, w2)
            LEFT JOIN vocab v ON v.w2 = p.w2
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_transitions,
               CAST((10000 * SUM(CASE WHEN hit THEN 1 ELSE 0 END))
                    // COUNT(*) AS BIGINT) AS hit_bp,
               CAST((2 * CAST(SUM(CAST(ROUND(bits, 4) AS DECIMAL(20,4)))
                              * 10000 AS BIGINT) + COUNT(*))
                    // (2 * COUNT(*)) AS DOUBLE) / 10000
                   AS avg_bits_per_transition
        FROM scored GROUP BY lang ORDER BY lang
    """,
    "t17b_bpe_train_iters": _t17b_sql(),
    "t17c_bpe_batch_train": _t17c_sql(),
    "t20_bpe_encode_corpus": _t20_sql(),
    "t17_bpe_pair_stats": f"""
        WITH tok AS (
            SELECT unnest(regexp_extract_all(lower(text),
                                             '{TOKEN_PATTERN}')) AS tok
            FROM documents
        ), vocab AS (
            SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
        ), pairs AS (
            SELECT unnest(list_transform(range(1, length(tok)),
                          i -> substring(tok, CAST(i AS INT), 2))) AS pair,
                   cnt
            FROM vocab WHERE length(tok) >= 2
        ), pc AS (
            SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
            FROM pairs GROUP BY pair
        ), top AS (
            SELECT rnk, pair, pair_count FROM (
                SELECT pair, pair_count,
                       ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
                           AS rnk
                FROM pc
            ) WHERE rnk <= {T17_TOP}
        ), applied AS (
            SELECT t.pair,
                   CAST(SUM(v.cnt * ((length(v.tok)
                        - length(replace(v.tok, t.pair, ''))) // 2))
                        AS BIGINT) AS merges_applied
            FROM vocab v CROSS JOIN top t
            GROUP BY t.pair
        )
        SELECT t.rnk, t.pair, t.pair_count, a.merges_applied
        FROM top t JOIN applied a USING (pair)
        ORDER BY t.rnk
    """,
    "t15_freq_spectrum": f"""
        WITH counts AS (
            SELECT token, COUNT(*) AS c FROM (
                SELECT unnest(regexp_extract_all(lower(text),
                                                 '{TOKEN_PATTERN}')) AS token
                FROM documents
            ) GROUP BY token
        )
        SELECT CAST(length(bin(c)) - 1 AS INT) AS log2_band,
               COUNT(*) AS n_types,
               CAST(SUM(c) AS BIGINT) AS total_occurrences,
               MIN(c) AS min_count,
               MAX(c) AS max_count
        FROM counts GROUP BY 1 ORDER BY 1
    """,
    "t1_token_stats": f"""
        WITH toks AS (
            SELECT lang, len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_tokens
            FROM documents
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(AVG(n_tokens), 4) AS avg_tokens,
               MAX(n_tokens) AS max_tokens
        FROM toks GROUP BY lang ORDER BY lang
    """,
    "t2_quality_score": f"""
        WITH t AS (
            SELECT doc_id, text,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks,
                   LENGTH(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alpha_chars
            FROM documents
        )
        SELECT doc_id,
               LENGTH(text) AS text_len,
               len(toks) AS n_tokens,
               ROUND(alpha_chars / GREATEST(len(toks), 1), 4) AS mean_token_len,
               ROUND(len(list_filter(toks, x -> x IN ('{_STOP_SQL}')))
                     / CAST(GREATEST(len(toks), 1) AS DOUBLE), 4) AS stopword_ratio,
               ROUND(alpha_chars / GREATEST(LENGTH(text), 1), 4) AS alpha_ratio,
               len(list_intersect(toks, ['{_STOP_SQL}'])) > 0 AS has_stopwords
        FROM t ORDER BY doc_id
    """,
    "t3_fingerprint": f"""
        SELECT doc_id,
               md5(array_to_string(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), ' '))
                   AS fingerprint
        FROM documents ORDER BY doc_id
    """,
    "t4_token_index_lookup": f"""
        WITH postings AS (
            SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')))
                       AS token
            FROM documents
        )
        SELECT token, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        FROM postings WHERE token = 'hash' GROUP BY token
    """,
    "t9_token_counts": f"""
        WITH c AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{WS_PATTERN}')) AS ws_tokens,
                   len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                       AS word_tokens,
                   len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))
                       AS bpe_tokens
            FROM documents
        )
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(ws_tokens) AS BIGINT) AS total_ws,
               CAST(SUM(word_tokens) AS BIGINT) AS total_word,
               CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe,
               ROUND(SUM(CAST(bpe_tokens AS BIGINT))
                     / CAST(SUM(CAST(word_tokens AS BIGINT)) AS DOUBLE), 4)
                   AS fertility
        FROM c
    """,
    "t6_winnow_fingerprints": f"""
        WITH toks AS (
            SELECT doc_id,
                   array_to_string(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), ' ')
                       AS norm
            FROM documents
        ), p AS (
            SELECT doc_id,
                   norm || repeat(' ', {WINNOW_K}) AS pad,
                   GREATEST(len(norm) - {WINNOW_K - 1}, 1) AS n_grams
            FROM toks
        ), h AS (
            SELECT doc_id, n_grams,
                   list_transform(range(1, n_grams + 1),
                                  i -> {_WINNOW_HASH_SQL}) AS hashes
            FROM p
        )
        SELECT doc_id, CAST(n_grams AS INT) AS n_grams,
               CAST(len(list_distinct(list_transform(
                   range(1, GREATEST(n_grams - {WINNOW_W - 1}, 1) + 1),
                   i -> list_min(list_slice(hashes, i, i + {WINNOW_W - 1})))))
                   AS INT) AS n_fingerprints
        FROM h
    """,
    "t7_tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS token
            FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
        ), n AS (
            SELECT COUNT(*) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, token,
                   ROUND(tf * ln(n_docs / COUNT(*) OVER (PARTITION BY token)), 4)
                       AS tfidf
            FROM tf CROSS JOIN n
        ), ranked AS (
            SELECT doc_id, token, tfidf,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, token) AS rnk
            FROM scored
        )
        SELECT doc_id, token, rnk, tfidf FROM ranked WHERE rnk <= {TFIDF_TOP_K}
    """,
    "t8_repetition_ratio": f"""
        WITH t AS (
            SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS toks
            FROM documents
        ), b AS (
            SELECT doc_id,
                   list_transform(range(1, GREATEST(len(toks) - 1, 0) + 1),
                                  i -> toks[i] || ' ' || toks[i+1]) AS bi
            FROM t
        )
        SELECT doc_id, len(bi) AS n_bigrams,
               ROUND(CASE WHEN len(bi) > 0
                          THEN 1.0 - len(list_distinct(bi)) / CAST(len(bi) AS DOUBLE)
                          ELSE 0.0 END, 4) AS rep_ratio
        FROM b ORDER BY doc_id
    """,
    "t5_lang_profile": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_intersect(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')),
                                      ['the', 'a', 'of'])) AS score_latin,
                   len(list_intersect(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')),
                                      ['join', 'scan', 'filter', 'merge'])) AS score_query,
                   len(list_intersect(list_distinct(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')),
                                      ['row', 'column', 'table', 'value'])) AS score_data
            FROM documents
        )
        SELECT lang,
               ROUND(AVG(score_latin), 4) AS avg_score_latin,
               ROUND(AVG(score_query), 4) AS avg_score_query,
               ROUND(AVG(score_data), 4) AS avg_score_data
        FROM scored GROUP BY lang ORDER BY lang
    """,
    "t10_pii_redact": f"""
        WITH planted AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now'
                        WHEN doc_id % 11 = 0
                        THEN text || ' call 555-123-4567'
                        ELSE text END AS text2
            FROM documents
        ), scrubbed AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(text2, '{EMAIL_PATTERN}')) AS n_emails,
                   len(regexp_extract_all(text2, '{PHONE_PATTERN}')) AS n_phones,
                   LENGTH(regexp_replace(
                       regexp_replace(text2, '{EMAIL_PATTERN}', '[EMAIL]', 'g'),
                       '{PHONE_PATTERN}', '[PHONE]', 'g')) AS redacted_len
            FROM planted
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_with_pii,
               CAST(SUM(n_emails) AS BIGINT) AS total_emails,
               CAST(SUM(n_phones) AS BIGINT) AS total_phones,
               CAST(SUM(redacted_len) AS BIGINT) AS redacted_chars
        FROM scrubbed GROUP BY lang ORDER BY lang
    """,
    "t13_unigram_logprob": f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
                       AS token
            FROM documents
        ), tot AS (SELECT COUNT(*) AS t FROM tok),
        vocab AS (
            SELECT token, COUNT(*) AS c FROM tok
            GROUP BY token ORDER BY c DESC, token LIMIT {T13_VOCAB}
        ), scored AS (
            SELECT tok.doc_id, tok.lang,
                   v.c IS NULL AS oov,
                   log2((SELECT t FROM tot)) - log2(COALESCE(v.c, 1)) AS bits
            FROM tok LEFT JOIN vocab v USING (token)
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST((10000 * SUM(CASE WHEN oov THEN 1 ELSE 0 END))
                    // COUNT(*) AS BIGINT) AS oov_bp,
               CAST((2 * CAST(SUM(CAST(ROUND(bits, 4) AS DECIMAL(20,4)))
                              * 10000 AS BIGINT) + COUNT(*))
                    // (2 * COUNT(*)) AS DOUBLE) / 10000
                   AS avg_bits_per_token
        FROM scored GROUP BY lang ORDER BY lang
    """,
    "t12_vocab_growth": f"""
        WITH nd AS (SELECT COUNT(*) AS n FROM documents),
        d AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t,
                   LEAST((doc_id * {T12_BUCKETS}) // (SELECT n FROM nd),
                         {T12_BUCKETS - 1}) AS bucket
            FROM documents
        ), roll AS (
            SELECT bucket, COUNT(*) AS n_docs,
                   CAST(SUM(len(t)) AS BIGINT) AS tokens_processed
            FROM d GROUP BY bucket
        ), firsts AS (
            SELECT MIN(bucket) AS bucket
            FROM (SELECT bucket, unnest(t) AS tok FROM d)
            GROUP BY tok
        ), nt AS (
            SELECT bucket, COUNT(*) AS new_types FROM firsts GROUP BY bucket
        )
        SELECT r.bucket, CAST(r.n_docs AS BIGINT) AS n_docs,
               r.tokens_processed,
               CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
               CAST(SUM(COALESCE(nt.new_types, 0)) OVER (
                   ORDER BY r.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS vocab_to_date
        FROM roll r LEFT JOIN nt USING (bucket)
        ORDER BY r.bucket
    """,
    "t11_bigram_coverage": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
            FROM documents
        ), bi AS (
            SELECT doc_id, lang,
                   unnest(list_transform(
                       range(1, GREATEST(len(t) - 1, 0) + 1),
                       i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks
        ), counts AS (
            SELECT lang, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2
        ), model AS (
            SELECT lang, bigram FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY lang ORDER BY c DESC, bigram) AS rn
                FROM counts
            ) WHERE rn <= {{top_k}}
        ), per_doc AS (
            SELECT b.doc_id, b.lang, COUNT(*) AS n_bi,
                   SUM(CASE WHEN m.bigram IS NOT NULL THEN 1 ELSE 0 END)
                       AS n_match
            FROM bi b LEFT JOIN model m
              ON b.lang = m.lang AND b.bigram = m.bigram
            GROUP BY 1, 2
        ), scored AS (
            SELECT *, CAST((10000 * n_match) // n_bi AS INT) AS bp
            FROM per_doc
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_bi) AS BIGINT) AS total_bigrams,
               CAST(SUM(n_match) AS BIGINT) AS matched_bigrams,
               CAST((10000 * SUM(n_match)) // SUM(n_bi) AS INT)
                   AS coverage_bp,
               MIN(bp) AS min_doc_bp, MAX(bp) AS max_doc_bp
        FROM scored GROUP BY lang ORDER BY lang
    """.replace("{top_k}", str(T11_TOP_K)),
}
