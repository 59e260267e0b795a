"""Engineered known-answer tests for the round-13 operators
(w16 CUSUM changepoint / d20 per-source MinHash sketch / x21 IVFPQ
incremental upsert) — invariants that hold by construction, pinning
the semantics the oracle-parity sweep can't distinguish from a
consistently-wrong twin (mean-shift alarm day, sketch agreement on
identical/disjoint sources, upsert actually serving delta rows)."""

from __future__ import annotations

import datetime
import os

import pytest


def _write_events(spark, tmp_path, rows):
    """Write events as a single FILE named events.parquet (not a
    directory): the streaming file source reads the sf_dir with
    ``pathGlobFilter=events.parquet``, which matches file names — a
    directory-shaped table would stream zero rows (the s4 lesson)."""
    import glob
    import shutil

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    staging = str(tmp_path / "stage_events")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(sf, "events.parquet"))
    shutil.rmtree(staging, ignore_errors=True)
    return sf


def test_w16_flags_mean_shift_not_stable_series(spark, tmp_path):
    """Type 'shift': 14 train days at exactly 10/day (sigma = 0), then
    a jump to 20/day — the CUSUM must flag the FIRST monitored day and
    stay flagged. Type 'flat': constant rate throughout — sigma = 0
    and every deviation is 0, so `cusum > threshold` (strict) never
    fires: a constant series is NOT an anomaly."""
    from mirrulations_iceberg_spark.operators.windows import (
        W16_TRAIN_DAYS,
        w16_cusum_changepoint,
    )

    rows, eid = [], 0
    for d in range(W16_TRAIN_DAYS + 3):
        day = datetime.datetime(2024, 1, 1 + d, 12, 0, 0)
        n_shift = 10 if d < W16_TRAIN_DAYS else 20
        for k in range(n_shift):
            rows.append((eid, day, k, "shift", 1.0, "{}"))
            eid += 1
        for k in range(10):
            rows.append((eid, day, k, "flat", 1.0, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = w16_cusum_changepoint(spark, sf).collect()
    by = {(r["event_type"], str(r["day"])): r for r in out}
    # monitored days only: 3 per type
    assert len(out) == 6
    shift_days = sorted(k[1] for k in by if k[0] == "shift")
    # sigma=0 -> threshold 0; d+ = 2*14*20 - 2*140 = 280 per day
    for i, d in enumerate(shift_days):
        r = by[("shift", d)]
        assert r["threshold"] == 0
        assert r["cusum_pos"] == 280 * (i + 1)
        assert r["flag_up"] == 1
        assert r["flag_down"] == 0
    for d in shift_days:
        r = by[("flat", d)]
        assert (r["cusum_pos"], r["cusum_neg"]) == (0, 0)
        assert r["flag_up"] == 0 and r["flag_down"] == 0


def test_w16_closed_form_equals_recursion(spark, tmp_path):
    """The window closed form S_t = P_t - min(0, min P_j) must equal
    the textbook recursion S_t = max(0, S_{t-1} + d_t) on a varied
    series — replayed here in Python from the same integers."""
    from mirrulations_iceberg_spark.operators.windows import (
        W16_TRAIN_DAYS,
        w16_cusum_changepoint,
    )

    counts = [12, 8, 11, 9, 13, 7, 10, 12, 9, 11, 10, 8, 13, 9,
              15, 4, 18, 2, 16, 5]
    rows, eid = [], 0
    for d, n in enumerate(counts):
        day = datetime.datetime(2024, 2, 1 + d, 6, 0, 0)
        for k in range(n):
            rows.append((eid, day, k, "varied", None, None))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = sorted(
        w16_cusum_changepoint(spark, sf).collect(), key=lambda r: r["day"]
    )
    train = counts[:W16_TRAIN_DAYS]
    n = len(train)
    st, stt = sum(train), sum(x * x for x in train)
    import math

    sigma_n = math.isqrt(n * stt - st * st)
    s_pos = s_neg = 0
    for r, x in zip(out, counts[W16_TRAIN_DAYS:]):
        s_pos = max(0, s_pos + (2 * n * x - 2 * st - sigma_n))
        s_neg = max(0, s_neg + (2 * st - 2 * n * x - sigma_n))
        assert r["n_events"] == x
        assert r["cusum_pos"] == s_pos, r
        assert r["cusum_neg"] == s_neg, r
        assert r["threshold"] == 8 * sigma_n  # 2*H*sigma_n, H=4


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


def test_d20_sketch_identical_and_disjoint_sources(spark, tmp_path):
    """Identical sources agree on every MinHash slot (estimate 10000
    bp, exact 10000 bp, err 0); disjoint sources agree on none
    (estimate 0, exact 0) — and the zero-overlap pair is PRESENT in
    the output (sketch-driven left join), not dropped."""
    from mirrulations_iceberg_spark.operators.dedup import (
        D20_K,
        d20_minhash_source_sketch,
    )

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_c = "one two three four five six seven eight nine"
    docs = [
        (1, text_a, "A"),
        (2, "alpha beta gamma delta", "A"),
        (11, text_a, "B"),  # B == A exactly (same shingle set)
        (12, "alpha beta gamma delta", "B"),
        (21, text_c, "C"),  # C disjoint from both
    ]
    sf = _write_docs(spark, tmp_path, docs)
    out = {(r["src_a"], r["src_b"]): r for r in
           d20_minhash_source_sketch(spark, sf).collect()}
    assert sorted(out) == [("A", "B"), ("A", "C"), ("B", "C")]
    ab = out[("A", "B")]
    assert ab["n_a"] == ab["n_b"] == ab["n_common"]
    assert ab["eq_slots"] == D20_K
    assert ab["jaccard_bp"] == ab["jaccard_est_bp"] == 10000
    assert ab["err_bp"] == 0
    for pair in (("A", "C"), ("B", "C")):
        r = out[pair]
        assert r["n_common"] == 0
        assert r["eq_slots"] == 0
        assert r["jaccard_bp"] == r["jaccard_est_bp"] == 0


def test_s8_stream_equals_w16_batch(spark, tmp_path):
    """Stream/batch parity, row for row: the streamed rollup fed
    through the SHARED w16_detect must equal the batch detector on the
    same fixture — including the engineered mean shift's alarm rows
    (the d10/s6 parity discipline, extended to the monitoring path)."""
    from mirrulations_iceberg_spark.operators.streamq import s8_stream_cusum
    from mirrulations_iceberg_spark.operators.windows import (
        W16_TRAIN_DAYS,
        w16_cusum_changepoint,
    )

    rows, eid = [], 0
    for d in range(W16_TRAIN_DAYS + 3):
        day = datetime.datetime(2024, 3, 1 + d, 12, 0, 0)
        n = 10 if d < W16_TRAIN_DAYS else 25
        for k in range(n):
            rows.append((eid, day, k, "shift", 1.0, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    batch = sorted(
        (tuple(r) for r in w16_cusum_changepoint(spark, sf).collect())
    )
    stream = sorted(
        (tuple(r) for r in s8_stream_cusum(spark, sf).collect())
    )
    assert stream == batch
    assert any(r[-2] == 1 for r in batch)  # the shift actually alarms


def test_e15_dataset_card_levels(spark, tmp_path):
    """Hand-computed card: within-source dup, CROSS-source dup that
    only the grand total can see, and the token gate. Source A: three
    docs, two identical (30 tokens each, gated), one short (5 tokens,
    ungated). Source B: one doc IDENTICAL to A's duplicate (gated).
    Detail rows count within-group distincts; the grand total dedups
    across sources (n_unique=2 over 4 docs)."""
    from mirrulations_iceberg_spark.operators.etl import e15_dataset_card

    long_text = " ".join(f"tok{i}" for i in range(30))
    docs = [
        (1, long_text, "A"),
        (2, long_text, "A"),
        (3, "just five little tokens here", "A"),
        (11, long_text, "B"),
    ]
    sf = _write_docs(spark, tmp_path, docs)
    rows = e15_dataset_card(spark, sf).collect()
    by = {(r["g_source"], r["g_lang"], r["source"], r["lang"]): r
          for r in rows}
    # (source, lang) detail + per-source subtotal + grand total
    assert len(rows) == 2 + 2 + 1
    a = by[(0, 0, "A", "en")]
    assert (a["n_docs"], a["n_unique"], a["dup_bp"]) == (3, 2, 3333)
    assert (a["n_gated"], a["gated_bp"]) == (2, 6666)
    assert a["n_tokens"] == 65 and a["mean_tokens"] == 21
    b = by[(0, 0, "B", "en")]
    assert (b["n_docs"], b["n_unique"], b["dup_bp"]) == (1, 1, 0)
    # per-source subtotal == detail here (single lang per source)
    assert by[(0, 1, "A", None)]["n_unique"] == 2
    total = by[(1, 1, None, None)]
    assert (total["n_docs"], total["n_unique"]) == (4, 2)
    assert total["dup_bp"] == 5000  # 2 of 4 rows are repeats
    assert total["n_gated"] == 3


def test_t20_encode_matches_python_bpe_replay(spark, tmp_path):
    """Independent Python replay of the whole trainer + encoder (the
    w16-recursion-test pattern): count weighted adjacent pairs over
    the distinct-token vocabulary, pick max with (count desc, lft,
    rgt) tie-break, apply the greedy left-to-right non-overlapping
    merge, six rounds; then per-source stats from the token multiset.
    Also pins the boundary invariant: a source of single-char tokens
    can never merge, so units == words == chars there."""
    from mirrulations_iceberg_spark.operators.text import (
        T20_ITERS,
        t20_bpe_encode_corpus,
    )

    docs = [
        (1, "zzzz zzzz zzzz wxyz wxyz abcdef", "A"),
        (2, "zzzz wxyz abcdef abcdef ghij", "A"),
        (3, "q z w x q z", "B"),  # single-char tokens: unmergeable
        (4, "zzzz ghij wxyz q", "C"),
    ]
    sf = _write_docs(spark, tmp_path, docs)
    out = {r["source"]: r for r in t20_bpe_encode_corpus(spark, sf).collect()}

    # --- Python twin ---
    toks_by_src: dict[str, list[str]] = {}
    for _i, text, src in docs:
        toks_by_src.setdefault(src, []).extend(text.split())
    from collections import Counter

    vocab_counts = Counter(t for ts in toks_by_src.values() for t in ts)
    syms = {t: list(t) for t in vocab_counts}
    for _ in range(T20_ITERS):
        pairs: Counter = Counter()
        for t, s in syms.items():
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += vocab_counts[t]
        assert pairs, "fixture must support T20_ITERS merges"
        (a, b), _c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for t, s in syms.items():
            acc: list[str] = []
            for x in s:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            syms[t] = acc
    for src, ts in toks_by_src.items():
        n_words = len(ts)
        n_units = sum(len(syms[t]) for t in ts)
        n_chars = sum(len(t) for t in ts)
        r = out[src]
        assert r["n_words"] == n_words, src
        assert r["n_units"] == n_units, src
        assert r["n_chars"] == n_chars, src
        assert r["fertility_bp"] == (10000 * n_units) // n_words
        assert r["chars_per_unit_bp"] == (10000 * n_chars) // n_units
    b = out["B"]
    assert b["n_units"] == b["n_words"] == b["n_chars"] == 6
    assert out["A"]["n_units"] < out["A"]["n_chars"]  # merges applied


def test_t20_raises_when_the_pair_table_exhausts(spark, tmp_path):
    """A corpus of single-character tokens has no symbol pair to merge,
    so t20 must raise instead of encoding with a shorter merge table."""
    from mirrulations_iceberg_spark.operators.text import t20_bpe_encode_corpus

    sf = _write_docs(spark, tmp_path, [(1, "q z w x q z", "A"), (2, "a b", "B")])
    with pytest.raises(RuntimeError, match="pair table exhausted"):
        t20_bpe_encode_corpus(spark, sf)


def test_x21_upsert_serves_delta_rows(spark, tmp_path):
    """Delta vectors (vec_id % 5 == 3) placed EXACTLY at query 0's
    position: same position -> same frozen-model cell and identical
    codes, so they are routed into query 0's probed cell and their ADC
    distance is minimal — the retrieved top-k MUST contain them. Pins
    that the upsert actually serves late-arriving data instead of
    orphaning it, and that the exact truth (full corpus) counts them
    as hits."""
    from mirrulations_iceberg_spark.operators.similarity import (
        EMB_DIM,
        N_QUERIES,
        TOP_K,
        x21_ivfpq_upsert_topk,
    )

    clones = {8, 13, 23}  # % 5 == 3 -> delta; near query 0
    n = 60
    rows = []
    for i in range(n):
        if i == 0 or i in clones:
            vec = [5.0] * EMB_DIM
        else:
            vec = [float(((i * 7 + j * 13) % 19) / 19.0)
                   for j in range(EMB_DIM)]
        rows.append((i, vec, i % 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    out = {r["query_id"]: r for r in
           x21_ivfpq_upsert_topk(spark, sf).collect()}
    assert sorted(out) == list(range(N_QUERIES))
    q0 = out[0]
    assert q0["n_delta_topk"] >= len(clones)
    assert q0["recall_at_k"] >= len(clones) / TOP_K
    for q in range(N_QUERIES):
        assert 0 <= out[q]["n_delta_topk"] <= TOP_K
        assert 0.0 <= out[q]["recall_at_k"] <= 1.0


def test_x22_sign_clusters_perfect_recall(spark, tmp_path):
    """Each query gets TOP_K exact clones (identical vector -> identical
    sign code, Hamming 0, cosine 1.0) inside a corpus of mixed-sign
    noise. The binary stage must shortlist the clones (Hamming 0 beats
    everything), the rerank must return exactly them (cos 1.0, vec_id
    tie-break), so recall@k == 1.0, hamming_sum == 0, and the
    id-checksum equals the clone-id sum — pinning that the packed-lane
    XOR distance actually orders candidates and that opposite-sign
    vectors (Hamming 64) never displace true neighbors."""
    from mirrulations_iceberg_spark.operators.similarity import (
        EMB_DIM,
        N_QUERIES,
        TOP_K,
        x22_binary_hamming_topk,
    )

    def qvec(q):
        # distinct sign pattern per query (distinct periodicity q+2 —
        # NOT a shared modulus: multipliers coprime to one modulus
        # collapse to the same pattern), magnitude 0.5
        return [0.5 if j % (q + 2) != 0 else -0.5 for j in range(EMB_DIM)]

    rows, clone_ids = [], {}
    for q in range(N_QUERIES):
        rows.append((q, qvec(q), q))
        ids = list(range(10 + 10 * q, 10 + 10 * q + TOP_K))
        clone_ids[q] = ids
        for i in ids:
            rows.append((i, qvec(q), q))
    for i in range(70, 100):  # mixed-sign noise, deterministic
        vec = [((i * 31 + j * 17) % 23 - 11) / 11.0 for j in range(EMB_DIM)]
        rows.append((i, vec, 9))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    out = {r["query_id"]: r for r in
           x22_binary_hamming_topk(spark, sf).collect()}
    assert sorted(out) == list(range(N_QUERIES))
    for q in range(N_QUERIES):
        assert out[q]["recall_at_k"] == 1.0
        assert out[q]["hamming_sum"] == 0
        assert out[q]["id_checksum"] == sum(clone_ids[q])


def test_w17_seasonal_baseline_and_mad_robustness(spark, tmp_path):
    """Type 'season': weekday volume 10, weekend volume 4, constant per
    dow — a monitored Saturday at 4 must stay quiet (a global-mean
    detector would flag every weekend) and an injected Wednesday spike
    must flag. Type 'robust': one train-day outlier (100 vs 10) — the
    MEDIAN baseline must stay 10 (med2 == 20) and monitored days at 10
    stay quiet, pinning that MAD/median shrug off the historic outlier
    a mean/sigma baseline would absorb."""
    from mirrulations_iceberg_spark.operators.windows import (
        W17_TRAIN_DAYS,
        w17_seasonal_robust_anomaly,
    )

    start = datetime.datetime(2024, 1, 1, 12, 0, 0)  # a Monday
    n_days = 35
    spike_day = 30  # a Wednesday (day index 30 -> Jan 31... recompute below)
    rows, eid = [], 0
    # pick the first monitored Wednesday: dow(index) = index % 7 (0=Mon)
    spike_day = next(
        d for d in range(W17_TRAIN_DAYS, n_days) if d % 7 == 2
    )
    outlier_train_day = 2  # a Wednesday inside train, 'robust' type
    for d in range(n_days):
        day = start + datetime.timedelta(days=d)
        dow = d % 7  # 0=Mon .. 6=Sun
        n_season = 4 if dow >= 5 else 10
        if d == spike_day:
            n_season = 25
        for k in range(n_season):
            rows.append((eid, day, k, "season", 1.0, "{}"))
            eid += 1
        n_robust = 100 if d == outlier_train_day else 10
        for k in range(n_robust):
            rows.append((eid, day, k, "robust", 1.0, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = w17_seasonal_robust_anomaly(spark, sf).collect()
    season = {r["day"].day + 31 * (r["day"].month - 1): r
              for r in out if r["event_type"] == "season"}
    robust = [r for r in out if r["event_type"] == "robust"]
    assert len(out) == 2 * (n_days - W17_TRAIN_DAYS)
    for key, r in season.items():
        d = key - 1  # day index from Jan 1
        if d == spike_day:
            assert r["flag"] == 1 and r["n_events"] == 25
        else:
            assert r["flag"] == 0, f"false alarm on day index {d}"
    # median baseline ignored the train outlier: every robust cell is 10
    for r in robust:
        assert r["med2"] == 20
        assert r["flag"] == 0


def test_m19_diff_classes_hand_computed(spark, tmp_path):
    """12 docs, ids 0..11: S1 holds %4 in {0,1,2} (ids 0..11 minus
    {3,7,11}), commit 2 rewrites the %4==1 file (ids 1,5,9: %3==0 ->
    changed is {9}, %3==1 -> deleted is {1}, %3==2 -> {5} carries
    verbatim) and appends {3,7,11}. Every class and checksum is
    hand-checkable, and the unchanged row must MERGE the join path
    ({5}) with the shared-file prune path ({0,2,4,6,8,10})."""
    from mirrulations_iceberg_spark.operators.maintenance import (
        m19_snapshot_diff,
    )

    docs = [(i, f"text {i}", "en", "src", 6) for i in range(12)]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = {r["change_type"]: r for r in m19_snapshot_diff(spark, sf).collect()}
    assert out["added"]["n_rows"] == 3
    assert out["added"]["id_checksum"] == 3 + 7 + 11
    assert out["changed"]["n_rows"] == 1
    assert out["changed"]["id_checksum"] == 9
    assert out["deleted"]["n_rows"] == 1
    assert out["deleted"]["id_checksum"] == 1
    assert out["unchanged"]["n_rows"] == 7  # {0,2,4,6,8,10} + {5}
    assert out["unchanged"]["id_checksum"] == 0 + 2 + 4 + 6 + 8 + 10 + 5


def test_e16_ivm_handles_full_fp_deletion(spark, tmp_path):
    """IVM distinct maintenance: ids 3 and 10 (both doc_id%7==3 ->
    deleted) are the ONLY copies of one text, so their fingerprint
    must VANISH from n_unique (aux-state count reaches 0); id 17's
    twin survives via id 1; add id 9 duplicates id 2 (n_docs grows,
    n_unique doesn't); add id 4 is novel. Hand-computed final card:
    6 docs, 17 tokens, 5 unique, consistent = 1 — a recompute
    disguised as IVM would still pass `consistent`, but keeping
    dead fingerprints in state would not."""
    from mirrulations_iceberg_spark.operators.etl import (
        e16_incremental_card,
    )

    texts = {
        0: "zero zero zero",
        1: "dup text beta",
        2: "base text delta",
        3: "dup text alpha",
        5: "five five",
        10: "dup text alpha",
        17: "dup text beta",
        4: "new text gamma",   # add (%5==4), novel fp
        9: "base text delta",  # add (%5==4), duplicates id 2
    }
    docs = [(i, t, "en", "src", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = e16_incremental_card(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source"], r["lang"]) == ("src", "en")
    assert r["n_docs"] == 6
    assert r["n_tokens"] == 17
    assert r["n_unique"] == 5
    assert r["consistent"] == 1


def test_mm6_reencode_caught_unrelated_not(spark, tmp_path):
    """A byte-identical 'image' must pair at Hamming 0; a lightly
    corrupted copy (ONE band-0 cell pushed across the mean, with the
    CELL-sum repaid at other sampled cells that each stay strictly on
    their own side of the mean — so the mean floor is bit-for-bit
    unchanged and exactly one hash bit flips, inside band 0, making
    band candidacy pigeonhole-guaranteed) must pair at Hamming 1; two
    anti-correlated block images (aaa..zzz vs zzz..aaa -> complementary
    sign patterns, Hamming 64) must NOT pair. Output must be exactly
    the two true pairs."""
    from mirrulations_iceberg_spark.operators.multimodal import (
        MM6_RADIUS,
        mm6_phash_neardup,
    )

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight") * 1
    n = len(base)
    cells_pos = [((i - 1) * n) // 64 for i in range(1, 65)]
    assert len(set(cells_pos)) == 64  # distinct byte positions
    vals = [ord(base[p]) for p in cells_pos]
    mf = sum(vals) // 64
    # flip exactly one band-0 cell (below mean -> '~'), repaying the
    # cell-sum at above-mean cells that keep a >mf+1 margin, so the
    # mean floor and every other bit are unchanged
    i0 = next(i for i in range(16) if vals[i] <= mf)
    delta = 126 - vals[i0]
    s = list(base)
    s[cells_pos[i0]] = "~"
    rem = delta
    for i in range(64):
        if i == i0 or rem <= 0:
            continue
        slack = vals[i] - (mf + 2)
        if slack > 0:
            take = min(slack, rem)
            s[cells_pos[i]] = chr(vals[i] - take)
            rem -= take
    assert rem == 0, "could not repay the cell-sum delta"
    corrupted = "".join(s)
    new_vals = [ord(corrupted[p]) for p in cells_pos]
    assert sum(new_vals) == sum(vals)  # mean floor bit-identical
    flips = sum(
        1 for a, b in zip(vals, new_vals) if (a > mf) != (b > mf)
    )
    assert flips == 1
    texts = {
        0: base,
        30: base,            # byte-identical re-encode
        60: corrupted,       # light corruption, same byte sum
        90: "a" * 50 + "z" * 50,
        120: "z" * 50 + "a" * 50,
    }
    docs = [(i, t, "en", "src0", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = {(r["media_id_a"], r["media_id_b"]): r
           for r in mm6_phash_neardup(spark, sf).collect()}
    # exact-hash cluster {0, 30} collapses to ONE self-row (rep 0,
    # 2 members); the corrupted copy pairs against the CLUSTER rep
    # with both member counts — never a per-image pair expansion
    self_row = out[(0, 0)]
    assert self_row["hamming"] == 0
    assert self_row["n_a"] == self_row["n_b"] == 2
    near = out[(0, 60)]
    assert near["hamming"] == 1
    assert near["hamming"] <= MM6_RADIUS
    assert (near["n_a"], near["n_b"]) == (2, 1)
    assert set(out) == {(0, 0), (0, 60)}


def test_t21_chunk_math_and_overlap(spark, tmp_path):
    """A 100-token doc chunks at starts 1/49/97 with sizes 64/52/4;
    consecutive chunks overlap by exactly SIZE-STRIDE tokens; a
    shorter-than-one-window doc yields a single full-coverage chunk;
    and reconstructing the windows in Python reproduces each chunk
    fingerprint (tokenizer parity with the shared TOKEN_PATTERN)."""
    import hashlib
    import re

    from mirrulations_iceberg_spark.operators.text import (
        T21_SIZE,
        T21_STRIDE,
        TOKEN_PATTERN,
        t21_chunk_documents,
    )

    long_text = " ".join(f"tok{i}" for i in range(100))
    short_text = "just a few little tokens here"
    docs = [
        (1, long_text, "en", "src0", len(long_text)),
        (2, short_text, "en", "src0", len(short_text)),
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = sorted(
        (tuple(r) for r in t21_chunk_documents(spark, sf).collect())
    )
    by_doc = {}
    for doc_id, chunk_id, start, n, fp in out:
        by_doc.setdefault(doc_id, []).append((chunk_id, start, n, fp))
    assert [(c, s, n) for c, s, n, _ in by_doc[1]] == [
        (0, 1, 64), (1, 49, 52), (2, 97, 4)
    ]
    assert [(c, s, n) for c, s, n, _ in by_doc[2]] == [(0, 1, 6)]
    # fingerprints reproduce from an independent Python replay
    for doc_id, text in ((1, long_text), (2, short_text)):
        toks = re.findall(TOKEN_PATTERN, text.lower())
        for chunk_id, start, n, fp in by_doc[doc_id]:
            window = toks[start - 1 : start - 1 + T21_SIZE]
            assert len(window) == n
            expect = hashlib.md5(" ".join(window).encode()).hexdigest()
            assert fp == expect
    # overlap invariant: chunk k+1 re-covers the last SIZE-STRIDE
    # tokens of chunk k whenever it exists
    starts = [s for _, s, _, _ in by_doc[1]]
    for a, b in zip(starts, starts[1:]):
        assert b - a == T21_STRIDE
        assert a + T21_SIZE - b == T21_SIZE - T21_STRIDE


def test_o12_embargo_boundaries_and_leak_audit(spark, tmp_path):
    """d0 = Jan 1 -> train ends Jan 21, embargo Jan 22-23, test from
    Jan 24 (boundaries derive from the data's min day, not wall
    clock). User 1 trains only, user 2 spans train AND test (the
    leaky one), user 3 tests only, user 4 acts only inside the
    embargo — so u_both counts exactly user 2, leak_bp is 5000, and
    the embargo events belong to neither side."""
    from mirrulations_iceberg_spark.operators.relational import (
        o12_temporal_embargo_split,
    )

    def ev(eid, day, user):
        return (eid, datetime.datetime(2024, 1, day, 12, 0, 0), user,
                "x", 1.0, "{}")

    rows = [ev(i, d, 1) for i, d in enumerate([1, 2, 3, 4, 5])]
    rows += [ev(10, 1, 2), ev(11, 28, 2)]
    rows += [ev(20, 28, 3)]
    rows += [ev(30, 22, 4)]
    sf = _write_events(spark, tmp_path, rows)
    out = o12_temporal_embargo_split(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_type"] == "x"
    assert (r["n_train"], r["n_embargo"], r["n_test"]) == (6, 1, 2)
    assert (r["u_train"], r["u_test"], r["u_both"]) == (2, 2, 1)
    assert r["leak_bp"] == 5000


def test_e17_changelog_ivm_cancellation_and_group_move(spark, tmp_path):
    """The file-level delta encodes every row fate without
    classification: id 5 (carried verbatim through the rewrite) enters
    at -1 from old-B and +1 from new-B and must CANCEL exactly; id 9's
    rewrite moves it to the 'rw:en' group (old group debited, new
    group credited); id 1 is deleted; ids 3/7 are added. Hand-computed
    final card: ('src','en') = 5 docs / 9 tokens / 5 unique,
    ('src','rw:en') = 1/1/1, consistent = 1 on both rows."""
    from mirrulations_iceberg_spark.operators.etl import (
        e17_changelog_card_refresh,
    )

    texts = {
        0: "zero zero",       # %4==0 -> shared file A
        2: "two",             # %4==2 -> shared file C
        1: "one",             # %4==1, %3==1 -> deleted
        5: "five five five",  # %4==1, %3==2 -> carried verbatim
        9: "nine",            # %4==1, %3==0 -> rewritten (lang moves)
        3: "three",           # %4==3 -> added
        7: "seven seven",     # %4==3 -> added
    }
    docs = [(i, t, "en", "src", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = {(r["source"], r["lang"]): r
           for r in e17_changelog_card_refresh(spark, sf).collect()}
    assert set(out) == {("src", "en"), ("src", "rw:en")}
    en = out[("src", "en")]
    assert (en["n_docs"], en["n_tokens"], en["n_unique"]) == (5, 9, 5)
    assert en["consistent"] == 1
    rw = out[("src", "rw:en")]
    assert (rw["n_docs"], rw["n_tokens"], rw["n_unique"]) == (1, 1, 1)
    assert rw["consistent"] == 1


def test_hll_swap_for_exact_distinct_within_tolerance(spark):
    """The e15/e16 cards document 'swap COUNT(DISTINCT fp) for HLL at
    100 TB by changing one expression'. Measure that swap on the
    fixture: approx_count_distinct at rsd 0.02 must land within 2.5%
    of the exact distinct-fingerprint count (HLL sketches are
    deterministic for a fixed dataset, so this is a stable pin, not a
    flaky statistical test). Measured: 20 bp at 500 distinct
    (sf0.01), 100 bp at 4,992 distinct (sf0.1)."""
    from pyspark.sql import functions as F

    from mirrulations_iceberg_spark.operators.dedup import (
        content_fp_from_toks,
    )
    from mirrulations_iceberg_spark.operators.text import tokens_col
    from mirrulations_iceberg_spark.tables import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    per = docs.withColumn("__t", tokens_col(F.col("text"))).select(
        content_fp_from_toks(F.col("__t")).alias("fp")
    )
    r = per.agg(
        F.countDistinct("fp").alias("exact"),
        F.approx_count_distinct("fp", 0.02).alias("hll"),
    ).collect()[0]
    assert r["exact"] > 0
    rel_bp = abs(r["hll"] - r["exact"]) * 10000 // r["exact"]
    assert rel_bp <= 250, (r["exact"], r["hll"], rel_bp)
