"""Unit tests for the round-4 operators: BM25 retrieval, PII redaction,
sequence packing, chunking, length histogram, semantic dedup.

Each test pins the operator's semantics on a tiny hand-computed input; the
sf0.001 oracle parity for the registered queries lives in
tests/test_entry_queries.py like every other query.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flink_recommendation_system_spark.operators.retrieval import bm25_topk
from flink_recommendation_system_spark.operators.text import (
    chunk_documents,
    length_histogram,
    pack_documents,
    redact_pii,
)


# --- BM25 -------------------------------------------------------------------


def _bm25_ref(tf, df, n_docs, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def test_bm25_scores_match_hand_computation(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "durian durian durian"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame([(0, "apple cherry")], ["query_id", "query_text"])
    out = {
        r.doc_id: (r.score, r.rank)
        for r in bm25_topk(docs, queries, top_k=10).collect()
    }
    # doc 3 shares no query term — must be absent, not scored 0
    assert set(out) == {1, 2}
    avgdl = (3 + 2 + 3) / 3
    exp1 = _bm25_ref(tf=2, df=1, n_docs=3, dl=3, avgdl=avgdl)
    exp2 = _bm25_ref(tf=1, df=1, n_docs=3, dl=2, avgdl=avgdl)
    assert abs(out[1][0] - exp1) < 1e-5
    assert abs(out[2][0] - exp2) < 1e-5
    # ranks follow scores within the query partition
    ranked = sorted(out.items(), key=lambda kv: kv[1][1])
    assert [kv[1][1] for kv in ranked] == [1, 2]
    assert ranked[0][1][0] >= ranked[1][1][0]


def test_bm25_top_k_and_tiebreak(spark):
    # four identical docs → identical scores; tie broken toward smaller id,
    # and top_k truncates
    docs = spark.createDataFrame(
        [(i, "same words here") for i in (4, 2, 9, 7)], ["doc_id", "text"]
    )
    queries = spark.createDataFrame([(0, "words")], ["query_id", "query_text"])
    rows = bm25_topk(docs, queries, top_k=3).orderBy("rank").collect()
    assert [r.doc_id for r in rows] == [2, 4, 7]
    assert len({r.score for r in rows}) == 1


# --- PII redaction ----------------------------------------------------------


def test_redact_pii_counts_and_masks(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "host 192.168.0.1 and 10.0.0.255 up"),
            (3, "call 555-0199 tonight"),
            (4, "clean text with no pii at all"),
            (5, "a@b.io visits 1.2.3.4 dials 123-4567"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 0, 0)
    assert out[1].redacted == "mail <EMAIL> now"
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 2, 0)
    assert out[2].redacted == "host <IP> and <IP> up"
    assert out[3].redacted == "call <PHONE> tonight"
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_phone) == (0, 0, 0)
    assert out[4].redacted == "clean text with no pii at all"
    assert out[5].redacted == "<EMAIL> visits <IP> dials <PHONE>"


def test_redact_pii_email_before_ip_ordering(spark):
    # digit-run inside an already-redacted email must not re-match as IP:
    # counts are on the original text, redaction is sequential
    docs = spark.createDataFrame(
        [(1, "x 1.2.3.4@host.example.com y")], ["doc_id", "text"]
    )
    r = redact_pii(docs).collect()[0]
    assert r.n_email == 1
    assert r.redacted == "x <EMAIL> y"


# --- sequence packing -------------------------------------------------------


def test_pack_documents_prefix_sums(spark):
    # tokens: a=3, b=4, c=2 in one source; target 5 →
    # a: starts at 0 → pack 0 offset 0
    # b: starts at 3 → pack 0 offset 3
    # c: starts at 7 → pack 1 offset 2
    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3", "s"),
            (2, "t1 t2 t3 t4", "s"),
            (3, "t1 t2", "s"),
            (4, "u1 u2", "other"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        r.doc_id: (r.n_tokens, r.pack_id, r.pack_offset)
        for r in pack_documents(docs, target_tokens=5).collect()
    }
    assert out[1] == (3, 0, 0)
    assert out[2] == (4, 0, 3)
    assert out[3] == (2, 1, 2)
    # independent group restarts its prefix sum
    assert out[4] == (2, 0, 0)


# --- chunking ---------------------------------------------------------------


def test_chunk_documents_boundaries_and_empty(spark):
    docs = spark.createDataFrame(
        [
            (1, "abcdefgh"),   # exactly 2 chunks of 4
            (2, "abcdefghi"),  # 2 full + 1 char
            (3, ""),           # empty → one empty chunk
        ],
        ["doc_id", "text"],
    )
    rows = chunk_documents(docs, chunk_chars=4).collect()
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_chunk_chars) for r in rows}
    assert got[(1, 0)] == ("abcd", 4)
    assert got[(1, 1)] == ("efgh", 4)
    assert (1, 2) not in got
    assert got[(2, 2)] == ("i", 1)
    assert got[(3, 0)] == ("", 0)
    # reassembling chunks reproduces the document
    joined = "".join(
        got[(2, i)][0] for i in range(3)
    )
    assert joined == "abcdefghi"


# --- length histogram -------------------------------------------------------


def test_length_histogram_buckets(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b", 50),       # bucket 0
            (2, "a b c", 99),     # bucket 0
            (3, "a", 100),        # bucket 1
            (4, "a b c d", 5000), # clamped to last bucket (19)
        ],
        ["doc_id", "text", "n_chars"],
    )
    out = {
        r.bucket: (r.lo_chars, r.n_docs, r.total_tokens)
        for r in length_histogram(docs, bucket_chars=100, max_buckets=20).collect()
    }
    assert out[0] == (0, 2, 5)
    assert out[1] == (100, 1, 1)
    assert out[19] == (1900, 1, 4)


# --- bigram LM scoring ------------------------------------------------------


def test_bigram_lm_known_probabilities(spark):
    # corpus: "a b", "a b", "a c", "solo" → c(a,b)=2, c(a,c)=1, c1(a)=3,
    # V=|{a,b,c,solo}|=4
    # P(b|a) = (2+1)/(3+4) = 3/7 ; P(c|a) = (1+1)/(3+4) = 2/7
    from flink_recommendation_system_spark.operators.lm import (
        bigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    assert out[1].n_bigrams == 1
    assert abs(out[1].avg_surprise - math.log(7.0 / 3.0)) < 1e-5
    assert abs(out[3].avg_surprise - math.log(7.0 / 2.0)) < 1e-5
    # templated doc scores LOWER surprise than the rarer continuation
    assert out[1].avg_surprise < out[3].avg_surprise
    # <2 tokens → no bigrams, scored 0 but still present
    assert (out[4].n_bigrams, out[4].avg_surprise) == (0, 0.0)


def test_bigram_lm_repeated_bigram_weighting(spark):
    # doc "x y x y" has bigrams (x,y),(y,x),(x,y): the (x,y) surprise must
    # be weighted by multiplicity 2 in the average
    from flink_recommendation_system_spark.operators.lm import (
        bigram_lm_scores,
    )

    docs = spark.createDataFrame([(1, "x y x y")], ["doc_id", "text"])
    r = bigram_lm_scores(docs).collect()[0]
    assert r.n_bigrams == 3
    # c(x,y)=2, c1(x)=2, c(y,x)=1, c1(y)=1, V=2
    s_xy = math.log((2 + 2) / (2 + 1))
    s_yx = math.log((1 + 2) / (1 + 1))
    exp = (2 * s_xy + s_yx) / 3
    assert abs(r.avg_surprise - exp) < 1e-5


# --- shared-chunk boilerplate -----------------------------------------------


def test_shared_chunk_stats_flags_copied_chunks(spark):
    from flink_recommendation_system_spark.operators.dedup import (
        shared_chunk_stats,
    )

    shared = "B" * 8
    docs = spark.createDataFrame(
        [
            (1, shared + "1234" * 2),   # chunk0 shared, chunk1 unique
            (2, shared + "zzzz" * 2),   # chunk0 shared, chunk1 unique
            (3, "unique document 3"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.n_chunks, r.n_boilerplate, r.boilerplate_ratio)
        for r in shared_chunk_stats(docs, chunk_chars=8, max_doc_freq=1).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (2, 1, 0.5)
    assert out[3][1] == 0


# --- bloom decontamination --------------------------------------------------


def test_bloom_no_false_negatives_and_exact_match_on_clean_filter(spark):
    from flink_recommendation_system_spark.operators.bloom import (
        bloom_decontaminate,
    )
    from flink_recommendation_system_spark.operators.text import ngram_overlap

    # eval doc shares its exact 3-gram with train doc 1; train doc 2 clean
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(10, "alpha beta gamma")], ["doc_id", "text"])
    got = {
        r.doc_id: r.n_flagged
        for r in bloom_decontaminate(train, ev, n=3).collect()
    }
    exact = {
        r.doc_id: r.n_overlap for r in ngram_overlap(train, ev, n=3).collect()
    }
    # superset of exact, and with this tiny key set the filter is clean
    assert got == exact == {1: 1}


def test_bloom_membership_exact_on_tiny_filter(spark):
    from pyspark.sql import functions as F

    from flink_recommendation_system_spark.operators.bloom import (
        bloom_fit,
        bloom_might_contain,
    )

    keys = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], ["ngram"]
    )
    words = bloom_fit(keys, m_bits=1 << 14, k=3)
    probe = spark.createDataFrame(
        [(f"key{i}",) for i in range(100)], ["ngram"]
    )
    hits = {
        r.ngram
        for r in probe.filter(
            bloom_might_contain(F.col("ngram"), words, 1 << 14, 3)
        ).collect()
    }
    # all members found (no false negatives); at 150/16384 load the odds of
    # a false positive among 50 non-members are negligible
    assert {f"key{i}" for i in range(50)} <= hits
    assert len(hits) == 50


def test_bloom_false_positive_is_possible_and_superset_holds(spark):
    # saturate a deliberately tiny filter so non-members collide: the op's
    # contract is superset-of-exact, never a miss
    from pyspark.sql import functions as F

    from flink_recommendation_system_spark.operators.bloom import (
        bloom_fit,
        bloom_might_contain,
    )

    keys = spark.createDataFrame(
        [(f"key{i}",) for i in range(200)], ["ngram"]
    )
    words = bloom_fit(keys, m_bits=64, k=2)  # 64 bits for 200 keys → saturated
    probe = spark.createDataFrame(
        [(f"other{i}",) for i in range(20)], ["ngram"]
    )
    fp = probe.filter(
        bloom_might_contain(F.col("ngram"), words, 64, 2)
    ).count()
    assert fp == 20  # fully saturated filter flags everything


def test_bloom_fit_rejects_bad_m(spark):
    import pytest as _pytest

    from flink_recommendation_system_spark.operators.bloom import bloom_fit

    keys = spark.createDataFrame([("k",)], ["ngram"])
    with _pytest.raises(ValueError):
        bloom_fit(keys, m_bits=100, k=3)


# --- quality-weighted resampling --------------------------------------------


def test_resample_by_score_buckets_and_determinism(spark):
    from flink_recommendation_system_spark.operators.text import (
        resample_by_score,
    )

    scored = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(1000)], ["doc_id", "score"]
    )
    # bucket 0: score < 3 (rate 1.0) — every row kept
    # bucket 1: 3 <= score < 7 (rate 0.0) — every row dropped
    # bucket 2: score >= 7 (rate 0.5) — roughly half kept
    out = resample_by_score(
        scored, "score", edges=[3.0, 7.0], rates=[1.0, 0.0, 0.5]
    )
    rows = out.collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r.doc_id)
    assert len(by_bucket.get(0, [])) == 300
    assert 1 not in by_bucket
    assert 100 < len(by_bucket.get(2, [])) < 200  # ~150 of 300 at rate 0.5
    # deterministic: identical second run
    again = sorted(r.doc_id for r in out.collect())
    assert again == sorted(r.doc_id for r in rows)


def test_resample_by_score_validates_lengths(spark):
    import pytest as _pytest

    from flink_recommendation_system_spark.operators.text import (
        resample_by_score,
    )

    scored = spark.createDataFrame([(1, 0.5)], ["doc_id", "score"])
    with _pytest.raises(ValueError):
        resample_by_score(scored, "score", edges=[1.0], rates=[1.0])


def test_bloom_impls_agree(spark):
    from flink_recommendation_system_spark.operators.bloom import (
        bloom_decontaminate,
    )

    train = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma delta w{i+1}") for i in range(30)],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    a = sorted(
        (r.doc_id, r.n_flagged)
        for r in bloom_decontaminate(train, ev, n=4, impl="join").collect()
    )
    b = sorted(
        (r.doc_id, r.n_flagged)
        for r in bloom_decontaminate(train, ev, n=4, impl="arrow").collect()
    )
    assert a == b and len(a) == 30  # every train doc contains the 4-gram


# --- repeated_spans (exact-substring span dedup) ---------------------------


def test_repeated_spans_merges_maximal_islands(spark):
    from flink_recommendation_system_spark.operators.dedup import (
        repeated_spans,
    )

    # Shared 5-token run "a b c d e" inside longer distinct docs, n=3:
    # doc 1 positions 1..5 hold the run -> duplicated 3-grams start at
    # pos 1,2,3 -> one maximal span [1, 5] (5 tokens). doc 2 has it at
    # the front -> span [0, 4]. doc 3 shares nothing -> no rows.
    docs = spark.createDataFrame(
        [
            (1, "x a b c d e y z"),
            (2, "a b c d e q r s"),
            (3, "u v w t p o i"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in repeated_spans(docs, n=3).collect()
    }
    assert rows == {1: (1, 5, 5), 2: (0, 4, 5)}


def test_repeated_spans_two_islands_stay_separate(spark):
    from flink_recommendation_system_spark.operators.dedup import (
        repeated_spans,
    )

    # Two shared 3-gram runs separated by unique middles -> two spans per
    # doc, not one merged span.
    docs = spark.createDataFrame(
        [
            (1, "a b c UNIQ1 one d e f UNIQ2"),
            (2, "a b c OTHER magic d e f DIFF"),
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in repeated_spans(docs, n=3).collect()
    )
    assert out == [(1, 0, 2), (1, 5, 7), (2, 0, 2), (2, 5, 7)]


# --- heavy_hitters_exact (Misra-Gries candidates + exact recount) ----------


def test_heavy_hitters_exact_matches_naive_groupby(spark):
    from flink_recommendation_system_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    # Zipf-ish skew: key k appears 2000//k times, k in 1..60; many
    # partitions so per-partition MG summaries are genuinely partial.
    rows = [(k,) for k in range(1, 61) for _ in range(2000 // k)]
    df = spark.createDataFrame(rows, ["key"]).repartition(16)
    total = len(rows)
    num, den = 1, 100  # threshold: >=1% of total
    got = {
        r.key: r.cnt
        for r in heavy_hitters_exact(df, "key", num, den).collect()
    }
    min_count = (num * total + den - 1) // den
    want = {
        k: 2000 // k for k in range(1, 61) if 2000 // k >= min_count
    }
    assert got == want  # exact counts, exact membership — no FP/FN


def test_heavy_hitters_uniform_near_threshold(spark):
    from flink_recommendation_system_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    # Adversarial for sketches: near-uniform counts straddling the cutoff.
    # 50 keys x 20, 50 keys x 19; threshold = 2% of 1950 = 39 -> the
    # twenty-count keys are in (20 >= ceil(0.02*1950)=39? no...) — pick
    # share so cutoff lands at exactly 20: 20/1950 -> num=4, den=390.
    rows = [(k,) for k in range(50) for _ in range(20)] + [
        (k,) for k in range(100, 150) for _ in range(19)
    ]
    df = spark.createDataFrame(rows, ["key"]).repartition(8)
    total = len(rows)
    num, den = 4, 390
    assert (num * total + den - 1) // den == 20
    got = {r.key for r in heavy_hitters_exact(df, "key", num, den).collect()}
    assert got == set(range(50))  # 20-count keys in, 19-count keys out


# --- stratified_split (quota-exact train/val/test) -------------------------


def test_stratified_split_quota_exact_counts(spark):
    from flink_recommendation_system_spark.operators.text import (
        stratified_split,
    )

    # 100 docs in lang A, 10 in lang B: 80/10/10 must be EXACT per stratum
    rows = [(i, "x", "A") for i in range(100)] + [
        (1000 + i, "x", "B") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = stratified_split(docs, {"train": 80, "val": 10, "test": 10})
    counts = {
        (r.lang, r.split): r["count"]
        for r in out.groupBy("lang", "split").count().collect()
    }
    assert counts == {
        ("A", "train"): 80, ("A", "val"): 10, ("A", "test"): 10,
        ("B", "train"): 8, ("B", "val"): 1, ("B", "test"): 1,
    }


def test_stratified_split_deterministic_and_partition_invariant(spark):
    from flink_recommendation_system_spark.operators.text import (
        stratified_split,
    )

    rows = [(i, "x", "A") for i in range(50)]
    docs1 = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    docs2 = spark.createDataFrame(rows, ["doc_id", "text", "lang"]).repartition(7)
    pct = {"train": 80, "val": 10, "test": 10}
    a = {(r.doc_id, r.split) for r in stratified_split(docs1, pct).collect()}
    b = {(r.doc_id, r.split) for r in stratified_split(docs2, pct).collect()}
    assert a == b  # same verdicts regardless of physical partitioning


def test_stratified_split_rejects_bad_percents(spark):
    import pytest

    from flink_recommendation_system_spark.operators.text import (
        stratified_split,
    )

    docs = spark.createDataFrame([(1, "x", "A")], ["doc_id", "text", "lang"])
    with pytest.raises(ValueError):
        stratified_split(docs, {"train": 90, "val": 5})


# --- funnel_stages / retention_cohorts -------------------------------------

def _ev(spark, rows):
    # rows: (user_id, event_type, sec) -> events-shaped frame with
    # epoch-nanos ts per the engine contract
    return spark.createDataFrame(
        [(u, t, s * 1_000_000_000) for u, t, s in rows],
        ["user_id", "event_type", "ts"],
    )


def test_funnel_requires_strict_order(spark):
    from flink_recommendation_system_spark.operators.events import (
        funnel_stages,
    )

    rows = [
        # user 1: full ordered funnel
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: click BEFORE the first view -> funnel breaks at stage 1
        (2, "click", 5), (2, "view", 10),
        # user 3: purchase before click -> stage 2 (view, click), no purchase
        (3, "view", 10), (3, "purchase", 15), (3, "click", 20),
        # user 4: never viewed -> absent from output
        (4, "purchase", 50),
    ]
    got = {
        r.user_id: (r.stage, r.view_ts, r.click_ts, r.purchase_ts)
        for r in funnel_stages(
            _ev(spark, rows), ["view", "click", "purchase"]
        ).collect()
    }
    assert got == {
        1: (3, 10, 20, 30),
        2: (1, 10, None, None),
        3: (2, 10, 20, None),
    }


def test_funnel_span_cap_breaks_later_stages(spark):
    from flink_recommendation_system_spark.operators.events import (
        funnel_stages,
    )

    rows = [
        # click lands outside the 15s window; the later purchase is inside
        # the window but must STILL not count (its predecessor was cut)
        (1, "view", 0), (1, "click", 100), (1, "purchase", 10),
        # fully inside the window
        (2, "view", 0), (2, "click", 5), (2, "purchase", 12),
    ]
    got = {
        r.user_id: (r.stage, r.click_ts, r.purchase_ts)
        for r in funnel_stages(
            _ev(spark, rows), ["view", "click", "purchase"], max_span_sec=15
        ).collect()
    }
    assert got[1] == (1, None, None)
    assert got[2] == (3, 5, 12)


def test_retention_cohorts_counts(spark):
    from flink_recommendation_system_spark.operators.events import (
        retention_cohorts,
    )

    day = 86400
    rows = [
        # users 1,2 first seen day 0; user 1 returns day 2; user 3 joins day 1
        (1, "view", 10), (2, "view", 20),
        (1, "click", 2 * day + 5),
        (3, "view", day + 1), (3, "view", day + 2),  # same-day dedup
    ]
    got = {
        (r.cohort_start, r.period_offset): r.n_users
        for r in retention_cohorts(_ev(spark, rows), bucket_sec=day).collect()
    }
    assert got == {(0, 0): 2, (0, 2): 1, (day, 0): 1}


def test_stratified_split_singleton_stratum_goes_to_largest_split(spark):
    from flink_recommendation_system_spark.operators.text import (
        stratified_split,
    )

    docs = spark.createDataFrame(
        [(1, "x", "A"), (2, "x", "B")], ["doc_id", "text", "lang"]
    )
    out = {
        r.lang: r.split
        for r in stratified_split(
            docs, {"train": 80, "val": 10, "test": 10}
        ).collect()
    }
    # round-half-up boundaries: a 1-row stratum belongs to train, not test
    assert out == {"A": "train", "B": "train"}


def test_sliding_chunks_overlap_and_coverage(spark):
    from flink_recommendation_system_spark.operators.text import (
        sliding_chunks,
    )

    text = "abcdefghij"  # 10 chars; size 4, stride 2 -> starts 0,2,4,6
    # (no start 8: chars 9-10 are already covered by the window at 6 —
    # pure-suffix windows with zero unseen text must NOT be emitted)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        (r.chunk_idx, r.chunk_text)
        for r in sliding_chunks(docs, chunk_chars=4, stride_chars=2).collect()
    )
    assert rows == [
        (0, "abcd"), (1, "cdef"), (2, "efgh"), (3, "ghij"),
    ]
    # every adjacent pair overlaps by size - stride = 2 chars
    for (_, a), (_, b) in zip(rows, rows[1:]):
        assert a[2:4] == b[:2]
    # a doc shorter than one window still yields exactly one chunk
    short = spark.createDataFrame([(2, "xy")], ["doc_id", "text"])
    got = sliding_chunks(short, chunk_chars=4, stride_chars=2).collect()
    assert [(r.chunk_idx, r.chunk_text) for r in got] == [(0, "xy")]


def test_bloom_probe_join_keeps_duplicated_rows(spark):
    """True semi-join semantics: duplicated input rows pass the all-k
    check AND keep their multiplicity (the old grouped form collapsed
    them to one row per distinct tuple)."""
    from collections import Counter

    from flink_recommendation_system_spark.operators.bloom import (
        bloom_positions,
        bloom_probe_join,
    )

    keys = spark.createDataFrame([("a",), ("b",)], ["ngram"])
    positions = bloom_positions(keys, "ngram", 1 << 10, 3)
    rows = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (3, "c")], ["doc_id", "ngram"]
    )
    got = Counter(
        (r["doc_id"], r["ngram"])
        for r in bloom_probe_join(rows, positions, "ngram", 1 << 10, 3).collect()
    )
    assert got[(1, "a")] == 2 and got[(2, "b")] == 1
    # "c" may or may not collide (tiny FP chance); the duplicated (1, "a")
    # must keep BOTH rows


def test_domain_cap_quota_exact_and_deterministic(spark):
    from flink_recommendation_system_spark.operators.text import (
        domain_capped_corpus,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], ["doc_id", "source"]
    )
    a = domain_capped_corpus(docs, cap=4)
    counts = {r["source"]: r["count"] for r in a.groupBy("source").count().collect()}
    assert counts == {"s0": 4, "s1": 4, "s2": 4}
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, domain_capped_corpus(docs, cap=4).collect())
    )
    # cap above the domain size keeps everything
    assert domain_capped_corpus(docs, cap=100).count() == 30


def test_temperature_mixture_upweights_small_sources(spark):
    """alpha=0.5: the small source's KEEP RATE must exceed the big
    source's (that's what temperature mixing is for); alpha=1.0 gives
    every source the same keep rate (natural distribution)."""
    from flink_recommendation_system_spark.operators.text import (
        temperature_mixture,
    )

    docs = spark.createDataFrame(
        [(i, "big") for i in range(1900)] + [(10000 + i, "small") for i in range(100)],
        ["doc_id", "source"],
    )
    out = temperature_mixture(docs, target_total=400, alpha=0.5)
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    rate_small = got.get("small", 0) / 100
    rate_big = got.get("big", 0) / 1900
    assert rate_small > rate_big * 2
    # exact-arithmetic guard rails
    import pytest

    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture(docs, target_total=10, alpha=0.3)


def test_gap_fill_locf_semantics(spark):
    """Planted series: type A observes hours 0 and 2 (hour 1 silent),
    type B only hour 2 — the hour-1 gap row must carry hour 0's average
    forward, and B's spine rows before its first observation must have
    NULL filled_avg. Spine bounds are global (min/max over all types)."""
    from flink_recommendation_system_spark.operators.events import (
        gap_fill_locf,
    )

    H = 3_600_000_000_000  # one hour in nanos
    rows = [
        (1, 0 * H, 7, "A", 10.0, "{}"),
        (2, 0 * H + 1, 8, "A", 20.0, "{}"),   # same bucket as row 1
        (3, 2 * H, 9, "A", 5.0, "{}"),
        (4, 2 * H, 9, "B", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r["event_type"], r["bucket_sec"]): (
            r["n_events"], r["is_gap"], r["filled_avg"]
        )
        for r in gap_fill_locf(ev, 3600).collect()
    }
    assert len(out) == 6  # 2 types x 3 hourly buckets
    assert out[("A", 0)] == (2, 0, 15.0)
    assert out[("A", 3600)] == (0, 1, 15.0)      # gap carries hour 0 avg
    assert out[("A", 7200)] == (1, 0, 5.0)
    assert out[("B", 0)] == (0, 1, None)          # before first observation
    assert out[("B", 3600)] == (0, 1, None)
    assert out[("B", 7200)] == (1, 0, 1.0)
