"""Round-7 operator tests: true BPE tokenization (fit + greedy apply),
FastSS-2 edit-distance blocking losslessness, and the fixed-centroid
SemDeDup twin's semantic invariants."""

from __future__ import annotations

from pyspark.sql import functions as F


# --- BPE -------------------------------------------------------------------


def _ref_bpe_fit(vocab: dict[str, int], n_merges: int):
    """Pure-Python reference: Sennrich weighted-vocab BPE training with
    the engine's tie-break (count DESC, x ASC, y ASC)."""
    state = {w: ["(%s)" % c for c in w] for w in vocab}
    # tokens kept as wrapped strings to mirror the replace semantics
    strs = {w: "".join(toks) for w, toks in state.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, s in strs.items():
            toks = s[1:-1].split(")(") if s else []
            for i in range(len(toks) - 1):
                k = (toks[i], toks[i + 1])
                counts[k] = counts.get(k, 0) + vocab[w]
        if not counts:
            break
        (x, y), _c = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((x, y))
        strs = {
            w: s.replace(f"({x})({y})", f"({x}{y})") for w, s in strs.items()
        }
    return merges, strs


def test_bpe_fit_matches_reference(spark):
    from flink_recommendation_system_spark.operators.bpe import bpe_fit

    vocab = {"aaab": 3, "aab": 2, "abab": 5, "b": 7, "cdcd": 4}
    df = spark.createDataFrame(
        list(vocab.items()), "word string, cnt long"
    )
    got = bpe_fit(df, n_merges=6)
    want, _ = _ref_bpe_fit(vocab, 6)
    assert got == want


def test_bpe_apply_greedy_left_to_right(spark):
    """replace-all must equal the greedy left-to-right fold: 'aaa' under
    merge (a,a) becomes (aa)(a), never (a)(aa) or (aaa)."""
    from flink_recommendation_system_spark.operators.bpe import (
        bpe_tokenize_words,
    )

    df = spark.createDataFrame(
        [("aaa",), ("aaaa",), ("baaa",)], "word string"
    )
    out = {
        r["word"]: (r["bpe_tokens"], r["n_subword_tokens"])
        for r in bpe_tokenize_words(df, [("a", "a")]).collect()
    }
    assert out["aaa"] == ("(aa)(a)", 2)
    assert out["aaaa"] == ("(aa)(aa)", 2)
    assert out["baaa"] == ("(b)(aa)(a)", 3)


def test_bpe_fit_stops_when_vocab_fully_merged(spark):
    from flink_recommendation_system_spark.operators.bpe import bpe_fit

    df = spark.createDataFrame([("ab", 5), ("ab", 3)], "word string, cnt long")
    # "ab" has exactly one pair; after merging it there is nothing left
    merges = bpe_fit(df, n_merges=10)
    assert merges == [("a", "b")]


# --- FastSS-2 --------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_d2_matches_bruteforce(spark):
    """FastSS-2 blocking must be LOSSLESS at edit distance <= 2: equal
    output to the quadratic brute force over every pair class — double
    substitution, double insertion/deletion, one-of-each, transpositions
    (ed 2 via subst+subst or ins+del), and the d<=1 classes it subsumes."""
    from flink_recommendation_system_spark.operators.dedup import (
        edit_distance_pairs,
    )

    names = [
        "abcdef",
        "abcdxy",      # 2 substitutions
        "abcd",        # 2 deletions
        "abcdefgh",    # 2 insertions
        "bacdef",      # transposition (ed 2)
        "xbcdey",      # 2 substitutions, different positions
        "abdcef",      # inner transposition
        "abcdef",      # exact duplicate
        "zzzzzz",      # unrelated
        "ab", "a", "", # tiny edges
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(names)], "id long, s string"
    )
    got = {
        (r["id1"], r["id2"], r["dist"])
        for r in edit_distance_pairs(df, "id", "s", max_dist=2).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and _lev(a, b) <= 2
    }
    assert got == want and len(want) >= 8


def test_edit_distance_pairs_d2_respects_max_len(spark):
    from flink_recommendation_system_spark.operators.dedup import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a" * 70), (2, "a" * 70), (3, "ab"), (4, "ac")],
        "id long, s string",
    )
    got = {
        (r["id1"], r["id2"])
        for r in edit_distance_pairs(
            df, "id", "s", max_dist=2, max_len=64
        ).collect()
    }
    # over-cap rows are excluded by contract; the short pair survives
    assert got == {(3, 4)}


def test_edit_distance_pairs_rejects_bad_dist(spark):
    import pytest

    from flink_recommendation_system_spark.operators.dedup import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError):
        edit_distance_pairs(df, "id", "s", max_dist=3)


# --- k-truss ---------------------------------------------------------------


def test_ktruss_k4_hand_graph(spark):
    """K4 survives (every edge in 2 triangles); a triangle hanging off
    one K4 edge peels (its outer edges have support 1), and the peel
    cascades — removal-order independence means the fixpoint equals the
    reference peel."""
    from flink_recommendation_system_spark.operators.graph import (
        ktruss_edges,
    )

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    hanging = [(3, 5), (4, 5)]   # triangle (3,4,5) shares edge (3,4)
    tail = [(5, 6)]              # pendant edge, support 0
    df = spark.createDataFrame(k4 + hanging + tail, "src long, dst long")
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss_edges(df, k=4).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 2, (1, 4): 2,
                   (2, 3): 2, (2, 4): 2, (3, 4): 2}


def test_ktruss_peel_cascades_to_empty(spark):
    """A bare triangle has per-edge support 1 < 2 — the whole graph
    peels; k < 3 is rejected."""
    import pytest

    from flink_recommendation_system_spark.operators.graph import (
        ktruss_edges,
    )

    tri = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    assert ktruss_edges(tri, k=5).count() == 0
    assert ktruss_edges(tri, k=3).count() == 3  # 3-truss: support >= 1
    with pytest.raises(ValueError):
        ktruss_edges(tri, k=2)


def test_hard_negative_mining_contract(spark):
    """Positives share the query's label, negatives never do; ranks are
    dense from 1 within each role; self never appears."""
    from flink_recommendation_system_spark.operators.similarity import (
        hard_negative_mining,
    )

    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),
        (1, [0.9, 0.1, 0.0, 0.0], 7),   # close positive
        (2, [0.8, 0.2, 0.0, 0.0], 3),   # close negative
        (3, [0.0, 1.0, 0.0, 0.0], 3),
        (4, [0.0, 0.0, 1.0, 0.0], 5),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = hard_negative_mining(
        df.filter("vec_id = 0"), df, n_pos=1, n_neg=2
    ).collect()
    by_role = {}
    for r in out:
        by_role.setdefault(r["role"], []).append(r)
    assert [r["neighbor_id"] for r in by_role["pos"]] == [1]
    negs = sorted(by_role["neg"], key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in negs] == [2, 3]
    assert all(r["neighbor_id"] != 0 for r in out)


# --- sampled betweenness ---------------------------------------------------


def test_betweenness_sampled_matches_reference(spark):
    """Exact Brandes (restricted to the sampled sources and hop horizon)
    on a hand graph, vs a pure-Python reference with the same 2^-38
    quantization."""
    import math

    from flink_recommendation_system_spark.operators.graph import (
        betweenness_sampled,
        undirected,
    )

    #   1 - 2 - 3 - 4
    #        \  |
    #          5        (2-5, 3-5; 5 bridges nothing extra)
    pairs = [(1, 2), (2, 3), (3, 4), (2, 5), (3, 5)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sources = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_sampled(
            undirected(edges), sources, max_hops=3
        ).collect()
    }

    # reference Brandes from source 1, horizon 3, same quantization
    G = 1 << 38
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lvl = {0: {1: 1}}
    seen = {1}
    for h in (1, 2, 3):
        nxt = {}
        for v, sg in lvl[h - 1].items():
            for w in adj[v]:
                if w not in seen:
                    nxt[w] = nxt.get(w, 0) + sg
        for w in nxt:
            seen.add(w)
        lvl[h] = nxt
    delta = {3: {v: 0 for v in lvl[3]}}
    for h in (2, 1):
        d = {}
        for v, sg in lvl[h].items():
            units = 0
            for w in adj[v]:
                if w in lvl[h + 1]:
                    t = math.floor(
                        (sg / lvl[h + 1][w])
                        * (1.0 + delta[h + 1][w] / G) * G + 0.5
                    )
                    units += t
            d[v] = units
        delta[h] = d
    want = {}
    for h in (1, 2, 3):
        for v, u in delta[h].items():
            want[v] = want.get(v, 0) + u
    want = {v: u / G for v, u in want.items()}
    assert got == want
    # sanity: the 2-3 corridor carries the flow
    assert got[2] > got[4] and got[3] > got[4]


def test_hard_negative_mining_zero_vectors_excluded(spark):
    """Zero-norm vectors are excluded from both sides (undefined cosine)
    instead of raising DIVIDE_BY_ZERO under ANSI mode — the
    semantic_dedup_fixed lesson, pinned after the round-7 review."""
    from flink_recommendation_system_spark.operators.similarity import (
        hard_negative_mining,
    )

    dim = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),
        (1, [0.9, 0.1, 0.0, 0.0], 7),
        (2, [0.0] * dim, 3),          # zero corpus vector
        (3, [0.0, 1.0, 0.0, 0.0], 3),
        (9, [0.0] * dim, 7),          # zero query vector
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = hard_negative_mining(
        df.filter("vec_id in (0, 9)"), df, n_pos=1, n_neg=2
    ).collect()
    ids = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert all(qid != 9 for qid, _ in ids)      # zero query dropped
    assert all(nid != 2 for _, nid in ids)      # zero neighbor dropped
    assert (0, 1) in ids and (0, 3) in ids      # real pairs survive
