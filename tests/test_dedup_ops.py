"""Dedup operator unit tests beyond the oracle-parity suite: the
exact set-similarity joins against brute force, winnowing's match
guarantee, and the overflow contract of the weighted-cosine join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.dedup import winnow_fingerprints


def test_winnow_shares_fingerprint_on_long_match(spark):
    # winnowing guarantee: any common substring of length >= k + w - 1
    # (= 15 here) yields at least one shared fingerprint
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, f"AAAA {shared} BBBB"), (2, f"CCCCCC {shared} DDD"), (3, "zz yy xx")],
        "doc_id int, text string",
    )
    fps = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(docs, "doc_id", "text", k=8, w=8).collect()
    }
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3])


def test_range_join_semantics(spark):
    from las_vpe_platform_spark.operators.joins import range_join

    left = spark.createDataFrame(
        [
            (1, "u1", "2024-01-01 10:00:00"),  # inside w1
            (2, "u1", "2024-01-01 11:00:00"),  # == w1 end (inclusive)
            (3, "u1", "2024-01-01 11:00:01"),  # just outside
            (4, "u2", "2024-01-01 10:30:00"),  # right user? w1 is u1's
            (5, "u1", "2024-01-03 00:00:00"),  # inside the long window
        ],
        "id long, user string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            ("w1", "u1", "2024-01-01 09:30:00", "2024-01-01 11:00:00"),
            # multi-day interval: explodes across many buckets, each
            # qualifying pair must still appear exactly once
            ("w2", "u1", "2024-01-02 00:00:00", "2024-01-04 00:00:00"),
        ],
        "win string, user string, start string, end string",
    ).withColumn("start", F.to_timestamp("start")).withColumn("end", F.to_timestamp("end"))
    out = range_join(
        left, right, left_point="ts", right_start="start", right_end="end",
        by=["user"], bucket_seconds=3600,
    )
    got = sorted((r["id"], r["win"]) for r in out.collect())
    assert got == [(1, "w1"), (2, "w1"), (5, "w2")]


def test_range_join_plan_is_equi_join(spark, sf_dir):
    from las_vpe_platform_spark.queries_relational import q52_purchase_window_clicks

    plan = q52_purchase_window_clicks(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_pairing_complete_vs_brute_force(spark):
    """The Manku block join finds EXACTLY the pairs brute force finds
    for hamming <= n_blocks - 1 (pigeonhole completeness), and refuses
    thresholds it cannot guarantee."""
    from las_vpe_platform_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_neardup_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(250)
    fps = simhash_fingerprints(docs, "doc_id", "text", shingle_k=2)
    sims = {r["doc_id"]: r["simhash"] for r in fps.select("doc_id", "simhash").collect()}
    ids = sorted(sims)
    brute = sorted(
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_neardup_pairs(fps, max_hamming=3).collect()
    )
    assert got == brute and len(brute) > 0
    with pytest.raises(ValueError):
        simhash_neardup_pairs(fps, max_hamming=4, n_blocks=4)


def test_balanced_sample_modes(spark):
    from las_vpe_platform_spark.operators.sampling import balanced_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # balanced mode: every stratum's kept count <= the smallest stratum
    # (expected ~floor, bounded by hash variance); determinism across
    # partitionings
    bal = balanced_sample(docs, "source", "doc_id")
    counts = {r["source"]: r["cnt"] for r in bal.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    floor = min(
        r["cnt"] for r in docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("cnt")).collect()
    )
    assert all(c <= floor for c in counts.values())
    again = balanced_sample(docs.repartition(7), "source", "doc_id")
    assert sorted(r["doc_id"] for r in bal.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )
    # target mode: untargeted strata drop to zero
    tgt = balanced_sample(docs, "source", "doc_id", target={"src0": 1.0})
    kept_sources = {r["source"] for r in tgt.select("source").distinct().collect()}
    assert kept_sources == {"src0"}


def test_connected_components_chain_and_islands(spark):
    from las_vpe_platform_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # separate pair 10-11, self-contained triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_prefix_filter_complete_at_float_hostile_thresholds(spark):
    """The epsilon-slacked ceils must keep prefix filtering COMPLETE at
    thresholds where double ceil exceeds the exact rational bound
    (t=0.2, |a|+|b|=18 makes float alpha=4 vs exact 3 — review r3).
    The inverted-index join must filter on the EXACT ratio too: docs 5
    and 6 sit at J = 1/3 exactly, which a 6-digit rounding before the
    t = 1/3 filter drops. Brute-force exact Jaccard is the witness."""
    from itertools import combinations

    from las_vpe_platform_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    # 9-token docs sharing exactly 4 consecutive tokens -> with k=2
    # shingles: 8 shingles each, overlap 3, J = 3/13 ~ 0.23
    rows = [
        (1, "a b c d e f g h i"),
        (2, "z y x w f g h i q"),   # shares f g, g h, h i
        (3, "m n o p q r s t u"),
        (4, "m n o p q r s t v"),   # near-clone of 3
        (5, "k1 k2 k3 k4 k5"),
        (6, "k0 k3 k4 k5 k6"),      # shares k3 k4, k4 k5: J = 2/6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.2, 0.22, 1.0 / 3.0, 0.5):
        # brute force
        def sh(s):
            toks = s.split()
            return {" ".join(toks[i:i+2]) for i in range(len(toks) - 1)}
        want = set()
        for (ia, ta), (ib, tb) in combinations(rows, 2):
            a, b = sh(ta), sh(tb)
            j = len(a & b) / len(a | b)
            if j >= t:
                want.add((min(ia, ib), max(ia, ib)))
        for out in (
            prefix_filter_pairs(df, "doc_id", "text", threshold=t, shingle_k=2),
            ngram_jaccard_pairs(df, "doc_id", "text", shingle_k=2, threshold=t),
        ):
            got = {(r["id_a"], r["id_b"]) for r in out.collect()}
            assert got == want, (t, got, want)


def test_prefix_filter_join_matches_brute_force(spark):
    """Two-table PPJoin completeness at float-hostile thresholds —
    the R x S generalization must find exactly the brute-force pair
    set under the SHARED global order (per-side orders would break the
    first-common-element guarantee)."""
    from las_vpe_platform_spark.operators.dedup import prefix_filter_pairs

    corpus = [
        (1, "a b c d e f g h i"),
        (2, "m n o p q r s t u"),
        (3, "z z2 z3 z4 z5 z6 z7 z8 z9"),
    ]
    evals = [
        (10, "z y x w f g h i q"),    # overlaps 1
        (11, "m n o p q r s t v"),    # near-clone of 2
        (12, "totally different words here indeed"),
    ]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "doc_id long, text string")

    def sh(s):
        toks = s.split()
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    for t in (0.2, 0.22, 1.0 / 3.0, 0.5):
        got = {
            (r["id_a"], r["id_b"])
            for r in prefix_filter_pairs(
                cdf, "doc_id", "text", threshold=t, shingle_k=2, right=edf
            ).collect()
        }
        want = set()
        for ci, ct in corpus:
            for ei, et in evals:
                a, b = sh(ct), sh(et)
                if len(a & b) / len(a | b) >= t:
                    want.add((ci, ei))
        assert got == want, (t, got, want)


def test_containment_pairs_matches_brute_force(spark):
    """Rarest-bigram anchoring must find EXACTLY the brute-force
    token-sequence containment set — including the one-token inner
    (no bigram to anchor on), the non-boundary substring that must
    NOT match ('b c' inside 'ab c' at char level but not at token
    level), and both orientations of an exact-equal pair."""
    from las_vpe_platform_spark.operators.dedup import containment_pairs

    rows = [
        (1, "a b c d e"),
        (2, "b c d"),          # contained in 1
        (3, "  b   c  d "),    # whitespace-normalized clone of 2 (both ways)
        (4, "e"),              # one token, contained in 1
        (5, "xb c"),           # 'b c' is a char substring but not token-aligned
        (6, "q r s"),          # contained in nothing
        (7, "c d e"),          # suffix of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["inner_id"], r["outer_id"], r["exact_equal"])
        for r in containment_pairs(df, "doc_id", "text").collect()
    }

    def norm(s):
        return " ".join(s.split())

    want = set()
    for ii, ti in rows:
        for oi, to in rows:
            ni, no = norm(ti), norm(to)
            if ii != oi and ni and f" {ni} " in f" {no} ":
                want.add((ii, oi, int(ni == no)))
    assert (2, 1, 0) in want and (3, 2, 1) in want and (2, 3, 1) in want
    assert (4, 1, 0) in want and (2, 5, 0) not in want
    assert got == want


def test_weighted_cosine_pairs_matches_brute_force(spark):
    """All-Pairs completeness (q133's operator): the prefix-bound
    candidate stage + integer verify must emit exactly the brute-force
    rarity-weighted cosine pair set, including threshold-boundary
    cases the integer predicate decides exactly."""
    from fractions import Fraction

    from las_vpe_platform_spark.operators.dedup import weighted_cosine_pairs
    from las_vpe_platform_spark.operators.staging import unpersist_all

    corpus = [
        (1, "a b c d e f g h i"),
        (2, "a b c d e f g h j"),      # near-clone of 1
        (3, "m n o p q r s t u"),
        (4, "m n o p q r s t u"),      # exact clone of 3 (cos = 1)
        (5, "z1 z2 z3 z4 z5 z6"),      # all-unique, no partner
        (6, "a b m n z9 z8 z7"),       # mixes 1's and 3's shingles
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    def wvec(toks):
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    shingles = {d: wvec(t.split()) for d, t in corpus}
    dfreq = {}
    for ss in shingles.values():
        for s in ss:
            dfreq[s] = dfreq.get(s, 0) + 1
    w = {s: 1000 // c for s, c in dfreq.items()}

    for t_num, t_den in ((3, 5), (1, 2), (1, 1)):
        try:
            got = {
                (r["id_a"], r["id_b"])
                for r in weighted_cosine_pairs(
                    df, "doc_id", "text", t_num, t_den
                ).collect()
            }
        finally:
            unpersist_all()
        want = set()
        docs = sorted(shingles)
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                dot = sum(w[s] * w[s] for s in shingles[a] & shingles[b])
                na2 = sum(w[s] ** 2 for s in shingles[a])
                nb2 = sum(w[s] ** 2 for s in shingles[b])
                # exact rational comparison, mirroring the BIGINT verify
                if dot >= 0 and Fraction(dot * dot, na2 * nb2) >= Fraction(
                    t_num * t_num, t_den * t_den
                ):
                    want.add((a, b))
        assert got == want, (t_num, t_den, got, want)


def test_weighted_cosine_overflow_guard_raises(spark):
    """Out-of-contract shingle mass (dot beyond the int64-safe bound)
    must fail LOUDLY instead of ANSI-aborting or silently wrapping
    (review r6). Two identical very long all-rare documents push dot
    past isqrt((2^63-1)/t_den^2)."""
    from las_vpe_platform_spark.operators.dedup import weighted_cosine_pairs
    from las_vpe_platform_spark.operators.staging import unpersist_all

    # shared shingles have df=2 => w = 500; need dot = n_sh * 500^2
    # past dmax = isqrt((2^63-1)/25) ~ 6.07e8 => n_sh > 2430
    text = " ".join(f"t{i}" for i in range(2502))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    try:
        with pytest.raises(Exception, match="would overflow int64"):
            weighted_cosine_pairs(df, "doc_id", "text", 3, 5).collect()
    finally:
        unpersist_all()
