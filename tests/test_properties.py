"""Property-based tests (hypothesis) for operator semantics.

Each property checks a Spark operator against a straightforward pure-
Python reference on randomized inputs — the SQL-logic-test analog for
operators whose interesting cases (ties, empties, tolerance edges)
are easy to miss with fixture data alone.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.asof import asof_join
from las_vpe_platform_spark.operators.sampling import sample_array_even

BASE = datetime(2024, 1, 1)

slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def asof_case(draw):
    keys = ["a", "b"]
    left = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 500)),
            min_size=1,
            max_size=12,
        )
    )
    right = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 500), st.integers(0, 99)),
            min_size=0,
            max_size=12,
            unique_by=lambda r: (r[0], r[1]),  # unique (key, ts): total order
        )
    )
    return left, right


@given(asof_case())
@slow
def test_asof_join_matches_reference(spark, case):
    left_rows, right_rows = case
    left = spark.createDataFrame(
        [(i, k, BASE + timedelta(seconds=s)) for i, (k, s) in enumerate(left_rows)],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=s), v) for (k, s, v) in right_rows],
        "k string, ts timestamp, v long",
    ) if right_rows else spark.createDataFrame([], "k string, ts timestamp, v long")

    got = {
        r["id"]: r["v_right"]
        for r in asof_join(left, right, on="ts", by=["k"], right_value_cols=["v"]).collect()
    }

    # pure-python reference: latest right at-or-before, same key
    def ref(k, s):
        cands = [(rs, v) for (rk, rs, v) in right_rows if rk == k and rs <= s]
        return max(cands)[1] if cands else None

    want = {i: ref(k, s) for i, (k, s) in enumerate(left_rows)}
    assert got == want


@given(
    st.lists(st.integers(0, 1000), min_size=0, max_size=40),
    st.integers(1, 8),
)
@slow
def test_sample_array_even_properties(spark, arr, n):
    df = spark.createDataFrame([(arr,)], "a array<int>")
    out = df.select(sample_array_even("a", n).alias("s")).collect()[0]["s"]
    out = list(out)
    # bounded size, preserves relative order as a subsequence, keeps head
    assert len(out) <= max(n, 0) and len(out) <= len(arr)
    if arr:
        assert out[0] == arr[0]
        it = iter(arr)
        assert all(x in it for x in out)  # subsequence check
    else:
        assert out == []


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=6))
@slow
def test_word_shingles_match_reference(spark, texts):
    from las_vpe_platform_spark.functions.text import word_shingles

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [list(r["sh"]) for r in df.select(word_shingles("text", 2).alias("sh")).collect()]

    def ref(t):
        toks = [x for x in t.strip().split() if x]
        sh = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        seen, out = set(), []
        for s in sh:
            if s not in seen:
                seen.add(s)
                out.append(s)
        return out

    # row order isn't guaranteed after collect on 1 partition it is; sort both
    assert sorted(map(tuple, got)) == sorted(tuple(ref(t)) for t in texts)


@given(
    st.lists(
        st.tuples(st.text(alphabet="abc", min_size=1, max_size=2)),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=4),
    st.integers(min_value=4, max_value=16),
)
@slow
def test_cms_estimates_upper_bound_exact_counts(spark, rows, d, w):
    """Count-min estimates never undercount (one-sided error), for any
    key distribution and any sketch geometry."""
    from collections import Counter

    from las_vpe_platform_spark.operators.aggregates import cms_heavy_hitters

    df = spark.createDataFrame(rows, "k string")
    out = cms_heavy_hitters(df, key_cols=["k"], d=d, w=w, k=10_000)
    true = Counter(r[0] for r in rows)
    est = {r["k"]: r["estimate"] for r in out.collect()}
    assert set(est) == set(true)
    for key, t in true.items():
        assert est[key] >= t


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=12,
        unique_by=tuple,
    ),
    st.integers(min_value=1, max_value=4),
)
@slow
def test_matmul_topk_matches_python_reference(spark, vecs, k):
    """The BLAS top-k agrees with a pure-Python cosine ranking (ties by
    gallery key, zero-norm pairs ranked last) on arbitrary vectors."""
    import math

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    probes = df.filter(F.col("id") % 3 == 0)
    from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk

    got = {
        (r["probe_key"], r["rank"]): r["gallery_key"]
        for r in pairwise_similarity_topk(
            probes, df, probe_key="id", gallery_key="id", vector_col="v", k=k
        ).collect()
    }

    def cos(a, b):
        # mirror the float32 storage: Spark reads the vectors back as
        # float32, so the reference must quantize the same way
        import struct

        a = [struct.unpack("f", struct.pack("f", x))[0] for x in a]
        b = [struct.unpack("f", struct.pack("f", x))[0] for x in b]
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb <= 0:
            return None
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    want = {}
    for pid, pv in rows:
        if pid % 3 != 0:
            continue
        scored = [(cos(pv, gv), gid) for gid, gv in rows]
        scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        for rank, (_s, gid) in enumerate(scored[:k], start=1):
            want[(pid, rank)] = gid
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@slow
def test_connected_components_match_union_find(spark, edges):
    """CC by min-label + path halving must equal a plain union-find:
    every node labeled with the minimum node id of its component —
    on random multigraphs with self-loops, duplicates, and both edge
    orientations (edges_canonical=False exercises the symmetrize +
    distinct path)."""
    from las_vpe_platform_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "id_a", "id_b").collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in comps.values() for n in members}
    assert got == want


@st.composite
def jaccard_corpus(draw):
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg"]
    def doc():
        toks = draw(st.lists(st.sampled_from(vocab), min_size=2, max_size=9))
        return " ".join(toks)
    n_l = draw(st.integers(1, 5))
    n_r = draw(st.integers(1, 4))
    left = [(i, doc()) for i in range(n_l)]
    right = [(100 + i, doc()) for i in range(n_r)]
    t = draw(st.sampled_from([0.2, 0.25, 1.0 / 3.0, 0.5, 0.75, 1.0]))
    return left, right, t


@given(case=jaccard_corpus())
@slow
def test_prefix_filter_join_property(spark, case):
    """PPJoin completeness/precision on random corpora from a tiny
    vocabulary (maximally hot shingles — the prefix filter's worst
    case) at thresholds including exact rationals: the R x S join and
    the self-join of the left corpus must each equal brute-force exact
    Jaccard, pair for pair."""
    from itertools import combinations

    from las_vpe_platform_spark.operators.dedup import prefix_filter_pairs

    left, right, t = case
    ldf = spark.createDataFrame(left, "doc_id long, text string")
    rdf = spark.createDataFrame(right, "doc_id long, text string")

    def sh(s):
        toks = s.split()
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    def brute(pairs):
        want = {}
        for (ai, at), (bi, bt) in pairs:
            a, b = sh(at), sh(bt)
            j = len(a & b) / len(a | b)
            if j >= t:
                want[(ai, bi)] = j
        return want

    def check(out, want):
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert got.keys() == want.keys(), (t, got, want)
        for k in got:
            assert abs(got[k] - want[k]) < 1e-9

    check(
        prefix_filter_pairs(
            ldf, "doc_id", "text", threshold=t, shingle_k=2, right=rdf
        ),
        brute((lt, rt) for lt in left for rt in right),
    )
    # left ids are ascending, so combinations yields id_a < id_b
    check(
        prefix_filter_pairs(ldf, "doc_id", "text", threshold=t, shingle_k=2),
        brute(combinations(left, 2)),
    )


@st.composite
def containment_corpus(draw):
    # tiny vocabulary -> maximally hot bigrams (the anchor's worst
    # case) + short docs so one-token anchors and exact-equal pairs
    # all occur
    vocab = ["aa", "bb", "cc"]

    def doc():
        toks = draw(st.lists(st.sampled_from(vocab), min_size=1, max_size=6))
        return " ".join(toks)

    n = draw(st.integers(2, 7))
    return [(i, doc()) for i in range(n)]


@given(docs=containment_corpus())
@slow
def test_containment_pairs_property(spark, docs):
    """Containment completeness/precision on random hot-bigram corpora:
    the rarest-bigram/unigram anchor join must find EXACTLY the
    brute-force token-subsequence containment set, including duplicate
    texts (both orientations) and one-token docs."""
    from las_vpe_platform_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["inner_id"], r["outer_id"])
        for r in containment_pairs(df, "doc_id", "text").collect()
    }
    want = set()
    for ii, ti in docs:
        for oi, to in docs:
            ni, no = " ".join(ti.split()), " ".join(to.split())
            if ii != oi and ni and f" {ni} " in f" {no} ":
                want.add((ii, oi))
    assert got == want


@st.composite
def cotravel_tracklets(draw):
    # random short intervals in a handful of videos; spans ≤ 31 so the
    # ≤ 2-bucket explode invariant (COTRAVEL_BUCKET = 64) is exercised
    # at its edge, including intervals that straddle a bucket boundary
    n = draw(st.integers(2, 10))
    rows = []
    for i in range(n):
        vid = draw(st.sampled_from(["v1", "v2"]))
        sf = draw(st.integers(0, 200))
        ln = draw(st.integers(1, 31))
        cx = draw(st.integers(0, 1000))
        rows.append((vid, f"t{i}", sf, ln, cx))
    return rows


@given(rows=cotravel_tracklets())
@slow
def test_cotravel_bucket_join_property(spark, rows):
    """The banded join + canonical-bucket filter must admit each
    overlapping pair EXACTLY once (no duplicates, no misses) for
    random intervals, including bucket-straddling ones."""
    from pyspark.sql import functions as F

    B = 64
    df = spark.createDataFrame(
        rows, "video_id string, key string, sf long, ln long, cx long"
    ).selectExpr("video_id", "key", "sf", "sf + ln AS ef", "cx")
    a = df.selectExpr(
        "video_id", "key AS key_a", "sf AS sf_a", "ef AS ef_a", "cx AS cx_a",
        f"explode(sequence(sf div {B}, ef div {B})) AS bucket",
    )
    b = df.selectExpr(
        "video_id", "key AS key_b", "sf AS sf_b", "ef AS ef_b", "cx AS cx_b",
        f"explode(sequence(sf div {B}, ef div {B})) AS bucket",
    )
    got_rows = (
        a.join(b, on=["video_id", "bucket"])
        .filter("key_a < key_b")
        .filter(f"bucket = greatest(sf_a, sf_b) div {B}")
        .filter("least(ef_a, ef_b) - greatest(sf_a, sf_b) >= 1")
        .select("video_id", "key_a", "key_b")
        .collect()
    )
    got = [(r["video_id"], r["key_a"], r["key_b"]) for r in got_rows]
    assert len(got) == len(set(got)), "duplicate pair emitted"
    want = set()
    for va, ka, sa, la, _ in rows:
        for vb, kb, sb, lb, _ in rows:
            if va == vb and ka < kb:
                if min(sa + la, sb + lb) - max(sa, sb) >= 1:
                    want.add((va, ka, kb))
    assert set(got) == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=20,
    ),
    rounds=st.integers(1, 3),
)
@slow
def test_label_propagation_matches_python_reference(spark, edges, rounds):
    """Synchronous LPA with pinned tie-breaks must equal a dict-based
    reference on random multigraphs (self-loops and duplicate edges
    included — both engines count them identically because neither
    dedups)."""
    from las_vpe_platform_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, "id_a", "id_b", rounds=rounds).collect()
    }

    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, neigh in adj.items():
            counts: dict[int, int] = {}
            for m in neigh:
                lbl = labels[m]
                counts[lbl] = counts.get(lbl, 0) + 1
            # most frequent, tie -> smallest label
            nxt[n] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    assert got == labels


@st.composite
def ivfpq_case(draw):
    dim, m = 8, 2
    n = draw(st.integers(4, 14))
    vecs = []
    for _ in range(n):
        # integer-valued components keep every dot/distance EXACT in
        # float64, so the numpy reference and Spark agree bitwise even
        # through ties; first component >= 1 rules out zero norms
        v = [float(draw(st.integers(1, 4)))] + [
            float(draw(st.integers(-3, 3))) for _ in range(dim - 1)
        ]
        vecs.append(v)
    return vecs


@given(case=ivfpq_case())
@slow
def test_ivfpq_matches_python_reference(spark, case):
    """ivfpq_topk's full deterministic contract — mod-centroids,
    cosine cell assignment (tie: smaller centroid), residual codebook
    from the n_codes smallest keys, per-subspace argmin encode (tie:
    smaller position), ADC scoring within nprobe cells, final
    (distance, key) rank — replayed in plain python/math."""
    import math

    from las_vpe_platform_spark.operators.similarity import ivfpq_topk

    vecs = case
    dim, m, n_codes, mod, nprobe, k = 8, 2, 4, 3, 2, 3
    sub_d = dim // m
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = df.filter(F.col("vec_id") % 2 == 0)
    got = [
        (r["probe_key"], r["gallery_key"], r["rank"])
        for r in ivfpq_topk(
            probes, df, "vec_id", "vec_id", "embedding",
            dim=dim, m=m, n_codes=n_codes, k=k,
            num_centroids_mod=mod, nprobe=nprobe,
        ).collect()
    ]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def norm(a):
        s = 0.0
        for x in a:
            s += x * x
        return math.sqrt(s)

    cents = [(i, v) for i, v in rows if i % mod == 0]

    def cells_for(v, keep):
        scored = sorted(
            (( -(dot(v, cv) / (norm(v) * norm(cv))), cid) for cid, cv in cents)
        )
        return [cid for _negsim, cid in scored[:keep]]

    assign = {i: cells_for(v, 1)[0] for i, v in rows}
    cvec = dict(cents)
    resid = {i: [a - b for a, b in zip(v, cvec[assign[i]])] for i, v in rows}
    cb = [resid[i] for i in sorted(resid)[:n_codes]]

    def sub_d2(a, b, s):
        t = 0.0
        for i in range(sub_d):
            d = a[s * sub_d + i] - b[s * sub_d + i]
            t += d * d
        return t

    def encode(r):
        return [
            min(((sub_d2(r, c, s), j) for j, c in enumerate(cb)))[1]
            for s in range(m)
        ]

    codes = {i: encode(resid[i]) for i, _ in rows}
    expected = []
    for pid, pv in rows:
        if pid % 2 != 0:
            continue
        scored = []
        for cell in cells_for(pv, nprobe):
            pr = [a - b for a, b in zip(pv, cvec[cell])]
            adc = [[sub_d2(pr, c, s) for c in cb] for s in range(m)]
            for gid, gv in rows:
                if assign[gid] != cell:
                    continue
                dist = 0.0
                for s in range(m):
                    dist += adc[s][codes[gid][s]]
                scored.append((dist, gid))
        for rank, (_d, gid) in enumerate(sorted(scored)[:k], start=1):
            expected.append((pid, gid, rank))
    assert sorted(got) == sorted(expected)


@given(
    strings=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=7),
        min_size=1,
        max_size=12,
        unique=True,
    ),
    t=st.integers(1, 3),
)
@slow
def test_edit_distance_pairs_matches_brute_force(spark, strings, t):
    """The banded length-bucket blocking must be lossless AND admit
    each qualifying pair exactly once — compared against an O(n^2)
    python DP over random (incl. empty) strings."""
    from las_vpe_platform_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = sorted(
        (r["s_a"], r["s_b"], r["edit_dist"])
        for r in edit_distance_pairs(df, "s", threshold=t).collect()
    )

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy))
                )
            prev = cur
        return prev[-1]

    import itertools

    expected = sorted(
        (min(x, y), max(x, y), lev(x, y))
        for x, y in itertools.combinations(strings, 2)
        if lev(x, y) <= t
    )
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                         # key
            st.integers(0, 50),                        # time
            st.one_of(st.none(), st.integers(0, 2)),   # attr (nullable)
        ),
        min_size=1,
        max_size=16,
    )
)
@slow
def test_scd2_history_matches_python_reference(spark, rows):
    """scd2_history vs a straightforward sequential reference on random
    changelogs — tied timestamps (broken by event_id) and NULL
    attribute runs included, the two cases review r5 caught."""
    from las_vpe_platform_spark.operators.maintenance import scd2_history

    recs = [(k, i, t, a) for i, (k, t, a) in enumerate(rows)]
    df = spark.createDataFrame(
        recs, "key long, event_id long, us long, attr long"
    )
    def skey(t):  # rows carry NULLs (attr, open valid_to) — sortable form
        return tuple((v is None, v if v is not None else 0) for v in t)

    got = sorted(
        (
            (
                r["key"], r["attr"], r["valid_from_us"], r["valid_to_us"],
                r["n_events"], r["is_current"],
            )
            for r in scd2_history(
                df, key_col="key", attr_col="attr",
                time_col="us", tiebreak_col="event_id",
            ).collect()
        ),
        key=skey,
    )

    bykey: dict[int, list] = {}
    for k, eid, t, a in recs:
        bykey.setdefault(k, []).append((t, eid, a))
    expected = []
    for k, evs in bykey.items():
        evs.sort()
        runs = []  # (attr, first_t, n)
        for t, _eid, a in evs:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, t, 1])
        for i, (a, t, n) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            expected.append((k, a, t, nxt, n, 1 if nxt is None else 0))
    assert got == sorted(expected, key=skey)


@st.composite
def patch_table(draw):
    """Random binary 'patch' rows: varying lengths INCLUDING shorter
    than the 48-byte aHash grid (dropped by contract) and exact
    duplicates (guaranteed band collisions)."""
    n = draw(st.integers(2, 12))
    rows = []
    for i in range(n):
        length = draw(st.sampled_from([0, 10, 47, 48, 48, 60]))
        data = bytes(draw(st.lists(st.integers(0, 255), min_size=length, max_size=length)))
        rows.append((f"k{i:03d}", data))
    if draw(st.booleans()) and rows:
        # clone one payload under a new key: a guaranteed near-dup pair
        rows.append((f"k{n:03d}", rows[0][1]))
    return rows


@slow
@given(patch_table())
def test_patch_ahash_property(spark, rows):
    """patch_ahash == the pure-Python aHash model on arbitrary bytes:
    short payloads (< 48 bytes) are DROPPED (the cross-engine guard),
    long ones hash their leading 48 bytes; candidate pairs carry the
    exact XOR-popcount Hamming."""
    from las_vpe_platform_spark.operators.multimodal import (
        ahash_candidate_pairs,
        patch_ahash,
    )

    df = spark.createDataFrame(
        [(k, [{"height": 1, "patch_data": d, "width": 1, "x": 0, "y": 0}])
         for k, d in rows],
        "tracklet_key string, location_sequence array<struct<height:long,patch_data:binary,width:long,x:long,y:long>>",
    )
    got = {r["id"]: list(r["band_hash"]) for r in patch_ahash(df).collect()}

    def model(data):
        bs = list(data[:48])
        mu = sum(bs) / 48.0
        return [
            sum((1 << i) for i in range(12) if bs[12 * j + i] > mu)
            for j in range(4)
        ]

    want = {k: model(d) for k, d in rows if len(d) >= 48}
    assert got == want

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_candidate_pairs(patch_ahash(df), 48).collect()
    }
    keys = sorted(want)
    expect = {}
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            ba, bb = want[a], want[b]
            if any(x == y for x, y in zip(ba, bb)):
                expect[(a, b)] = sum(
                    bin(x ^ y).count("1") for x, y in zip(ba, bb)
                )
    assert pairs == expect


@slow
@given(
    st.lists(
        st.tuples(st.text(alphabet="abcdef", min_size=1, max_size=4),
                  st.integers(1, 10_000)),
        min_size=1, max_size=12, unique_by=lambda t: t[0],
    )
)
def test_waterfill_property(spark, sources):
    """Water-filling on arbitrary per-source token masses: exactly one
    break row, allocations exhaust the budget, caps order-consistent.
    Drives the same break-row predicate as q172 via SQL over a literal
    table (engine-independent check of the math itself)."""
    import duckdb

    total = sum(n for _, n in sources)
    budget = (total * 6) // 10
    # brute-force lambda: sort ascending, walk prefixes
    ss = sorted(sources, key=lambda t: (t[1], t[0]))
    S = len(ss)
    prefix = 0
    brk = None
    for i in range(S + 1):
        ni = ss[i - 1][1] if i > 0 else 0
        nxt = ss[i][1] if i < S else None
        ok_low = ni * (S - i) <= budget - prefix
        ok_high = nxt is None or budget - prefix < nxt * (S - i)
        if ok_low and ok_high:
            assert brk is None, "break row must be unique"
            brk = (i, prefix)
        if i < S:
            prefix += ss[i][1]
    if budget >= total:
        return  # degenerate: nothing capped; entry contract is B < total
    assert brk is not None
    i, pi = brk
    lam = (budget - pi) / (S - i)
    alloc = sum(min(n, lam) for _, n in sources)
    assert abs(alloc - budget) < 1e-6 * max(1, S)


@st.composite
def edge_list(draw):
    n = draw(st.integers(2, 14))
    edges = draw(
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            min_size=1,
            max_size=40,
        )
    )
    # canonicalize: a < b, distinct (adjacency_support's input contract)
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    return canon


@given(edge_list())
@slow
def test_adjacency_support_matches_common_neighbors(spark, edges):
    """adjacency_support == |N(a) ∩ N(b)| per edge, on arbitrary
    graphs (hub-skewed, triangle-free, near-clique — whatever
    hypothesis draws), with exactly one output row per input edge."""
    from las_vpe_platform_spark.operators.graph import adjacency_support

    if not edges:
        return
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {(a, b): len(adj[a] & adj[b]) for a, b in edges}
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["support"]
        for r in adjacency_support(df).collect()
    }
    assert got == want
