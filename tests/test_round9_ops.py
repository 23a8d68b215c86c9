"""Round-9 operator tests: structural invariants the oracle hash
can't articulate on its own (the test-strategy counterpart of
test_round8_ops.py for this round's entries)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_local_bridges_have_no_common_neighbor(spark, sf_dir):
    """Every reported local bridge must have endpoints with ZERO common
    neighbors in the candidate graph, and every unreported edge must
    have at least one — checked against a brute-force adjacency map."""
    from las_vpe_platform_spark.operators.dedup import minhash_lsh_candidates
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_K,
        q160_local_bridges,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, id_col="doc_id", text_col="text",
            shingle_k=MINHASH_K, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        ).select("id_a", "id_b").collect()
    }
    got = {(r["id_a"], r["id_b"]): r for r in q160_local_bridges(spark, sf_dir).collect()}
    unpersist_all()
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {(a, b) for a, b in pairs if not (adj[a] & adj[b])}
    assert set(got) == want
    for (a, b), r in got.items():
        assert r["deg_a"] == len(adj[a]) and r["deg_b"] == len(adj[b])
        assert r["is_pendant"] == int(min(len(adj[a]), len(adj[b])) == 1)


def test_compaction_plan_partitions_inventory(spark, sf_dir):
    """Bins partition the file inventory exactly: byte totals add up,
    file ranges are contiguous and non-overlapping in file_id order."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import LAYOUT_FILES, q166_compaction_plan
    from las_vpe_platform_spark.sources.tables import load_table

    out = sorted(
        q166_compaction_plan(spark, sf_dir).collect(), key=lambda r: r["bin_id"]
    )
    unpersist_all()
    docs = load_table(spark, sf_dir, "documents")
    total_bytes = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r["total_bytes"] for r in out) == total_bytes
    assert sum(r["n_files"] for r in out) == LAYOUT_FILES
    for a, b in zip(out, out[1:]):
        assert a["file_hi"] + 1 == b["file_lo"], "bins not contiguous"
    assert out[0]["file_lo"] == 0 and out[-1]["file_hi"] == LAYOUT_FILES - 1


def test_silence_trim_bounds(spark, sf_dir):
    """Trim indices are consistent: first <= last when voiced, lead +
    tail trims never exceed the window count, and an all-voiced clip
    trims nothing."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_domain import m16_audio_silence_trim

    rows = m16_audio_silence_trim(spark, sf_dir).collect()
    unpersist_all()
    assert rows
    for r in rows:
        if r["first_voiced"] is None:
            assert r["last_voiced"] is None
            assert r["n_lead_trimmed"] == r["n_windows"]
            assert r["n_tail_trimmed"] == 0
        else:
            assert 0 <= r["first_voiced"] <= r["last_voiced"] < r["n_windows"]
            assert r["n_lead_trimmed"] == r["first_voiced"]
            assert r["n_tail_trimmed"] == r["n_windows"] - 1 - r["last_voiced"]
        assert r["n_lead_trimmed"] + r["n_tail_trimmed"] <= r["n_windows"]


def test_clustering_coefficient_matches_brute_force(spark, sf_dir):
    """c(v) against a Python adjacency-map reference: triangle counts
    from pairwise neighbor intersection, coefficient in [0, 1]."""
    from las_vpe_platform_spark.operators.dedup import minhash_lsh_candidates
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        MINHASH_BANDS,
        MINHASH_HASHES,
        MINHASH_K,
        q167_clustering_coefficient,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, id_col="doc_id", text_col="text",
            shingle_k=MINHASH_K, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
        ).select("id_a", "id_b").collect()
    }
    got = {r["node"]: r for r in q167_clustering_coefficient(spark, sf_dir).collect()}
    unpersist_all()
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {v for v, ns in adj.items() if len(ns) >= 2}
    assert set(got) == want
    for v in want:
        ns = adj[v]
        tri = sum(len(adj[u] & ns) for u in ns) // 2
        r = got[v]
        assert r["deg"] == len(ns) and r["n_triangles"] == tri
        assert 0.0 <= r["coeff"] <= 1.0
        import math

        expect = math.floor((2 * tri / (len(ns) * (len(ns) - 1))) * 1e6 + 0.5) / 1e6
        assert abs(r["coeff"] - expect) < 1e-12


def test_novelty_saturation_shape(spark, sf_dir):
    """Slice 0's novelty is 1.0 by construction (nothing earlier), every
    rate is in (0, 1], and novel counts sum to the global distinct
    shingle count."""
    from las_vpe_platform_spark.operators.dedup import exploded_shingles
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import DECONTAM_N, q168_novelty_saturation
    from las_vpe_platform_spark.sources.tables import load_table

    rows = sorted(
        q168_novelty_saturation(spark, sf_dir).collect(), key=lambda r: r["slice"]
    )
    unpersist_all()
    assert rows[0]["slice"] == 0 and rows[0]["novelty_rate"] == 1.0
    for r in rows:
        assert 0.0 < r["novelty_rate"] <= 1.0
        assert r["n_novel"] <= r["n_distinct"] <= r["n_shingles"]
    docs = load_table(spark, sf_dir, "documents")
    total_distinct = (
        exploded_shingles(docs, "doc_id", "text", DECONTAM_N)
        .select("shingle")
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == total_distinct


def test_s30_gate_equals_batch_q60(spark, sf_dir):
    """The streaming gate's appended log equals batch q60 row-for-row
    (per-doc flags are functions of the static eval set alone)."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q60_decontaminate
    from las_vpe_platform_spark.queries_streaming import s30_stream_contamination_gate

    streamed = {
        r["doc_id"]: (r["n_shared"], r["contaminated"])
        for r in s30_stream_contamination_gate(spark, sf_dir).collect()
    }
    batch = {
        r["doc_id"]: (r["n_shared"], r["contaminated"])
        for r in q60_decontaminate(spark, sf_dir).collect()
    }
    unpersist_all()
    assert streamed == batch


def test_s29_drift_equals_batch_q104(spark, sf_dir):
    """The streaming fold's final answer equals batch q104 row-for-row
    (additive counts => batching-invariant)."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q104_source_drift
    from las_vpe_platform_spark.queries_streaming import s29_stream_source_drift

    key = lambda r: (r["source_a"], r["source_b"])  # noqa: E731
    streamed = {key(r): r for r in s29_stream_source_drift(spark, sf_dir).collect()}
    unpersist_all()
    batch = {key(r): r for r in q104_source_drift(spark, sf_dir).collect()}
    unpersist_all()
    assert set(streamed) == set(batch)
    for k, r in streamed.items():
        b = batch[k]
        assert (
            r["vocab"], r["tokens_a"], r["tokens_b"], r["js_divergence"]
        ) == (b["vocab"], b["tokens_a"], b["tokens_b"], b["js_divergence"])


# --- late round-9 entries (m17, s31, q169-q173) ------------------------------


def test_patch_ahash_matches_bruteforce(spark):
    """Recompute the aHash bands in pure Python from the fixture bytes
    and require bit-identical band values, plus the LSH candidate
    contract: every reported pair shares >= 1 equal band and its
    hamming equals the brute-force XOR popcount."""
    import pyarrow.parquet as pq

    from las_vpe_platform_spark.fixtures import FIXTURES_DIR
    from las_vpe_platform_spark.operators.multimodal import patch_ahash
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_domain import (
        M17_HAMMING_T,
        m17_patch_ahash_neardup,
    )

    tr = pq.read_table(FIXTURES_DIR / "tracklets.parquet").to_pylist()
    want = {}
    for row in tr:
        patches = [b for b in row["location_sequence"] if b["patch_data"] is not None]
        if not patches:
            continue
        bs = list(patches[0]["patch_data"][:48])
        mu = sum(bs) / 48.0
        bands = []
        for j in range(4):
            v = 0
            for i in range(12):
                if bs[12 * j + i] > mu:
                    v |= 1 << i
            bands.append(v)
        want[row["tracklet_key"]] = bands

    hashed = {
        r["id"]: list(r["band_hash"])
        for r in patch_ahash(
            spark.read.parquet(str(FIXTURES_DIR / "tracklets.parquet"))
        ).collect()
    }
    assert hashed == want

    pairs = m17_patch_ahash_neardup(spark, "unused").collect()
    unpersist_all()
    assert len(pairs) > 0
    for r in pairs:
        ba, bb = want[r["id_a"]], want[r["id_b"]]
        assert any(x == y for x, y in zip(ba, bb)), "pair without a band collision"
        ham = sum(bin(x ^ y).count("1") for x, y in zip(ba, bb))
        assert ham == r["hamming"] and ham <= M17_HAMMING_T


def test_s31_novelty_equals_batch_q168(spark, sf_dir):
    """The streaming fold's final rollup equals batch q168 row-for-row
    (additive counts + MIN first-slice => batching-invariant)."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q168_novelty_saturation
    from las_vpe_platform_spark.queries_streaming import s31_stream_novelty_monitor

    streamed = {r["slice"]: r for r in s31_stream_novelty_monitor(spark, sf_dir).collect()}
    unpersist_all()
    batch = {r["slice"]: r for r in q168_novelty_saturation(spark, sf_dir).collect()}
    unpersist_all()
    assert set(streamed) == set(batch)
    for k, r in streamed.items():
        b = batch[k]
        assert (
            r["n_shingles"], r["n_distinct"], r["n_novel"], r["novelty_rate"]
        ) == (b["n_shingles"], b["n_distinct"], b["n_novel"], b["novelty_rate"])


def test_q169_dispersion_matches_bruteforce(spark, sf_dir):
    """Recompute Gries' DP in pure Python (whitespace tokenizer parity)
    for every returned term; values must agree to the rounding."""
    import pyarrow.parquet as pq

    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q169_term_dispersion

    got = {r["term"]: r for r in q169_term_dispersion(spark, sf_dir).collect()}
    unpersist_all()
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"]).to_pylist()
    tf: dict = {}
    dl = []
    for i, d in enumerate(docs):
        toks = d["text"].split()
        dl.append(len(toks))
        for t in toks:
            tf.setdefault(t, {}).setdefault(i, 0)
            tf[t][i] += 1
    total = sum(dl)
    for term, r in got.items():
        cells = tf[term]
        f = sum(cells.values())
        s1 = sum(abs(v * total - dl[i] * f) for i, v in cells.items())
        s2 = sum(dl[i] for i in cells)
        dp = s1 / (2.0 * f * total) + (total - s2) / (2.0 * total)
        import math

        assert r["f"] == f and r["n_docs"] == len(cells)
        assert r["dp"] == math.floor(dp * 1e6 + 0.5) / 1e6


def test_q170_psi_nonnegative_and_complete(spark, sf_dir):
    """PSI terms (p-q)ln(p/q) are pointwise nonnegative, so every
    slice's PSI >= 0; all 9 non-reference slices report."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q170_quality_psi

    rows = q170_quality_psi(spark, sf_dir).collect()
    unpersist_all()
    assert sorted(r["slice"] for r in rows) == list(range(1, 10))
    for r in rows:
        assert r["psi"] >= 0.0 and r["n_docs"] > 0


def test_q171_merge_cut_and_targets(spark, sf_dir):
    """Victims are exactly the emptiest ceil(C/8) cells of the real
    occupancy table (ties by centroid_id), and each victim's target is
    its true cosine-nearest SURVIVING centroid (numpy recompute)."""
    import math

    import numpy as np

    from las_vpe_platform_spark.operators.similarity import assign_centroids
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        IVF_CENTROID_MOD,
        Q171_MERGE_DIV,
        q171_ivf_cell_merge,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    got = {r["centroid_id"]: r for r in q171_ivf_cell_merge(spark, sf_dir).collect()}
    unpersist_all()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 0).withColumnRenamed(
        "vec_id", "centroid_id"
    )
    occ: dict = {}
    for r in assign_centroids(emb, cen, vector_col="embedding").collect():
        occ[r["centroid_id"]] = occ.get(r["centroid_id"], 0) + 1
    unpersist_all()
    order = sorted(occ, key=lambda c: (occ[c], c))
    n_victims = math.ceil(len(order) / Q171_MERGE_DIV)
    victims = set(order[:n_victims])
    assert set(got) == victims
    vecs = {
        r["centroid_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in cen.collect()
    }
    survivors = [c for c in order[n_victims:]]
    for v, r in got.items():
        best = max(
            survivors,
            key=lambda s: (
                float(
                    vecs[v] @ vecs[s]
                    / (np.linalg.norm(vecs[v]) * np.linalg.norm(vecs[s]))
                ),
                -s,
            ),
        )
        assert r["target_id"] == best
        assert r["combined_members"] == occ[v] + occ[best]


def test_q172_waterfill_budget_and_cut(spark, sf_dir):
    """The allocation exhausts the budget (up to per-source rounding),
    capped sources get exactly lambda, uncapped keep everything, and
    every capped source is at least as large as every uncapped one."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        Q172_BUDGET_DEN,
        Q172_BUDGET_NUM,
        q172_source_token_caps,
    )

    rows = q172_source_token_caps(spark, sf_dir).collect()
    unpersist_all()
    total = sum(r["n_tokens"] for r in rows)
    budget = (total * Q172_BUDGET_NUM) // Q172_BUDGET_DEN
    alloc = sum(r["alloc_tokens"] for r in rows)
    assert abs(alloc - budget) < 1e-4 * len(rows) + 1.0
    lam = rows[0]["cap_lambda"]
    capped_sizes = [r["n_tokens"] for r in rows if r["capped"]]
    uncapped_sizes = [r["n_tokens"] for r in rows if not r["capped"]]
    assert capped_sizes, "budget at 60% must cap someone"
    for r in rows:
        if r["capped"]:
            assert r["alloc_tokens"] == lam and r["n_tokens"] >= lam
        else:
            assert r["alloc_tokens"] == float(r["n_tokens"]) <= lam + 1e-6
    if uncapped_sizes:
        assert min(capped_sizes) >= max(uncapped_sizes)


def test_q173_hill_matches_bruteforce(spark, sf_dir):
    """Recompute the Hill estimator from the parquet order statistics
    (ties by doc_id) for every source."""
    import math

    import pyarrow.parquet as pq

    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import HILL_K, q173_length_tail_index

    got = {r["source"]: r for r in q173_length_tail_index(spark, sf_dir).collect()}
    unpersist_all()
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["source", "doc_id", "n_chars"]
    ).to_pylist()
    by_src: dict = {}
    for d in docs:
        if d["n_chars"] > 0:
            by_src.setdefault(d["source"], []).append((d["n_chars"], d["doc_id"]))
    for src, rows in by_src.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        if len(rows) < HILL_K + 1:
            assert src not in got
            continue
        xk1 = rows[HILL_K][0]
        ssum = sum(math.log(rows[j][0] / xk1) for j in range(HILL_K))
        r = got[src]
        assert r["k"] == HILL_K and r["x_k1"] == xk1
        if ssum > 0:
            assert abs(r["alpha_hat"] - HILL_K / ssum) < 2e-6
        else:
            assert r["alpha_hat"] is None


def test_q174_outliers_match_bruteforce(spark, sf_dir):
    """Per cell, the reported rows are the true bottom-OUTLIER_K by
    cosine-to-own-centroid (ties by vec_id), numpy recompute."""
    import numpy as np

    from las_vpe_platform_spark.operators.similarity import assign_centroids
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        IVF_CENTROID_MOD,
        OUTLIER_K,
        q174_embedding_outliers,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    got: dict = {}
    for r in q174_embedding_outliers(spark, sf_dir).collect():
        got.setdefault(r["centroid_id"], []).append((r["rk"], r["vec_id"], r["cell_n"]))
    unpersist_all()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cen = {v: vecs[v] for v in vecs if v % IVF_CENTROID_MOD == 0}
    cells: dict = {}
    for r in assign_centroids(
        emb,
        emb.filter(F.col("vec_id") % IVF_CENTROID_MOD == 0).withColumnRenamed(
            "vec_id", "centroid_id"
        ),
        vector_col="embedding",
    ).collect():
        cells.setdefault(r["centroid_id"], []).append(r["vec_id"])
    unpersist_all()

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for cid, members in cells.items():
        ranked = sorted(members, key=lambda v: (cos(vecs[v], cen[cid]), v))
        want = [(j + 1, v, len(members)) for j, v in enumerate(ranked[:OUTLIER_K])]
        assert sorted(got.get(cid, [])) == want


def test_s32_psi_equals_batch_q170(spark, sf_dir):
    """The streaming fold's final PSI equals batch q170 row-for-row
    (additive bucket counts => batching-invariant)."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q170_quality_psi
    from las_vpe_platform_spark.queries_streaming import s32_stream_quality_psi

    streamed = {r["slice"]: r for r in s32_stream_quality_psi(spark, sf_dir).collect()}
    unpersist_all()
    batch = {r["slice"]: r for r in q170_quality_psi(spark, sf_dir).collect()}
    unpersist_all()
    assert set(streamed) == set(batch)
    for k, r in streamed.items():
        assert (r["n_docs"], r["psi"]) == (batch[k]["n_docs"], batch[k]["psi"])


def test_s33_gate_matches_bruteforce(spark):
    """The streamed alert log equals the all-vs-stored brute-force
    model (band collision + Hamming <= T), pure-Python recompute —
    and every incoming tracklet eventually streams past the index, so
    the log is batching-complete."""
    import pyarrow.parquet as pq

    from las_vpe_platform_spark.fixtures import FIXTURES_DIR
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_domain import M17_HAMMING_T
    from las_vpe_platform_spark.queries_streaming import s33_stream_patch_ingest_gate

    got = {
        (r["id_in"], r["id_stored"]): r["hamming"]
        for r in s33_stream_patch_ingest_gate(spark, "unused").collect()
    }
    unpersist_all()
    tr = pq.read_table(FIXTURES_DIR / "tracklets.parquet").to_pylist()
    bands: dict = {}
    stored = set()
    for row in tr:
        patches = [b for b in row["location_sequence"] if b["patch_data"] is not None]
        if not patches:
            continue
        bs = list(patches[0]["patch_data"][:48])
        mu = sum(bs) / 48.0
        bv = []
        for j in range(4):
            v = 0
            for i in range(12):
                if bs[12 * j + i] > mu:
                    v |= 1 << i
            bv.append(v)
        bands[row["tracklet_key"]] = bv
        if row["serial_number"] % 3 == 0:
            stored.add(row["tracklet_key"])
    want = {}
    for a, ba in bands.items():
        for b in stored:
            if a == b:
                continue
            bb = bands[b]
            if not any(x == y for x, y in zip(ba, bb)):
                continue
            ham = sum(bin(x ^ y).count("1") for x, y in zip(ba, bb))
            if ham <= M17_HAMMING_T:
                want[(a, b)] = ham
    assert got == want


def test_m18_clusters_match_bruteforce_cc(spark):
    """Union-find over m17's pair list reproduces every cluster: same
    components, sizes, and min-key keepers."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_domain import (
        m17_patch_ahash_neardup,
        m18_patch_dedup_clusters,
    )

    pairs = [
        (r["id_a"], r["id_b"])
        for r in m17_patch_ahash_neardup(spark, "unused").collect()
    ]
    unpersist_all()
    got = {
        r["component"]: (r["n_members"], r["keeper_id"])
        for r in m18_patch_dedup_clusters(spark, "unused").collect()
    }
    unpersist_all()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    want = {
        min(members): (len(members), min(members)) for members in comps.values()
    }
    assert got == want


def test_q175_lift_mass_identities(spark, sf_dir):
    """Transition counts weighted by their conditional/base rates obey
    the exact mass identities: sum_b P(b|a) = 1 for every a, and the
    lift-weighted base-rate average over b equals 1 for every a."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q175_transition_lift

    rows = q175_transition_lift(spark, sf_dir).collect()
    unpersist_all()
    tot = sum(r["n_ab"] for r in rows)
    na: dict = {}
    nb: dict = {}
    for r in rows:
        na[r["a"]] = na.get(r["a"], 0) + r["n_ab"]
        nb[r["b"]] = nb.get(r["b"], 0) + r["n_ab"]
    for r in rows:
        want = (r["n_ab"] * tot) / (na[r["a"]] * nb[r["b"]])
        import math

        assert r["lift"] == math.floor(want * 1e6 + 0.5) / 1e6
    # lift-weighted base-rate mass: sum_b lift(a,b)·P(b) = 1 per a
    for a in na:
        mass = sum(
            (r["n_ab"] * tot) / (na[a] * nb[r["b"]]) * (nb[r["b"]] / tot)
            for r in rows
            if r["a"] == a
        )
        assert abs(mass - 1.0) < 1e-9


def test_q176_consistency_matches_bruteforce(spark, sf_dir):
    """numpy leave-one-out 1-NN recompute: identical per-label counts
    (ties broken by vec_id, mirroring both engines)."""
    import numpy as np

    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q176_knn_label_consistency
    from las_vpe_platform_spark.sources.tables import load_table

    got = {r["label"]: (r["n"], r["n_consistent"]) for r in
           q176_knn_label_consistency(spark, sf_dir).collect()}
    unpersist_all()
    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    ).collect()
    ids = [r["vec_id"] for r in rows]
    labs = {r["vec_id"]: r["label"] for r in rows}
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    want: dict = {}
    order = np.argsort(ids)
    for i, vid in enumerate(ids):
        best = None
        for j in range(len(ids)):
            if j == i:
                continue
            cand = (-sims[i, j], ids[j])
            if best is None or cand < best:
                best = cand
        n, c = want.get(labs[vid], (0, 0))
        want[labs[vid]] = (n + 1, c + (1 if labs[best[1]] == labs[vid] else 0))
    assert got == want


def test_q177_margins_match_bruteforce(spark, sf_dir):
    """numpy recompute against the r10 exact-integer-sum centroids
    (floor(v*1e6+0.5) per element, BIGINT sum, ONE division — the
    by-construction parity definition): the bottom-MARGIN_K per label
    and their rounded margins must match."""
    import math

    import numpy as np

    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        MARGIN_K,
        q177_label_margin_mining,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    got = {
        (r["label"], r["rk"]): (r["vec_id"], r["margin"])
        for r in q177_label_margin_mining(spark, sf_dir).collect()
    }
    unpersist_all()
    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    ).collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64)
        )
    def exact_cent(vs):
        micro = np.array(
            [[math.floor(float(x) * 1e6 + 0.5) for x in v] for v in vs],
            dtype=object,  # exact python-int sums, like the BIGINT agg
        )
        sums = micro.sum(axis=0)
        n = len(vs)
        return np.array(
            [math.floor(float(s) / float(n) + 0.5) / 1e6 for s in sums]
        )

    cents = {lab: exact_cent(vs) for lab, vs in by_label.items()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    margins: dict = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        own = cos(v, cents[r["label"]])
        other = max(cos(v, c) for lab, c in cents.items() if lab != r["label"])
        margins.setdefault(r["label"], []).append((own - other, r["vec_id"]))
    want = {}
    for lab, ms in margins.items():
        ms.sort()
        for j, (m, vid) in enumerate(ms[:MARGIN_K]):
            want[(lab, j + 1)] = (vid, math.floor(m * 1e6 + 0.5) / 1e6)
    assert got == want


def test_m19_groups_match_bruteforce(spark):
    """Pure-Python energy-profile fingerprints over the PCM bytes
    reproduce the groups exactly (keeper, size, window count)."""
    import pyarrow.parquet as pq

    from las_vpe_platform_spark.fixtures import FIXTURES_DIR
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_domain import m19_audio_fingerprint_dedup

    got = {
        r["keeper_id"]: (r["n_clips"], r["n_windows"])
        for r in m19_audio_fingerprint_dedup(spark, "unused").collect()
    }
    unpersist_all()
    clips = pq.read_table(FIXTURES_DIR / "audio_clips.parquet").to_pylist()
    groups: dict = {}
    for c in clips:
        if c["n_samples"] <= 0:
            continue
        raw = c["pcm"]
        samples = [
            int.from_bytes(raw[2 * i: 2 * i + 2], "little", signed=True)
            for i in range(c["n_samples"])
        ]
        fp = []
        for lo in range(0, c["n_samples"], 256):
            win = samples[lo: lo + 256]
            energy = sum(s * s for s in win)
            fp.append(len(bin(1 + energy // len(win))) - 2)
        groups.setdefault(tuple(fp), []).append(c["clip_id"])
    want = {
        min(members): (len(members), len(fp)) for fp, members in groups.items()
    }
    assert got == want


def test_q178_audit_consistency(spark, sf_dir):
    """Exact identities of the packing audit: crossings >= n_split_docs,
    every doc fits in n_bins, and per-B bin count shrinks as B grows."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import (
        Q178_CTX_SIZES,
        q178_context_size_audit,
    )

    rows = {r["ctx"]: r for r in q178_context_size_audit(spark, sf_dir).collect()}
    unpersist_all()
    assert sorted(rows) == sorted(Q178_CTX_SIZES)
    tot = {r["total_tokens"] for r in rows.values()}
    assert len(tot) == 1
    total = tot.pop()
    prev_bins = None
    for b in sorted(rows):
        r = rows[b]
        assert r["n_bins"] == (total + b - 1) // b
        assert r["crossings"] >= r["n_split_docs"] >= 0
        if prev_bins is not None:
            assert r["n_bins"] <= prev_bins
        prev_bins = r["n_bins"]


def test_s34_lift_equals_batch_q175(spark, sf_dir):
    """The streaming monitor's final lift table equals batch q175
    row-for-row: user-complete landing files make per-batch windows
    exact, and counts are additive."""
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries_data import q175_transition_lift
    from las_vpe_platform_spark.queries_streaming import s34_stream_transition_monitor

    streamed = {
        (r["a"], r["b"]): (r["n_ab"], r["lift"])
        for r in s34_stream_transition_monitor(spark, sf_dir).collect()
    }
    unpersist_all()
    batch = {
        (r["a"], r["b"]): (r["n_ab"], r["lift"])
        for r in q175_transition_lift(spark, sf_dir).collect()
    }
    unpersist_all()
    assert streamed == batch
