"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup — the document
half of the 100 TB pipeline operator set. The reference only dedups
via idempotency checks (DataManagingApp.java:422-473, SURVEY K3);
these are the generalized, scale-first forms.

Scale design: every variant is shuffle-bounded by a *bucketing* key
(fingerprint / LSH band / shared shingle), never by an all-pairs
product. The only cross-join in the module is within-bucket, which is
exactly the LSH contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.staging import persist_disk

from pyspark.sql import Window as W

from las_vpe_platform_spark.functions.text import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    content_fingerprint,
    shingle_hash60,
    word_shingles,
)


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Distinct (doc_id_, shingle) rows — the shared first stage of
    every shingle-based dedup operator.

    Formulated as posexplode(split) + lead() windows instead of
    higher-order array functions: HOF lambdas evaluate interpreted
    (~2.4x slower here) while the window runs in codegen. Costs one
    shuffle of the token stream on doc id — bounded by corpus size,
    and the downstream grouped aggregates needed that partitioning
    anyway. Output multiset identical to exploding
    ``word_shingles(text, k)``.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id_"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = W.partitionBy("doc_id_").orderBy("pos")
    parts = [F.col("tok")]
    cur = toks
    for i in range(1, k):
        cur = cur.withColumn(f"_t{i}", F.lead("tok", i).over(w))
        parts.append(F.col(f"_t{i}"))
    return (
        cur.filter(parts[-1].isNotNull())
        .select("doc_id_", F.concat_ws(" ", *parts).alias("shingle"))
        .dropDuplicates(["doc_id_", "shingle"])
    )


def shingle_stream(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """NON-distinct (doc_id_, shingle) rows with ZERO exchanges — the
    r12 signature-path shingle builder (guide §2.3/§2.4: aggregate
    before you shuffle / remove shuffles outright).

    Each row's k-grams are built locally: slice the token array k ways,
    arrays_zip the slices, explode — all codegen'd JVM expressions, no
    window, no sort, no shuffle. Duplicates within a document are NOT
    removed; the only legal consumers are duplicate-insensitive
    aggregates (per-doc MIN in :func:`minhash_signatures`), whose
    map-side partials then make the one shuffle a row of partial minima
    per (doc, map partition) instead of the whole token stream.

    At corpus scale this is the difference between shuffling ~the
    corpus' token bytes (the :func:`exploded_shingles` window form) and
    shuffling ~n_docs x num_hashes longs. Consumers that need DISTINCT
    (doc, shingle) postings (PPJoin prefixes, containment, n-gram
    Jaccard, decontamination) must keep using
    :func:`exploded_shingles`: measured head-to-head
    (tools/profile_shingle_variants.py, deleted after commit 1b1f44f),
    zip+dropDuplicates ties the window form locally but shuffles k-gram
    strings instead of single tokens — strictly more bytes for no fewer
    exchanges.

    Token sequence is identical to :func:`exploded_shingles`'s
    (split on whitespace, empty tokens removed, order preserved), so
    the emitted multiset of shingles per doc has the same distinct set;
    bit-equality of downstream signatures is pinned by
    tests and was verified corpus-wide at sf0.1.
    """
    base = df.select(
        F.col(id_col).alias("doc_id_"),
        F.array_remove(F.split(F.trim(F.col(text_col)), r"\s+"), "").alias("_toks"),
    )
    n_grams = F.greatest(F.size("_toks") - F.lit(k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("_toks", i + 1, n_grams) for i in range(k)])
    return base.select(
        "doc_id_", F.explode(zipped).alias("_sh")
    ).select(
        "doc_id_",
        F.concat_ws(
            " ", *[F.col("_sh").getField(str(i)) for i in range(k)]
        ).alias("shingle"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups by normalized-content fingerprint.

    Returns one row per distinct content: (fingerprint, n_copies,
    keeper_id = min id). A single hash aggregate — at 100 TB this is
    one shuffle of (fingerprint, id), with map-side partial aggs.
    """
    return (
        df.withColumn("fingerprint", content_fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    stored_df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Dedup an INCOMING batch against an already-stored corpus plus
    within itself — the reference's global skip-already-stored check
    (DataManagingApp.java:422-473: tracklets/HAR existence test before
    save) as the LLM-ingest operator: only never-seen content lands.

    Two stages, both keyed on the content fingerprint:
    1. LEFT ANTI join against the stored side's fingerprints —
       content that exists anywhere in the corpus is dropped.
    2. Within-batch keeper rule: min id per fingerprint (q23's rule).

    Scale shape: both stages shuffle on the fingerprint only, and the
    stored side projects to that single column. If ``stored_df``
    already carries a materialized ``fingerprint`` column (the 100 TB
    deployment shape — it makes the stored-side scan MBs per TB of
    corpus instead of re-reading the text column), it is used as-is;
    otherwise the fingerprint is computed from ``text_col``. With a
    very large store, put q63's bloom-filter semi-join in front as a
    no-shuffle prefilter and keep this anti-join as the exact pass.
    """
    fp = content_fingerprint(text_col)
    incoming = new_df.withColumn("fingerprint", fp)
    if "fingerprint" in stored_df.columns:
        stored = stored_df.select("fingerprint")
    else:
        stored = stored_df.select(fp.alias("fingerprint"))
    fresh = incoming.join(stored, on="fingerprint", how="left_anti")
    return (
        fresh.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_in_batch"))
        .select(id_col, "fingerprint", "n_in_batch")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 16,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signatures ``(doc_id_, mh0..mh{n-1})`` —
    the signature stage of :func:`banded_signatures`, exposed so
    estimation-error harnesses (q157) can compare raw component
    matches against exact Jaccard without re-deriving the family.

    Affine hash family over the 60-bit shingle md5, per-doc grouped MIN
    with map-side partials — shuffle is one row per (doc, n longs).

    r12: when no shared ``exploded`` frame is supplied, shingles come
    from :func:`shingle_stream` (zero-exchange, non-distinct) rather
    than :func:`exploded_shingles` (windowed, distinct): MIN is
    duplicate-insensitive, so hashing each occurrence map-side costs
    CPU that scales while the window form's token-stream shuffle does
    not (guide §2.2-2.4). Signatures are bit-identical — verified
    corpus-wide at sf0.1 and pinned in tests/test_round12_ops.py.
    Callers sharing a staged distinct-postings frame across consumers
    (q128/q157-style harnesses) still pass ``exploded`` in and keep the
    single staged build.
    """
    if exploded is None:
        exploded = shingle_stream(df, id_col, text_col, shingle_k)
    h = shingle_hash60("shingle")
    lo = h.bitwiseAND(F.lit((1 << 30) - 1))
    hi = F.shiftright(h, 30)
    hashed = exploded.select("doc_id_", lo.alias("_lo"), hi.alias("_hi"))
    mins = [
        F.min(
            (F.lit(a) * F.col("_lo") + F.lit(b) * F.col("_hi") + F.lit(c))
            % MINHASH_PRIME
        ).alias(f"mh{i}")
        for i, (a, b, c) in enumerate(MINHASH_COEFFS[:num_hashes])
    ]
    return hashed.groupBy("doc_id_").agg(*mins)


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """(doc_id_, band) rows — the banded-LSH index entries a document
    contributes. Factored out of :func:`minhash_lsh_candidates` so
    INCREMENTAL indexing (q129) can band a new batch and probe an
    existing index without re-pairing the corpus.

    Band key = (band index, raw minhash slice) as a STRUCT, not a
    hashed string: struct equality joins/shuffles natively, so an
    md5-of-concat digest would only re-hash what the shuffle
    partitioner hashes anyway — measured ~15% off this subtree's
    codegen+run with identical candidate pairs.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, text_col, shingle_k, num_hashes, exploded=exploded
    )
    band_exprs = [
        F.struct(
            F.lit(b).alias("b"),
            *[
                F.col(f"mh{i}").alias(f"k{j}")
                for j, i in enumerate(
                    range(b * rows_per_band, (b + 1) * rows_per_band)
                )
            ],
        )
        for b in range(bands)
    ]
    return sig.select("doc_id_", F.explode(F.array(*band_exprs)).alias("band"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash + banded LSH.

    shingle -> 16-hash signature -> 4 banded keys -> explode ->
    self-equi-join on band key -> distinct (id_a < id_b) pairs.

    Execution shape (the 100 TB path): explode distinct shingles to
    rows, ONE md5 per shingle, derive the hash family with affine
    arithmetic (MINHASH_COEFFS), and take the per-document min of each
    family member in a single grouped aggregate — map-side partial
    mins make the shuffle one row per (doc, 16 longs). Candidate
    generation is an equi-join on the band hash, never an all-pairs
    scan; hot bands are bounded by band size and AQE skew splitting.
    """
    banded = banded_signatures(
        df, id_col, text_col, shingle_k, num_hashes, bands, exploded=exploded
    )
    # shuffle-hash, not broadcast: broadcasting one side makes Spark
    # compute the whole shingle->sig subtree twice (once per side);
    # a shuffled self-join partitions one computed result by band key.
    # At 100 TB broadcast is impossible anyway — this is the scale plan.
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r").hint("shuffle_hash")
    return (
        left.join(right, on="band")
        .filter(F.col("l.doc_id_") < F.col("r.doc_id_"))
        .select(
            F.col("l.doc_id_").alias("id_a"),
            F.col("r.doc_id_").alias("id_b"),
        )
        .distinct()
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 2,
    bits: int = 60,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash per document (near-dup = small Hamming distance).

    Execution shape: explode distinct shingles, one 60-bit hash per
    shingle, then ONE grouped aggregate computing all ``bits`` bit-votes
    as conditional sums (partial aggregation map-side — the shuffle is
    one row of bits+1 ints per doc). The fingerprint recombines vote
    signs into a bigint. Downstream Hamming pairing joins on rotated
    bit-block keys (Manku et al., WWW'07): any pair with Hamming
    distance < ``n_blocks`` shares at least one block verbatim
    (pigeonhole), so :func:`simhash_neardup_pairs` is COMPLETE up to
    n_blocks - 1. ``n_blocks`` is the occupancy knob: at 10^11 docs,
    4 blocks of 15 bits give 32k buckets (too hot) — raise n_blocks
    (6 x 10-bit still guarantees hamming <= 5 via 6 blocks) or keep 4
    wider blocks over 64-bit fingerprints.
    """
    exploded = exploded_shingles(df, id_col, text_col, shingle_k).withColumnRenamed(
        "doc_id_", "doc_id"
    ).withColumn("h", shingle_hash60("shingle"))
    # branchless votes: ones_b = sum of bit b; the ±1 vote sum equals
    # 2*ones_b - n, so "vote > 0" is "2*ones_b > n" — same fingerprint,
    # no conditional per (row, bit). Parsed expr strings (not Column
    # trees) keep the 60-aggregate construction to ~60 py4j calls.
    ones = [F.expr(f"sum(shiftright(h, {b}) & 1) AS o{b}") for b in range(bits)]
    voted = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *ones)
    fingerprint_sql = " + ".join(
        f"(CASE WHEN o{b} * 2 > _n THEN {1 << b}L ELSE 0L END)" for b in range(bits)
    )
    block_bits = bits // n_blocks
    return voted.selectExpr(
        "doc_id",
        f"({fingerprint_sql}) AS simhash",
    ).selectExpr(
        "doc_id",
        "simhash",
        *[
            f"shiftright(simhash, {block * block_bits}) & {(1 << block_bits) - 1}"
            f" AS block{block}"
            for block in range(n_blocks)
        ],
    )


def simhash_neardup_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs from :func:`simhash_fingerprints` output:
    (id_a, id_b, hamming) for every pair with Hamming distance
    <= ``max_hamming``.

    Candidate generation is ONE equi-join on exploded (block_idx,
    block_value) keys — by pigeonhole, hamming <= n_blocks - 1 implies
    some block matches exactly, so the join is COMPLETE for
    ``max_hamming < n_blocks`` (asserted). Exact distance is then one
    ``bit_count(xor)`` per candidate. Cost = sum over block buckets of
    C(occupancy, 2), the LSH-band bound — never all pairs.
    """
    if max_hamming >= n_blocks:
        raise ValueError(
            f"completeness requires max_hamming < n_blocks "
            f"(got {max_hamming} >= {n_blocks}); refingerprint with more blocks"
        )
    band_expr = (
        "explode(array("
        + ", ".join(f"named_struct('i', {b}, 'v', block{b})" for b in range(n_blocks))
        + ")) AS band"
    )
    banded = fingerprints.selectExpr("doc_id", "simhash", band_expr)
    left = banded.selectExpr("doc_id AS id_a", "simhash AS sim_a", "band")
    right = banded.selectExpr("doc_id AS id_b", "simhash AS sim_b", "band")
    return (
        left.hint("shuffle_hash")
        .join(right.hint("shuffle_hash"), on="band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): rolling k-gram hashes of the
    normalized text, one minimum selected per window of ``w``
    consecutive hashes, distinct survivors = the fingerprint set.
    Guarantees a shared fingerprint for any match of length >= k+w-1 —
    the provenance/overlap primitive exact dedup can't give.

    Execution shape: three narrow projections, no shuffle at all —
    per-document array work inside the JVM. Each stage materializes
    its input into a plain column (normalized text, then the hash
    array) and the next stage's transform references that COLUMN,
    never an inline subexpression: HOF lambdas re-evaluate outer
    expressions per element, so an inlined regexp_replace inside the
    k-gram lambda would be O(len^2) per document (measured: 6x+ on
    300-char docs). The O(n*w) slice-min is paid; re-normalization and
    re-hashing are not. At 100 TB this pipelines with the scan: zero
    exchanges, output ~len/w hashes per doc. Parallelism note: like
    every compute-heavy narrow stage, callers scanning a FEW SMALL
    files should repartition by unit-of-work first — the operator
    inherits the scan's partitioning.

    Short docs: fewer than w k-grams still emit one fingerprint (the
    global min); fewer than k chars emit an empty set.
    """
    normalized = df.selectExpr(
        f"{id_col}",
        f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ') AS _c",
    )
    hashed = normalized.selectExpr(
        f"{id_col}",
        f"""CASE WHEN length(_c) >= {k}
             THEN transform(
                    sequence(1, length(_c) - {k - 1}),
                    i -> CAST(conv(substring(md5(substring(_c, i, {k})), 1, 15), 16, 10) AS BIGINT))
             ELSE array()
           END AS _hs""",
    )
    return hashed.selectExpr(
        id_col,
        f"""array_sort(array_distinct(
              CASE WHEN size(_hs) >= {w}
                   THEN transform(sequence(1, size(_hs) - {w - 1}),
                                  j -> array_min(slice(_hs, j, {w})))
                   WHEN size(_hs) > 0 THEN array(array_min(_hs))
                   ELSE array()
              END)) AS fingerprints""",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    explode distinct shingles -> self-join on shingle -> count shared
    -> |A ∪ B| = |A| + |B| - shared -> filter >= threshold on the
    exact ratio.

    The pair space is generated only from co-occurring shingles, so
    cost is sum over shingles of (docs-per-shingle choose 2) — the
    inverted-index bound, not n². Hot shingles (stopword runs) are the
    skew risk; at a threshold t > 0, :func:`prefix_filter_pairs` is the
    lossless fix (rarest-first prefixes move the hot shingles out of
    the join). Returns (id_a, id_b, size_a, size_b, shared, jaccard).
    """
    # the posting list is referenced by the size counts AND both sides
    # of the self-join — materialize once so the shingle explode+md5
    # runs a single time instead of up to four (persist-vs-recompute:
    # the explode is the expensive term for text)
    exploded = persist_disk(exploded_shingles(df, id_col, text_col, shingle_k))
    sizes = exploded.groupBy("doc_id_").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        exploded.alias("l").hint("shuffle_hash")
        .join(exploded.alias("r").hint("shuffle_hash"), on="shingle")
        .filter(F.col("l.doc_id_") < F.col("r.doc_id_"))
        .groupBy(F.col("l.doc_id_").alias("id_a"), F.col("r.doc_id_").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _jaccard_tail(pairs, sizes, sizes, threshold)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    bucket_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within buckets.

    All-pairs cosine restricted to a bucketing column (a cluster id,
    LSH bucket, or partition key) — the within-bucket product is the
    only quadratic term, and buckets are sized upstream to fit one
    task (the same contract as q80's SemDeDup clusters).

    Each bucket's pairwise cosines are ONE gram matmul in a grouped
    Arrow kernel (applyInPandas): a self-join with a per-pair
    interpreted zip_with/aggregate fold measured ~5x slower at 64-d.
    The only exchange is the groupBy on the bucket id; only
    over-threshold pairs are emitted.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("bucket", df.schema[bucket_col].dataType),
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id_"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        G = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["vec"].iloc[order]]
        )
        norms = np.sqrt((G * G).sum(axis=1))
        denom = norms[:, None] * norms[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.where(denom > 0, (G @ G.T) / np.where(denom > 0, denom, 1.0), np.nan)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        n_out = int(keep.sum())
        return pd.DataFrame(
            {
                "bucket": np.repeat(pdf["bucket"].iloc[0], n_out),
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine": sims[ia, ib][keep],
            }
        )

    sel = df.select(
        F.col(bucket_col).alias("bucket"),
        F.col(id_col).alias("doc_id_"),
        F.col(vector_col).alias("vec"),
    )
    return sel.groupBy("bucket").applyInPandas(_pairs, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    edges_canonical: bool = False,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation — the clustering step that turns near-dup
    PAIRS (LSH/SimHash/Jaccard candidates) into duplicate GROUPS so a
    pipeline can keep one representative per group.

    Two phases (r12): first each input partition contracts ITS edges
    to a spanning forest with a vectorized local union-find (one
    mapInPandas pass, no shuffle), then the iterative min-label loop
    runs over the forest — same fixed point, a fraction of the rows
    and about half the rounds (see the phase-0 comment below for the
    exactness argument). Each node starts labeled with itself; every
    round each node takes the min of its own label and its neighbors'
    labels; stop when a round changes nothing. Rounds = contracted
    diameter in the worst case — dedup-cluster graphs are shallow
    (near-clique blobs), so this converges in a handful of rounds. Each round is one equi-join +
    one grouped min (shuffle on node id both times). The driver-side
    loop is inherent to iterative convergence (same structure as
    GraphX/Pregel supersteps); the per-round convergence check is one
    cheap aggregate. At larger diameters swap in the
    large-star/small-star variant (Kiveris et al.) -- same join
    primitive, O(log n) rounds.

    Materialization (round 5): ``localCheckpoint`` IS required here —
    each round references its input three times, so without lineage
    truncation the analyzed tree grows 3^rounds (measured: plan
    stringification alone OOMs the driver near round 8 under plain
    persist). But the checkpoints are LAZY (``eager=False``): the
    per-round convergence aggregate doubles as the materializing
    action, one Spark job per round where the eager form paid two
    (checkpoint + sum), and the three setup frames materialize inside
    round 1's job instead of three jobs of their own. Executor-loss
    unrecoverability is accepted for iterative loops (the documented
    localCheckpoint carve-out in operators/staging.py).

    Returns (node, component) with component = min node id reachable.
    """
    # Phase 0 (r12): PARTITION-LOCAL CONTRACTION. Each input partition
    # computes the spanning forest of ITS edges with a vectorized
    # union-find (numpy min-label + path halving inside mapInPandas)
    # and emits one (node, root) row per distinct node it saw. The
    # iterative loop below then runs on this forest instead of the raw
    # edge list. Exactness: the forest preserves connectivity exactly
    # (a local union only merges endpoints of real edges; every edge
    # (a,b) is reflected through (a, root), (b, root)), and the FINAL
    # label is still the min node id computed by the loop's own
    # aggregates over candidate labels that include every node — the
    # local root is only a rewiring, never a result. Why: (1) the loop
    # now iterates over sum-of-distinct-nodes-per-partition rows
    # instead of the (dense, near-clique) edge list — on LSH graphs a
    # multi-x row reduction at any scale; (2) chains inside a
    # partition collapse to depth-1 stars, so the pointer-doubling
    # loop converges in ~half the rounds (measured sf0.1: 8 -> 4
    # rounds, and each Spark round is ~9 AQE jobs of fixed overhead);
    # (3) at 100 TB the per-task state is O(distinct nodes per input
    # partition) int64 indices — bounded by partition sizing, see
    # SCALE.md. Duplicate (node, root) rows across partitions and
    # node==root self-rows are left in deliberately: min-aggregation
    # is insensitive to both, and deduping them would cost the full
    # shuffle the contraction just saved.
    node_t = edges.schema[src].dataType.simpleString()

    def _local_forest(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        a = pd.concat([c["a"] for c in chunks], ignore_index=True)
        b = pd.concat([c["b"] for c in chunks], ignore_index=True)
        codes, uniques = pd.factorize(
            pd.concat([a, b], ignore_index=True), use_na_sentinel=False
        )
        n = len(uniques)
        ai = codes[: len(a)]
        bi = codes[len(a):]
        parent = np.arange(n)
        while True:
            prev = parent
            parent = parent.copy()
            # relax every edge both ways, then halve paths; converges
            # to the per-component min INDEX in O(log n) passes
            m = np.minimum(parent[ai], parent[bi])
            np.minimum.at(parent, ai, m)
            np.minimum.at(parent, bi, m)
            parent = np.minimum(parent, parent[parent])
            if np.array_equal(parent, prev):
                break
        roots = (
            uniques.take(parent)
            if hasattr(uniques, "take")
            else uniques[parent]
        )
        yield pd.DataFrame({"a": np.asarray(uniques), "b": np.asarray(roots)})

    forest = edges.selectExpr(f"{src} AS a", f"{dst} AS b").mapInPandas(
        _local_forest, schema=f"a {node_t}, b {node_t}"
    )
    # one-pass symmetrization (r12, guide §2.4): explode both edge
    # directions from a SINGLE scan — the old union(e, swap(e)) form
    # either computed the child subtree once per branch or paid a
    # dedicated checkpoint job to materialize it first.
    from las_vpe_platform_spark.operators.graph import symmetrize_edges

    # the forest is loop-ready as-is (duplicates/self-rows harmless,
    # see above) — no defensive distinct regardless of edges_canonical
    sym = symmetrize_edges(forest).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # convergence detector: sum(component) is monotonically
    # non-increasing under min-propagation and stalls exactly at the
    # fixed point — one cheap aggregate per round instead of a
    # changed-labels comparison join; the aggregate IS the
    # materializing action for the lazy checkpoint. The sum trick
    # needs NUMERIC labels; for string node ids (m18's tracklet keys)
    # fall back to an exact changed-rows probe per round — a join over
    # the label table, which is alert-sized, never corpus-sized.
    from pyspark.sql.types import NumericType

    numeric_labels = isinstance(
        labels.schema["component"].dataType, NumericType
    )
    if numeric_labels:
        prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    else:
        prev_labels = labels

    def step(lbl: DataFrame) -> DataFrame:
        # step = min over (neighbors' labels ∪ label-of-my-label ∪
        # self). The label-of-label term is pointer doubling (path
        # halving): chains collapse in O(log diameter) steps instead
        # of O(diameter) — measured 11 -> 5 on LSH clusters. Every
        # component value is itself a node id, so the shortcut join
        # is inner without loss.
        parents = lbl.selectExpr("node AS component", "component AS _cc")
        shortcut = lbl.join(parents, on="component").select(
            "node", F.col("_cc").alias("component")
        )
        neighbor = (
            sym.join(lbl, on=F.col("b") == F.col("node"), how="inner")
            .select(F.col("a").alias("node"), "component")
        )
        return (
            neighbor.unionAll(shortcut)
            .unionAll(lbl)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    for _ in range(max_iterations):
        # one step per materialization: step() references its input
        # three times (neighbor/shortcut/self), so the input must be a
        # materialized frame — fusing two steps per barrier recomputes
        # the inner step per reference and measures ~25% slower, not
        # faster
        labels = step(labels).localCheckpoint(eager=False)
        if numeric_labels:
            new_sum = labels.agg(F.sum("component")).collect()[0][0]
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            changed = (
                labels.join(
                    prev_labels.selectExpr("node", "component AS _prev"), "node"
                )
                .filter(F.col("component") != F.col("_prev"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
            prev_labels = labels
    return labels


def eval_overlap_flags(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    n-gram with an evaluation set (the GPT-3 appendix-C procedure —
    13-gram collision against test sets — as two dataframe ops).

    Returns every corpus row with ``n_shared`` (distinct shared
    n-grams) and a 0/1 ``contaminated`` flag; the caller drops or
    quarantines flagged rows.

    Scale shape: the eval side is benchmarks (thousands of docs), so
    its distinct shingle set broadcasts — the corpus side is ONE
    map-side explode + broadcast semi-join + grouped count, with no
    corpus shuffle until the (tiny) per-doc hit counts. A 100 TB
    corpus never moves; only matches do.
    """
    # exploded_shingles, not word_shingles+explode: the posexplode+lead
    # formulation runs in codegen (HOF shingling is interpreted) and
    # its doc-id window shuffle spreads single-file test inputs across
    # cores for free
    ev = (
        exploded_shingles(eval_docs, id_col, text_col, n)
        .select(F.col("shingle").alias("_s"))
        .distinct()
    )
    hits = (
        exploded_shingles(corpus, id_col, text_col, n)
        .selectExpr(f"doc_id_ AS {id_col}", "shingle AS _s")
        .join(F.broadcast(ev), "_s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def _ceil_slack(x):
    """EPSILON-SLACKED ceil for every prefix-filter bound: t arrives as
    a float, and a double ceil can land ONE ABOVE the exact rational
    bound (e.g. t=0.2, |a|+|b|=18: ceil(18*0.2/1.2) = 4 in float64,
    exactly 3) — which would shrink a prefix / tighten a prune and
    silently drop a qualifying pair. ceil(x - 1e-9) can only err
    DOWNWARD, which only ever ADMITS more candidates; the verify stage
    restores exactness, so completeness survives any float rounding.
    Any change here affects q106, q107 and q128 — brute-force-tested at
    float-hostile thresholds (tests/test_dedup_ops.py,
    tests/test_properties.py).
    """
    return F.ceil(x - F.lit(1e-9))


def _jaccard_tail(
    shared: DataFrame, sizes_a: DataFrame, sizes_b: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, shared) + per-doc set sizes -> the exact Jaccard
    ratio, filtered >= threshold: the shared tail of every set-Jaccard
    join. Returns (id_a, id_b, size_a, size_b, shared, jaccard)."""
    return (
        shared.join(sizes_a.selectExpr("doc_id_ AS id_a", "sz AS size_a"), on="id_a")
        .join(sizes_b.selectExpr("doc_id_ AS id_b", "sz AS size_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "size_a", "size_b", "shared", "jaccard")
    )


def _candidate_verify(
    prefix_a: DataFrame,
    prefix_b: DataFrame,
    prune,
    postings_a: DataFrame,
    postings_b: DataFrame,
    *verify,
) -> DataFrame:
    """The candidate and verify stage shared by the exact prefix-filter
    joins: prefix-to-prefix equi-join on shingle (sides aliased ``l``
    and ``r`` for ``prune``) -> distinct (id_a, id_b) -> join the FULL
    postings of both sides on (doc, shingle) -> the caller's ``verify``
    aggregates per pair. Candidate mass is bounded by the prefixes,
    verify work by candidates x shared shingles — no corpus x corpus
    product anywhere. Each postings frame carries doc_id_, shingle and
    whatever per-posting columns its verify aggregates read."""
    cand = (
        prefix_a.alias("l")
        .join(prefix_b.alias("r"), on="shingle")
        .filter(prune)
        .select(F.col("l.doc_id_").alias("id_a"), F.col("r.doc_id_").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(postings_a.withColumnRenamed("doc_id_", "id_a"), on="id_a")
        .join(postings_b.withColumnRenamed("doc_id_", "id_b"), on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(*verify)
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_k: int = 2,
    right: DataFrame | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold join via prefix filtering (Chaudhuri et
    al. SSJoin / Bayardo et al. All-Pairs): the self-join of ``df``, or
    with ``right`` the R x S join of ``df`` against ``right`` (record
    linkage: fuzzy decontamination, cross-corpus-version overlap). The
    LOSSLESS answer to hot-shingle skew: instead of dropping hot
    shingles, index only each document's PREFIX under a rarest-first
    global order.

    Completeness theorem: J(a,b) >= t implies |a∩b| >= ceil(t·|a|)
    (from i/(|a|+|b|−i) >= t and |b| >= i), so with elements sorted by
    one global order the FIRST common element sits within position
    |a| − ceil(t·|a|) + 1 of a — and symmetrically of b. Joining
    prefix-to-prefix therefore misses NO qualifying pair, while the
    posting lists shrink by factor ~(1−t) AND the rarest-first order
    moves exactly the hot shingles out of the indexed prefix — the
    skew disappears instead of being capped. Both sides' prefixes are
    taken under ONE order counted over both posting sets (per-side
    orders would break the guarantee: the pair's first common element
    must be the same element on both sides).

    Candidates then verify against the FULL shingle sets (work bounded
    by candidate count, not corpus²), so the result is exact at any
    float threshold. ``exploded`` is a caller-staged posting set for
    ``df`` (shared across operators — see q128). Returns (id_a, id_b,
    size_a, size_b, shared, jaccard) for pairs with jaccard >=
    threshold; a self-join keeps id_a < id_b, an R x S join has id_a
    from ``df`` and id_b from ``right``.
    """

    def side(frame: DataFrame, ex: DataFrame | None):
        if ex is None:
            ex = persist_disk(exploded_shingles(frame, id_col, text_col, shingle_k))
        # sizes is referenced by the prefix build and the verify tail
        # (twice for a self-join) — the multi-reference rule (SCALE.md)
        sizes = persist_disk(ex.groupBy("doc_id_").agg(F.count(F.lit(1)).alias("sz")))
        return ex, sizes

    ex_a, sizes_a = side(df, exploded)
    if right is None:
        ex_b, sizes_b = ex_a, sizes_a
        shingles = ex_a.select("shingle")
    else:
        ex_b, sizes_b = side(right, None)
        shingles = ex_a.select("shingle").unionAll(ex_b.select("shingle"))
    freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("_gf"))
    w = W.partitionBy("doc_id_").orderBy(F.asc("_gf"), F.asc("shingle"))

    def prefix(ex: DataFrame, sizes: DataFrame) -> DataFrame:
        return persist_disk(
            ex.join(freq, on="shingle")
            .join(sizes, on="doc_id_")
            .withColumn("_rn", F.row_number().over(w))
            .filter(
                F.col("_rn")
                <= F.col("sz") - _ceil_slack(F.lit(threshold) * F.col("sz")) + 1
            )
            .select("doc_id_", "shingle", "_rn", "sz")
        )

    prefix_a = prefix(ex_a, sizes_a)
    prefix_b = prefix_a if right is None else prefix(ex_b, sizes_b)
    # PPJoin's two completeness-preserving prunes (both reject only
    # pairs that PROVABLY cannot reach t, and both hold at the pair's
    # FIRST common element, which the prefix join is guaranteed to see):
    #  - length filter: J >= t forces t·|a| <= |b| <= |a|/t
    #  - positional filter: overlap o satisfies o <= 1 + min(|a|-i,
    #    |b|-j) at the first common element (the o-1 other common
    #    elements all sit after it on both sides), and o >= alpha =
    #    ceil(t/(1+t)·(|a|+|b|)); occurrences violating the bound
    #    cannot be a qualifying pair's first common element.
    # Without them a templated corpus generates quadratic candidates
    # (measured 7.9M -> the qualifying ~256 at sf0.1).
    alpha = _ceil_slack(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("l.sz") + F.col("r.sz")).cast("double")
    )
    ubound = 1 + F.least(
        F.col("l.sz") - F.col("l._rn"), F.col("r.sz") - F.col("r._rn")
    )
    prune = (
        (F.col("r.sz") >= _ceil_slack(F.lit(threshold) * F.col("l.sz")))
        & (F.col("l.sz") >= _ceil_slack(F.lit(threshold) * F.col("r.sz")))
        & (ubound >= alpha)
    )
    if right is None:
        prune = (F.col("l.doc_id_") < F.col("r.doc_id_")) & prune
    shared = _candidate_verify(
        prefix_a, prefix_b, prune, ex_a, ex_b, F.count(F.lit(1)).alias("shared")
    )
    return _jaccard_tail(shared, sizes_a, sizes_b, threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """EXACT token-sequence containment join: every (inner, outer)
    pair where inner's whitespace-token sequence appears contiguously
    inside outer's — truncations, quoted excerpts, and boilerplate
    wrappers around an existing document, the containment face of
    exact dedup (which only catches WHOLE-document equality; the
    reference's idempotency check, DataManagingApp.java:422-473, is
    the degenerate inner == outer case).

    Scale shape — rarest-anchor filtering: containment implies EVERY
    bigram of inner is a bigram of outer, so joining inner's single
    globally-rarest bigram against a bigram inverted index misses no
    qualifying pair, and the candidate count is sum over docs of
    df(rarest bigram) — the rarest-first idea of
    :func:`prefix_filter_pairs` taken to prefix length 1, which is
    exactly what containment (J = |inner|/|outer| can be arbitrarily
    small, so no Jaccard threshold applies) still admits. One-token
    documents anchor on their token against a unigram index instead;
    the verify stage is a space-delimited substring check on
    whitespace-normalized text, bounded by candidates, never corpus².

    Returns (inner_id, outer_id, n_tok_inner, n_tok_outer,
    exact_equal) — both orientations appear for exactly-equal texts,
    matching the symmetric truth.
    """
    norm = persist_disk(
        df.select(
            F.col(id_col).alias("doc_id_"),
            F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ").alias("_t"),
        ).filter(F.col("_t") != "")
    )
    # bigram postings over ALL docs (potential outers); inner anchors
    # are one row per doc — its rarest bigram under (global df, value)
    bi = persist_disk(exploded_shingles(df, id_col, text_col, 2))
    bifreq = bi.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
    anchor_w = W.partitionBy("doc_id_").orderBy(F.asc("_df"), F.asc("shingle"))
    anchors2 = (
        bifreq.withColumn("_rn", F.row_number().over(anchor_w))
        .filter(F.col("_rn") == 1)
        .select(F.col("doc_id_").alias("_iid"), "shingle")
    )
    cand2 = anchors2.join(
        bi.selectExpr("doc_id_ AS _oid", "shingle"), on="shingle"
    ).select("_iid", "_oid")
    # one-token docs have no bigram: anchor them on the token itself
    # against a unigram index (the index is corpus-sized but the probe
    # side is only the one-token docs — typically a sliver). The index
    # reads the STAGED normalized text (split on the single space
    # normalization guarantees) instead of paying a second raw-text
    # scan + regex split
    uni = norm.select(
        "doc_id_", F.explode(F.split("_t", " ")).alias("shingle")
    ).dropDuplicates(["doc_id_", "shingle"])
    one_tok = norm.filter(~F.col("_t").contains(" ")).select(
        F.col("doc_id_").alias("_iid"), F.col("_t").alias("shingle")
    )
    cand1 = one_tok.join(
        uni.selectExpr("doc_id_ AS _oid", "shingle"), on="shingle"
    ).select("_iid", "_oid")
    cand = cand2.unionByName(cand1)
    inner_n = norm.select(
        F.col("doc_id_").alias("_iid"),
        (F.size(F.split(F.col("_t"), " "))).alias("n_tok_inner"),
        F.col("_t").alias("_ti"),
    )
    outer_n = norm.select(
        F.col("doc_id_").alias("_oid"),
        (F.size(F.split(F.col("_t"), " "))).alias("n_tok_outer"),
        F.col("_t").alias("_to"),
    )
    return (
        cand
        .filter(F.col("_iid") != F.col("_oid"))
        .join(inner_n, on="_iid")
        .join(outer_n, on="_oid")
        .filter(F.col("n_tok_inner") <= F.col("n_tok_outer"))
        .filter(
            F.expr("instr(concat(' ', _to, ' '), concat(' ', _ti, ' ')) > 0")
        )
        .select(
            F.col("_iid").alias("inner_id"),
            F.col("_oid").alias("outer_id"),
            F.col("n_tok_inner").cast("bigint").alias("n_tok_inner"),
            F.col("n_tok_outer").cast("bigint").alias("n_tok_outer"),
            (F.col("_ti") == F.col("_to")).cast("int").alias("exact_equal"),
        )
    )


def edit_distance_pairs(
    strings: DataFrame,
    string_col: str,
    threshold: int = 2,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact edit-distance (Levenshtein) self-join over a string
    dictionary: every unordered pair with distance <= ``threshold``,
    admitted exactly once (``s_a < s_b``).

    The record-linkage primitive the token-set joins (PPJoin q106/q107)
    cannot express — typo-level similarity. Blocking is the length
    band |la - lb| <= threshold, a TRUE lower bound on edit distance
    (completeness-preserving): realized as the d18/d21 banded bucket
    equi-join — the canonical side explodes to the 3 adjacent
    width-(threshold+1) length buckets, the other side keeps its one
    bucket, so a qualifying pair lands in exactly one joined bucket
    and needs no distinct. The O(len^2) DP verify runs only on banded
    candidates. Callers should pass the DISTINCT-string dictionary
    (with match cardinalities in ``carry_cols``), never raw rows —
    the quadratic stage must run on vocabulary.
    """
    w = threshold + 1
    a_cols = [f"{string_col} AS s_a"] + [f"{c} AS {c}_a" for c in carry_cols]
    b_cols = [f"{string_col} AS s_b"] + [f"{c} AS {c}_b" for c in carry_cols]
    a = strings.selectExpr(*a_cols, f"length({string_col}) AS la").selectExpr(
        "*", f"explode(array(la div {w} - 1, la div {w}, la div {w} + 1)) AS bucket"
    )
    b = strings.selectExpr(
        *b_cols,
        f"length({string_col}) AS lb",
        f"length({string_col}) div {w} AS bucket",
    )
    return (
        a.join(b, "bucket")
        .filter("s_a < s_b")
        .filter(f"abs(la - lb) <= {threshold}")
        # compute the O(len^2) DP once as a column, THEN filter on it —
        # filter + re-project would run it twice per candidate
        .selectExpr(
            "s_a",
            "s_b",
            "CAST(levenshtein(s_a, s_b) AS BIGINT) AS edit_dist",
            *[f"{c}_a" for c in carry_cols],
            *[f"{c}_b" for c in carry_cols],
        )
        .filter(f"edit_dist <= {threshold}")
    )


def weighted_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    t_num: int,
    t_den: int,
    shingle_k: int = 2,
) -> DataFrame:
    """EXACT weighted-cosine self-join via the All-Pairs prefix bound
    (Bayardo/Ma/Srikant, WWW'07) — the WEIGHTED member of the exact
    similarity-join family: q106's PPJoin treats every shingle equally
    (set Jaccard), this one scores rarity-weighted cosine, so two docs
    sharing distinctive phrasing outrank two docs sharing boilerplate
    (the reference's similarity-edge builder J9/K7 ranks by weighted
    feature cosine for the same reason,
    ExternPedestrianComparerUsingAttr.java:170-194).

    Weights are EXACT INTEGERS — w(s) = 1000 div df(s) (rarity), per-doc
    squared norm na2 = sum(w^2) a BIGINT — and the threshold a rational
    ``t_num/t_den``, so the verify predicate

        t_den^2 * dot^2 >= t_num^2 * na2 * nb2   (dot >= 0)

    is pure BIGINT arithmetic: the emitted pair set is bit-identical on
    any engine, no float boundary anywhere. (Bounds: ~2e2 shingles/doc
    x w<=1e3 gives dot<=2e8, dot^2*t_den^2 ~ 1e18 < 2^63.)

    Completeness of the candidate stage: sort each doc's shingles by
    one global rarest-first order; with normalized weights u = w/sqrt(na2)
    and per-shingle corpus max cmax, cos(a,b) <= sum over any shared
    suffix of u_a*cmax. The FIRST shared shingle s* of a qualifying
    pair therefore sits inside BOTH docs' prefixes (if it were past
    a's prefix head every shared shingle would be, bounding cos below
    t — contradiction), so the prefix-to-prefix equi-join misses no
    qualifying pair. The float suffix bound only SELECTS the prefix:
    it is slackened by 1e-9 (>> the ~1e-13 window-sum association
    drift), so both engines keep identical supersets and exactness
    rests on the integer verify alone.

    Scale shape: postings stream shuffles on shingle (df), doc (norms +
    suffix bound), shingle (cmax) — all linear in corpus tokens; the
    candidate join moves prefix postings only (rarest-first shrinks
    them exactly where df is hot); verify cost is candidates x shared
    shingles. No corpus x corpus product anywhere.
    """
    ex = persist_disk(exploded_shingles(df, id_col, text_col, shingle_k))
    base = (
        ex.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        .withColumn("w", F.expr("1000 div _df").cast("bigint"))
        .filter(F.col("w") > 0)
        .withColumn(
            "na2", F.sum(F.col("w") * F.col("w")).over(W.partitionBy("doc_id_"))
        )
        .withColumn(
            "uw", F.col("w").cast("double") / F.sqrt(F.col("na2").cast("double"))
        )
        .withColumn("cmax", F.max("uw").over(W.partitionBy("shingle")))
    )
    # base is referenced three times (prefix + both verify sides) —
    # the multi-reference materialization rule (SCALE.md)
    base = persist_disk(base)
    thr = t_num / t_den
    ws = (
        W.partitionBy("doc_id_")
        .orderBy(F.asc("_df"), F.asc("shingle"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    prefix = (
        base.withColumn("_sb", F.sum(F.col("uw") * F.col("cmax")).over(ws))
        .filter(F.col("_sb") >= F.lit(thr - 1e-9))
        .select("doc_id_", "shingle")
    )
    dots = _candidate_verify(
        prefix,
        prefix,
        F.col("l.doc_id_") < F.col("r.doc_id_"),
        base.selectExpr("doc_id_", "shingle", "w AS _wa", "na2 AS _na2"),
        base.selectExpr("doc_id_", "shingle", "w AS _wb", "na2 AS _nb2"),
        F.sum(F.col("_wa") * F.col("_wb")).alias("dot"),
        F.min("_na2").alias("na2"),
        F.min("_nb2").alias("nb2"),
    )
    # BIGINT-overflow guard (review r6): the docstring's magnitude
    # bounds (~2e2 shingles/doc) were stated but unenforced — very long
    # all-rare documents could push t_den^2*dot^2 past 2^63, where
    # Spark's behavior depends on the ANSI flag (abort vs silent wrap)
    # and engines could disagree. Out-of-bound rows now fail LOUDLY on
    # any engine config; in-contract corpora never hit the branch, so
    # the oracle needs no mirror.
    import math

    dmax = math.isqrt((2 ** 63 - 1) // (t_den * t_den))
    nmax = math.isqrt((2 ** 63 - 1) // (t_num * t_num))
    guarded = F.when(
        (F.col("dot") > dmax) | (F.col("na2") > nmax) | (F.col("nb2") > nmax),
        F.raise_error(
            F.concat(
                F.lit(
                    "weighted_cosine_pairs: verify predicate would overflow "
                    "int64 for pair ("
                ),
                F.col("id_a").cast("string"),
                F.lit(", "),
                F.col("id_b").cast("string"),
                F.lit(") — document shingle mass exceeds the stated contract"),
            )
        ).cast("bigint"),
    ).otherwise(F.col("dot"))
    return dots.withColumn("dot", guarded).filter(
        F.lit(t_den * t_den) * F.col("dot") * F.col("dot")
        >= F.lit(t_num * t_num) * F.col("na2") * F.col("nb2")
    ).select(
        "id_a",
        "id_b",
        F.col("dot").cast("bigint").alias("dot"),
        F.col("na2").cast("bigint").alias("na2"),
        F.col("nb2").cast("bigint").alias("nb2"),
    )
