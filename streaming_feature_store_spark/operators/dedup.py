"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Beyond-reference surface (BASELINE.json north star) — the dedup toolbox a
100 TB training-data pipeline needs:

- **exact**: hash-groupBy on an md5 fingerprint. The shuffle key is 32 hex
  chars per document, never the text.
- **n-gram Jaccard**: distinct-shingle inverted index (explode → self-join on
  shingle → count intersections) — the standard scalable pairs-generation
  plan; the join only materializes pairs that share ≥1 shingle.
- **MinHash-LSH**: k deterministic hash functions via xxhash64 with distinct
  salts, banded into b bands; candidate pairs = docs sharing a band
  signature; verified against true shingle-Jaccard. This is the 100 TB path:
  candidate generation cost is O(docs·bands), not O(docs²).
- **SimHash**: 64-bit bit-majority signature over token hashes; near-dups =
  signatures within a small Hamming radius.

All hot paths are native Spark expressions (xxhash64, higher-order array
functions) — no Python UDFs anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast

from streaming_feature_store_spark.operators.text import fingerprint


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical documents: fingerprint → (count, representative id)."""
    return (
        fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("first_doc_id"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of every identical-text group."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fingerprint(df, text_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )


def _shingle_index(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct (doc, shingle-hash) inverted index.

    Plan: an Arrow-native ``mapInArrow`` kernel slices each batch of
    documents into their DISTINCT token n-grams entirely in vectorized
    pyarrow/numpy (split, flat n-gram join, per-doc slice selection,
    grouped distinct — zero per-row Python), then JVM ``xxhash64``
    compresses each gram to an 8-byte join key. Zero shuffles: shingling
    is embarrassingly parallel per input partition, and per-doc distinct
    semantics make the relation-level ``distinct()`` unnecessary.

    r13 opt (guide §4.2 — hand whole batches to vectorized native code):
    the previous kernel looped docs in Python building a per-doc set of
    ``" ".join(toks[j:j+n])`` slices (~0.5 µs/gram of interpreter);
    this form computes ALL consecutive n-grams of the batch with one
    ``binary_join_element_wise`` over the flattened token buffer (an
    offsets-array re-slice, guide §4.2's contiguous-buffer property),
    masks out the grams that would cross a document boundary with numpy
    index arithmetic, and dedups (doc, gram) with Arrow's C++ group_by.
    Row-identical to the loop form (pinned by
    ``test_shingle_kernel_matches_python_reference``), ~5× less kernel
    CPU on the sf0.1 corpus.

    Earlier all-JVM forms, each measured and rejected (r10):
    - explode(transform(...)): Generate over a higher-order-function child
      re-evaluates the lambda per output row, out of codegen (~10× slower);
    - posexplode + window lead(n−1): correct and codegen-friendly, but its
      per-doc sort shuffle + 20M-row distinct dominated the index build at
      100k docs (≈80 s cold, ~30 s warm); the kernel form builds the same
      index with no exchange at all.
    - xxhash64 stays JVM-side: hash values (hence MinHash signatures and
      band keys downstream) are bit-identical to the expression form, and
      the self-join shuffles 8-byte longs, not ~25-char strings (64-bit
      collision odds ~1e-7 at millions of shingles).
    """
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = None
        for batch in batches:
            if out_schema is None:
                out_schema = pa.schema(
                    [
                        pa.field(id_col, batch.schema.field(id_col).type),
                        pa.field("gram", pa.string()),
                    ]
                )
            texts = batch.column(text_col)
            ids = batch.column(id_col)
            valid = pc.is_valid(texts).to_numpy(zero_copy_only=False)
            toks = pc.split_pattern(pc.fill_null(texts, ""), " ")
            # lens MUST stay consistent with list_flatten's layout (the
            # filled "" of a null doc contributes one token there), so
            # null docs are suppressed via their GRAM COUNT only —
            # zeroing lens itself would shift every later doc's offset
            lens = pc.list_value_length(toks).to_numpy().astype(np.int64)
            gcounts = np.where(
                valid, np.maximum(lens - (n - 1), 0), 0
            )
            total = int(gcounts.sum())
            if total == 0:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([], type=out_schema.field(id_col).type),
                        pa.array([], type=pa.string()),
                    ],
                    schema=out_schema,
                )
                continue
            vals = pc.list_flatten(toks)
            if n == 1:
                grams_all = vals
            else:
                stop = len(vals) - (n - 1)
                parts = [vals.slice(j, stop) for j in range(n)]
                grams_all = pc.binary_join_element_wise(*parts, " ")
            # flat start position of each doc's tokens; valid gram starts
            # for doc d are offs[d] .. offs[d] + gcounts[d] - 1 (grams
            # crossing a doc boundary are never selected)
            offs = np.concatenate(
                ([0], np.cumsum(lens, dtype=np.int64)[:-1])
            )
            doc_sel = np.repeat(
                np.arange(len(lens), dtype=np.int64), gcounts
            )
            first_out = np.cumsum(gcounts, dtype=np.int64) - gcounts
            starts = offs[doc_sel] + (
                np.arange(total, dtype=np.int64) - first_out[doc_sel]
            )
            take_idx = pa.array(starts, type=pa.int64())
            tbl = pa.table(
                {
                    id_col: ids.take(pa.array(doc_sel, type=pa.int64())),
                    "gram": grams_all.take(take_idx),
                }
            )
            # per-doc DISTINCT grams: every doc's rows live in this one
            # batch, so a batch-local grouped distinct is exact
            dist = tbl.group_by([id_col, "gram"], use_threads=False).aggregate([])
            for ob in dist.to_batches():
                yield pa.RecordBatch.from_arrays(
                    [ob.column(0), ob.column(1)], schema=out_schema
                )

    from streaming_feature_store_spark.operators.text import (
        cpu_partitioned,
    )

    # the kernel is CPU-bound per doc: partition by cores, not by the
    # input's parquet splits (a sub-128MB corpus file is one split)
    return (
        cpu_partitioned(df.select(id_col, text_col))
        .mapInArrow(gen, f"{id_col} {id_type}, gram string")
        .select(F.col(id_col), F.xxhash64("gram").alias("sh"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs with shingle-Jaccard ≥ threshold.

    Inverted-index plan: explode distinct shingles, self-join on shingle
    (only co-occurring pairs appear), count intersections, then join the two
    per-doc shingle counts to close the |A∪B| = |A|+|B|−|A∩B| identity.

    ``max_df`` caps the document frequency of shingles admitted to the
    self-join (standard stop-shingle pruning): a shingle in d docs produces
    d·(d−1)/2 join rows, so one shingle shared by 10k docs alone emits
    5×10⁷ pairs — the class of blowup that OOMed the 128 GiB JVM in the LSH
    probe (PERFORMANCE.md lesson 1). Dropping a stop-shingle from the
    *intersection count only* would under-count Jaccard, so the cap drops it
    from BOTH the index and the per-doc sizes: the result is exact Jaccard
    over the capped shingle space (documented approximation; pairs whose
    overlap is carried solely by corpus-wide boilerplate no longer surface,
    which is the curation intent). ``max_df=None`` keeps the exact
    semantics for oracle parity at test scale.
    """
    from pyspark import StorageLevel

    idx = _shingle_index(df, text_col, id_col, n)
    if max_df is not None:
        hot = idx.groupBy("sh").agg(F.count("*").alias("df_sh")).filter(
            F.col("df_sh") > max_df
        )
        idx = idx.join(broadcast(hot.select("sh")), "sh", "left_anti")
    idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    return _jaccard_from_index(idx, id_col, threshold)


def _jaccard_from_index(idx: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Jaccard pairs from a (doc, shingle-hash) index — callers persist the
    index so the three consumers below share one materialization."""
    sizes = idx.groupBy(id_col).agg(F.count("*").alias("nsh"))
    a = idx.select(F.col(id_col).alias("doc_a"), "sh")
    b = idx.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("nsh_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nsh_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
) -> DataFrame:
    """MinHash signature per doc as k columns ``mh_0..mh_{k-1}``:
    min over shingle-hashes of xxhash64(shingle_hash, salt_i).

    Computed from the exploded shingle index — k salted hashes per index row
    + one groupBy(doc) with k MIN aggregates. Everything stays in whole-stage
    codegen (per-row higher-order lambdas over shingle arrays measured ~10×
    slower); one shuffle total, map-side partial mins."""
    idx = _shingle_index(df, text_col, id_col, n)
    return _minhash_from_index(idx, id_col, k)


def _minhash_from_index(idx: DataFrame, id_col: str, k: int) -> DataFrame:
    # expr-string form (r13, as in simhash64): one py4j call per aggregate
    # instead of four; xxhash64(sh, <int literal>) is the identical
    # multi-arg hash the Column form computed (seeds are int-typed both
    # ways), so signatures are bit-identical
    return idx.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(sh, {i})) AS mh_{i}") for i in range(k)]
    )


def _minhash_band_pairs(
    idx: DataFrame, id_col: str, k: int = 16, bands: int = 4
) -> DataFrame:
    """MinHash-LSH candidate pairs from a (doc, shingle-hash) index:
    signatures → band hashes → ONE self-join on (band_idx, band_hash).
    Shared by ``minhash_near_dups`` and the ``simhash_near_dups`` recall
    backstop (both verify candidates exactly afterwards)."""
    r = k // bands
    sigs = _minhash_from_index(idx, id_col, k)
    band_terms = ", ".join(
        "xxhash64(concat_ws(',', {cols}), {b})".format(
            cols=", ".join(
                f"cast(mh_{b * r + j} as string)" for j in range(r)
            ),
            b=b,
        )
        for b in range(bands)
    )
    band_hashes = F.expr(f"array({band_terms})")
    banded = sigs.select(F.col(id_col), F.posexplode(band_hashes).alias("band_idx", "bk"))
    a = banded.select(F.col(id_col).alias("doc_a"), "band_idx", "bk")
    b_ = banded.select(F.col(id_col).alias("doc_b"), "band_idx", "bk")
    return (
        a.join(b_, ["band_idx", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH-banded near-dup pairs, verified with true Jaccard.

    bands bands × (k/bands) rows; candidate pairs share ≥1 full band,
    found with ONE self-join on (band_idx, band_hash) after exploding the
    band array. At 100 TB the band groupBy/join is the only wide op over the
    full corpus; exact-Jaccard verification runs only on candidates.

    (r12 examined, deliberately left on the exploded-index shape: routing
    this through build_minhash_index + the array verify was measured and
    REVERTED — the collect_set index build shuffles the whole shingle-set
    payload where this path's shingle index is shuffle-free mapInPandas
    output, and the two array joins move the payload twice more; isolated
    q39 went 1.7 s → 4.7 s and q40 5.4 s → 14.7 s.  The array verify
    wins only where candidates are delta-bounded and the index is
    already persisted — the minhash_index_* family.)
    """
    from pyspark import StorageLevel

    idx = _shingle_index(df, text_col, id_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    cands = _minhash_band_pairs(idx, id_col, k, bands)
    return _verify_candidates(cands, idx, id_col, threshold)


def _verify_candidates(
    cands: DataFrame, idx: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard over a candidate pair set ONLY — never the
    all-pairs Jaccard. (Computing full jaccard_pairs here re-introduced the
    quadratic blowup LSH exists to avoid: a 40-word-vocab 100k-doc corpus
    has ~300 docs per shingle → ~3×10⁹ all-pairs rows, which OOMed a
    128 GiB JVM. The candidate set is |near-dups|-sized, so intersecting
    via two keyed joins is linear.) Shared by the MinHash-LSH and SimHash
    retrieval paths."""
    ia = idx.select(F.col(id_col).alias("doc_a"), "sh")
    ib = idx.select(F.col(id_col).alias("doc_b"), "sh")
    inter = (
        cands.join(ia, "doc_a")
        .join(ib, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sizes = idx.groupBy(id_col).agg(F.count("*").alias("nsh"))
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("nsh_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nsh_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: bit-majority over xxhash64 token hashes.

    Implemented as 64 conditional-sum aggregates over the exploded token
    relation — one shuffle keyed by doc id, everything in codegen.

    r13 opt (the Python boundary, guide §4 — applied to the DRIVER):
    the 63 per-bit aggregates and the 63-term signature reassembly are
    built as SQL ``expr()`` strings, one py4j call each, instead of
    composing ~800 Column objects op-by-op (sum/when/bitwiseAND/lit/
    cast/alias each round-trip the py4j socket).  Plan, execution and
    signatures are bit-identical (probe-asserted over the corpus:
    tools/simhash_expr_ab.py); invocation cost measured 3.2 s → 0.85 s
    at sf0.1 — the build cost was ~2.1 s of driver-side Python, paid on
    every call regardless of data size.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        # bit 63 is the sign bit; 0..62 keeps the result positive
        F.expr(f"sum(CASE WHEN (h & {1 << i}L) != 0 THEN 1 ELSE -1 END) AS b{i}")
        for i in range(63)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sim_sql = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}L ELSE 0L END)" for i in range(63)
    )
    return agg.select(F.col(id_col), F.expr(f"({sim_sql}) AS simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 8,
    hamming_max: int = 7,
) -> DataFrame:
    """Near-dup candidate pairs by banded SimHash Hamming join.

    The 63-bit signature is split into ``bands`` contiguous bit bands; a
    pair is a candidate iff ≥1 band matches exactly, found with ONE
    self-join keyed on (band_idx, band_bits). Pigeonhole guarantee: any
    pair with Hamming distance < bands shares at least one identical band,
    so recall is *deterministic* (=1) for distance ≤ bands−1 — unlike
    MinHash banding, which is probabilistic. Candidates are then filtered
    to ``hamming_max`` via ``bit_count(xor)``.

    Scale shape: the band join is the only wide op (O(docs·bands) index
    rows, 8-byte keys). The default radius equals the guarantee bound
    bands−1: within it recall is deterministic, beyond it band-recall is
    luck — and widening it is the classic cost cliff (the background pair
    distribution's 5th percentile sits at Hamming ≈ 12 on the test corpus,
    so a radius of 12 admits ~5 % of ALL pairs as candidates — measured 2×
    q40 wall time; at 7 the background admission rate is ≈ 0 while true
    near-dups measure ≤ 5). Returns (doc_a, doc_b, hamming).
    """
    from pyspark import StorageLevel

    width = 64 // bands  # 63 used bits → last band is narrower; fine
    # persisted: both sides of the self-join scan it
    sigs = simhash64(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    band_vals = F.expr(
        "array("
        + ", ".join(
            f"shiftright(simhash, {b * width}) & {(1 << width) - 1}L"
            for b in range(bands)
        )
        + ")"
    )
    # the signature RIDES THROUGH the band join (8 extra bytes/row) so the
    # Hamming radius filters the raw join output immediately — on clustered
    # corpora the band join admits a large candidate mass (measured 5.3M
    # raw pairs → 51k within radius at 5k small-vocab docs), and the naive
    # shape (distinct on raw pairs, then two signature re-joins) puts its
    # three widest ops BEFORE the only selective predicate. Filter-first
    # leaves one join + a distinct over the surviving pairs only.
    banded = sigs.select(
        F.col(id_col), "simhash", F.posexplode(band_vals).alias("band_idx", "bv")
    )
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "band_idx", "bv"
    )
    b_ = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "band_idx", "bv"
    )
    return (
        a.join(b_, ["band_idx", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= hamming_max)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 8,
    hamming_max: int = 7,
    threshold: float = 0.5,
    minhash_backstop: bool = True,
) -> DataFrame:
    """SimHash near-dup retrieval with a MinHash-banded recall backstop,
    verified with true shingle-Jaccard. Candidates are the UNION of

    1. banded SimHash Hamming pairs (``simhash_pairs``): DETERMINISTIC
       recall for Hamming ≤ bands−1 (pigeonhole) — the cheap fingerprint
       tier that owns the near-identical mass, and
    2. MinHash-LSH band pairs (``_minhash_band_pairs``, same candidates as
       ``minhash_near_dups``): banded on the Jaccard similarity itself, so
       recall tracks the QUANTITY the threshold is defined over.

    then exact Jaccard runs on candidates only. Returns
    (doc_a, doc_b, jaccard).

    Why the fixed radius alone is unsound (measured, this rig): true-pair
    Hamming tails are ≤9 at sf0.001, ≤5 at sf0.01, ≤11 at sf0.1 — radius 7
    silently dropped 1/28 pairs at sf0.001 and 14/256 at sf0.1, and the
    dropped pairs are NOT borderline: their Jaccard is 0.80-0.96. Short
    documents give the SimHash bit-majority few votes, so even
    high-similarity pairs drift past any fixed radius; widening the radius
    is the classic cost cliff (background admission ~5 % of all pairs at
    radius 12 — measured 2× wall time). Banding on MinHash similarity has
    no such cliff: per-band match probability is J^r, independent of
    document length. Measured union recall = 1.0 at every test scale
    (probe: tools/scale_dedup_probe.py).

    Scale shape: both tiers are single self-joins on 8-byte band keys over
    O(docs·bands) rows; the shingle index is built ONCE and shared by the
    backstop signatures and the verification stage; verification touches
    candidates only. ``minhash_backstop=False`` reverts to pure
    fixed-radius SimHash retrieval (the right mode when the workload really
    is fingerprint dedup — near-identical pages, Hamming ≤ 3).

    (r12 examined, deliberately left on the exploded-index shape — see
    the minhash_near_dups note: the array-index rewrite was measured at
    q40 5.4 s → 14.7 s and reverted.)"""
    from pyspark import StorageLevel

    idx = _shingle_index(df, text_col, id_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    cands = simhash_pairs(df, text_col, id_col, bands, hamming_max).select(
        "doc_a", "doc_b"
    )
    if minhash_backstop:
        cands = cands.union(_minhash_band_pairs(idx, id_col)).distinct()
    return _verify_candidates(cands, idx, id_col, threshold)


def dedup_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The dedup ACTION: the corpus with near-duplicates removed, keeping
    the lowest-id representative — what a training-data pipeline actually
    writes back out after pair detection.

    Greedy rule: drop every document that appears as the higher id of any
    near-dup pair (pairs are emitted with doc_a < doc_b). Chains collapse
    to their minimum (a~b, b~c drops b and c even without an a~c edge) —
    the standard single-pass approximation of connected-component dedup;
    an exact CC would need iterative label propagation, which no
    deduplication pipeline at corpus scale runs per batch.

    ``pairs`` defaults to exact ``jaccard_pairs``; pass
    ``minhash_near_dups(...)`` / ``simhash_near_dups(...)`` /
    an embedding pair set to reuse a sketch path. Plan: pair detection +
    one distinct drop-list + one left_anti join — the corpus itself is
    never shuffled beyond the join. The drop-list join strategy is left
    to AQE deliberately (VERDICT r3 "what's wrong" #3): the drop-list is
    the near-duplicate mass, which at a realistic 20-50 % dup rate is
    corpus-proportional — a forced ``broadcast()`` hint would OOM the
    driver at 100 TB. AQE broadcasts it when its runtime size is under
    ``spark.sql.autoBroadcastJoinThreshold`` and falls back to a shuffled
    anti-join otherwise, which is exactly the size-gate we want.
    """
    if pairs is None:
        pairs = jaccard_pairs(df, text_col, id_col, n, threshold)
    drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 12,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """Exact connected components over a near-dup pair graph: every node
    labelled with the minimum doc id reachable from it (the cluster
    representative). Output: ``(node, cluster_id)``, one row per node that
    appears in any pair.

    Transitive closure is what turns pairwise near-dup hits into dedup
    GROUPS (a~b, b~c ⇒ {a,b,c} even without an a~c edge) — the exact twin
    of ``dedup_survivors``'s single-pass greedy drop.

    Algorithm: min-label propagation with pointer jumping. Each round
    does (1) label(v) ← min(label(v), min label over v's neighbours) —
    one join+groupBy on the edge list — and (2) label(v) ←
    label(label(v)) (pointer jumping), which collapses chains
    logarithmically, so convergence is O(log diameter) rounds, the same
    round complexity class as large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"). Each round shuffles
    only (node, label) pairs — never document text.

    Scale shape: the pair graph is orders of magnitude smaller than the
    corpus (only docs with a near-dup hit appear), so the operator first
    MEASURES the edge count and picks the physical strategy from it —
    the same small-side reasoning as a broadcast join:

    - ≤ ``driver_threshold`` edges (16 bytes each → ≤ ~3 MB): collect and
      solve with union-find on the driver in one pass. A tiny near-dup
      graph should not pay N distributed fixpoint rounds of fixed job
      overhead (measured: the 25-pair catalog graph spent ~5 s on round
      scheduling alone).
    - larger graphs: the distributed min-label loop, shuffle partitioning
      sized from the edge count — 700 k edges get ~3 tasks/round, a
      billion-edge graph at 100 TB gets thousands. The fixpoint check
      reads the round's materialized result (label != old label count) —
      no extra join.

    Both strategies produce identical labels (min reachable id per
    component; the randomized union-find property test pins them to each
    other).

    Iteration hygiene (measured, 700k-edge chain graph): every round's
    output is lineage-truncated with a tracked eager local checkpoint
    (``cacheutil.rolling_local_checkpoint``, which frees the superseded
    round's blocks; the result's stay tracked until
    ``release_checkpoints()``, and the edges' are freed before return).
    ``persist()`` alone is NOT enough — each round's plan embeds the
    previous round's twice (the pointer-jump self-join), so Catalyst
    re-analysis grows exponentially even though execution reads cache
    (observed 4.7 s → 19 s → 81 s → 159 s per round; with checkpoints the
    rounds are flat ~3 s). On a fault-tolerant cluster run, swap for
    reliable ``checkpoint()`` against a checkpoint dir — localCheckpoint
    trades executor-loss recovery for speed, the right trade in a batch
    dedup job that simply reruns on failure.

    Reference ties: the reference stops at pairwise duplicate detection
    (no grouping operator); this is the beyond-reference curation surface
    (BASELINE.json).
    """
    # both edge directions from ONE scan of the pair plan (a union of two
    # selects would execute the upstream pair-generation subplan twice)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("a"), F.col(id_b).alias("b")),
                    F.struct(F.col(id_b).alias("a"), F.col(id_a).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    # size the iteration's parallelism from the graph, not the corpus:
    # ~250k edges per partition — (node,label) rows are 16 bytes, so the
    # bound is per-round task-time balance, not shuffle-block size (a test
    # graph of dozens of edges stays single-partition, 700k edges get ~3
    # tasks, a billion-edge graph at 100 TB gets thousands)
    # persist BEFORE the count: the count job materializes the (possibly
    # expensive) upstream pair-generation plan once; the strategy picked
    # below then reads the cache instead of re-executing it
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        # small-graph fast path: one collect + union-find, one createDataFrame
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # a <= b keeps one direction per edge AND retains self-pairs
        # (a, a), whose node must still appear in the output — the
        # distributed path emits it, and the property test pins the two
        # paths to each other
        rows = edges.filter(F.col("a") <= F.col("b")).collect()
        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the cluster representative
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        spark = pairs.sparkSession
        out_type = edges.schema["a"].dataType.simpleString()
        edges.unpersist()
        return spark.createDataFrame(
            [(n, find(n)) for n in parent],
            f"node {out_type}, cluster_id {out_type}",
        )
    parts = max(1, min(int(n_edges // 250_000) + 1, 4096))
    from streaming_feature_store_spark.cacheutil import (
        local_checkpoint_tracked,
        release_checkpoint,
        rolling_local_checkpoint,
    )

    edges_c = local_checkpoint_tracked(edges.repartition(parts, "b"))
    edges.unpersist()
    edges = edges_c
    # Rolling release (same contract as pagerank's loop): each round's
    # checkpoint frees the superseded one as soon as it is materialized,
    # so peak checkpoint storage is O(nodes) for the whole fixpoint
    # instead of O(rounds x nodes)-until-GC. The chain runs stepped ->
    # jumped -> next stepped; the FINAL jumped stays (the returned frame
    # reads it), and the edges are freed once the loop ends.
    labels = ck = local_checkpoint_tracked(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .repartition(parts, "node")
        .withColumn("label", F.col("node"))
    )
    changed = -1  # max_iter=0 must raise the diagnostic, not NameError
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # labels' blocks are last read while stepped materializes (the
        # nbr_min join is inside stepped's plan; jumped reads only
        # stepped), so the previous generation frees HERE — two live
        # checkpoint generations at peak, never three
        stepped = rolling_local_checkpoint(
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            ),
            ck,
        )
        # pointer jumping: label(v) <- label(label(v))
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        # materializing jumped supersedes this round's stepped
        ck = rolling_local_checkpoint(
            stepped.join(parent, stepped["label"] == parent["p_node"], "left")
            .select(
                "node",
                "old_label",
                F.least(
                    F.col("label"), F.coalesce("p_label", "label")
                ).alias("label"),
            ),
            stepped,
        )
        changed = ck.filter(F.col("label") != F.col("old_label")).count()
        labels = ck.select("node", "label")
        if changed == 0:
            break
    else:
        # max_iter exhausted with labels still moving: the labels are NOT a
        # fixpoint, i.e. some clusters would be silently split. 12 rounds of
        # propagation+pointer-jumping cover graph diameters in the thousands,
        # so reaching this is a pathological graph — fail loudly rather than
        # return wrong groups.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter for this graph"
        )
    # the labels no longer read the edges: free them now, not at release
    release_checkpoint(edges)
    return labels.select("node", F.col("label").alias("cluster_id"))


def edit_distance_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int = 3,
    length_band: int | None = None,
    max_block_rows: int | None = 100_000,
) -> DataFrame:
    """Blocked edit-distance (Levenshtein) near-duplicate pairs — the
    character-level verifier the token-level families (Jaccard/MinHash/
    SimHash) cannot express: "colour" vs "color", transposed words,
    OCR noise.  Returns (id_a, id_b, edit_dist) with id_a < id_b for
    every same-block pair within ``max_dist``.

    Classic blocking construction (the record-linkage literature's
    standard): pairs are only formed INSIDE a block — the caller's
    ``block_cols`` (a category, a sort key prefix, an LSH bucket id from
    the sketch families) plus, when ``length_band`` is set,
    floor(length/band).  Length banding is LOSSLESS: because
    Levenshtein(a, b) ≥ ||a|−|b|| and band width ≥ max_dist, a matching
    pair's bands differ by at most 1, so the right side is replicated to
    its three adjacent bands and every qualifying pair meets exactly
    once — at the left row's primary band (3× fanout on one side, the
    price of zero recall loss).  Pair count is Σ|block|² (never
    corpus²), the same bucketed-not-all-pairs contract as every dedup
    family here; the Levenshtein DP is JVM codegen (no Python), runs on
    CANDIDATE pairs only, and uses Spark's THRESHOLD form (banded
    O(max_dist·|a|) DP with early exit, returning −1 past the bound) —
    measured 13.0 → ~4 s on the 8M-pair q206 at sf0.1.

    ``max_block_rows`` enforces the contract (the ``semantic_dedup``
    guard pattern): a degenerate blocking key (one giant block) would
    silently go quadratic, so the largest block is checked with one
    cheap count aggregate first.
    """
    parts = [F.col(c) for c in block_cols]
    if length_band is not None:
        if length_band < max_dist:
            raise ValueError(
                f"length_band={length_band} < max_dist={max_dist} would "
                "split true matches across bands (|len(a)-len(b)| <= "
                "edit distance); use a band width >= max_dist"
            )
        parts.append(
            F.floor(F.length(F.col(text_col)) / length_band).alias("_lb")
        )
    blocked = df.select(
        F.col(id_col), F.col(text_col), *parts
    )
    bcols = block_cols + (["_lb"] if length_band is not None else [])
    if max_block_rows is not None:
        top = (
            blocked.groupBy(*bcols)
            .count()
            .orderBy(F.col("count").desc())
            .first()
        )
        if top is not None and top["count"] > max_block_rows:
            raise ValueError(
                f"edit_distance_near_dups: a block holds {top['count']} "
                f"rows > max_block_rows={max_block_rows} — pair work is "
                "quadratic per block. Use finer block_cols (add an LSH "
                "bucket or length_band), or raise max_block_rows "
                "explicitly if you mean it."
            )
    # The probe side is round-robin repartitioned to the session's core
    # count BEFORE the join: blocks are usually few (25 brands) and the
    # block dim small enough to broadcast, so without this the entire
    # candidate DP inherits the probe side's PARQUET partitioning — a
    # single small file means ONE task grinding the whole Σ|block|² pair
    # set (measured: q206 at sf0.1 ran its 7.7M-pair DP on one core,
    # 12.9 s → 0.9 s with the repartition; at sf1.0 one core ground
    # 800M pairs for 25+ minutes).  CPU-bound per-pair work must be
    # partitioned by CPU, not by input bytes.
    par = blocked.sparkSession.sparkContext.defaultParallelism
    a = blocked.repartition(par).select(
        *bcols,
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
    )
    b = blocked.select(
        *bcols,
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
    )
    if length_band is not None:
        # right side replicated to its three adjacent length bands, so a
        # pair whose lengths straddle a band boundary still meets (once,
        # at the left row's primary band)
        b = b.withColumn(
            "_lb", F.explode(F.array(F.col("_lb") - 1, F.col("_lb"),
                                     F.col("_lb") + 1))
        )
    return (
        a.join(b, bcols)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("_ta") - F.length("_tb")) <= max_dist
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb", max_dist).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


# ---------------------------------------------------------------------------
# Incremental dedup-against-index (round 9). A 100 TB pipeline does not
# re-shingle the corpus per daily delta: it keeps a persisted MinHash index
# (one row per doc: band hashes + shingle-hash set) and band-joins only the
# delta against it. The batch restatement of the reference's keyed
# incremental state (streaming/flink/feature_job.py:115-172) applied to
# dedup, with the S7 latest-upsert replace semantics for re-ingested ids.
# ---------------------------------------------------------------------------


def build_minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Persistable MinHash-LSH index: ONE row per document with
    ``bands`` (array<long> of LSH band hashes, the candidate-generation
    key) and ``shingles`` (array<long> of distinct n-gram hashes, the
    exact-verification payload) + ``nsh``.

    Storing shingle HASHES (8 B each, ~|tokens| per doc) makes every
    future delta merge skip re-tokenizing the base corpus entirely —
    the index is strictly smaller than the text it stands in for, and
    parquet arrays of int64 scan fast.  One shuffle (the per-doc
    groupBy); the k salted min-hashes and band hashes are identical
    expressions to :func:`minhash_near_dups`, so an index built once ≡
    the signatures a full recompute would derive (the delta-parity
    guarantee below rests on this: MinHash signatures are per-doc facts
    with no corpus-level dependence).

    Docs shorter than ``n`` tokens produce no shingles and are absent —
    exactly as in :func:`minhash_near_dups`.
    """
    r = k // bands
    idx = _shingle_index(df, text_col, id_col, n)
    # expr-string form (r13, as in _minhash_from_index/_minhash_band_pairs
    # — the three MUST stay expression-identical for the delta-parity
    # guarantee): one py4j call per aggregate/band instead of one per op
    agg = idx.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(sh, {i})) AS mh_{i}") for i in range(k)],
        F.collect_set("sh").alias("shingles"),
    )
    band_terms = ", ".join(
        "xxhash64(concat_ws(',', {cols}), {b})".format(
            cols=", ".join(
                f"cast(mh_{b * r + j} as string)" for j in range(r)
            ),
            b=b,
        )
        for b in range(bands)
    )
    band_hashes = F.expr(f"array({band_terms})")
    return agg.select(
        F.col(id_col),
        band_hashes.alias("bands"),
        F.col("shingles"),
        F.size("shingles").alias("nsh"),
    )


def _banded(index: DataFrame, id_col: str) -> DataFrame:
    return index.select(
        F.col(id_col), F.posexplode("bands").alias("band_idx", "bk")
    )


def _verify_from_index(
    cands: DataFrame, index: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify candidate pairs against a one-row-per-doc
    index, entirely on the stored arrays: two joins attach each side's
    ``shingles`` array + ``nsh`` to the (small) pair list and the
    intersection is ``size(array_intersect(...))`` in codegen.

    r12 opt (guide §2.4/§3): the previous form semi-joined the index to
    candidate docs, EXPLODED their shingle arrays and re-counted the
    intersection with a (pair, shingle) join + groupBy + two size
    re-aggregations — 5 Exchanges and an |candidate-docs|·|shingles|
    fanout per screen.  Arrays are sets (collect_set upstream), so
    ``size(array_intersect)`` ≡ the exploded co-occurrence count, and
    ``nsh`` is already materialized in the index; the pair side is
    near-dup-bounded, so AQE broadcasts it and the index is scanned
    (never shuffled) twice.  Pairs with zero overlap drop either way
    (threshold > 0)."""
    a = index.select(
        F.col(id_col).alias("doc_a"),
        F.col("shingles").alias("_sh_a"),
        F.col("nsh").alias("_nsh_a"),
    )
    b = index.select(
        F.col(id_col).alias("doc_b"),
        F.col("shingles").alias("_sh_b"),
        F.col("nsh").alias("_nsh_b"),
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_n_common", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("_n_common")
                / (
                    F.col("_nsh_a") + F.col("_nsh_b") - F.col("_n_common")
                ).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_index_pairs(
    index: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """All verified near-dup pairs within an index — the full-corpus run
    restated over the persisted index (band self-join on
    (band_idx, band_hash), exact-Jaccard verify on candidates only).
    ``minhash_index_pairs(build_minhash_index(df)) ≡
    minhash_near_dups(df)`` by construction."""
    banded = _banded(index, id_col)
    a = banded.select(F.col(id_col).alias("doc_a"), "band_idx", "bk")
    b = banded.select(F.col(id_col).alias("doc_b"), "band_idx", "bk")
    cands = (
        a.join(b, ["band_idx", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_from_index(cands, index, id_col, threshold)


def minhash_index_merge(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    delta_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Merge a document delta into a persisted MinHash index: returns
    ``(new_pairs, updated_index)`` where ``new_pairs`` is every verified
    near-dup pair that INVOLVES a delta doc (delta×index ∪ delta×delta)
    and ``updated_index`` is the index with the delta upserted.

    **Delta ≡ full-recompute parity** (the oracled catalog guarantee,
    q221): signatures are per-doc, so the delta's band hashes equal what
    a full recompute would assign; hence
    ``pairs(index) ∪ new_pairs ≡ minhash_near_dups(base ∪ delta)``
    exactly — candidate sets, verification, thresholds all identical.

    Re-ingested ids REPLACE their index row (the S7 latest-upsert
    semantics, streaming/sinks.py:81) and re-pair against the new
    content; pairs previously emitted for the retired content are the
    caller's to retract (append-log consumers compact on
    (doc_a, doc_b) latest-wins).

    100 TB plan shape: the delta side of the band join is small, so AQE
    broadcasts it and the base index is SCANNED, never shuffled — cost
    per merge is O(|index| scan + |delta|·bands + |new candidates|),
    vs O(|corpus| shuffle) for a recompute.  Exact verification explodes
    shingle arrays only for docs appearing in a candidate pair.
    """
    from streaming_feature_store_spark.cacheutil import persist_tracked

    # the delta index feeds three consumers (anti-join key set, the
    # union into updated, the banded join side); Spark gives zero
    # ReusedExchange for shared subplans, so persist the small delta
    # lineage once.  The BASE index is the caller's: pass a parquet-
    # backed (the production shape) or persisted frame, or its lineage
    # recomputes per consumer.  ``delta_index`` lets a caller that
    # ALREADY built (and persisted) the delta's signatures reuse them —
    # the daily-ingest delta-log path builds them once for both this
    # screen and the day's appended rows.
    new_index = (
        delta_index
        if delta_index is not None
        else persist_tracked(
            build_minhash_index(new_docs, text_col, id_col, n, k, bands)
        )
    )
    surviving = index.join(new_index.select(id_col), id_col, "left_anti")
    updated = surviving.unionByName(new_index.select(*index.columns))
    bn = _banded(new_index, id_col)
    bo = _banded(surviving, id_col)
    nn = (
        bn.select(F.col(id_col).alias("doc_a"), "band_idx", "bk")
        .join(bn.select(F.col(id_col).alias("doc_b"), "band_idx", "bk"),
              ["band_idx", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    no = (
        bn.select(F.col(id_col).alias("_dn"), "band_idx", "bk")
        .join(bo.select(F.col(id_col).alias("_do"), "band_idx", "bk"),
              ["band_idx", "bk"])
        .select(
            F.least("_dn", "_do").alias("doc_a"),
            F.greatest("_dn", "_do").alias("doc_b"),
        )
    )
    cands = nn.union(no).distinct()
    new_pairs = _verify_from_index(cands, updated, id_col, threshold)
    return new_pairs, updated


def fingerprint_index_merge(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Incremental EXACT dedup against a persisted fingerprint index —
    the cheap first tier of the daily ingest screen (byte-identical
    re-crawls are the bulk of web-corpus duplication; they never need
    shingles): returns ``(screen, updated_index)``.

    ``screen`` has one row per delta doc: its md5 ``fingerprint``, the
    corpus representative ``match_id`` (NULL if unseen) and the
    ``is_corpus_dup`` flag.  ``updated_index`` merges the delta into the
    index — per-fingerprint ``dup_count`` sums, representative stays the
    global MIN id — and equals ``exact_dup_groups(base ∪ delta)``
    exactly (pytest pins it).

    Scale shape: the index is keyed by a 32-hex fingerprint, never text;
    the delta side is small so AQE broadcasts it against the index scan;
    the update shuffles only |delta-fingerprint| + matching index rows
    at a bucketed layout (or is a MERGE INTO on a table format).
    """
    new_groups = exact_dup_groups(new_docs, text_col, id_col)
    screen = (
        fingerprint(new_docs, text_col)
        .join(
            index.select(
                "fingerprint", F.col("first_doc_id").alias("match_id")
            ),
            "fingerprint",
            "left",
        )
        .select(
            id_col,
            "fingerprint",
            "match_id",
            F.col("match_id").isNotNull().alias("is_corpus_dup"),
        )
    )
    updated = (
        index.unionByName(new_groups)
        .groupBy("fingerprint")
        .agg(
            F.sum("dup_count").alias("dup_count"),
            F.min("first_doc_id").alias("first_doc_id"),
        )
    )
    return screen, updated


def fingerprint_log_screen(
    new_docs: DataFrame,
    log: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-recrawl screen against the RAW fingerprint delta log — the
    un-aggregated union of per-day :func:`exact_dup_groups` rows the
    delta-log layout persists (streaming/dedup.py ``read_index_log``).
    Same output as ``fingerprint_index_merge(...)[0]`` against the
    aggregated ledger: one row per delta doc with its md5
    ``fingerprint``, the corpus representative ``match_id`` (the MIN
    ``first_doc_id`` over every day-row of that fingerprint — day-local
    mins compose to the global min) and ``is_corpus_dup``.

    The scale point of screening the log RAW: joining delta fingerprints
    against the log and aggregating per DELTA doc keeps the one shuffle
    |delta|-bounded.  Reconstructing snapshot-shaped ledger rows first
    (groupBy fingerprint over base ∪ deltas) would shuffle the whole
    corpus-sized ledger every day just to serve a delta-sized probe —
    AQE broadcasts the delta side here, so the log is scanned, never
    exchanged."""
    fps = fingerprint(new_docs, text_col)
    return (
        fps.join(
            log.select("fingerprint", "first_doc_id"), "fingerprint", "left"
        )
        .groupBy(id_col, "fingerprint")
        .agg(F.min("first_doc_id").alias("match_id"))
        .select(
            id_col,
            "fingerprint",
            "match_id",
            F.col("match_id").isNotNull().alias("is_corpus_dup"),
        )
    )


def minhash_index_screen(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    delta_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Decision-ready form of :func:`minhash_index_merge`: one row PER
    DELTA DOC — ``(doc_id, is_near_dup, best_match_id, best_jaccard,
    match_in_index)`` — instead of a pair list; ties on jaccard break to
    the LOWEST match id (deterministic).  ``best_match_id`` may be
    another delta doc (an in-batch duplicate cluster) or an indexed
    corpus doc — ``match_in_index`` says which; docs with no qualifying
    pair pass as novel.  Returns ``(screen, updated_index)``.

    This is the form the ingest gate consumes.  The standard keep/drop
    policy: drop if ``match_in_index`` (the corpus already has it), else
    drop if ``best_match_id < doc_id`` (keep the lowest-id member of an
    in-batch-only cluster) — so every duplicate cluster retains exactly
    one representative.  The pair list remains available from
    :func:`minhash_index_merge` for cluster construction
    (``dedup_clusters``) and audit.
    """
    from streaming_feature_store_spark.cacheutil import persist_tracked

    pairs, updated = minhash_index_merge(
        new_docs, index, text_col, id_col, n, k, bands, threshold,
        delta_index=delta_index,
    )
    # r12 opt: the pair list feeds BOTH orientations of the decision view.
    # The old two-select union re-executed the banded-join + exact-verify
    # lineage once per branch (measured at sf0.1: the whole screen 10.4 s
    # -> 6.0 s from this hunk); now the |near-dup-pairs|-bounded result is
    # persisted once and both orientations come from ONE pass (explode of
    # the two struct orientations — identical row multiset to the union).
    pairs = persist_tracked(pairs)
    delta_ids = new_docs.select(F.col(id_col)).distinct()
    sided = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias(id_col),
                        F.col("doc_b").alias("match_id"),
                        F.col("jaccard").alias("jaccard"),
                    ),
                    F.struct(
                        F.col("doc_b").alias(id_col),
                        F.col("doc_a").alias("match_id"),
                        F.col("jaccard").alias("jaccard"),
                    ),
                )
            ).alias("_s")
        )
        .select("_s.*")
        .join(delta_ids, id_col, "left_semi")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("jaccard"), F.asc("match_id")
    )
    best = (
        sided.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.col("match_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    # is the winning match an already-indexed corpus doc (vs an in-batch
    # delta doc)?  NOTE: `index` here is pre-upsert, so a delta doc that
    # REPLACED a corpus row still counts as in-index for its old id —
    # exactly the gate's intent.
    idx_ids = index.select(F.col(id_col).alias("best_match_id")).distinct()
    screen = (
        new_docs.select(F.col(id_col)).distinct()
        .join(best, id_col, "left")
        .join(
            idx_ids.withColumn("_in_idx", F.lit(True)),
            "best_match_id",
            "left",
        )
        .select(
            id_col,
            F.col("best_match_id").isNotNull().alias("is_near_dup"),
            "best_match_id",
            "best_jaccard",
            F.when(
                F.col("best_match_id").isNotNull(),
                F.coalesce(F.col("_in_idx"), F.lit(False)),
            ).alias("match_in_index"),
        )
    )
    return screen, updated


def erase_from_minhash_index(
    index: DataFrame, erased_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Right-to-be-forgotten maintenance for the persisted MinHash index
    (the governance erasure audit q201 checks the FACT tables; an erased
    document's shingle hashes living on in a dedup index is the same
    compliance hole): one anti-join removes the doc's row — signature,
    band hashes and shingle set all live in that one row, so the purge
    is exact and index-local.  Post-erasure the index answers exactly
    like a rebuild over the surviving corpus (pytest pins it; signatures
    are per-doc facts, so no other row changes).

    The FINGERPRINT index (``exact_dup_groups`` shape) deliberately has
    no index-local erasure: it stores per-fingerprint counts and a MIN
    representative, not member ids, so erasing a doc requires
    recomputing its fingerprint group from the surviving source rows —
    a fingerprint-keyed pruned scan, not a full rebuild; see
    ``fingerprint_index_merge``'s docstring.
    """
    return index.join(
        erased_ids.select(F.col(id_col)).distinct(), id_col, "left_anti"
    )


def cluster_index_merge(
    new_pairs: DataFrame,
    labels: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Incremental connected components against a persisted label table —
    the cluster-maintenance leg of the incremental dedup family: q221
    surfaces each delta's NEW near-dup pairs; this folds them into the
    standing ``(node, cluster_id)`` assignment without re-running CC over
    the full historical pair graph.

    The insight that keeps it cheap: with min-id labels, a new edge can
    only merge whole EXISTING components.  Map both endpoints to their
    current labels (unlabeled nodes label themselves), keep the edges
    whose labels differ, and run exact CC (``dedup_clusters``) on that
    CONTRACTED label graph — its size is bounded by the delta's pair
    count, never by history.  The resulting old-label -> new-label remap
    rewrites the index with one join; labels are min reachable ids, so a
    merged component's new label is the min of its parts' labels — i.e.
    exactly what a full recompute assigns (the oracled q231 guarantee,
    pinned against the q67 recursive-CTE closure).

    Scale shape: two broadcast-able joins keyed by node/label (the delta
    side is small), one CC over |delta| contracted edges, one remap join
    over the index — the historical EDGE LIST is never touched, only the
    label table (|nodes| rows, the thing a 100 TB entity-resolution
    pipeline persists anyway).
    """
    la = labels.select(
        F.col("node").alias(id_a), F.col("cluster_id").alias("_la")
    )
    lb = labels.select(
        F.col("node").alias(id_b), F.col("cluster_id").alias("_lb")
    )
    contracted = (
        new_pairs.select(id_a, id_b)
        .join(la, id_a, "left")
        .join(lb, id_b, "left")
        .select(
            F.coalesce("_la", F.col(id_a)).alias("a"),
            F.coalesce("_lb", F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    remap = dedup_clusters(contracted, "a", "b").select(
        F.col("node").alias("cluster_id"), F.col("cluster_id").alias("_new")
    )
    new_nodes = (
        new_pairs.select(F.col(id_a).alias("node"))
        .unionByName(new_pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    return (
        labels.unionByName(new_nodes)
        .join(remap, "cluster_id", "left")
        .select(
            "node", F.coalesce("_new", F.col("cluster_id")).alias("cluster_id")
        )
    )


def erase_from_cluster_index(
    labels: DataFrame,
    pairs: DataFrame,
    erase: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Right-to-erasure for the persisted cluster label table (the q231
    index) — the one index in the family where deletion is NOT a row
    filter: removing a node can SPLIT its component (it may be the
    bridge) and can retire the min-id representative, and the label
    table alone cannot answer post-removal connectivity.  The honest
    repair: recompute exact CC over the RETAINED edges of the AFFECTED
    components only; every other component passes through untouched.

    ``erase`` is a one-column (node) frame.  Returns the updated label
    table, equal to ``dedup_clusters(pairs minus erased-touching edges)``
    (pinned by test; nodes whose every edge involved an erased node drop
    out, exactly as a rebuild would drop them).

    Scale shape: the erase set is tiny — both the affected-component
    lookup and the edge filters are broadcast joins; CC runs on the
    affected subgraph only.  This is why the PAIR LOG is worth retaining
    next to the label table (append-only, compacted like any log):
    without it, any erasure forces a full-graph CC rebuild.
    """
    er = erase.select(F.col(erase.columns[0]).alias("node")).distinct()
    affected = (
        labels.join(F.broadcast(er), "node", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    untouched = labels.join(
        F.broadcast(affected), "cluster_id", "left_anti"
    )
    aff_nodes = labels.join(
        F.broadcast(affected), "cluster_id", "left_semi"
    ).select("node")
    sub = (
        pairs.select(id_a, id_b)
        .join(
            F.broadcast(aff_nodes.withColumnRenamed("node", id_a)),
            id_a,
            "left_semi",
        )
        .join(
            F.broadcast(er.withColumnRenamed("node", id_a)),
            id_a,
            "left_anti",
        )
        .join(
            F.broadcast(er.withColumnRenamed("node", id_b)),
            id_b,
            "left_anti",
        )
    )
    relabeled = dedup_clusters(sub, id_a, id_b)
    return untouched.unionByName(relabeled)
