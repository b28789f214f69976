"""Deduplication operators (SURVEY.md §2.2i; 100 TB LLM-pipeline surface).

Four tiers, all expressed as DataFrame plans:

- ``exact_dedup``: hash-groupBy on md5(text). One shuffle on the 128-bit hash
  (uniform keys, no skew) — the canonical 100 TB exact dedup.
- ``minhash_*``: MinHash + LSH banding. Shingle → k independent min-hashes
  (xxhash64 with per-permutation seeds, all JVM built-ins) → band signatures →
  candidate pairs via an equi-join on (band, band_hash) — O(candidates), never
  the O(n²) all-pairs product. Candidates are then verified with exact
  Jaccard over distinct shingles.
- ``simhash``: 16-bit sign-sum fingerprint from md5 bits, groupable /
  hamming-comparable; fully deterministic and dialect-portable.
- ``jaccard_similar_pairs``: exact token-set Jaccard over a blocking key
  (e.g. same lang) — the small-scale oracle-checkable variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inspectadb_spark.operators.pipeline import words_col


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by md5; keep the minimum id as survivor."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep"))
    )


def _shingles(docs: DataFrame, text_col: str, id_col: str, k: int,
              distinct: bool = True) -> DataFrame:
    """Distinct k-token shingles per document (word shingling).

    ``distinct=False`` skips the dedup exchange and yields the raw
    occurrence stream — for consumers whose aggregation dedupes anyway
    (min-hash mins, ``collect_set``), saving one full shuffle."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    sh = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .filter(n >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("_toks") - k)).alias("_i"),
            F.col("_toks"),
        )
        .select("doc_id", F.array_join(F.slice("_toks", F.col("_i") + 1, k), " ").alias("shingle"))
    )
    return sh.distinct() if distinct else sh


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: array of ``num_hashes`` min(xxhash64(shingle, seed_i)).

    Stays entirely in whole-stage codegen (xxhash64 is a JVM built-in); the
    only shuffle is the per-doc aggregation.
    """
    sh = _shingles(docs, text_col, id_col, shingle_k)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature"))


def _check_banding(num_hashes: int, bands: int) -> None:
    """bands must divide num_hashes: a remainder silently discards the
    trailing hash functions (weaker LSH than configured), and bands >
    num_hashes makes every band slice EMPTY — a constant band hash whose
    self-join degenerates to the all-pairs cross product LSH exists to
    avoid."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})")


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via LSH banding + exact-Jaccard verification.

    Returns (d1, d2, jac) with d1 < d2 and exact shingle-Jaccard ≥ threshold.
    Candidate generation joins on (band_index, hash-of-band-slice): at 100 TB
    this is a uniform-key equi-join whose output is only the colliding pairs.
    """
    _check_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    banded = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("signature"),
    ).select(
        "doc_id",
        "band",
        F.xxhash64(
            F.array_join(
                F.transform(
                    F.slice("signature", F.col("band") * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("bh"),
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # exact verification on candidates only
    sh = _shingles(docs, text_col, id_col, shingle_k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        cand.join(a, "d1").join(b, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("i"))
    )
    jac = (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("s1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("s2")), "d2")
        .select(
            "d1",
            "d2",
            (F.col("i").cast("double") / (F.col("s1") + F.col("s2") - F.col("i"))).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )
    return jac


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """16-bit SimHash: per token, md5 hex chars vote ±1 per bit position; the
    sign of each bit-sum forms the fingerprint. Deterministic and portable
    (same md5 bytes in any engine).

    r13: the token md5 is hashed BEFORE the per-bit explode (once per
    occurrence, not ``bits`` times — the old select put the md5
    projection above the Generate; guide §4 expression hygiene).

    r14 (guide §2.3/§2.4, the q204 shape): the per-bit Generate and the
    (doc_id, j) intermediate aggregation are gone — the per-doc bit sums
    are ``bits`` conditional SUM columns over the un-exploded md5 stream
    (map-side combinable, one exchange instead of two, ``bits``× fewer
    rows through the shuffle machinery), and the fingerprint folds the
    sign bits in one projection. Same integer votes, same sums, same
    sim16."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select("doc_id", F.md5("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*"89abcdef"), 1)
            .otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(bits)
    ]
    per = toks.groupBy("doc_id").agg(*votes)
    sim16 = sum(
        F.when(F.col(f"_b{j}") >= 0, F.lit(1 << j)).otherwise(0)
        for j in range(bits)
    )
    return per.select("doc_id", sim16.cast("bigint").alias("sim16"))


def token_overlap_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact token-set overlaps for every same-block doc pair sharing ≥1
    token: (d1, d2, i, s1, s2) with d1 < d2, i = |T(d1) ∩ T(d2)|,
    s = |T(d)| — the shared candidate frame under ``jaccard_similar_pairs``
    and the q250 threshold sweep.

    r13 shape: the old posting-list self-join shuffled one row per
    (token, d1, d2) incidence — Σ_token df(token)² rows (57M at sf0.1,
    ~50 s) for 3.2M distinct pairs, because this corpus' tokens are
    maximally unselective. Now tokens are dictionary-encoded per block,
    docs become 0/1 indicator rows, and id-hash sub-block pairs run one
    float64 GEMM each via an Arrow-batched numpy pass (guide §4) —
    exact, since 0/1 float64 products count collisions with no rounding
    below 2^53. Intersections, sizes and every downstream ratio stay
    integer arithmetic, so results are bit-identical to the posting
    join. Each unordered pair lives in exactly one sub-block pair.

    Scale: cost is Σ_block n_block²·|vocab_block| at BLAS speed with
    per-task memory (n_block/n_blocks)·|vocab_block| — for corpora where
    the posting join's Σ df² beats n² (selective vocabularies) or the
    block vocab outgrows task memory, swap in LSH bands
    (``minhash_near_dup_pairs``)."""
    import numpy as np
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(block_col).alias("blk"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .distinct()
    )
    wv = Window.partitionBy("blk").orderBy("tok")
    vocab = (tok.select("blk", "tok").distinct()
             .withColumn("tid", F.row_number().over(wv)))
    arrs = (
        tok.join(vocab, ["blk", "tok"])
        .groupBy("blk", "doc_id")
        .agg(F.collect_list("tid").alias("tids"))
    )
    packed = arrs.groupBy(
        "blk", F.pmod(F.hash("doc_id"), F.lit(n_blocks)).alias("g")
    ).agg(F.collect_list(F.struct("doc_id", "tids")).alias("rows"))
    lhs = packed.select("blk", F.col("g").alias("g1"),
                        F.col("rows").alias("r1"))
    rhs = packed.select(F.col("blk").alias("blk2"), F.col("g").alias("g2"),
                        F.col("rows").alias("r2"))
    block_pairs = lhs.join(
        rhs, (F.col("blk") == F.col("blk2")) & (F.col("g1") <= F.col("g2"))
    ).repartition(n_blocks * (n_blocks + 1) // 2, "blk", "g1", "g2")

    def overlaps(batches):
        for pdf in batches:
            out = []
            for g1, g2, r1, r2 in zip(pdf["g1"], pdf["g2"],
                                      pdf["r1"], pdf["r2"]):
                i1 = np.asarray([x["doc_id"] for x in r1])
                i2 = np.asarray([x["doc_id"] for x in r2])
                t1 = [np.asarray(x["tids"], dtype=np.int64) for x in r1]
                t2 = [np.asarray(x["tids"], dtype=np.int64) for x in r2]
                s1 = np.asarray([len(t) for t in t1], dtype=np.int64)
                s2 = np.asarray([len(t) for t in t2], dtype=np.int64)
                v = max(max((int(t.max()) for t in t1 if len(t)), default=0),
                        max((int(t.max()) for t in t2 if len(t)), default=0))
                m1 = np.zeros((len(t1), v), dtype=np.float64)
                for r, ts in enumerate(t1):
                    m1[r, ts - 1] = 1.0
                m2 = np.zeros((len(t2), v), dtype=np.float64)
                for r, ts in enumerate(t2):
                    m2[r, ts - 1] = 1.0
                inter = (m1 @ m2.T).astype(np.int64)
                keep = inter >= 1
                if g1 == g2:
                    keep &= i1[:, None] < i2[None, :]
                ii, jj = np.nonzero(keep)
                if not len(ii):
                    continue
                a, b = i1[ii], i2[jj]
                swap = a > b
                out.append(pd.DataFrame({
                    "d1": np.where(swap, b, a),
                    "d2": np.where(swap, a, b),
                    "i": inter[ii, jj],
                    "s1": np.where(swap, s2[jj], s1[ii]),
                    "s2": np.where(swap, s1[ii], s2[jj]),
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    return block_pairs.mapInPandas(
        overlaps,
        f"d1 {id_type}, d2 {id_type}, i bigint, s1 bigint, s2 bigint",
    )


def jaccard_similar_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard for pairs sharing a blocking key.

    The blocking key bounds the pair space (classic blocking dedup); the
    candidate frame is the blocked-GEMM ``token_overlap_pairs`` (exact
    integer intersections — see its docstring for the r13 shape change and
    the 100 TB trade-off vs LSH bands)."""
    ov = token_overlap_pairs(docs, block_col, text_col, id_col)
    return (
        ov.select(
            "d1", "d2",
            (F.col("i").cast("double")
             / (F.col("s1") + F.col("s2") - F.col("i"))).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_words: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup: split each doc into fixed ``chunk_words``
    word chunks, keep only the corpus-wide first occurrence of each chunk.

    Boilerplate (headers, license blocks, navigation text) repeats across
    documents that are NOT near-duplicates as wholes; training pipelines
    drop it at chunk granularity. Chunks come from ``slice`` over the split
    word array (no explode-then-reassemble: the array never leaves the row
    until the final one explode), the identity is md5(chunk text), and the
    keeper is the minimum (doc, chunk) position encoded as one orderable
    long — a single groupBy on the hash, the same shape as exact_dedup.

    Returns (id, chunk_idx, h, keep): every chunk with its hash and whether
    it is the corpus-wide first occurrence.
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(chunk_words))).cast("int")
    chunks = (
        docs.select(F.col(id_col), words.alias("_w"), n_chunks.alias("_n"))
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("chunk_idx"),
            "_w",
        )
        .select(
            id_col,
            "chunk_idx",
            F.md5(
                F.array_join(
                    F.slice("_w", F.col("chunk_idx") * chunk_words + 1, chunk_words),
                    " ",
                ).cast("binary")
            ).alias("h"),
        )
    )
    # first occurrence = lexicographic min over (doc, chunk) as a STRUCT:
    # the old doc_id*1e6+chunk_idx integer encoding collided past 1e6
    # chunks per doc (electing a keeper from the wrong document) and
    # nulled out on non-numeric ids
    pos = F.struct(F.col(id_col).alias("d"), F.col("chunk_idx").alias("c"))
    keepers = chunks.groupBy("h").agg(F.min(pos).alias("_keeper"))
    return (
        chunks.join(keepers, "h")
        .select(id_col, "chunk_idx", "h", (pos == F.col("_keeper")).alias("keep"))
    )


def _portable_signatures(docs: DataFrame, text_col: str, id_col: str,
                         num_hashes: int, shingle_k: int) -> DataFrame:
    """(doc_id, j, sig): per-doc MinHash signatures from the engine-portable
    md5(seed || '#' || shingle) hash family (bit-identical everywhere).

    Measured r13 negative result: hashing once per DISTINCT shingle value
    (9.6x fewer md5s on this corpus) and joining the 8-hash array back
    onto the incidence stream is SLOWER here (q114 2.5 -> 3.5 s, q204
    flat-to-worse at sf0.1) — the join-back's extra exchange/AQE stage
    per consumption outweighs codegen md5s, which cost ~100 ns each. The
    exploded seeded stream stays."""
    sh = _shingles(docs, text_col, id_col, shingle_k)
    seeded = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("j"),
        F.col("shingle"),
    ).select(
        "doc_id", "j",
        F.md5(F.concat_ws("#", F.col("j").cast("string"), F.col("shingle"))).alias("h"),
    )
    return seeded.groupBy("doc_id", "j").agg(F.min("h").alias("sig"))


def _band_keys(sig: DataFrame, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bk): the banded LSH bucket keys from a portable
    signature table — md5 over the band's signature rows in j order.

    Shared by ``minhash_lsh_candidates_portable`` (the banding join) and
    ``lsh_bucket_profile`` (its pre-flight cost audit): the audit's
    "prices the join that would actually run" claim requires both to key
    on byte-identical buckets, so the construction lives in exactly one
    place."""
    banded = sig.withColumn("band", (F.col("j") / rows_per_band).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        F.md5(F.expr("listagg(sig, '|') WITHIN GROUP (ORDER BY j)")).alias("bk")
    )


def minhash_lsh_candidates_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Engine-portable MinHash LSH candidate pairs: (d1, d2, n_bands).

    Same banding pipeline as ``minhash_near_dup_pairs`` but the hash family
    is the lexicographic MIN of md5(seed || '#' || shingle) hex strings —
    md5 is bit-identical in every engine, so the whole candidate-generation
    stage (signatures → band keys → bucket self-join) is deterministic and
    SQL-expressible, i.e. oracle-class rather than rows-only. 8 hashes × 4
    bands keeps the per-doc state at 8 strings; at 100 TB the bucket join is
    a uniform-key equi-join on (band, md5-band-key) whose output is only
    colliding pairs — never O(n²).
    """
    _check_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    sig = _portable_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    keys = _band_keys(sig, rows_per_band)
    return (
        keys.alias("a")
        .join(keys.alias("b"), ["band", "bk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").cast("int").alias("n_bands"))
    )


def lsh_bucket_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-band bucket-size audit of the portable LSH banding join:
    (band, n_docs, n_buckets, max_bucket, candidate_pairs, top_share_ppm).

    The banding join's output cardinality is EXACTLY Σ s·(s−1)/2 over
    bucket sizes s, so this profile is the pre-flight cost estimate (and
    the skew alarm) for ``minhash_lsh_candidates_portable`` — a hot
    bucket (boilerplate, empty docs, a pathological shingle) turns the
    "O(collisions)" claim into a quadratic blowup at 100 TB. Same band
    keys as the candidates operator, so the audit prices the join that
    would actually run; everything downstream of the key build is one
    map-side-combinable group-by pair."""
    _check_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    sig = _portable_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    # _portable_signatures emits the id as "doc_id" regardless of id_col
    # (same convention as minhash_lsh_candidates_portable)
    keys = _band_keys(sig, rows_per_band)
    buckets = keys.groupBy("band", "bk").agg(F.count(F.lit(1)).alias("s"))
    return buckets.groupBy("band").agg(
        F.sum("s").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("s").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("s * (s - 1) DIV 2")).cast("bigint")
        .alias("candidate_pairs"),
        F.expr("MAX(s) * 1000000 DIV SUM(s)").cast("bigint")
        .alias("top_share_ppm"),
    )


def cdc_chunk_near_dup_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate candidate pairs via shared content-defined chunks:
    documents sharing >= ``min_shared`` CDC chunk hashes (pipeline.
    content_defined_chunks) are candidates — robust to prefix/infix edits
    because chunk boundaries are content-addressed, unlike fixed-stride
    chunk_dedup.

    100 TB shape: the self-join keys on chunk_hash (uniform md5), so cost
    is O(collisions), never O(n²); per-hash fan-out is bounded by real
    duplication. Dedup WITHIN a document first so a hash repeated inside
    one doc can't inflate the pair count. Pure string/integer ops —
    oracle-class end to end.
    """
    from inspectadb_spark.operators.pipeline import content_defined_chunks

    ch = (
        content_defined_chunks(docs, text_col=text_col, id_col=id_col)
        .select(id_col, "chunk_hash")
        .distinct()
    )
    return (
        ch.alias("a")
        .join(ch.alias("b"), "chunk_hash")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(F.count("*").cast("int").alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= min_shared)
    )


def duplicated_spans(docs: DataFrame, w: int = 8, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication at span granularity (the signal behind
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2021 — here at word-w-gram resolution instead of a suffix array): for
    every sliding w-token window position, mark it duplicated if the same
    w-gram occurs in at least one OTHER document, and report per-doc span
    counts and the duplicated fraction. Unlike near-dup detection (whole-doc
    verdict) this measures HOW MUCH of each doc is copied text.

    Scale shape (100 TB): spans are occurrence-level (not distinct), hashed
    to fixed-width md5 so the duplicate-set aggregation shuffles uniform
    32-byte keys with map-side combine; the span stream then joins that
    doc-count table on the SAME hash key (co-partitioned — one effective
    exchange family), then one per-doc rollup. Never all-pairs; a suffix
    array would find arbitrary-length matches but cannot shard this simply.

    Docs shorter than ``w`` tokens have no spans and are omitted (matching
    the oracle). Returns (id_col, n_spans, n_dup, dup_frac).

    r13: the doc is tokenized ONCE into a column (the inlined split
    re-ran at every span position — O(len²) per doc) and the gram
    explode spreads across cores when the scan is a single split
    (``spread_small_scan``); values unchanged.
    """
    from inspectadb_spark.operators.scale import spread_small_scan

    toks = F.col("_ws")
    span = F.size(toks) - F.lit(w)
    grams = F.when(
        span >= 0,
        F.transform(
            F.sequence(F.lit(0), span),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, w), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = spread_small_scan(
        docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_ws"))
    ).select(F.col(id_col), F.explode(grams).alias("g"))
    # "occurs in >= 2 distinct docs" ⟺ min(doc) != max(doc) within the
    # gram partition — a window over the one shuffled span stream instead
    # of a countDistinct groupBy joined back (which re-evaluated the md5
    # explode for the second consumer; r13 branch-divergence fix)
    wg = Window.partitionBy("g")
    dup = F.min(F.col(id_col)).over(wg) != F.max(F.col(id_col)).over(wg)
    return (
        spans.withColumn("_dup", dup)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.count(F.when(F.col("_dup"), 1)).alias("n_dup"),
        )
        .select(
            F.col(id_col), "n_spans", "n_dup",
            F.round((F.col("n_dup") * F.lit(1.0) / F.col("n_spans"))
                    .cast("decimal(18,6)"), 4).cast("double").alias("dup_frac"),
        )
    )


def cross_source_dup_matrix(docs: DataFrame, w: int = 8,
                            group_col: str = "source",
                            text_col: str = "text") -> DataFrame:
    """Cross-source duplication flow matrix: for every pair of sources, how
    many DISTINCT word-w-gram spans they share — the "who copies whom"
    diagnostic that tells a curation team which feeds overlap before any
    doc-level dedup decision.

    Scale shape (100 TB): grams are reduced to distinct (source, md5) pairs
    FIRST — the per-source gram vocabulary, orders of magnitude smaller
    than the corpus and the only corpus-sized shuffle. The self-join keys
    on the same uniform hash (co-partitioned; O(collisions) output, never
    all-pairs over docs) and the S²-bounded matrix aggregation is tiny.
    """
    # r13: split hoisted + small-scan spread, as in ``duplicated_spans``
    from inspectadb_spark.operators.scale import spread_small_scan

    toks = F.col("_ws")
    span = F.size(toks) - F.lit(w)
    grams = F.when(
        span >= 0,
        F.transform(
            F.sequence(F.lit(0), span),
            lambda i: F.md5(F.array_join(F.slice(toks, i + 1, w), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sg = (
        spread_small_scan(
            docs.select(F.col(group_col),
                        F.split(F.col(text_col), " ").alias("_ws")))
        .select(F.col(group_col), F.explode(grams).alias("g"))
        .distinct()
    )
    return (
        sg.alias("a")
        .join(sg.alias("b"), "g")
        .filter(F.col(f"a.{group_col}") < F.col(f"b.{group_col}"))
        .groupBy(
            F.col(f"a.{group_col}").alias("src_a"),
            F.col(f"b.{group_col}").alias("src_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )


def minhash_calibration(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Sketch-calibration audit: for every LSH candidate pair, the MinHash
    signature-agreement ESTIMATE of Jaccard next to the EXACT shingle-set
    Jaccard, plus the absolute error — the measurement that tells you
    whether (num_hashes, bands) is tuned right for a given corpus before
    trusting the sketch at full scale.

    All arithmetic is integer ppm (DIV); the hash family is the portable
    md5 one, so every column — including the estimate — hash-matches the
    SQL oracle.

    r14 shape (guide §2.3/§2.4 — branch-recompute wall): the old plan
    consumed the ``_shingles`` subtree FIVE times (candidate signatures,
    the agreement join's second signature build, n_sh, and both sides of
    the intersection posting join) — five documents scans and four
    join-backs. Now ONE aggregation per doc computes the 8 signature
    mins (8 conditional md5 min columns — no explode), the shingle count
    and the distinct shingle set; band keys are derived as expressions
    byte-identical to ``_band_keys``' listagg (md5 of the '|'-joined
    sigs in j order); and the per-doc payload (sig array, n_sh, shingle
    set) rides through the band self-join so agreement and exact
    intersection (``array_intersect`` on the distinct sets) are computed
    directly on the 4-band collision stream. Documents is scanned once.

    Scale shape (100 TB): the banding join stays a uniform-key equi-join
    whose output is only colliding pairs; it now carries ~1 KB of per-doc
    payload per banded row (8 md5s + the distinct shingle set) instead of
    re-deriving that payload from four more full-corpus text passes —
    linear bytes traded for whole scans (§2.3 "shuffle keys and metadata
    instead of payloads" does not apply: the payload IS the decision
    input, and re-attaching it later is what the old plan paid for). This
    is the audit you run on a sampled slice, then apply the chosen
    parameters corpus-wide.

    Per-doc memory bound: ``collect_set("shingle")`` holds one document's
    distinct shingles in a single aggregation buffer, and one group's
    buffer cannot spill. A document of T space-separated tokens has at
    most T - shingle_k + 1 distinct shingles, each the text of shingle_k
    consecutive tokens, so the set's string bytes are at most
    shingle_k × the document's text bytes (every token lands in at most
    shingle_k shingles), plus roughly 100 B of JVM object overhead per
    distinct shingle. With the default shingle_k=3, a 1 MB document of
    ~170k tokens holds at most ~3 MB of strings plus ~17 MB of overhead.
    The same set then rides each of the ``bands`` banded rows of that
    document through the self-join. A corpus with very long documents
    should be sampled or length-capped before this audit.
    """
    _check_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    from inspectadb_spark.operators.scale import spread_small_scan

    # occurrence stream, not distinct: the min-hash mins are unaffected by
    # duplicate shingles and collect_set dedupes in the aggregation buffer,
    # so the separate (doc_id, shingle) dedup exchange would be pure cost.
    # spread_small_scan: the per-doc aggregate below amplifies each input
    # row into ~8×|shingles| md5 evaluations — single-split-scan straggler
    # without it (structural no-op once the scan has >= parallelism splits,
    # and the subtree is consumed exactly once post-r14, so the r13
    # multi-consumer repartition trap does not apply)
    sh = _shingles(spread_small_scan(docs), text_col, id_col, shingle_k,
                   distinct=False)
    per_doc = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws("#", F.lit(str(j)), F.col("shingle"))))
            .alias(f"_s{j}")
            for j in range(num_hashes)
        ],
        F.collect_set("shingle").alias("shs"),
    ).withColumn("n_sh", F.size("shs"))
    sig_arr = F.array(*[F.col(f"_s{j}") for j in range(num_hashes)])
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"_s{b * rows_per_band + i}")
                for i in range(rows_per_band)
            ])).alias("bk"),
        )
        for b in range(bands)
    ])
    keys = per_doc.select(
        "doc_id", "n_sh", "shs", sig_arr.alias("sig"),
        F.explode(band_structs).alias("bd"),
    ).select(
        "doc_id", "n_sh", "shs", "sig",
        F.col("bd.band").alias("band"), F.col("bd.bk").alias("bk"),
    )
    # identical subtrees on both join sides (alias only) so the (band, bk)
    # exchange is built once and re-read (ReusedExchange), not recomputed
    n_agree = sum(
        (F.col("a.sig")[j] == F.col("b.sig")[j]).cast("bigint")
        for j in range(num_hashes)
    )
    pair_rows = (
        keys.alias("a").join(keys.alias("b"), ["band", "bk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"),
            n_agree.alias("n_agree"),
            F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs")))
            .cast("bigint").alias("n_inter"),
            F.col("a.n_sh").alias("n1"), F.col("b.n_sh").alias("n2"),
        )
    )
    return (
        pair_rows.groupBy("d1", "d2")
        .agg(
            F.count("*").cast("int").alias("n_bands"),
            F.min("n_agree").alias("n_agree"),
            F.min("n_inter").alias("n_inter"),
            F.min("n1").alias("n1"),
            F.min("n2").alias("n2"),
        )
        .select(
            "d1", "d2", "n_bands",
            F.expr(f"n_agree * 1000000 DIV {num_hashes}").alias("est_ppm"),
            F.expr("n_inter * 1000000 DIV (n1 + n2 - n_inter)")
            .alias("exact_ppm"),
        )
        .withColumn("err_ppm", F.abs(F.col("est_ppm") - F.col("exact_ppm")))
        .orderBy("d1", "d2")
    )


def keep_best_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    group_col: str = "source",
) -> DataFrame:
    """Canonical selection under dedup: every fingerprint cluster keeps its
    BEST member (max ``quality_col``, ties broken by min ``id_col``) — the
    keep-best policy production dedup uses instead of keep-first, so the
    surviving copy of a near-dup template is the highest-quality one, not
    whichever arrived first.

    Returns each doc annotated with its cluster key ``h``, ``keep`` flag,
    and the winner's id/group (``win_id``, ``win_group``) — the winner group
    makes cross-source casualties attributable (which feed loses mass to
    which when dedup is corpus-wide rather than per-source).

    Scale shape (100 TB): cluster key is the winnowing fingerprint
    (min-sampled char-8-gram md5, a pure projection since r13); winner
    election is a single struct-max (max (quality, -id, group) — fields
    ordered so the comparison IS the policy) as a WINDOW over the
    h-partition — r13: the old groupBy + h-join-back consumed ``d`` (and
    its fingerprint subtree) twice; the window reads the one shuffled
    stream in place. No all-pairs.
    """
    from inspectadb_spark.operators.text import char_fingerprint

    fp = char_fingerprint(docs, text_col=text_col, id_col=id_col)
    d = (
        docs.join(fp, id_col, "left")
        .select(
            F.col(id_col), F.col(group_col), F.col(quality_col),
            F.coalesce("fp", F.md5(F.col(text_col))).alias("h"),
        )
    )
    wh = Window.partitionBy("h")
    w = F.max(F.struct(
        F.col(quality_col).alias("q"),
        (-F.col(id_col)).alias("nid"),
        F.col(group_col).alias("g"),
    )).over(wh)
    return (
        d.withColumn("_w", w)
        .select(
            F.col(id_col), F.col(group_col), F.col(quality_col), "h",
            (F.col(id_col) == -F.col("_w.nid")).alias("keep"),
            (-F.col("_w.nid")).alias("win_id"),
            F.col("_w.g").alias("win_group"),
        )
    )


def winnowing_profile(
    docs: DataFrame, k: int = 8, w: int = 4, stop_df: int = 50,
    text_col: str = "text", id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Winnowing (MOSS) fingerprint-index profile: per group, the size of
    the character-k-gram index a robust-winnowing dedup pass would build —
    grams, selected fingerprints (min md5 per sliding window of ``w``
    gram positions, distinct per doc), distinct fingerprints in the
    group, and the count of STOP fingerprints (document frequency >
    ``stop_df``) that a real pipeline blocklists before the pair join
    (the q250 lesson: common-substring fingerprints drive the join cost
    quadratic). The selection-density ppm is the index-sizing number.

    Exact integers end to end. One window per doc (partitioned by the
    doc id — batch-local, no global sort), one distinct, one group fold.

    r13: the gram count per group is ``Σ (len - k + 1)`` over qualifying
    docs — computed straight off the scan instead of re-running the
    2.5M-row md5 explode a second time just to COUNT it (the explode's
    row count per doc is its transform length by construction); the one
    remaining gram explode spreads across cores when the scan is a
    single split (``spread_small_scan``). Values identical (q266 oracle
    MATCH re-proved).
    """
    from inspectadb_spark.operators.scale import spread_small_scan

    eligible = docs.filter(F.length(text_col) >= k)
    grams = spread_small_scan(
        eligible.select(id_col, group_col, text_col)
    ).select(
        F.col(id_col), F.col(group_col).alias("grp"),
        F.posexplode(F.expr(
            f"transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> md5(substring({text_col}, i, {k})))"))
        .alias("pos", "h"))
    win = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(Window.currentRow, w - 1)
    fps = (grams
           .select(id_col, "grp", F.min("h").over(win).alias("fp"))
           .distinct())
    df_tbl = fps.groupBy("grp", "fp").agg(
        F.count("*").alias("df"))
    n_grams = eligible.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(F.length(text_col) - F.lit(k - 1)).alias("n_grams"))
    per_grp = fps.groupBy("grp").agg(
        F.count_distinct(id_col).alias("n_docs"),
        F.count("*").alias("n_fps"))
    dfa = df_tbl.groupBy("grp").agg(
        F.count("*").alias("n_distinct_fps"),
        F.sum((F.col("df") > stop_df).cast("bigint")).alias("n_stop_fps"),
        F.max("df").alias("max_df"))
    return (
        per_grp.join(n_grams, "grp").join(dfa, "grp")
        .select(F.col("grp").alias(group_col), "n_docs", "n_grams", "n_fps",
                "n_distinct_fps", "n_stop_fps", "max_df",
                F.expr("n_fps * 1000000 DIV n_grams").alias("density_ppm"))
    )


def winnowing_neardup_pairs(
    docs: DataFrame, k: int = 8, w: int = 4, stop_df: int = 50,
    min_shared: int = 5, min_overlap_ppm: int = 500_000,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """The pair-finding pass the q266 ``winnowing_profile`` index audit
    sizes: robust-winnowing character-``k``-gram fingerprints (min md5
    per sliding window of ``w`` gram positions, distinct per doc), STOP
    fingerprints (corpus document frequency > ``stop_df``) blocklisted,
    then doc pairs sharing >= ``min_shared`` surviving fingerprints AND
    an overlap coefficient ``shared / min(|A|, |B|)`` of at least
    ``min_overlap_ppm`` (default 50%) — the MOSS substring-level near-dup
    detector. On this corpus the coefficient is sharply bimodal (true
    near-dups sit above 80%, the shared-vocabulary noise floor below
    30%), so the 50% cut separates cleanly.

    Scale shape (100 TB): the candidate join is fingerprint-bucketed
    (equi-join on fp) with per-bucket cost bounded by ``stop_df``² after
    the blocklist — never doc×doc; the stop list itself is tiny (the df
    distribution's tail) and broadcast into a LEFT ANTI join; per-doc
    fingerprint sizes broadcast back onto the summed pairs. The per-doc
    window is partitioned by doc id (batch-local, no global sort).
    """
    fps = winnowing_fingerprints(docs, k=k, w=w, text_col=text_col,
                                 id_col=id_col)
    return neardup_pairs_from_postings(
        fps, stop_df=stop_df, min_shared=min_shared,
        min_overlap_ppm=min_overlap_ppm, id_col=id_col)


def winnowing_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc robust-winnowing fingerprint postings: md5 character
    ``k``-grams, min per sliding window of ``w`` gram positions,
    distinct per doc — one (id, fp) row per posting. The per-doc window
    partitions by doc id (batch-local, no global sort), so this
    transform is micro-batch-safe: the streaming registry applies it
    per batch and the result is identical to the batch run because a
    doc's postings depend on that doc's text alone.

    r13: the md5-per-character-position explode spreads across cores
    when the scan is a single split (``spread_small_scan`` — a no-op on
    streaming frames and on scans that already parallelize)."""
    from inspectadb_spark.operators.scale import spread_small_scan

    grams = spread_small_scan(
        docs.filter(F.length(text_col) >= k).select(id_col, text_col)
    ).select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> md5(substring({text_col}, i, {k})))"))
        .alias("pos", "h"))
    win = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(Window.currentRow, w - 1)
    return (grams
            .select(id_col, F.min("h").over(win).alias("fp"))
            .distinct())


def neardup_pairs_from_postings(
    fps: DataFrame, stop_df: int = 50, min_shared: int = 5,
    min_overlap_ppm: int = 500_000, id_col: str = "doc_id",
) -> DataFrame:
    """Pair-finding over a (id, fp) posting table — shared by the batch
    ``winnowing_neardup_pairs`` and the streaming WinnowingRegistry's
    ``pairs()`` read, so batch ≡ stream is the same code path by
    construction. The stop list (df > stop_df) is computed over the
    postings given, i.e. the FULL corpus indexed so far — streaming
    evaluates it at read time over the maintained index, never frozen
    at ingest time (a fingerprint that becomes stop after more docs
    arrive is retroactively blocklisted, exactly like a batch rerun)."""
    stops = (fps.groupBy("fp").agg(F.count("*").alias("df"))
             .filter(F.col("df") > stop_df).select("fp"))
    keep = fps.join(F.broadcast(stops), "fp", "left_anti")
    sizes = keep.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    a = keep.select(F.col(id_col).alias("doc_a"), "fp")
    b = keep.select(F.col(id_col).alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("_nb"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared",
            F.expr("n_shared * 1000000 DIV least(_na, _nb)")
            .cast("bigint").alias("overlap_ppm"))
        .filter(F.col("overlap_ppm") >= min_overlap_ppm)
    )


def dedup_weighted_tokens(
    docs: DataFrame, text_col: str = "text", group_col: str = "source",
) -> DataFrame:
    """Dedup-aware effective token mass per group: each document's tokens
    are discounted by its corpus-wide EXACT-duplicate cluster size
    (md5(text) grain), so a source whose volume is mostly copies of
    other sources' documents contributes its fair 1/cluster share. The
    per-doc contribution is the integer ``tok * 1e6 DIV cluster_size``
    (millionths — deterministic on every engine, no float division), and
    ``dup_ppm`` is the share of raw token mass that deduplication would
    remove. This is the budget number q79-style token-budget selection
    should consume AFTER dedup, not the raw count.

    Scale shape: one groupBy on the text hash (cluster sizes), one
    hash-grain join back (both sides shuffled on md5 — co-partitioned),
    one group fold. Nothing pairwise, nothing driver-side.
    """
    h = docs.select(
        F.col(group_col).alias("grp"),
        F.md5(F.col(text_col)).alias("hh"),
        F.size(words_col(text_col)).cast("bigint").alias("tok"))
    cs = h.groupBy("hh").agg(F.count("*").alias("csize"))
    return (
        h.join(cs, "hh")
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("raw_tokens"),
            F.sum(F.expr("tok * 1000000 DIV csize")).cast("bigint")
            .alias("eff_token_millionths"))
        .select(
            F.col("grp").alias(group_col), "n_docs", "raw_tokens",
            "eff_token_millionths",
            F.expr("(raw_tokens * 1000000 - eff_token_millionths)"
                   " DIV nullif(raw_tokens, 0)")
            .cast("bigint").alias("dup_ppm"))
    )


def shingle_containment_pairs(
    docs: DataFrame, n: int = 5, stop_df: int = 20, min_shared: int = 3,
    min_containment_ppm: int = 500_000,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric containment near-dup pairs over word ``n``-gram
    shingles: containment(A in B) = |S(A) ∩ S(B)| / |S(A)| — the
    Broder containment measure that catches SUBSET duplication (a doc
    quoting or embedding another) which symmetric Jaccard dilutes to
    noise when the container is much larger. Emits one row per
    unordered candidate pair with BOTH directional containments; a pair
    survives when either direction clears ``min_containment_ppm``.

    Scale shape (100 TB): same skeleton as ``winnowing_neardup_pairs``
    — distinct (doc, shingle-md5) postings, a broadcast LEFT ANTI stop
    list (document frequency > ``stop_df``) bounding every shingle
    bucket, then a shingle-key equi-join (per-bucket cost ≤ stop_df²,
    never doc×doc) and two broadcast-size joins for the per-doc shingle
    counts. Integer-ppm division, deterministic everywhere."""
    # docs shorter than n words have NO n-gram shingles: the CASE guard
    # yields a typed empty array (sequence(1, 0) is a DESCENDING [1, 0]
    # in Spark, whose i=0 start crashes slice — and its i=1 element would
    # emit a bogus partial-gram shingle).
    # r13: split once into a column — inlining `split(text)` in the
    # transform lambda re-tokenized the doc at EVERY gram position
    # (O(len²) per doc); hoisting it is a pure CSE, same values
    # (A/B-measured 2x on the gram stage, frames identical). Small-scan
    # spread as in the winnowing family.
    from inspectadb_spark.operators.scale import spread_small_scan

    grams = spread_small_scan(docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    )).select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(CASE WHEN size(_ws) >= {n} "
            f"THEN sequence(1, size(_ws) - {n - 1}) "
            f"ELSE array_repeat(1, 0) END, i -> "
            f"md5(concat_ws(' ', slice(_ws, i, {n}))))"))
        .alias("g")).distinct()
    stops = (grams.groupBy("g").agg(F.count("*").alias("df"))
             .filter(F.col("df") > stop_df).select("g"))
    keep = grams.join(F.broadcast(stops), "g", "left_anti")
    sizes = keep.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = keep.select(F.col(id_col).alias("doc_a"), "g")
    b = keep.select(F.col(id_col).alias("doc_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared))
    sa = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_sh").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_sh").alias("_nb"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared",
            F.expr("n_shared * 1000000 DIV _na").cast("bigint")
            .alias("cont_a_in_b_ppm"),
            F.expr("n_shared * 1000000 DIV _nb").cast("bigint")
            .alias("cont_b_in_a_ppm"))
        .filter(F.expr(f"greatest(n_shared * 1000000 DIV _na,"
                       f" n_shared * 1000000 DIV _nb)"
                       f" >= {min_containment_ppm}")))
