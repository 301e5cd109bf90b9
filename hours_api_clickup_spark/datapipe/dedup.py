"""Deduplication families for corpus curation at scale.

Algorithms follow the published formulations: MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
SEQUENCES 1997) with banded LSH (Indyk & Motwani, STOC 1998; the
banding analysis as in Leskovec/Rajaraman/Ullman, Mining of Massive
Datasets ch. 3), and SimHash (Charikar, "Similarity estimation
techniques from rounding algorithms", STOC 2002) with the chunk-block
hamming search of Manku et al., "Detecting near-duplicates for web
crawling", WWW 2007.

- exact: hash-groupBy (one shuffle on the content hash)
- n-gram Jaccard: char-shingle set similarity; the exact pairwise form is
  O(n²) and only for bounded inputs / candidate verification — the scale
  path is MinHash+LSH
- MinHash+LSH: shingles → K minhashes → B bands → bucket join →
  candidate pairs → exact-Jaccard verification. Shuffle cost is the
  band-bucket groupBy (K·B small constants), never n².
- SimHash: 64-bit near-dup signature; candidates via 16-bit chunk
  blocking (pairs with hamming ≤ 3 must share ≥ 1 of 4 chunks).

All deterministic AND engine-portable: every hash is pure int64
arithmetic (an unrolled polynomial over character codes for fixed-k
grams, the first 32 bits of md5 for variable-length tokens, and affine
``(a·h+b) mod 2³¹`` permutations whose constants are Python-generated
literals baked into the plan). DuckDB reproduces the full pipeline
bit-for-bit — the generated oracles live in ``minhash_lsh_oracle_sql``
and ``simhash_oracle_sql``, so the driver's hash-match gate covers the
LSH families end-to-end, not just rows-only. The MinHash signer is the
one Python pass (Arrow-batched numpy, the same integer algebra); the
rest stays in whole-stage codegen.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hours_api_clickup_spark import storage
from hours_api_clickup_spark.datapipe import tiered
from hours_api_clickup_spark.functions.hashing import md5_hash32, md5_hash32_sql

DEFAULT_SHINGLE_K = 5
DEFAULT_NUM_HASHES = 64
DEFAULT_BANDS = 16  # 16 bands × 4 rows each

# --- engine-portable integer hash family ----------------------------------
# All arithmetic is bounded to stay inside int64 under ANSI mode:
#   gram hash        < 2^31;  ·131 + 255            < 2^39
#   affine a·h + b   : a < 2^31, h < 2^32  → product < 2^63
#   band Horner      : acc < 2^31, ·KNUTH_A(<2^32)  < 2^63
M31 = 2**31
HALF31 = 2**30
GRAM_BASE = 131
KNUTH_A = 2654435761  # ⌊2^32/φ⌋, same multiplier as datapipe.sampling
MINHASH_SALT = 0x5BD1E995
SIMHASH_SALT = 0x9E3779B9


def affine_constants(n: int, salt: int) -> list[tuple[int, int]]:
    """``n`` deterministic affine pairs (a odd, b) mod 2³¹ from a fixed
    64-bit LCG (Knuth MMIX constants). Runs only in Python at plan-build
    time — both the Spark plan and the DuckDB oracle see the same plain
    integer literals, which is what makes the hash family engine-neutral.
    """
    out = []
    x = (2 * salt + 1) % 2**63
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        a = ((x >> 16) % M31) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        b = (x >> 16) % M31
        out.append((a, b))
    return out


def gram_hash_sql(text_expr: str, i_expr: str, k: int) -> str:
    """Polynomial hash mod 2³¹ of the k characters of ``text_expr``
    starting at 0-based offset ``i_expr``, as DuckDB SQL: the oracle
    twin of the rolling hash in ``_sign_batches``."""
    h = "CAST(0 AS BIGINT)"
    for j in range(k):
        ch = f"ascii(substring({text_expr}, {i_expr} + {j + 1}, 1))"
        h = f"(({h} * {GRAM_BASE} + {ch}) % {M31})"
    return h


def _min_matches(threshold: float, num_hashes: int) -> int:
    """The sketch prefilter's integer cutoff — matching minhash
    components ≥ ceil((threshold − margin)·K). ONE definition: the
    shared verifier (``_verified_pairs``) and the DuckDB oracle must
    stay bit-identical or the hash-match gate silently diverges."""
    est_margin = 0.2
    return max(0, math.ceil((threshold - est_margin) * num_hashes - 1e-9))


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition to all cores. Small parquet inputs arrive
    as one partition; CPU-heavy per-row work (shingling, hashing,
    signatures) must be fanned out or it runs single-threaded. On a real
    cluster the scan already yields many partitions and this is a cheap
    near-no-op rebalance."""
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(n)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: one surviving (min-id) row per distinct
    content, with the duplicate count. Single hash shuffle on the digest."""
    return df.groupBy(F.md5(_c(content_col)).alias("content_md5")).agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Shingles + Jaccard
# ---------------------------------------------------------------------------


def char_shingles(col: Column | str, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Distinct character k-grams (empty array when the text is shorter
    than k). Dynamic-offset substring inside a higher-order transform."""
    c = _c(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.length(c) - k),
        lambda i: F.substring(c, i + 1, F.lit(k)),
    )
    return F.when(F.length(c) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard_sim(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array columns (set semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SHINGLE_K,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above ``threshold`` (id_a < id_b).

    O(n²) — correct but only for bounded inputs (verification, small
    corpora). At scale use ``minhash_lsh_pairs``, which verifies its
    candidates with this same jaccard_sim and therefore returns a subset
    of this result with LSH-bounded recall.
    """
    sh = spread(df).select(
        _c(id_col).alias("did"), char_shingles(text_col, k).alias("sh")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    j = jaccard_sim(F.col("a.sh"), F.col("b.sh"))
    return (
        a.join(b, F.col("a.did") < F.col("b.did"))
        .select(
            F.col("a.did").alias("id_a"),
            F.col("b.did").alias("id_b"),
            j.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _sign_batches(k: int, num_hashes: int, cols: tuple[str, ...]):
    """The Arrow-batched numpy MinHash signer behind ``_signatures``.

    One flat segmented pass per Arrow batch: the code points of every
    doc concatenate into one array, the k-pass rolling polynomial gram
    hash (``gram_hash_sql``'s arithmetic) runs once over gather indices,
    per-doc sorted-unique gram sets come from one lexsort + boundary
    mask, and the K minhash mins are K ``np.minimum.reduceat`` passes
    over the flat unique-gram array. The only per-doc work is the
    utf-32 encode of each string. Output leaves as Arrow list arrays
    built from flat values + offsets, never as per-row Python lists.

    Emits ``did`` and those of ``sa`` (the K minhashes) and ``gset``
    (the sorted-unique gram hashes) that ``cols`` names. Every consumer
    treats gram sets as sets (array_intersect/union, the DuckDB
    list-set oracle).
    """
    import numpy as np

    consts = affine_constants(num_hashes, MINHASH_SALT)
    A = np.array([c[0] for c in consts], dtype=np.int64)
    B = np.array([c[1] for c in consts], dtype=np.int64)

    def sign(batches):
        import numpy as np
        import pyarrow as pa

        def lists(values, offsets):
            return pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int64())
            )

        for rb in batches:
            dids = rb.column(rb.schema.get_field_index("did"))
            txts = rb.column(rb.schema.get_field_index("txt")).to_pylist()
            # per-doc: only the utf-32 decode; everything after is flat
            keep_idx, code_chunks, n_grams = [], [], []
            for i, txt in enumerate(txts):
                if txt is None or len(txt) < k:
                    # a doc with no gram has no signature row
                    continue
                keep_idx.append(i)
                code_chunks.append(
                    np.frombuffer(txt.encode("utf-32-le"), dtype=np.uint32)
                )
                n_grams.append(len(txt) - k + 1)
            if not keep_idx:
                continue
            n_docs = len(keep_idx)
            codes = np.concatenate(code_chunks).astype(np.int64)
            n_grams = np.asarray(n_grams, dtype=np.int64)
            doc_code_starts = np.concatenate(
                ([0], np.cumsum([len(c) for c in code_chunks])[:-1])
            ).astype(np.int64)
            total = int(n_grams.sum())
            # flat gram positions: doc i contributes code offsets
            # [start_i, start_i + n_i)
            gram_doc = np.repeat(np.arange(n_docs), n_grams)
            gram_starts = np.concatenate(([0], np.cumsum(n_grams)[:-1]))
            pos = (
                np.arange(total, dtype=np.int64)
                - np.repeat(gram_starts, n_grams)
                + np.repeat(doc_code_starts, n_grams)
            )
            h = np.zeros(total, dtype=np.int64)
            for j in range(k):
                h = (h * GRAM_BASE + codes[pos + j]) % M31
            # per-doc sorted unique: lexsort by (doc, hash), keep rows
            # where either key changes
            order = np.lexsort((h, gram_doc))
            hs, ds = h[order], gram_doc[order]
            first = np.empty(total, dtype=bool)
            first[0] = True
            first[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
            uniq = hs[first]
            uniq_counts = np.bincount(ds[first], minlength=n_docs)
            out_cols: dict[str, pa.Array] = {
                "did": dids.take(pa.array(keep_idx, type=pa.int32()))
            }
            if "sa" in cols:
                uniq_starts = np.concatenate(([0], np.cumsum(uniq_counts)[:-1]))
                sa = np.empty((n_docs, num_hashes), dtype=np.int64)
                for s in range(num_hashes):
                    sa[:, s] = np.minimum.reduceat((uniq * A[s] + B[s]) % M31, uniq_starts)
                out_cols["sa"] = lists(sa.ravel(), np.arange(n_docs + 1) * num_hashes)
            if "gset" in cols:
                out_cols["gset"] = lists(uniq, np.concatenate(([0], np.cumsum(uniq_counts))))
            yield pa.RecordBatch.from_pydict(out_cols)

    return sign


def _signatures(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int, mode: str = "full"
) -> DataFrame:
    """``(did, sa, gset)`` for every doc with at least one k-gram: ``sa``
    is the ``array<long>`` of K minhashes, ``gset`` the distinct gram
    hashes — the rows the persisted ``sig/`` tier stores. One
    ``mapInArrow`` pass after a round-robin ``spread``; no gram explode
    and no signing shuffle. ``mode`` 'sa' drops ``gset`` (K longs per
    doc), 'gset' drops ``sa``.

    A query that reads the signatures more than once pins them with a
    lazy ``localCheckpoint(eager=False)``: its first job fills the pin,
    where an eager pin runs one more job (counted on every pair query
    and index append at sf0.1)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    texts = spread(df).select(_c(id_col).alias("did"), _c(text_col).alias("txt"))
    cols = ("sa", "gset") if mode == "full" else (mode,)
    # every row has an ``sa``; a non-null one is the schema ``sig/`` stores
    schema = StructType(
        [StructField("did", texts.schema["did"].dataType)]
        + [StructField(c, ArrayType(LongType()), nullable=c == "gset") for c in cols]
    )
    return texts.mapInArrow(_sign_batches(k, num_hashes, cols), schema=schema)


def _band_frame(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(did, band, bucket) rows from a signature frame: Horner fold of
    each band's minhashes ``sa[j]`` mod 2³¹ — portable integer algebra."""
    rows_per_band = num_hashes // bands

    def band_bucket(b: int) -> Column:
        acc = F.lit(0).cast("long")
        for j in range(b * rows_per_band, (b + 1) * rows_per_band):
            acc = F.pmod(acc * F.lit(KNUTH_A) + F.col("sa")[j], F.lit(M31))
        return acc

    band_structs = [
        F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
        for b in range(bands)
    ]
    return sig.select(
        "did", F.explode(F.array(*band_structs)).alias("bb")
    ).select("did", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _bucket_pairs(a: DataFrame, b: DataFrame, ordered: bool = True) -> DataFrame:
    """Distinct (id_a, id_b) candidates: band rows of ``a`` and ``b``
    that share a (band, bucket). The join shuffles on the bucket, so
    its cost is Σ bucket² rather than n². ``ordered`` keeps id_a < id_b
    for a self-join; otherwise id_a is an ``a`` doc and id_b a ``b``
    doc."""
    a, b = a.alias("a"), b.alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
    if ordered:
        on = on & (F.col("a.did") < F.col("b.did"))
    return (
        a.join(b, on)
        .select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _probe_pairs(bands: DataFrame, probe: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) candidates between the ``bands`` rows and
    the (small, broadcast) ``probe`` band rows, so the ``bands`` scan
    never shuffles. A doc is never its own candidate."""
    return (
        bands.join(
            F.broadcast(probe.select(F.col("did").alias("bdid"), "band", "bucket")),
            ["band", "bucket"],
        )
        .filter(F.col("did") != F.col("bdid"))
        .select(
            F.least(F.col("did"), F.col("bdid")).alias("id_a"),
            F.greatest(F.col("did"), F.col("bdid")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _verified_pairs(
    sig: DataFrame,
    cand: DataFrame,
    num_hashes: int,
    threshold: float,
    grams=None,
) -> DataFrame:
    """(id_a, id_b, jaccard) of the candidate pairs ``cand`` whose exact
    gram-set Jaccard is ≥ ``threshold``: the two-stage verification
    every MinHash pair query shares.

    Stage 1 joins only the narrow ``sa`` arrays of ``sig`` (did, sa, …)
    and keeps pairs with at least ``_min_matches`` equal minhash
    components. The fraction of matching components is an unbiased
    Jaccard estimator and the margin keeps true positives (K=64,
    j ≥ 0.7: P(estimate < 0.5) < 3e-4), so the mass of low-j bucket
    collisions is discarded without shipping a gram set. The cutoff is
    an integer count, never a float compare, so the oracle reproduces
    it exactly.

    Stage 2 computes exact Jaccard over the ``gset`` rows of the
    survivors. ``grams`` is where they come from: None reads them from
    ``sig`` itself; otherwise ``grams(ids)`` returns the (did, gset)
    rows for the distinct survivor ids, which are pinned because both
    that lookup and the final join read them."""
    min_matches = _min_matches(threshold, num_hashes)
    matches = F.aggregate(
        F.zip_with(
            F.col("sa_a"), F.col("sa_b"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )

    def side(frame: DataFrame, col: str, s: str) -> DataFrame:
        return frame.select(F.col("did").alias(f"id_{s}"), F.col(col).alias(f"{col}_{s}"))

    survivors = (
        cand.join(side(sig, "sa", "a"), "id_a")
        .join(side(sig, "sa", "b"), "id_b")
        .filter(matches >= F.lit(min_matches))
        .select("id_a", "id_b")
    )
    if grams is None:
        gsets = sig
    else:
        survivors = survivors.localCheckpoint(eager=False)
        gsets = grams(
            survivors.select(F.explode(F.array("id_a", "id_b")).alias("did")).dropDuplicates()
        )
    return (
        survivors.join(side(gsets, "gset", "a"), "id_a")
        .join(side(gsets, "gset", "b"), "id_b")
        .select(
            "id_a", "id_b", jaccard_sim(F.col("gset_a"), F.col("gset_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    rejoin_grams: bool,
    bench_pred=None,
) -> DataFrame:
    """The one-shot MinHash pair query behind ``minhash_lsh_pairs``
    (``bench_pred`` None: a band self-join) and
    ``minhash_cross_corpus_pairs`` (a join of opposite sides)."""
    sig = _signatures(
        df, id_col, text_col, k, num_hashes, "sa" if rejoin_grams else "full"
    ).localCheckpoint(eager=False)
    banded = _band_frame(sig, num_hashes, bands)
    if bench_pred is None:
        cand = _bucket_pairs(banded, banded)
    else:
        bench = bench_pred(F.col("did"))
        cand = _bucket_pairs(banded.filter(~bench), banded.filter(bench), ordered=False)
    grams = None
    if rejoin_grams:
        def grams(ids: DataFrame) -> DataFrame:
            cand_docs = df.join(ids.withColumnRenamed("did", id_col), id_col, "left_semi")
            return _signatures(cand_docs, id_col, text_col, k, num_hashes, "gset")

    return _verified_pairs(sig, cand, num_hashes, threshold, grams)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.7,
    rejoin_grams: bool = False,
) -> DataFrame:
    """Near-dup pairs via MinHash+LSH, verified with exact Jaccard.

    Plan shape:
      1. one ``mapInArrow`` pass signs every doc: K minhashes plus the
         distinct gram-hash set (``_signatures``; no gram explode, no
         signing shuffle), pinned once for the query
      2. B band-bucket hashes → explode → self-join on (band, bucket):
         shuffle keyed on the bucket, so cost is Σ bucket² not n²
      3. candidate pairs → match-count prefilter on the minhashes →
         exact Jaccard over the gram sets (``_verified_pairs``;
         precision 1.0 by construction)

    Recall follows the LSH S-curve 1-(1-j^r)^b, r = num_hashes/bands.
    Docs with no shingles (len < k) never band — they have no near-dups
    above any sane threshold; exact dedup handles identical empties.
    Jaccard over gram hashes equals Jaccard over the grams up to a
    ~len²/2³¹ collision probability, and the oracle uses the same hashes.

    The pinned signatures carry each doc's gram set (≈ doc length·8 B,
    roughly the text itself), so verification needs no second pass over
    the corpus. ``rejoin_grams=True`` pins only the K minhashes (~0.5 KB
    per doc) and signs the docs of the prefilter survivors a second time
    for their gram sets: one extra corpus scan semi-joined to the
    candidate ids, for a pin that no longer grows with the text. Output
    is identical; ``build_corpus`` switches to it past
    ``NEAR_DEDUP_REJOIN_MIN_DOCS``.

    Hashing is the engine-portable int64 family (module header):
    ``minhash_lsh_oracle_sql`` generates a DuckDB query that reproduces
    this exact output, including the banding and the sketch prefilter.
    """
    return _minhash_pairs(
        df, id_col, text_col, k, num_hashes, bands, threshold, rejoin_grams
    )


def minhash_cross_corpus_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench_pred,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.7,
    rejoin_grams: bool = False,
) -> DataFrame:
    """Near-dup pairs ACROSS a corpus boundary only — the train-vs-
    held-out form of MinHash dedup (Lee et al. ACL 2022 §4: benchmark
    contamination removed as near-duplication, not just exact n-gram
    overlap). ``bench_pred`` maps the id column to the benchmark-side
    predicate; output rows are (id_a = train doc, id_b = benchmark
    doc, jaccard ≥ threshold).

    The same pipeline as ``minhash_lsh_pairs`` (one signing pass over
    both sides), but the candidate join requires OPPOSITE sides, so
    within-side bucket collisions — the bulk of a self-joined corpus —
    never become candidates, never hit the sketch prefilter, never
    fetch gram sets. At 100 TB train × a fixed benchmark set this makes
    the pair join's probe side the benchmark's banded rows (tiny),
    broadcastable by the planner.

    ``rejoin_grams`` as on ``minhash_lsh_pairs`` — here the candidate
    set is train×benchmark only, so the second signing pass touches a
    vanishing doc fraction."""
    return _minhash_pairs(
        df, id_col, text_col, k, num_hashes, bands, threshold, rejoin_grams, bench_pred
    )


def _minhash_oracle_ctes(
    table: str,
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> str:
    """Shared CTE chain (ends in ``kept``) for the MinHash oracles."""
    rows_per_band = num_hashes // bands
    consts = affine_constants(num_hashes, MINHASH_SALT)
    min_matches = _min_matches(threshold, num_hashes)

    gh = gram_hash_sql(text_col, "i", k)
    min_exprs = ",\n           ".join(
        f"MIN((h * {a} + {b}) % {M31}) AS m{s}" for s, (a, b) in enumerate(consts)
    )

    def bucket_expr(b: int) -> str:
        acc = "CAST(0 AS BIGINT)"
        for j in range(rows_per_band):
            acc = f"(({acc} * {KNUTH_A} + m{b * rows_per_band + j}) % {M31})"
        return acc

    banded = "\n        UNION ALL ".join(
        f"SELECT did, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.m{s} = sb.m{s} THEN 1 ELSE 0 END)" for s in range(num_hashes)
    )
    return f"""g AS (
        SELECT {id_col} AS did,
               unnest(list_transform(range(0, length({text_col}) - {k - 1}),
                                     i -> {gh})) AS h
        FROM {table}
        WHERE length({text_col}) >= {k}
    ),
    sig AS (
        SELECT did,
           {min_exprs},
           list_distinct(list(h)) AS gset
        FROM g GROUP BY did
    ),
    banded AS (
        {banded}
    ),
    cand AS (
        SELECT DISTINCT a.did AS id_a, b.did AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.did < b.did
    ),
    kept AS (
        SELECT cand.id_a, cand.id_b,
               sa.gset AS gs_a, sb.gset AS gs_b
        FROM cand
        JOIN sig sa ON sa.did = cand.id_a
        JOIN sig sb ON sb.did = cand.id_b
        WHERE {match_sum} >= {min_matches}
    ),
    jpairs AS (
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(len(list_intersect(gs_a, gs_b)) AS DOUBLE)
                       / greatest(len(list_distinct(list_concat(gs_a, gs_b))), 1)
                       AS jaccard
            FROM kept
        ) WHERE jaccard >= {threshold}
    )"""


def minhash_lsh_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.7,
) -> str:
    """DuckDB SQL reproducing ``minhash_lsh_pairs`` bit-for-bit: same
    gram hashes, same affine permutations, same Horner band buckets,
    same integer prefilter cutoff, same exact-Jaccard verification over
    the same distinct gram-hash sets. Generated (not handwritten) so the
    constants can never drift from the Spark plan."""
    ctes = _minhash_oracle_ctes(
        table, id_col, text_col, k, num_hashes, bands, threshold
    )
    return f"""
    WITH {ctes}
    SELECT id_a, id_b, jaccard FROM jpairs
    """


def minhash_cluster_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.7,
) -> str:
    """DuckDB SQL for the LSH-fed duplicate-cluster pipeline: the exact
    ``minhash_lsh_pairs`` edge set (CTE chain above), then a recursive
    reachability closure with min-label components and min-id survivors
    — the oracle twin of ``resolve_dup_clusters`` over LSH candidates."""
    ctes = _minhash_oracle_ctes(
        table, id_col, text_col, k, num_hashes, bands, threshold
    )
    return f"""
    WITH RECURSIVE {ctes},
    sym AS (
        SELECT id_a AS u, id_b AS v FROM jpairs
        UNION ALL
        SELECT id_b, id_a FROM jpairs
    ),
    reach(node, lbl) AS (
        SELECT {id_col}, {id_col} FROM {table}
        UNION
        SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node
    )
    SELECT node AS {id_col},
           CAST(MIN(lbl) AS BIGINT) AS cluster_id,
           MIN(lbl) = node AS is_survivor
    FROM reach
    GROUP BY node
    """


def minhash_corpus_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.7,
) -> str:
    """DuckDB SQL for the deduplicated-corpus manifest: one row per
    SURVIVING document (min-id of its near-dup cluster) with the number
    of corpus rows it absorbs — the end product of the dedup family."""
    ctes = _minhash_oracle_ctes(
        table, id_col, text_col, k, num_hashes, bands, threshold
    )
    return f"""
    WITH RECURSIVE {ctes},
    sym AS (
        SELECT id_a AS u, id_b AS v FROM jpairs
        UNION ALL
        SELECT id_b, id_a FROM jpairs
    ),
    reach(node, lbl) AS (
        SELECT {id_col}, {id_col} FROM {table}
        UNION
        SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.node
    ),
    cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT CAST(cluster_id AS BIGINT) AS {id_col},
           COUNT(*) AS n_members
    FROM cl GROUP BY cluster_id
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_bit_sql(i: int) -> str:
    """Portable per-bit predicate as SQL text: bit i of the token's
    md5-derived 64 bits, taken as two 32-bit words (hex chars 1-8 and
    9-16). ``(w div 2^s) % 2`` is shift-and-mask spelled in arithmetic
    both engines share (words are non-negative). This is the textbook
    SimHash bit source (Charikar 2002; Manku et al. 2007 use the
    fingerprint's own bits) — r2's per-bit affine transforms cost 64
    multiply+mod per token and tripled plan-build time for no recall
    benefit."""
    return f"(w{i // 32} div {1 << (i % 32)}) % 2 = 1"


def _md5_word_col(m: Column, lo: int) -> Column:
    """Column twin of ``hashing.md5_word_sql``: hex chars [lo, lo+8) of
    an md5 hex string as a 32-bit word in a long (Catalyst subexpression
    elimination computes the md5 once across both words)."""
    out = F.lit(0).cast("long")
    for j in range(8):
        a = F.ascii(F.substring(m, F.lit(lo + j), F.lit(1)))
        out = out * 16 + (a - F.when(a >= 97, F.lit(87)).otherwise(F.lit(48)))
    return out


def simhash64(toks: Column) -> Column:
    """64-bit SimHash over a token array: bit i of the signature is the
    sign of Σ_tokens (±1 per bit i of the token's md5-derived 64 bits).

    Convenience single-expression form (one projection, no shuffle) for
    short token arrays; ``simhash_signatures`` is the scale path and
    computes the identical value."""
    words = F.transform(
        toks,
        lambda t: F.struct(
            _md5_word_col(F.md5(t), 1).alias("w0"),
            _md5_word_col(F.md5(t), 9).alias("w1"),
        ),
    )
    def _bit_acc(w: str, s: int):
        return lambda acc, st: acc + F.when(
            F.shiftright(st[w], s).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    sig = F.lit(0).cast("long")
    for i in range(64):
        bit_sum = F.aggregate(words, F.lit(0), _bit_acc(f"w{i // 32}", i % 32))
        bit = F.when(bit_sum > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def simhash_signatures(df: DataFrame, id_col: str, toks_col: Column) -> DataFrame:
    """SimHash via explode + groupBy — the scale path for long documents.

    One shuffle keyed on the doc id; 64 conditional-sum aggregates run
    map-side (partial aggregation), so the shuffle carries 64 longs per
    doc, not the tokens. Token-less docs get signature 0 via the left
    join back.

    The per-token cost is one md5 + two 8-hex-char word parses + 64
    shift-and-mask tests (r2 ran 64 affine multiply+mods instead —
    measured 1.9× slower end-to-end). The whole pipeline below is built
    from SQL text via ``F.expr``/``selectExpr``: the r2 Column-by-Column
    construction made ~10⁴ Py4J round-trips and cost ~1.5 s of
    driver-side plan build per run at any data size — pure fixed
    overhead a 100 TB plan pays identically."""
    ids = df.select(_c(id_col).alias("did"))
    from hours_api_clickup_spark.functions.hashing import md5_word_sql

    tok = (
        spread(df)
        .select(_c(id_col).alias("did"), F.explode(toks_col).alias("tok"))
        .withColumn("m", F.md5("tok"))
        .selectExpr(
            "did",
            f"{md5_word_sql('m', 1)} AS w0",
            f"{md5_word_sql('m', 9)} AS w1",
        )
    )
    # (Measured: pre-folding duplicate tokens into (did, h) counts and
    # weighting the bit sums by the count is algebraically identical but
    # benched SLOWER here — the extra shuffle outweighs the saved hash
    # evaluations unless the corpus has a heavy Zipfian dup factor.)
    aggs = [
        F.expr(f"sum(CASE WHEN {_simhash_bit_sql(i)} THEN 1 ELSE -1 END)").alias(
            f"b{i}"
        )
        for i in range(64)
    ]
    sums = tok.groupBy("did").agg(*aggs)
    sig_sql = " | ".join(
        f"shiftleft(CASE WHEN b{i} > 0 THEN 1L ELSE 0L END, {i})"
        for i in range(64)
    )
    signed = sums.selectExpr("did", f"({sig_sql}) AS sig")
    return ids.join(signed, "did", "left").select(
        "did", F.coalesce(F.col("sig"), F.lit(0).cast("long")).alias("sig")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    toks_col: Column,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs with hamming(simhash) ≤ max_hamming.

    Blocking: split the 64-bit signature into 4 × 16-bit chunks; by
    pigeonhole, any pair within hamming ≤ 3 shares at least one exact
    chunk → join on (chunk_idx, chunk_value) instead of n². Verified by
    exact popcount on the full signature. (For max_hamming > 3 the chunk
    block is a recall-lossy prefilter — near-dups still share chunks
    with high probability.)
    """
    # Deliberately NOT pinned: the self-join's build side is broadcast
    # (computed once), so a localCheckpoint of the signatures saves only
    # the probe side's recompute — measured at ≤5% of the query (the
    # signature aggregation is cheap next to the join) — while pinning
    # executor storage per call. The historic 8× run-to-run spread on
    # this row is cold-start + host windows, not plan instability
    # (steady-state re-measured at ~1.7s, identical with and without
    # the pin).
    sig = simhash_signatures(df, id_col, toks_col)
    chunked = sig.select(
        "did",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("sig"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ch"),
    ).select(
        "did",
        "sig",
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.col("ch.chunk_val").alias("chunk_val"),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.did") < F.col("b.did")),
        )
        .select(
            F.col("a.did").alias("id_a"),
            F.col("b.did").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> str:
    """DuckDB SQL reproducing ``simhash_pairs`` over whitespace tokens
    (``textstats.tokens`` semantics) bit-for-bit.

    DuckDB never materializes the 64-bit signature (1<<63 would overflow
    BIGINT): it works on the 64 individual sign bits — the 16-bit chunk
    values for blocking and a 64-term inequality sum for the hamming
    distance are algebraically identical to Spark's shift/bit_count form.
    Token-less docs contribute all-zero bits (the COALESCE), matching
    Spark's left-join signature 0. Bit i comes from the token's own
    md5-derived 64 bits (two parsed 32-bit words) — same definition as
    ``_simhash_bit_sql``; ``// 2^s % 2`` here ≡ ``div 2^s % 2`` there on
    the non-negative words."""
    from hours_api_clickup_spark.functions.hashing import md5_word_sql

    w0, w1 = md5_word_sql("m", 1), md5_word_sql("m", 9)
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (w{i // 32} // {1 << (i % 32)}) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS s{i}"
        for i in range(64)
    )
    sig_bits = ",\n           ".join(
        f"CASE WHEN COALESCE(s{i}, 0) > 0 THEN 1 ELSE 0 END AS t{i}"
        for i in range(64)
    )
    chunk_rows = "\n        UNION ALL ".join(
        "SELECT did, {ci} AS ci, ({cv}) AS cv FROM sb".format(
            ci=c,
            cv=" + ".join(f"t{c * 16 + j} * {1 << j}" for j in range(16)),
        )
        for c in range(4)
    )
    ham = " + ".join(
        f"(CASE WHEN sa.t{i} <> sbb.t{i} THEN 1 ELSE 0 END)" for i in range(64)
    )
    return f"""
    WITH ids AS (SELECT {id_col} AS did FROM {table}),
    tok AS (
        SELECT {id_col} AS did,
               unnest(CASE WHEN length(trim({text_col})) > 0
                           THEN regexp_split_to_array(trim({text_col}), '[ \\t\\n\\x0B\\f\\r]+')
                           ELSE [] END) AS t
        FROM {table}
    ),
    th AS (
        SELECT did, {w0} AS w0, {w1} AS w1
        FROM (SELECT did, md5(t) AS m FROM tok)
    ),
    bsum AS (
        SELECT did,
           {bit_sums}
        FROM th GROUP BY did
    ),
    sb AS (
        SELECT ids.did,
           {sig_bits}
        FROM ids LEFT JOIN bsum ON bsum.did = ids.did
    ),
    ch AS (
        {chunk_rows}
    ),
    cand AS (
        SELECT DISTINCT a.did AS id_a, b.did AS id_b
        FROM ch a JOIN ch b
          ON a.ci = b.ci AND a.cv = b.cv AND a.did < b.did
    )
    SELECT id_a, id_b, hamming FROM (
        SELECT cand.id_a, cand.id_b, CAST({ham} AS INT) AS hamming
        FROM cand
        JOIN sb sa ON sa.did = cand.id_a
        JOIN sb sbb ON sbb.did = cand.id_b
    ) WHERE hamming <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Duplicated-span detection (exact substring dedup at token granularity)
# ---------------------------------------------------------------------------


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans — the token-granular form of the
    suffix-array substring dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022): any ``k``-token
    window whose exact text occurs ≥ ``min_count`` times anywhere in
    the corpus (other documents OR elsewhere in the same document) is a
    duplicated gram; runs of overlapping/adjacent duplicated grams merge
    into one maximal span per document. Downstream curation cuts the
    spans (or drops docs whose spans cover too much — compose with
    ``repetition_stats``).

    Output: one row per (doc, maximal span): ``start_tok``/``end_tok``
    (1-based inclusive token positions), ``n_dup_grams``, ``span_len``.

    Scale shape (instead of the paper's monolithic suffix array, which
    has no distributed form): one explode of k-gram positions, the gram
    text immediately folded to an int64 md5 hash so the corpus-wide
    shuffle carries (did, i, gh) rows only — never gram strings; one
    count aggregation on gh (map-side combining); a semi-join back
    (AQE may broadcast the duplicated-gram set when small); span
    assembly is the sessionize trick (lag → flag → running sum) — both
    windows and the final agg share ONE hash shuffle on the doc id.
    Positions within a doc are unique, so every window order is total —
    deterministic. Pure codegen + md5; DuckDB replays it bit-for-bit
    (``duplicated_spans_oracle_sql``).
    """
    from pyspark.sql import Window

    from hours_api_clickup_spark.datapipe.textstats import tokens

    did = _c(id_col).alias("did")
    grams = (
        spread(df)
        .select(did, tokens(text_col).alias("tk"))
        .filter(F.size("tk") >= k)
        .select(
            "did",
            F.explode(F.sequence(F.lit(1), F.size("tk") - (k - 1))).alias("i"),
            "tk",
        )
        .select(
            "did",
            "i",
            md5_hash32(
                F.concat_ws(
                    " ", *[F.element_at("tk", F.col("i") + j) for j in range(k)]
                )
            ).alias("gh"),
        )
        # materialize once: BOTH the dup-count aggregation and the
        # semi-join probe read this frame — without the checkpoint the
        # corpus is re-scanned, re-tokenized and re-hashed a second
        # time, doubling the operator's dominant cost (review r8; same
        # reason minhash_lsh_pairs checkpoints sig)
        .localCheckpoint()
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi")
    w = Window.partitionBy("did").orderBy("i")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # grams at positions p and i (p < i) overlap or touch iff i - p <= k
    new_span = F.when(F.col("i") - F.lag("i").over(w) <= k, 0).otherwise(1)
    spans = hits.withColumn(
        "span_id", F.sum(new_span).over(w_run) - F.lit(1)
    )
    return (
        spans.groupBy(F.col("did").alias(id_col), "span_id")
        .agg(
            F.min("i").cast("long").alias("start_tok"),
            (F.max("i") + F.lit(k - 1)).cast("long").alias("end_tok"),
            F.count("*").alias("n_dup_grams"),
        )
        .withColumn(
            "span_len", F.col("end_tok") - F.col("start_tok") + F.lit(1)
        )
    )


def duplicated_spans_oracle_sql(
    table: str, id_col: str, text_col: str, k: int = 5, min_count: int = 2
) -> str:
    """DuckDB twin of ``duplicated_spans``: same tokenization class,
    same md5-int32 gram hash, same merge rule, same window algebra."""
    gh = md5_hash32_sql(f"md5(array_to_string(t[i:i + {k - 1}], ' '))")
    return f"""
    WITH d AS (
        SELECT {id_col} AS did,
               CASE WHEN length(trim({text_col})) > 0
                    THEN string_split_regex(trim({text_col}), '[ \\t\\n\\x0B\\f\\r]+')
                    ELSE [] END AS t
        FROM {table}
    ),
    g AS (
        SELECT did, i, {gh} AS gh
        FROM (SELECT did, unnest(range(1, len(t) - {k - 2})) AS i, t
              FROM d WHERE len(t) >= {k})
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= {min_count}),
    h AS (SELECT g.did, g.i FROM g JOIN dup USING (gh)),
    s AS (
        SELECT did, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY did ORDER BY i) <= {k}
                    THEN 0 ELSE 1 END AS ns
        FROM h
    ),
    sp AS (
        SELECT did, i,
               CAST(SUM(ns) OVER (PARTITION BY did ORDER BY i
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1
                   AS span_id
        FROM s
    )
    SELECT did AS {id_col}, span_id,
           CAST(MIN(i) AS BIGINT) AS start_tok,
           CAST(MAX(i) + {k - 1} AS BIGINT) AS end_tok,
           COUNT(*) AS n_dup_grams,
           CAST(MAX(i) + {k - 1} - MIN(i) + 1 AS BIGINT) AS span_len
    FROM sp GROUP BY did, span_id
    """


# ---------------------------------------------------------------------------
# Persisted document near-dup index: incremental MinHash+LSH at ingest.
# The one-shot `minhash_lsh_pairs` re-shingles the whole corpus per run;
# at 100 TB the corpus is signed ONCE and each arriving batch is checked
# against (and folded into) the persisted signatures — the document-side
# twin of the LSM vector index (`lsh_index_append`).
# ---------------------------------------------------------------------------


#: the signature tiers, partitioned by ``seq`` in the directory names:
#: a rebuild writes ``seq=0``, each append overwrites its own ``seq=N``
_DOC_TIERS = ("bands", "sig")
doc_neardup_index_recover = functools.partial(tiered.recover_joint, tier_names=_DOC_TIERS)


def _doc_seqs(spark, path: str) -> dict[str, set[int]]:
    """Each tier's ``seq`` partitions, read from the directory names
    with no Spark job. An index written before the tiers were
    partitioned (files at the tier roots) is refused, never misread; a
    tier missing after a foreign mid-swap crash is recovered, as a
    failed read is (``storage.read_with_recovery``)."""

    def listing() -> dict[str, set[int]]:
        seqs = {
            t: {int(v) for v in storage.partition_values(spark, f"{path}/{t}", "seq")}
            for t in _DOC_TIERS
        }
        if any(not seqs[t] and storage.exists(spark, f"{path}/{t}__old") for t in _DOC_TIERS):
            raise FileNotFoundError(f"{path}: a signature tier is mid-swap")
        return seqs

    return storage.read_with_recovery(spark, path, listing, doc_neardup_index_recover)


def doc_neardup_index_write(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> None:
    """Materialize the corpus signatures at ``seq=0``: ``{path}/sig``
    holds (did, sa minhash-array, gset gram-hash set) — everything
    candidate prefilter + exact-Jaccard verification need, so the TEXT
    column is never read again; ``{path}/bands`` holds the narrow
    (did, band, bucket) rows the candidate join scans, sorted by
    (band, bucket) for row-group pruning. One signing pass total. Both
    tiers are replaced whole, so a rebuild also turns an index written
    before the tiers had a ``seq`` into the partitioned form.

    A rebuild is maintenance: it runs under the single-maintainer
    LEASE (a rebuild racing a compact or the streaming ingest refuses
    loudly instead of silently discarding in-flight batches). Unlike
    the ANN families there is no stale-tier refusal — this family's
    tombstones are did-keyed takedown markers that DELIBERATELY
    survive rebuilds (takedown-wins until a compact consumes them; a
    post-compact re-ingest is the intentional resurrect path)."""
    spark = df.sparkSession
    with storage.maintenance_lease(spark, path, "doc_neardup_index_write"):
        doc_neardup_index_recover(spark, path)
        sig = _signatures(df, id_col, text_col, k, num_hashes).localCheckpoint(eager=False)
        band_rows = _band_frame(sig, num_hashes, bands).withColumn("seq", F.lit(0))
        _commit_doc_tiers(spark, path, sig.withColumn("seq", F.lit(0)), band_rows, {})


def _commit_doc_tiers(spark, path: str, sig: DataFrame, bands: DataFrame, consumed: dict) -> None:
    """Stage both tiers, partitioned by their ``seq`` column, then
    publish them as one transaction (``storage.commit_tiers``): readers
    see the old generation or the new one, never new bands over an old
    sig."""
    sig.repartitionByRange(8, "seq", "did").sortWithinPartitions("seq", "did").write.mode(
        "overwrite"
    ).partitionBy("seq").parquet(f"{path}/sig__staged")
    bands.sortWithinPartitions("seq", "band", "bucket").write.mode("overwrite").partitionBy(
        "seq"
    ).parquet(f"{path}/bands__staged")
    storage.commit_tiers(spark, path, tiered.REBUILD_MARKER, _DOC_TIERS, consumed)


def doc_neardup_index_append(
    batch: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.7,
    seq: int | None = None,
) -> DataFrame:
    """Fold a batch of NEW documents into the persisted index at
    ``seq`` and return every near-dup pair the batch introduces —
    (batch × corpus) and (batch × batch), exact-Jaccard verified,
    (id_a < id_b) normalized. Corpus × corpus pairs are unchanged by
    construction, so incremental-append pair sets sum to exactly the
    one-shot ``minhash_lsh_pairs`` of the union (property-tested).

    The corpus is the index rows with a smaller ``seq`` (partition
    pruning), and the batch's rows overwrite ``bands/seq=N`` and
    ``sig/seq=N``: an append re-run at the same ``seq`` (a redelivered
    stream batch) recomputes the same pairs and replaces its own rows,
    and the returned lazy frame stays valid after the writes. ``seq``
    defaults to one more than the largest on disk. Precondition: the
    batch's ids are in no other ``seq``, and an existing ``seq=N``
    holds only this batch's ids (its other rows are overwritten).

    Scale shape: only the BATCH is shingled (O(batch) text read); its
    band rows are BROADCAST against the persisted bands scan, so the
    corpus side never shuffles — and the corpus bytes touched are the
    narrow (did, band, bucket) rows, the ``sa`` column of the sig tier,
    and the gram sets of the prefilter survivors only (``_index_grams``),
    never the corpus text.
    """
    spark = batch.sparkSession
    # every entry point recovers first: mid-swap rollback, and a
    # crashed rebuild or compact rolled forward
    doc_neardup_index_recover(spark, path)
    seqs = _doc_seqs(spark, path)
    if seq is None:
        seq = 1 + max(seqs["bands"] | seqs["sig"], default=-1)

    bsig = _signatures(batch, id_col, text_col, k, num_hashes).localCheckpoint(eager=False)
    # the band rows are a projection of the pinned signatures
    bband = _band_frame(bsig, num_hashes, bands)

    def corpus(tier: str, empty: DataFrame) -> DataFrame:
        if not any(s < seq for s in seqs[tier]):
            return empty
        return tiered.read_tier(spark, path, tier, doc_neardup_index_recover).filter(
            F.col("seq") < seq
        )

    # tombstoned documents stop producing candidates — the delete path's
    # read-side contract (their band rows stay on disk until a compact)
    old_bands = _minus_tombstones(corpus("bands", bband.limit(0)), path)
    cand = (
        _probe_pairs(old_bands, bband)
        .unionByName(_bucket_pairs(bband, bband))
        .dropDuplicates(["id_a", "id_b"])
    )
    old_sig = corpus("sig", bsig.limit(0)).select("did", "sa", "gset")
    verified = _verified_pairs(
        old_sig.unionByName(bsig), cand, num_hashes, threshold, _index_grams(old_sig, bsig)
    )
    bband.sortWithinPartitions("band", "bucket").write.mode("overwrite").parquet(
        f"{path}/bands/seq={seq}"
    )
    bsig.write.mode("overwrite").parquet(f"{path}/sig/seq={seq}")
    return verified


#: the most survivor ids whose gram sets the index fetches through an IN
#: list; past it they stay distributed in a semi-join
IN_LIST_CAP = 200_000


def _index_grams(sig: DataFrame, extra: DataFrame | None = None):
    """The stage-2 gram source of ``_verified_pairs`` for the persisted
    index: the ``gset`` rows of the survivor ids from the did-sorted
    ``sig`` tier, plus the ``extra`` (did, gset) rows not yet in the
    index (an arriving batch). Stage 1 read only the narrow ``sa``
    column, so only the survivors' heavy gram sets are streamed: one
    bounded collect (``limit(cap+1)``) turns a normal survivor set
    (batch size × near-dup rate) into an IN list that the scan pushes
    down to skip whole row groups; an adversarial all-duplicates corpus
    past ``IN_LIST_CAP`` keeps the ids distributed in a semi-join."""

    def grams(ids: DataFrame) -> DataFrame:
        head = [r[0] for r in ids.limit(IN_LIST_CAP + 1).collect()]
        gsets = sig.select("did", "gset")
        if len(head) <= IN_LIST_CAP:
            gsets = gsets.filter(F.col("did").isin(head))
        else:
            gsets = gsets.join(ids, "did", "semi")
        return gsets if extra is None else gsets.unionByName(extra.select("did", "gset"))

    return grams


def doc_neardup_index_pairs_for_ids(
    spark,
    path: str,
    ids: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    threshold: float = 0.7,
) -> DataFrame:
    """Every verified near-dup pair touching the given ALREADY-INDEXED
    ids, recomputed from the index alone (no document text needed):
    their band rows broadcast against the bands scan for candidates,
    then the shared two-stage verification. This is the index-only
    pair query: what the index, minus its tombstones, pairs a set of
    indexed ids with, at any ``seq``."""
    # roll back a crashed compact's swap / forward a crashed rebuild's
    # joint publish first
    doc_neardup_index_recover(spark, path)
    if not _doc_seqs(spark, path)["bands"]:
        # a compact that folded every doc out leaves no partition to read
        return spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    bands = _minus_tombstones(
        tiered.read_tier(spark, path, "bands", doc_neardup_index_recover), path
    )
    mine = bands.join(F.broadcast(ids.select(F.col(ids.columns[0]).alias("did"))), "did")
    sig = tiered.read_tier(spark, path, "sig", doc_neardup_index_recover)
    return _verified_pairs(
        sig, _probe_pairs(bands, mine), num_hashes, threshold, _index_grams(sig)
    )


def doc_neardup_tombstones(spark, path: str):
    """(did) rows tombstoned out of this index, or None when the marker
    dir is absent (the fast path — zero extra work for indexes that
    never saw a delete)."""
    tomb_path = f"{path}/tombstones"
    if not storage.exists(spark, tomb_path):
        return None
    return spark.read.parquet(tomb_path).select("did").dropDuplicates()


def _minus_tombstones(df: DataFrame, path: str, col: str = "did") -> DataFrame:
    """``df`` without the rows whose ``col`` is tombstoned in the index."""
    tomb = doc_neardup_tombstones(df.sparkSession, path)
    return df if tomb is None else df.join(F.broadcast(tomb), df[col] == tomb["did"], "left_anti")


def doc_neardup_index_delete(spark, path: str, doc_ids) -> None:
    """Tombstone delete for the document near-dup signature index — the
    takedown path (a removed/retracted document must stop producing
    candidates and pairs): one tiny (did) marker batch appended under
    ``{path}/tombstones``; NO sig or bands file is read or rewritten.
    Every read path (``doc_neardup_index_append`` candidate generation,
    ``doc_neardup_index_pairs_for_ids``) applies the broadcast
    anti-filter; ``doc_neardup_index_compact`` folds the deletes in
    physically and drops the marker dir.

    Unlike the vector/text tombstones, these do not compete with row
    versions: a marker is a plain did key (at seq 0) that hides the id
    at every ``seq`` and keeps the stream from ingesting it, until a
    compact consumes it; only a re-ingest after that compact brings the
    id back. ``doc_ids`` is a list/iterable or a DataFrame of ids
    (distributed marker write, no driver collect)."""
    tiered.delete(spark, path, "did", doc_ids, seq=0)


def doc_neardup_index_compact(spark, path: str) -> None:
    """Fold tombstones physically: rewrite ``sig`` and ``bands`` minus
    the tombstoned dids, every row keeping its ``seq``, and publish
    both through the same joint commit as a rebuild, which also drops
    exactly the marker FILES the rewrite consumed — a delete landing
    while the O(corpus) rewrite runs survives into the next compact. No
    tombstones (or an index that was never written): no-op. After a
    compact, re-ingesting a previously deleted id resurrects it —
    BEFORE a compact, markers persist across rebuilds, so a takedown
    survives index maintenance.

    Single writer, lease-enforced: the compact swaps both tier
    directories, so an append racing it would write its ``seq=N`` into
    the directory the swap retires; the lease turns that race into a
    loud ``MaintenanceLeaseHeld``."""
    with storage.maintenance_lease(spark, path, "doc_neardup_index_compact"):
        doc_neardup_index_recover(spark, path)
        if not _doc_seqs(spark, path)["sig"]:
            return  # delete-before-build: markers stay until an index exists
        consumed = storage.snapshot_files(spark, f"{path}/tombstones")
        if not consumed:
            return
        tomb = (
            spark.read.parquet(*consumed)
            .select("did")
            .dropDuplicates()
            .localCheckpoint(eager=True)  # read once, reused twice
        )
        def live(tier: str) -> DataFrame:
            return tiered.read_tier(spark, path, tier, doc_neardup_index_recover).join(
                F.broadcast(tomb), "did", "left_anti"
            )

        # range on (seq, did): a few files per seq, not one per input split
        bands = live("bands").repartitionByRange(8, "seq", "did")
        _commit_doc_tiers(
            spark, path, live("sig"), bands, {f"{path}/tombstones": consumed}
        )
