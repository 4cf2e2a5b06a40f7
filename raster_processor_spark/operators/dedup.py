"""Deduplication operators for large-scale training-data pipelines.

Four families over the documents table:
  * exact          — hash-groupBy on the full text (keep min id)
  * ngram Jaccard  — exact 3-word-shingle Jaccard via inverted-index self-join
  * MinHash + LSH  — shingle → minhash signature → band buckets → candidate
                     join → exact-Jaccard verify (the scale path: candidates
                     only, never all-pairs)
  * SimHash        — 63-bit bit-majority fingerprint per document

All arithmetic (word ids, shingle ids, permutation hashes) is integer and
deterministic, so each operator has a bit-exact DuckDB oracle twin. At
10^12-doc scale: the tokenize/shingle stage is narrow (no shuffle, no vocab
table — word ids are a per-token polynomial character hash, identical in
Spark and DuckDB); the LSH band join shuffles only (band, bucket) keys and
the verify join touches candidate pairs only (the candidate set is joined
to the shingle table BEFORE any shingle self-join, so work is proportional
to |candidates|, never to co-shingle pair counts).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from raster_processor_spark.sources.tables import read_parquet as _read_parquet

# LCG-style permutation constants for minhash (public-domain classics)
MINHASH_PERMS: list[tuple[int, int, int]] = [
    (0, 1103515245, 12345),
    (1, 214013, 2531011),
    (2, 69069, 362437),
    (3, 134775813, 1),
    (4, 22695477, 1),
    (5, 1664525, 1013904223),
    (6, 48271, 0),
    (7, 16807, 0),
]
MERSENNE31 = 2147483647
# 63-bit simhash from two independent LCG words (32 + 31 bits): 63 rather
# than 64 keeps the top bit clear so the fingerprint stays positive in
# int64 — Spark would wrap silently and DuckDB would raise on bit 63.
# (offset, nbits, a, b) per word; a*sid < 2^63 since sid < 2^31.
SIMHASH_WORDS = ((0, 32, 69069, 362437), (32, 31, 1664525, 1013904223))
SIMHASH_BITS = sum(nb for _, nb, _, _ in SIMHASH_WORDS)  # 63
SIMHASH_BAND_BITS = 16  # 4 bands x 16 bits cover all 63: hamming <= 3 pigeonhole
# Lane packing for the bit-majority aggregation: 4 bit-counters of 15 bits
# each share one int64 aggregate, so the 63 per-bit majorities need 16 SUMs
# instead of 63 (the round-2 63-aggregate form was the slowest warm query in
# the driver bench). A lane counts set bits, bounded by shingles-per-doc, so
# lanes never bleed while docs stay under 2^15 = 32768 shingles (enforced in
# tests; at corpus scale widen LANE_BITS or split the doc upstream). The
# per-row packed word is a 16-entry lookup of the hash nibble.
SIMHASH_LANE_BITS = 15
SIMHASH_LANES = 4  # per int64; 4 * 15-bit lanes, max addend < 2^46 * n
SIMHASH_NIBBLE_SPREAD = [
    sum(((nib >> i) & 1) << (SIMHASH_LANE_BITS * i) for i in range(SIMHASH_LANES))
    for nib in range(1 << SIMHASH_LANES)
]
WID_BASE = 131  # polynomial char-hash base (word id, no vocab table)
SID_P = 1000003  # shingle combiner prime

PERMS_VALUES_SQL = (
    "(SELECT * FROM (VALUES "
    + ", ".join(f"({p}, {a}, {b})" for p, a, b in MINHASH_PERMS)
    + ") AS p(pid, a, b))"
)

# DuckDB twin of wid_array_col's per-word hash: left-fold polynomial hash
# over char codes from a zero accumulator.
WID_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({w}, ''), c -> ascii(c))), "
    f"(acc, x) -> (acc * {WID_BASE} + x) % {MERSENNE31})"
)

# shared shingle CTE prologue (DuckDB twin of shingles()) — word ids are
# per-token hashes (NO vocab table, no global window, no vocab join)
SHINGLES_CTE_SQL = f"""
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, UNNEST(ws) AS word,
               UNNEST(generate_series(1, len(ws))) AS i FROM w),
tw AS (SELECT doc_id, i, {WID_SQL.format(w='word')} AS wid FROM tok),
sh0 AS (
  SELECT doc_id,
         ((wid * {SID_P} + LEAD(wid, 1) OVER (PARTITION BY doc_id ORDER BY i))
            % {MERSENNE31} * {SID_P}
          + LEAD(wid, 2) OVER (PARTITION BY doc_id ORDER BY i)) % {MERSENNE31} AS sid
  FROM tw
),
sh AS (SELECT DISTINCT doc_id, sid FROM sh0 WHERE sid IS NOT NULL),
sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1)
"""


def wid_array_col(text):
    """Array of per-token word ids for one document — the whole tokenize +
    hash front-end as ONE narrow projection (no explode, no shuffle).

    The hash runs as a vectorized Arrow-batched numpy kernel
    (_wid_arrays_udf), identical to WID_SQL in DuckDB (the kernel folds
    unicode code points via utf-32 decode — exactly what ascii() returns).
    wid < 2^31, so 3-wid shingle combining stays within int64. The
    built-in form (transform + aggregate over the chars) is CodegenFallback,
    interpreted per char: it made dedup_simhash ~6x slower at sf0.01 and
    ~40x at sf0.1 (median 8.1 vs 1.4 s and 65.5 vs 1.7 s, local[3])."""
    return _wid_arrays_udf()(text)


def _wid_arrays_udf():
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _wids(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np
        import pandas as pd

        for texts in it:
            vals = texts.tolist()
            if not vals:
                yield pd.Series([], dtype=object)
                continue
            nw = np.array([s.count(" ") + 1 for s in vals], dtype=np.int64)
            joined = " ".join(vals)
            # utf-32 decode = exact unicode code points (ord()/ascii()),
            # vectorized; words and inter-word spaces strictly alternate,
            # so starts/ends derive from the space positions alone
            cp = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
                np.int64
            )
            is_sp = cp == 32
            starts = np.flatnonzero(np.concatenate(([True], is_sp[:-1])))
            ends = np.concatenate((np.flatnonzero(is_sp), [len(cp)]))
            lengths = ends - starts
            acc = np.zeros(len(starts), dtype=np.int64)
            # char-position-parallel polynomial fold: one vectorized pass
            # per char position (word length is small and bounded), exact
            # int64 mod arithmetic — identical to the per-char aggregate()
            for j in range(int(lengths.max()) if len(lengths) else 0):
                m = lengths > j
                acc[m] = (acc[m] * WID_BASE + cp[starts[m] + j]) % MERSENNE31
            offs = np.cumsum(nw)[:-1]
            yield pd.Series(np.split(acc, offs))

    return _wids


def sid_array_col(wids):
    """Array of 3-word shingle ids from a word-id array: the same
    prime-weighted fold mod 2^31-1 as the windowed form, evaluated
    positionally inside the row (w[i], w[i+1], w[i+2] ≡ wid, lead(wid,1),
    lead(wid,2)) — bit-identical, but with no doc-partitioned sort."""
    n = F.size(wids)
    idx = F.when(n >= 3, F.sequence(F.lit(0), n - 3)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.pmod(
            F.pmod(
                F.get(wids, i) * F.lit(SID_P) + F.get(wids, i + 1),
                F.lit(MERSENNE31),
            )
            * F.lit(SID_P)
            + F.get(wids, i + 2),
            F.lit(MERSENNE31),
        ),
    )


def shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _sids): each document's DISTINCT 3-word shingle-id set as
    an in-row array — the narrow form the front-end computes anyway before
    exploding. Both the exploded ``shingles`` view and the LSH verify's
    per-document sets derive from this one projection, so the verify never
    has to re-aggregate the exploded stream back into arrays (a
    corpus-sized collect_list shuffle — see _jaccard_pairs)."""
    d = _read_parquet(spark, f"{sf_dir}/documents.parquet")
    # materialize the wid array as its own projection: sid_array_col reads
    # it three times per element, and Catalyst only de-duplicates a
    # multi-referenced expensive alias across a Project boundary (inlining
    # it would re-hash the whole document per access)
    w = d.select("doc_id", wid_array_col(F.col("text")).alias("_wids"))
    return w.select(
        "doc_id",
        F.array_distinct(sid_array_col(F.col("_wids"))).alias("_sids"),
    )


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, sid) 3-word shingle ids.

    Fully narrow: word ids are per-token char hashes and the 3-gram fold
    runs positionally over the per-document word-id ARRAY (sid_array_col),
    so the scan → project → explode pipeline has NO shuffle at all — the
    round-5 form repartitioned by doc_id and sorted every document for a
    lead() window just to pair adjacent tokens the array already holds.
    array_distinct inside the row makes the exploded (doc_id, sid) pairs
    globally distinct by construction (one row per document), replacing the
    distinct()'s shuffle too. Values are bit-identical to the DuckDB twin
    (same integer fold; collision probability ~|shingles|²/2^32)."""
    return shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("_sids").alias("sid")
    )


def _sizes(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))


def _jaccard_pairs(
    sh: DataFrame, candidates: DataFrame | None, arrs: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) intersection counts, two regimes:

    * candidates given (LSH path): attach each side's per-document shingle
      SET to the candidate pairs and intersect in-row (array_intersect).
      Work is O(|cand| * avg_shingles) like the round-5 exploded join, but
      the per-pair shingle stream never exists as rows: two joins and a
      corpus-sized groupBy disappear, the sizes come free from the array
      lengths, and the verify's shuffle carries |docs| arrays + |cand|
      pairs instead of |cand| x avg_shingles rows. When the caller already
      holds the per-document arrays (shingle_arrays — the projection the
      exploded stream is derived FROM), pass them as ``arrs`` and the
      re-aggregation groupBy disappears too: zero shuffles to build the
      verify's array side. Only set membership and length are consumed, so
      the collect_list and array_distinct forms are interchangeable.
    * no candidates (exact path): inverted-index self-join on sid. At scale
      this needs a doc-frequency cap on hot sids; exact-by-construction here.
    """
    if candidates is not None:
        if arrs is None:
            arrs = sh.groupBy("doc_id").agg(F.collect_list("sid").alias("_sids"))
        j = candidates.join(
            arrs.select(F.col("doc_id").alias("doc_a"), F.col("_sids").alias("_sa")),
            "doc_a",
        ).join(
            arrs.select(F.col("doc_id").alias("doc_b"), F.col("_sids").alias("_sb")),
            "doc_b",
        )
        c = F.size(F.array_intersect("_sa", "_sb"))
        return j.select(
            "doc_a",
            "doc_b",
            (c.cast("double") / (F.size("_sa") + F.size("_sb") - c)).alias(
                "jaccard"
            ),
        )
    common = (
        sh.select(F.col("doc_id").alias("doc_a"), "sid")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sid"), "sid")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = _sizes(sh)
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("ns", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("ns", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias("jaccard"),
        )
    )


def df_capped(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles that occur in more than ``max_df`` documents (stop-
    shingle removal). A hot shingle contributes df² rows to the inverted-
    index self-join — the quadratic term that kills the exact path at corpus
    scale; capping df bounds the join at |sids|·max_df². Jaccard stays
    consistent because sizes are computed from the SAME capped table."""
    dfs = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfs.where(F.col("df") <= max_df).select("sid"), "sid", "left_semi")
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, tau: float, max_df: int = 10_000
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (inverted index, no all-pairs;
    df-capped — see df_capped)."""
    sh = df_capped(shingles(spark, sf_dir), max_df)
    return _jaccard_pairs(sh, None).where(F.col("jaccard") >= tau)


def _minhash_wide(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7): all permutation minima fused into ONE
    groupBy(doc_id) — no 8x row explosion before the shuffle."""
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("sid") + F.lit(b), F.lit(MERSENNE31))).alias(
            f"mh{p}"
        )
        for p, a, b in MINHASH_PERMS
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(sh: DataFrame, rows_per_band: int = 1) -> DataFrame:
    """(doc_id, band, bucket): the b x r LSH banding knob. Band i covers
    minhash rows [i*r, (i+1)*r); its bucket folds the r minima with
    SID_P-power weights mod 2^31-1 (exact integers, identical in DuckDB).
    r=1 reproduces the plain per-permutation buckets; larger r lowers the
    collision probability per band (s-curve steepening: P[cand] = 1-(1-s^r)^b)
    — the knob corpus-scale dedup tunes to keep candidate volume sane.
    Bucket-fold collisions only ever ADD candidates, and the exact-Jaccard
    verify removes them, so the pair output is collision-immune."""
    assert len(MINHASH_PERMS) % rows_per_band == 0
    wide = _minhash_wide(sh)
    n_bands = len(MINHASH_PERMS) // rows_per_band
    weights = [pow(SID_P, j, MERSENNE31) for j in range(rows_per_band)]
    band_rows = []
    for band in range(n_bands):
        acc = None
        for j in range(rows_per_band):
            term = F.pmod(
                F.col(f"mh{band * rows_per_band + j}") * F.lit(weights[j]),
                F.lit(MERSENNE31),
            )
            acc = term if acc is None else acc + term
        band_rows.append(
            f"{band}, " + f"b{band}"
        )
        wide = wide.withColumn(f"b{band}", F.pmod(acc, F.lit(MERSENNE31)))
    stack_args = ", ".join(band_rows)
    return wide.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, bucket)"),
    ).select("doc_id", "band", "bucket")


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, tau: float, rows_per_band: int = 1
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band-bucket join (b x r banding — see
    minhash_band_buckets) then exact-Jaccard verify on candidates only.

    The per-document shingle ARRAY table feeds everything (signatures via
    one explode, both sides of the verify join directly) — cache the array
    form once: it is the smaller representation, and handing it to
    _jaccard_pairs as ``arrs`` removes the verify's corpus-sized
    re-aggregation shuffle outright."""
    arr = shingle_arrays(spark, sf_dir).cache()
    sh = arr.select("doc_id", F.explode("_sids").alias("sid"))
    sig = minhash_band_buckets(sh, rows_per_band)
    s1 = sig.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    s2 = sig.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        s1.join(s2, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_pairs(sh, cand, arrs=arr).where(F.col("jaccard") >= tau)


def _simhash_nibble_sources() -> list[tuple[int, int]]:
    """(hash-word offset, shift) per packed long j — long j counts global
    bits [4j, 4j+4): j 0..7 from h0, j 8..15 from h32 (the top long carries
    only 3 live bits; bit 63 never sets because h32 < 2^31)."""
    out = []
    for j in range(SIMHASH_BITS // SIMHASH_LANES + 1):  # 16 longs for 63 bits
        lo = j * SIMHASH_LANES
        for off, nb, _, _ in SIMHASH_WORDS:
            if off <= lo < off + nb:
                out.append((off, lo - off))
                break
    return out


def incremental_lsh_pairs(
    spark: SparkSession, sf_dir: str, tau: float, new_mod: int = 5,
    rows_per_band: int = 1,
) -> DataFrame:
    """Near-dup pairs ADDED by a newly arrived batch: (new x new) ∪
    (new x existing) — existing x existing is never recomputed, which is
    what makes LSH dedup incremental at corpus scale (the existing side's
    band buckets and shingles come from the prior run's snapshot; here both
    derive from the same fixture split: "new" = doc_id % new_mod ==
    new_mod-1).

    Because band buckets are a pure function of each document alone, the
    incremental pair set is EXACTLY the full run's pair set restricted to
    pairs touching the new batch — the registered oracle states that
    equivalence directly."""
    arr = shingle_arrays(spark, sf_dir).cache()
    sh = arr.select("doc_id", F.explode("_sids").alias("sid"))
    is_new = F.pmod(F.col("doc_id"), F.lit(new_mod)) == new_mod - 1
    bb = minhash_band_buckets(sh, rows_per_band)
    b_new = bb.where(is_new)
    b_old = bb.where(~is_new)
    n1 = b_new.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    n2 = b_new.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    o2 = b_old.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand_nn = (
        n1.join(n2, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    cand_no = (
        n1.join(o2, ["band", "bucket"])
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
    )
    cand = cand_nn.unionByName(cand_no).distinct()
    return _jaccard_pairs(sh, cand, arrs=arr).where(F.col("jaccard") >= tau)


def incremental_lsh_sql(tau: float, new_mod: int = 5) -> str:
    """Oracle: the full-run LSH pairs restricted to pairs touching the new
    batch — the exact set the incremental computation must produce."""
    full = minhash_lsh_sql(tau).strip()
    return f"""
WITH full_pairs AS ({full})
SELECT doc_a, doc_b, jaccard FROM full_pairs
WHERE doc_a % {new_mod} = {new_mod - 1} OR doc_b % {new_mod} = {new_mod - 1}
"""


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash per document: bit b = majority of hash-bit b over
    shingles (bit set iff 2*count_of_set_bits > n — identical to the ±1-sum
    sign). The 63 bit-counters pack 4-per-long (15-bit lanes, see
    SIMHASH_NIBBLE_SPREAD): each row contributes a 16-entry nibble-lookup
    word per long and ONE groupBy runs 16 integer SUMs + a COUNT instead of
    63 conditional SUMs. Exact while shingles-per-doc < 2^15."""
    # The hash / nibble-pack / word-assembly stages are built as SQL STRINGS
    # (one selectExpr py4j call per stage), not as Column-DSL trees: the
    # assembly is ~500 expression nodes, and constructing them through the
    # Python DSL costs one py4j round-trip per node — measured 1.8 s per
    # invocation at sf0.1, dwarfing both Catalyst analysis (0.1 s) and the
    # actual execution (0.9 s). String assembly is O(1) round-trips and the
    # JVM-side parse is sub-millisecond; the resulting plan is identical.
    sh = shingles(spark, sf_dir)
    hashed = sh.selectExpr(
        "doc_id",
        *[
            f"pmod({a}L * sid + {b}L, {1 << nb}L) AS h{off}"
            for off, nb, a, b in SIMHASH_WORDS
        ],
    )
    spread = "array(" + ", ".join(f"{v}L" for v in SIMHASH_NIBBLE_SPREAD) + ")"
    packed_exprs = [
        f"element_at({spread}, "
        f"CAST(shiftright(h{off}, {shift}) & 15 AS INT) + 1) AS p{j}"
        for j, (off, shift) in enumerate(_simhash_nibble_sources())
    ]
    packed = hashed.selectExpr("doc_id", *packed_exprs)
    n_longs = len(packed_exprs)
    agged = packed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"p{j}").alias(f"s{j}") for j in range(n_longs)],
    )
    lane_mask = (1 << SIMHASH_LANE_BITS) - 1
    terms = []
    for b in range(SIMHASH_BITS):
        j, lane = b // SIMHASH_LANES, b % SIMHASH_LANES
        cnt = f"(shiftright(s{j}, {SIMHASH_LANE_BITS * lane}) & {lane_mask}L)"
        # branch-free majority bit: (2*cnt > n) <=> (n - 2*cnt) < 0 <=> its
        # sign bit — 63 arithmetic terms compile to far smaller codegen than
        # 63 CASE branches (measured ~1 s faster per pass at sf0.1)
        terms.append(
            f"shiftrightunsigned(n - 2 * {cnt}, 63) * {1 << b}L"
        )
    word = " + ".join(terms)
    # runtime lane guard: a document with >= 2^15 distinct shingles would
    # bleed one packed counter into its neighbor and corrupt the fingerprint
    # SILENTLY — fail loudly instead. n is already in the aggregate, so the
    # check is one comparison per document; the branch is dead code on any
    # corpus satisfying the bound (and the DuckDB twin, which has no packing
    # to protect, needs no counterpart).
    guarded = (
        f"CASE WHEN n >= {1 << SIMHASH_LANE_BITS} THEN "
        "CAST(raise_error('simhash: document exceeds 2^15 distinct shingles;"
        " packed lane counters would overflow - widen SIMHASH_LANE_BITS or"
        " split the document upstream') AS LONG) "
        f"ELSE CAST({word} AS LONG) END AS simhash"
    )
    return agged.selectExpr("doc_id", guarded)


# --------------------------------------------------------- SQL oracle twins --

def ngram_jaccard_sql(tau: float, max_df: int = 10_000) -> str:
    return f"""
WITH {SHINGLES_CTE_SQL},
shc AS (SELECT doc_id, sid FROM sh
        WHERE sid IN (SELECT sid FROM sh GROUP BY sid HAVING COUNT(*) <= {max_df})),
sizesc AS (SELECT doc_id, COUNT(*) AS ns FROM shc GROUP BY 1),
common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
           FROM shc a JOIN shc b ON a.sid = b.sid AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.ns + sb.ns - c) AS jaccard
FROM common JOIN sizesc sa ON sa.doc_id = doc_a JOIN sizesc sb ON sb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (sa.ns + sb.ns - c) >= {tau}
"""


def minhash_lsh_sql(tau: float, rows_per_band: int = 1) -> str:
    weights = [pow(SID_P, j, MERSENNE31) for j in range(rows_per_band)]
    w_case = (
        "(CASE pid % " + str(rows_per_band) + " "
        + " ".join(f"WHEN {j} THEN {w}" for j, w in enumerate(weights))
        + " END)"
    )
    return f"""
WITH {SHINGLES_CTE_SQL},
perms AS (SELECT * FROM {PERMS_VALUES_SQL}),
sig AS (SELECT doc_id, pid, MIN((a * sid + b) % {MERSENNE31}) AS mh
        FROM sh CROSS JOIN perms GROUP BY 1, 2),
bnd AS (SELECT doc_id, pid // {rows_per_band} AS band,
               CAST(SUM((mh * {w_case}) % {MERSENNE31}) % {MERSENNE31}
                    AS BIGINT) AS bucket
        FROM sig GROUP BY 1, 2),
cand AS (SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
         FROM bnd s1 JOIN bnd s2 ON s1.band = s2.band
                      AND s1.bucket = s2.bucket
                      AND s1.doc_id < s2.doc_id),
common AS (SELECT cand.doc_a, cand.doc_b, COUNT(*) AS c
           FROM cand JOIN sh a ON a.doc_id = cand.doc_a
                     JOIN sh b ON b.doc_id = cand.doc_b AND b.sid = a.sid
           GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.ns + sb.ns - c) AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (sa.ns + sb.ns - c) >= {tau}
"""


def simhash_sql() -> str:
    """DuckDB twin of the lane-packed simhash. All divisions are DuckDB's
    integer ``//`` (never float ``/``: a BIGINT/DOUBLE division rounds above
    2^53 and silently corrupts low bits — the round-2 banding bug)."""
    hash_cols = ", ".join(
        f"({a} * sid + {b}) % {1 << nb} AS h{off}" for off, nb, a, b in SIMHASH_WORDS
    )
    spread = "[" + ", ".join(str(v) for v in SIMHASH_NIBBLE_SPREAD) + "]"
    packed_cols = ", ".join(
        f"({spread})[((h{off} // {1 << shift}) % 16) + 1] AS p{j}"
        for j, (off, shift) in enumerate(_simhash_nibble_sources())
    )
    n_longs = len(_simhash_nibble_sources())
    sums = ", ".join(f"CAST(SUM(p{j}) AS BIGINT) AS s{j}" for j in range(n_longs))
    lane_mod = 1 << SIMHASH_LANE_BITS  # % 2^15 == & (2^15 - 1) on non-negatives
    terms = []
    for b in range(SIMHASH_BITS):
        j, lane = b // SIMHASH_LANES, b % SIMHASH_LANES
        cnt = f"((s{j} // {1 << (SIMHASH_LANE_BITS * lane)}) % {lane_mod})"
        terms.append(
            f"(CASE WHEN 2 * {cnt} > n THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        )
    word = " + ".join(terms)
    return f"""
WITH {SHINGLES_CTE_SQL},
hashed AS (SELECT doc_id, {hash_cols} FROM sh),
packed AS (SELECT doc_id, {packed_cols} FROM hashed),
agged AS (SELECT doc_id, COUNT(*) AS n, {sums} FROM packed GROUP BY doc_id)
SELECT doc_id, CAST({word} AS BIGINT) AS simhash FROM agged
"""


def simhash_pairs(spark: SparkSession, sf_dir: str, max_hamming: int) -> DataFrame:
    """SimHash near-dup pairs: band the 63-bit fingerprint into 4 x 16 bits —
    any pair within Hamming distance <= 3 shares at least one intact band
    (pigeonhole), so the candidate join touches only matching buckets; then
    verify exact Hamming distance. The standard simhash dedup layout at scale."""
    sig = simhash(spark, sf_dir)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    # ONE posexplode projection, not a 4-way union of selects: each union
    # branch was a separate consumer of the full simhash subtree (x4, and
    # x8 across the two join sides) and Catalyst re-evaluated the whole
    # shingle pipeline per branch — measured 4x slower than this form
    buckets = F.array(
        *[
            F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            for b in range(4)
        ]
    )
    # one exchange feeds both self-join sides (ReusedExchange) and already
    # satisfies the join's required distribution — without it each side
    # re-runs the banding projection + final simhash aggregation
    bands = sig.select(
        "doc_id", "simhash", F.posexplode(buckets).alias("band", "bucket")
    ).repartition("band", "bucket")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bucket"
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bucket"
    )
    cand = (
        a.join(b2, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_sql(max_hamming: int) -> str:
    # band extraction uses DuckDB integer division (//): float division of a
    # 63-bit BIGINT rounds at 2^53 and corrupted band-0 buckets in round 2
    sig = simhash_sql().strip()
    bb = SIMHASH_BAND_BITS
    div = " ".join(f"WHEN {b} THEN {1 << (b * bb)}" for b in range(4))
    return f"""
WITH sig AS ({sig}),
bands AS (
  SELECT doc_id, simhash, b.band AS band,
         ((simhash // (CASE b.band {div} END)) % {1 << bb})
           AS bucket
  FROM sig CROSS JOIN (SELECT UNNEST(ARRAY[0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.simhash AS sh_a, b2.simhash AS sh_b
  FROM bands a JOIN bands b2
    ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


from raster_processor_spark.checkpoints import (  # noqa: E402
    free_local_checkpoint as _free_local_checkpoint,
)


def connected_components_star(
    edges: DataFrame, max_rounds: int = 64, checkpoint_dir: str | None = None
) -> DataFrame:
    """Connected components via star contraction — each round collapses
    every node's full neighborhood onto its minimum (one simultaneous
    large-star + small-star in the sense of Kiveris et al., "Connected
    Components in MapReduce and Beyond") — (doc_id, cluster_id = min
    reachable id).

    Round: symmetrize the edge set, compute m(u) = min(Γ(u) ∪ {u}), and
    replace every edge (u, v) with (v, m(u)) plus the anchor (u, m(u)).
    Connectivity is preserved (u and v both re-link to m(u)) and distances
    to the component min HALVE per round — a path graph contracts in
    O(log n) rounds, where plain min-label propagation needs diameter
    rounds and silently truncates to wrong labels under a fixed round cap.
    At convergence the edge set is a star per component. Edge tables only;
    per-round cost ~2|E| shuffle rows; stops early when the edge set is
    stable. Each round's result is localCheckpoint-ed: iterative plans nest
    their whole history otherwise and Catalyst re-analysis grows
    exponentially with round count (at cluster scale swap in a
    reliable checkpoint dir — same call shape). The input edge table is
    evaluated exactly once (the e0 checkpoint feeds both the node set and
    round 0), the convergence probe is ONE job per round (signed-union
    symmetric difference — exact on the distinct edge sets, vs the two
    exceptAll shuffles it replaces), and every intermediate round's
    checkpoint blocks are freed as soon as the next round materializes
    (only e0 and the final edge set stay alive for the returned plan).

    ``checkpoint_dir`` switches every round to a RELIABLE checkpoint
    (files under the dir — on a cluster, a fault-tolerant store): the call
    shape is identical, executor loss no longer restarts the whole loop,
    and block-manager freeing is a no-op (the data lives in files; clean
    the dir after the result is consumed)."""
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

        def _free(df: DataFrame) -> None:
            pass  # file-backed; nothing in the block manager to release

    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

        _free = _free_local_checkpoint

    e0 = _ckpt(
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
    )
    nodes = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
    )
    e = e0.where(F.col("u") != F.col("v"))
    prev_ckpt: DataFrame | None = None  # intermediate round to free
    for _ in range(max_rounds):
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", "u").alias("m"))
        relinked = (
            sym.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        anchors = mins.select("u", F.col("m").alias("v"))
        e2 = _ckpt(
            relinked.unionByName(anchors)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ONE job: both sides are distinct sets, so a +1/-1 signed union
        # groupBy finds any symmetric-difference row exactly. No limit(1):
        # the aggregate completes before a limit could stop it, and every
        # limit node generates a fresh counter name, so its stage's class
        # would be compiled again on every round of every run
        changed = (
            e2.withColumn("_s", F.lit(1))
            .unionByName(e.withColumn("_s", F.lit(-1)))
            .groupBy("u", "v")
            .agg(F.sum("_s").alias("_d"))
            .where(F.col("_d") != 0)
            .count()
        )
        if prev_ckpt is not None:
            _free(prev_ckpt)
        prev_ckpt, e = e2, e2
        if changed == 0:
            break
    labels = nodes.join(e, nodes.node == e.u, "left").select(
        F.col("node").alias("doc_id"),
        F.least(F.col("node"), F.coalesce(F.col("v"), F.col("node"))).alias(
            "cluster_id"
        ),
    )
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """Connected components over the near-dup pair graph → (doc_id,
    cluster_id = min doc id reachable). The canonical "keep one per
    near-dup group" step of a training-data pipeline. Runs the
    large-star/small-star rounds (connected_components_star): convergence
    is O(log n) rounds independent of component diameter, so chain-shaped
    components cannot outrun the loop the way they could with plain
    min-label propagation under a fixed round cap."""
    pairs = minhash_lsh_pairs(spark, sf_dir, tau).select("doc_a", "doc_b")
    return connected_components_star(pairs)


def dedup_clusters_sql(tau: float) -> str:
    """DuckDB twin: transitive closure via WITH RECURSIVE (UNION dedups),
    min reachable id per node."""
    lsh = minhash_lsh_sql(tau).strip()
    return f"""
WITH RECURSIVE p AS ({lsh}),
e AS (SELECT doc_a AS u, doc_b AS v FROM p
      UNION ALL SELECT doc_b, doc_a FROM p),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
)
SELECT u AS doc_id, CAST(MIN(v) AS BIGINT) AS cluster_id FROM reach GROUP BY u
"""


def dedup_survivors(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """The terminal dedup output: the corpus with each near-dup cluster
    collapsed to its canonical member (min doc id). Docs in no cluster pass
    through; clustered docs survive iff they ARE the cluster label. This is
    the table a training pipeline actually feeds downstream."""
    docs = _read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    labels = dedup_clusters(spark, sf_dir, tau)
    dropped = labels.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(dropped, "doc_id", "left_anti")


def dedup_survivors_sql(tau: float) -> str:
    clusters = dedup_clusters_sql(tau).strip()
    return f"""
WITH labels AS ({clusters})
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
LEFT JOIN labels l ON d.doc_id = l.doc_id AND l.doc_id <> l.cluster_id
WHERE l.doc_id IS NULL
"""
