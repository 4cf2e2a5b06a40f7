"""Similarity search over embedding columns.

Every Spark path scores candidates through ONE blocked cosine scorer,
``score_blocks``: a cogroup of (block key, query vector) rows against
(block key, neighbour vector) rows, one fold-exact cosine matrix per block,
and a small ``emit`` that picks the rows each block returns.

* brute-force cosine top-k — the exact baseline: one block per corpus
  slice, the query set replicated to every slice, each block's per-query
  top-k, then one global rank window (``_rank_topk``);
* IVF-bucketed ANN — cluster assignment (numpy pandas UDF) + probe-N
  search, blocks keyed by cluster: the candidate join touches only probed
  clusters. On this synthetic UNIFORM corpus recall tracks the probe
  fraction (no cluster structure to exploit), so the default nprobe is
  high; on real clustered corpora the same plan probes a small fraction;
* SRP (hyperplane) LSH ANN — blocks keyed by (band, bucket);
* blocked exact near-dup join — full-recall thresholded similarity at
  matmul speed with bounded replication (no crossJoin): blocks keyed by
  the block pair, each emitting the pairs with cosine >= tau.

Cosine arithmetic is a sequential left-fold with double casts, matching the
DuckDB oracle's list_reduce fold bit-for-bit. Every ordering is (cosine
DESC, id ASC): ``_topk_order`` inside numpy, ``_rank_topk`` in Spark.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from raster_processor_spark.sources.tables import read_parquet as _read_parquet

DIM = 64


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dimension-ordered accumulation: acc = ((0 + p_1) + p_2) + ... — the
    same FP operation sequence as the SQL left-fold, vectorized across pairs
    (a: (na, d), b: (nb, d)) → (na, nb). np.dot would use pairwise/SIMD
    summation and break bit-parity with the oracle."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i][:, None] * b[:, i][None, :]
    return acc


def _seq_norm2(a: np.ndarray) -> np.ndarray:
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i] * a[:, i]
    return acc


_SCORED = "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"

# emit(block key, query ids, neighbour ids, (queries x neighbours) cosine)
# -> the block's (query ids, neighbour ids, cosines) to return
Emit = Callable[
    [tuple, np.ndarray, np.ndarray, np.ndarray],
    tuple[np.ndarray, np.ndarray, np.ndarray],
]


def _cos_rows(m: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(rows x cols) cosine with the fold-exact op order (bit-matches the
    SQL twin: dot fold / (sqrt(norm fold) * sqrt(norm fold)))."""
    return _seq_dot(m, c) / (
        np.sqrt(_seq_norm2(m))[:, None] * np.sqrt(_seq_norm2(c))[None, :]
    )


def _topk_order(
    cos: np.ndarray, ids: np.ndarray, k: int, last: np.ndarray | None = None
) -> np.ndarray:
    """Column indices of each row's top-k of ``cos`` (rows x cols) by
    (cosine DESC, id ASC), cells flagged in ``last`` ranked after all the
    others. np.lexsort is stable and keyed, unlike bare argsort(-cos) whose
    tie order is unspecified; each key keeps its own dtype (int64 ids)."""
    keys = (np.broadcast_to(ids, cos.shape), -cos)
    if last is not None:
        keys += (last,)
    return np.lexsort(keys, axis=1)[:, :k]


def _topk_emit(k: int) -> Emit:
    """Each query's top-k neighbours within one block, self-pairs dropped.

    Pushing the top-k into the block is exact for any blocking in which a
    (query, neighbour) pair occurs at most once per block: the pair carries
    the same cosine in every block that holds it, so a pair in the global
    top-k is in the top-k of each of those blocks."""

    def emit(_key, qids, nids, cos):
        self_pair = nids[None, :] == qids[:, None]
        order = _topk_order(cos, nids, k, last=self_pair)
        rows = np.arange(len(qids))[:, None]
        keep = ~self_pair[rows, order]
        return (
            np.broadcast_to(qids[:, None], order.shape)[keep],
            nids[order][keep],
            cos[rows, order][keep],
        )

    return emit


def score_blocks(q: DataFrame, n: DataFrame, key_cols: list[str], emit: Emit) -> DataFrame:
    """The embedding family's one scorer: q (key_cols..., query_id, qe)
    against n (key_cols..., neighbor_id, ne), block by block →
    (query_id, neighbor_id, cosine) rows chosen by ``emit``.

    Each block's (queries x neighbours) cosine is ONE numpy matrix op with
    the fold-exact sequence, and each embedding crosses the Arrow boundary
    once per block instead of once per pair (a per-pair expression — HOF
    fold or unrolled — evaluates the 64-dim fold millions of times and falls
    out of efficient codegen; measured 4-9x slower at the 10x scale point).

    The cogroup key is a COARSE hash of the block key (a few chunks per
    core), with the exact blocks formed by a pandas groupby inside the
    chunk: cogrouping directly on the block key spawns one Arrow/pandas
    round-trip per block, and with thousands of near-empty blocks that
    per-group overhead dominated (measured 2x at sf0.1 for the SRP
    family). Per-task memory is one chunk plus one block's cosine matrix."""
    coarse = q.sparkSession.sparkContext.defaultParallelism * 4
    g = f"pmod(xxhash64({', '.join(key_cols)}), {coarse}) AS _g"

    def mat(s: pd.Series) -> np.ndarray:
        return np.stack(s.to_numpy()).astype(np.float64)

    def score(qpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        nsubs = dict(iter(npdf.groupby(key_cols, sort=False)))
        out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))]
        for key, qsub in qpdf.groupby(key_cols, sort=False):
            nsub = nsubs.get(key)
            if nsub is not None:
                out.append(emit(
                    key,
                    qsub["query_id"].to_numpy(dtype=np.int64),
                    nsub["neighbor_id"].to_numpy(dtype=np.int64),
                    _cos_rows(mat(qsub["qe"]), mat(nsub["ne"])),
                ))
        qq, nn, cc = (np.concatenate(c) for c in zip(*out))
        return pd.DataFrame({"query_id": qq, "neighbor_id": nn, "cosine": cc})

    return (
        q.selectExpr("*", g).groupBy("_g")
        .cogroup(n.selectExpr("*", g).groupBy("_g"))
        .applyInPandas(score, _SCORED)
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The global (cosine DESC, neighbor_id ASC) rank window over scored
    (query_id, neighbor_id, cosine) rows, cut at rank k."""
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cosine DESC, neighbor_id ASC) AS rank",
        )
        .where(f"rank <= {k}")
        .selectExpr("query_id", "neighbor_id", "cosine",
                    "CAST(rank AS BIGINT) AS rank")
    )


def ann_brute_topk(
    spark: SparkSession, sf_dir: str, k: int, query_mod: int
) -> DataFrame:
    """Exact cosine top-k for the query subset (vec_id % query_mod == 0).

    Fully distributed — the query set is never collected to the driver, so
    a corpus-proportional query set cannot OOM it. The corpus is hashed into
    one slice per core and the query set is replicated to every slice; each
    slice is one ``score_blocks`` block that emits only its per-query top-k
    (a correct superset of the global top-k), and ``_rank_topk`` ranks
    globally over n_slices*k rows per query."""
    e = _read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    par = spark.sparkContext.defaultParallelism
    qs = e.where(f"pmod(vec_id, {query_mod}) = 0").selectExpr(
        f"explode(sequence(0, {par - 1})) AS slice",
        "vec_id AS query_id", "embedding AS qe",
    )
    corpus = e.selectExpr(
        f"CAST(pmod(xxhash64(vec_id), {par}) AS INT) AS slice",
        "vec_id AS neighbor_id", "embedding AS ne",
    )
    return _rank_topk(score_blocks(qs, corpus, ["slice"], _topk_emit(k)), k)


def ann_brute_topk_sql(k: int, query_mod: int) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
        )

    cos = f"{dot('q.embedding', 'n.embedding')} / " \
          f"(sqrt({dot('q.embedding', 'q.embedding')}) * sqrt({dot('n.embedding', 'n.embedding')}))"
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {cos} AS cosine
  FROM embeddings q CROSS JOIN embeddings n
  WHERE q.vec_id % {query_mod} = 0 AND q.vec_id <> n.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


NEAR_DUP_BLOCKS = 8


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >= tau).

    Blocked exact similarity join: at tau this low (near-orthogonal on
    64-dim data, with qualifying pairs straddling the threshold) no LSH /
    IVF candidate scheme can guarantee recall 1, so the scale design is to
    do the full O(n^2) FLOPs at vectorized speed with BOUNDED data movement
    instead of pretending to prune. Vectors are hashed into B =
    NEAR_DUP_BLOCKS blocks; each of the B(B+1)/2 block pairs (ba <= bb) is
    one ``score_blocks`` block that emits only pairs >= tau. A vector in
    block b joins the pairs (b, b..B-1) as a query and (0..b, b) as a
    neighbour, so shuffle volume is n*(B+1) rows — never the n^2 rows of a
    crossJoin — and per-task memory is two blocks plus one tile of the
    cosine matrix. At 100 TB, B scales ~ sqrt(n^2/mem) and the tile
    matmuls are the (unavoidable) compute floor."""
    e = _read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    blk = f"CAST(pmod(xxhash64(vec_id), {NEAR_DUP_BLOCKS}) AS INT)"
    side_a = e.selectExpr(
        f"{blk} AS ba",
        f"explode(sequence({blk}, {NEAR_DUP_BLOCKS - 1})) AS bb",
        "vec_id AS query_id", "embedding AS qe",
    )
    side_b = e.selectExpr(
        f"explode(sequence(0, {blk})) AS ba",
        f"{blk} AS bb",
        "vec_id AS neighbor_id", "embedding AS ne",
    )

    def emit(key, ida, idb, cos):
        ia, ib = np.where(cos >= tau)
        va, vb = ida[ia], idb[ib]
        # both sides hold the same block: keep each unordered pair once;
        # disjoint blocks hold each unordered pair exactly once
        keep = (va < vb) | (key[0] != key[1])
        va, vb = va[keep], vb[keep]
        return np.minimum(va, vb), np.maximum(va, vb), cos[ia, ib][keep]

    return score_blocks(side_a, side_b, ["ba", "bb"], emit).selectExpr(
        "query_id AS vec_a", "neighbor_id AS vec_b", "cosine"
    )


def embedding_near_dup_sql(tau: float) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
        )

    cos = f"{dot('a.embedding', 'b.embedding')} / " \
          f"(sqrt({dot('a.embedding', 'a.embedding')}) * sqrt({dot('b.embedding', 'b.embedding')}))"
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < b.vec_id AND {cos} >= {tau}
"""


# IVF index parameters — corpus-size-scaled. The centroid count grows as
# 4*sqrt(n) (clamped to [16, n/4]); each query probes the nearest quarter of
# the centroids; each CORPUS vector spills into its top-SPILL clusters
# (FAISS/ScaNN-style multiple assignment: index size grows SPILL-fold but
# the probe set stays a fixed fraction — on this structureless uniform
# corpus the measured scan fraction is ~42% for recall ~0.93; clustered
# real corpora prune much harder at the same settings).
IVF_SPILL = 2
IVF_ITERS = 2
IVF_SCALE = 1048576.0  # 2^20: eint = ROUND(v * 2^20) is exact (power of 2)
# k-means trains on the smallest-IVF_SAMPLE_CAP mix-hash rows — a
# deterministic uniform sample (FAISS trains on a bounded sample the same
# way). Below the cap it is a no-op, so small-corpus results are unchanged;
# above it, every training structure (assignment passes, per-centroid
# driver rows) is bounded by the cap instead of growing with the corpus.
IVF_SAMPLE_CAP = 1 << 16
# Centroid count is COUPLED to the bounded training sample: kc <= cap/2^5
# guarantees Lloyd always has >= 32 training rows per centroid, no matter
# the corpus size. Without this cap, 4*sqrt(n) outruns the 2^16-row sample
# beyond n ~ 2.7e8 (one centroid per training row -> Lloyd degenerate) and
# nprobe = kc/4 of the NOMINAL kc silently exceeds the actual centroid
# count, turning the advertised 25% probe into a full-index scan.
IVF_KC_CAP = IVF_SAMPLE_CAP >> 5  # 2048


def ivf_params(n: int) -> tuple[int, int]:
    """(n_centroids, nprobe) from the corpus size. floor(sqrt(double)) on
    both engines — NOT isqrt — so the Spark side and the SQL twin derive
    identical values for any n. kc is clamped to IVF_KC_CAP so it never
    outruns the bounded training sample (>= 32 sample rows per centroid at
    any corpus size); nprobe stays a fixed quarter of the ACTUAL kc."""
    import math

    kc = max(
        16, min(n // 4, 4 * int(math.floor(math.sqrt(float(n)))), IVF_KC_CAP)
    )
    return kc, max(1, kc // 4)


def _topn_cid_udf(bc, n: int):
    """pandas UDF embedding → array<int> of the top-n centroid ids under
    the fold-exact cosine with (cos DESC, cid ASC) ties. ``bc`` is a
    ``sparkContext.broadcast`` of (centroid matrix, cid array): the matrix
    ships to each executor once per app, never re-pickled per task the way
    a closure capture would be (matches plans/regeoloc.py's sensor-track
    broadcast)."""

    @F.pandas_udf("array<int>")
    def _probes(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        centroids, cids = bc.value
        for emb in it:
            cos = _cos_rows(np.stack(emb.to_numpy()).astype(np.float64), centroids)
            yield pd.Series(list(cids[_topk_order(cos, cids, n)].astype(np.int32)))

    return _probes


# Per-app memo of centroid broadcasts: (index key, applicationId) → bc.
# A broadcast belongs to one SparkContext; keying by applicationId makes a
# restarted session re-broadcast instead of reusing a dead handle.
_IVF_BC: dict[tuple[str, str], "object"] = {}


def ann_ivf_topk_sql(
    k: int, query_mod: int, spill: int = IVF_SPILL, iters: int = IVF_ITERS
) -> str:
    """DuckDB twin of ann_ivf_topk: replays EVERYTHING bit-exactly — the
    corpus-size-derived (n_centroids, nprobe) via floor(sqrt(double)), the
    mix-hash seeding, ``iters`` unrolled Lloyd iterations with integerized
    per-dimension sums (exact, order-immune), the spilled corpus assignment,
    the probe set, and the fold-exact cosine scoring with (cosine DESC, id
    ASC) ties. All assignment cosines use the same sequential fold the
    Spark side's _seq_dot vectorizes, so even near-tie centroid orderings
    agree."""
    from raster_processor_spark.operators.sampling import _mix_sql

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> ({a})[i] * ({b})[i]), (x, y) -> x + y)"
        )

    def cos(a: str, b: str) -> str:
        return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"

    ctes = [
        "params AS (SELECT COUNT(*) AS n FROM embeddings)",
        (
            "params2 AS (SELECT n, GREATEST(16, LEAST(n // 4, "
            "4 * CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT), "
            f"{IVF_KC_CAP})) AS kc "
            "FROM params)"
        ),
        "params3 AS (SELECT n, kc, GREATEST(1, kc // 4) AS nprobe FROM params2)",
        (
            "ev AS (SELECT vec_id, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, "
            f"list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * {IVF_SCALE})) AS eint "
            "FROM embeddings)"
        ),
        # the bounded training sample (smallest-cap mix-hash rows) — a no-op
        # below the cap, replayed so the twin matches kmeans_centroids'
        # IVF_SAMPLE_CAP at any corpus size
        (
            "samp AS (SELECT vec_id, e, eint FROM ev "
            f"ORDER BY {_mix_sql('vec_id')}, vec_id LIMIT {IVF_SAMPLE_CAP})"
        ),
        (
            "c0 AS (SELECT cid, e AS ce FROM ("
            f"SELECT ROW_NUMBER() OVER (ORDER BY {_mix_sql('vec_id')}, vec_id) - 1"
            " AS cid, e FROM samp) CROSS JOIN params3 WHERE cid < kc)"
        ),
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        ctes += [
            (
                f"a{i} AS (SELECT vec_id, eint, cid FROM ("
                f"SELECT v.vec_id, v.eint, c.cid, "
                f"ROW_NUMBER() OVER (PARTITION BY v.vec_id "
                f"ORDER BY {cos('v.e', 'c.ce')} DESC, c.cid ASC) AS r "
                f"FROM samp v CROSS JOIN {prev} c) WHERE r = 1)"
            ),
            (
                f"u{i} AS (SELECT cid, UNNEST(eint) AS val, "
                f"UNNEST(generate_series(1, {DIM})) AS d FROM a{i})"
            ),
            f"m{i} AS (SELECT cid, COUNT(*) AS m FROM a{i} GROUP BY 1)",
            (
                f"g{i} AS (SELECT cid, d, CAST(SUM(val) AS BIGINT) AS s "
                f"FROM u{i} GROUP BY 1, 2)"
            ),
            (
                f"c{i} AS (SELECT g.cid, "
                f"list(g.s / (m.m * {IVF_SCALE}) ORDER BY g.d) AS ce "
                f"FROM g{i} g JOIN m{i} m USING (cid) GROUP BY g.cid, m.m)"
            ),
        ]
    fin = f"c{iters}"
    ctes += [
        (
            "corpus AS (SELECT vec_id AS neighbor_id, e AS ne, cid AS cluster "
            "FROM (SELECT v.vec_id, v.e, c.cid, "
            "ROW_NUMBER() OVER (PARTITION BY v.vec_id "
            f"ORDER BY {cos('v.e', 'c.ce')} DESC, c.cid ASC) AS r "
            f"FROM ev v CROSS JOIN {fin} c) WHERE r <= {spill})"
        ),
        (
            "probes AS (SELECT query_id, qe, cluster FROM ("
            "SELECT v.vec_id AS query_id, v.e AS qe, c.cid AS cluster, "
            "ROW_NUMBER() OVER (PARTITION BY v.vec_id "
            f"ORDER BY {cos('v.e', 'c.ce')} DESC, c.cid ASC) AS pr "
            f"FROM ev v CROSS JOIN {fin} c WHERE v.vec_id % {query_mod} = 0"
            ") CROSS JOIN params3 WHERE pr <= nprobe)"
        ),
        (
            "cand AS (SELECT p.query_id, p.qe, n.neighbor_id, n.ne "
            "FROM probes p JOIN corpus n ON p.cluster = n.cluster "
            "WHERE p.query_id <> n.neighbor_id)"
        ),
        (
            "scored AS (SELECT DISTINCT query_id, neighbor_id, "
            f"{cos('qe', 'ne')} AS cosine FROM cand)"
        ),
        (
            "ranked AS (SELECT query_id, neighbor_id, cosine, "
            "ROW_NUMBER() OVER (PARTITION BY query_id "
            "ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)"
        ),
    ]
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}"
    )


# ------------------------------------------------- SRP (hyperplane) LSH -----
# Signed-random-projection LSH — the second ANN family next to IVF: hash
# each vector to sign bits against fixed hyperplanes, band the bits, and
# let candidates be pairs sharing a band bucket (P[bit match] = 1 - θ/π, so
# close vectors collide in some band with high probability). Candidate
# generation is a pure equi-join on (band, bucket) — the same
# shuffle-bounded shape as the text LSH paths, with no centroid training
# at all (the index is stateless: a projection per row).
#
# Exactness: hyperplane weights are fixed INTEGER constants (baked into
# both engines as literals) and vectors are integerized as
# ROUND(v * 2^20), so every dot product is an exact integer (|dot| <
# 2^37 << 2^53 — exact in double too) and the sign bits, buckets, and
# candidate sets are bit-identical across Spark, numpy, and DuckDB.
SRP_PLANES = 64
SRP_BAND_BITS = 8
SRP_BANDS = SRP_PLANES // SRP_BAND_BITS


def _srp_weights() -> list[list[int]]:
    """Deterministic hyperplane weights in [-500, 500] from the engine's
    LCG mix (operators/sampling.py) — plain Python constants, embedded as
    literals in both the Spark plan and the SQL twin (nothing to replay)."""
    P = 2147483647
    rounds = ((1103515245, 12345), (69069, 362437), (1664525, 1013904223))

    def mix(k: int) -> int:
        k %= P
        for a, b in rounds:
            k = (k * a + b) % P
        return k

    return [
        [mix(p * DIM + d + 1) % 1001 - 500 for d in range(DIM)]
        for p in range(SRP_PLANES)
    ]


def _srp_buckets_udf():
    """pandas UDF: embedding → array<int> of the SRP_BANDS band buckets."""
    W = np.array(_srp_weights(), dtype=np.int64)  # (planes, DIM)

    @F.pandas_udf("array<int>")
    def _buckets(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for emb in it:
            m = np.stack(emb.to_numpy()).astype(np.float64) * IVF_SCALE
            # ROUND half-away-from-zero (matches DuckDB ROUND; np.rint
            # would round half-to-even and flip ties)
            eint = np.trunc(m + np.copysign(0.5, m)).astype(np.int64)
            dots = eint @ W.T  # exact: |dot| < 2^37
            bits = (dots >= 0).astype(np.int64)
            bucket = np.zeros((len(eint), SRP_BANDS), dtype=np.int64)
            for p in range(SRP_PLANES):
                b, j = p // SRP_BAND_BITS, p % SRP_BAND_BITS
                bucket[:, b] += bits[:, p] << j
            yield pd.Series([row.astype(np.int32) for row in bucket])

    return _buckets


def ann_srp_topk(
    spark: SparkSession, sf_dir: str, k: int, query_mod: int
) -> DataFrame:
    """Hyperplane-LSH ANN top-k: band-bucket candidates → exact cosine rank.

    Shuffle volume is SRP_BANDS rows per vector for the bucket join plus
    the (deduped, scalar) scored candidates — never all pairs, never a
    training pass. Duplicated (query, neighbor) collisions across bands
    carry identical cosines and are deduped AFTER scoring on scalar rows
    (ids + cosine), so 64-dim arrays never shuffle through a distinct."""
    e = _read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    srp = _srp_buckets_udf()
    bk = e.select(
        "vec_id", "embedding",
        F.posexplode(srp(F.col("embedding"))).alias("band", "bucket"),
    )
    qs = bk.where(f"pmod(vec_id, {query_mod}) = 0").selectExpr(
        "band", "bucket", "vec_id AS query_id", "embedding AS qe"
    )
    ns = bk.selectExpr("band", "bucket", "vec_id AS neighbor_id", "embedding AS ne")
    # the top-k is pushed into each bucket block (exact: a pair occurs at
    # most once per bucket); a pair colliding in several bands carries
    # bit-identical cosines, so the scalar rows dedup after scoring
    scored = score_blocks(qs, ns, ["band", "bucket"], _topk_emit(k)).distinct()
    return _rank_topk(scored, k)


def ann_srp_topk_sql(k: int, query_mod: int) -> str:
    """DuckDB twin: replays the integer hyperplane dots, sign bits, band
    buckets, candidate join, and fold-exact cosine rank bit-for-bit."""
    W = _srp_weights()

    def dot_plane(p: int) -> str:
        # list_dot_product, not a per-element fold: the fold indexes the
        # weight-list literal per element (DuckDB rebuilds it each time —
        # measured 17 s for 500 rows x 64 planes); the native product is
        # instant. Exactness unaffected: products and sums of integers
        # < 2^37 are exact in double in ANY order.
        lit = "[" + ", ".join(f"{w}.0" for w in W[p]) + "]"
        return f"list_dot_product(eint, {lit})"

    bucket_cols = []
    for b in range(SRP_BANDS):
        terms = [
            f"(CASE WHEN {dot_plane(b * SRP_BAND_BITS + j)} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(SRP_BAND_BITS)
        ]
        bucket_cols.append("(" + " + ".join(terms) + f") AS bucket{b}")

    def dot(a: str, c: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> ({a})[i] * ({c})[i]), (x, y) -> x + y)"
        )

    cos = f"{dot('q.e', 'n.e')} / (sqrt({dot('q.e', 'q.e')}) * sqrt({dot('n.e', 'n.e')}))"
    case_bucket = " ".join(
        f"WHEN {b} THEN bucket{b}" for b in range(SRP_BANDS)
    )
    return f"""
WITH ev AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * {IVF_SCALE})) AS eint
  FROM embeddings
),
bucketed AS (SELECT vec_id, e, {", ".join(bucket_cols)} FROM ev),
bands AS (
  SELECT vec_id, e, b.band AS band,
         (CASE b.band {case_bucket} END) AS bucket
  FROM bucketed CROSS JOIN (
    SELECT UNNEST(generate_series(0, {SRP_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {cos} AS cosine
  FROM bands q JOIN bands n
    ON q.band = n.band AND q.bucket = n.bucket
   AND q.vec_id <> n.vec_id
  WHERE q.vec_id % {query_mod} = 0
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def kmeans_centroids(
    e: DataFrame, n_centroids: int, iters: int = IVF_ITERS
) -> tuple[np.ndarray, np.ndarray]:
    """Distributed Lloyd iterations with a deterministic mix-hash seed —
    (centroid matrix, cid array), bit-identical to the SQL twin's replay.

    Seeding: the n_centroids vectors with the smallest LCG mix-hash of
    vec_id (a deterministic uniform sample; at 10^12 scale the k-means||
    oversample-then-reduce pass slots in here with the same hash tape).
    Training corpus: the smallest-IVF_SAMPLE_CAP rows of the SAME hash
    order (one distributed top-k; a no-op below the cap) — so training
    never scans more than the cap no matter the corpus size.
    Update exactness: per-dimension sums run over ROUND(v * 2^20) integers
    (exact — scaling by a power of two), so the sum is order-immune and the
    centroid is one deterministic division. The update aggregates straight
    to assembled centroid VECTORS as a DataFrame (per-(cid,dim) sums →
    array_sort/transform assembly), so driver traffic per iteration is one
    row per centroid — never per-(cid,dim) rows, never corpus rows."""
    from raster_processor_spark.operators.sampling import _mix_col

    from raster_processor_spark.checkpoints import free_local_checkpoint

    hashed = e.select(
        _mix_col(F.col("vec_id")).alias("h"), "vec_id", "embedding"
    )
    # ONE distributed top-k over the corpus, checkpointed: every Lloyd
    # iteration re-reads the materialized sample (≤ cap rows) instead of
    # re-running the top-k; blocks freed before returning
    train = hashed.orderBy("h", "vec_id").limit(IVF_SAMPLE_CAP).localCheckpoint(
        eager=True
    )
    seeds = train.limit(n_centroids).collect()
    assert seeds, "kmeans_centroids: empty corpus — nothing to seed"
    if len(seeds) < n_centroids:
        # a corpus smaller than the kc floor (ivf_params floors kc at 16)
        # seeds fewer centroids — exactly the SQL twin's LIMIT kc behavior
        # (c0 ... WHERE cid < kc yields n rows); degrade identically
        # instead of crashing. For any corpus past the floor the KC_CAP
        # coupling (kc <= cap/2^5 <= sample) guarantees full seeding, so a
        # shortfall there would still surface via the manifest's
        # actual_centroids.
        n_centroids = len(seeds)
    cids = np.arange(len(seeds), dtype=np.int64)
    cmat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in seeds])
    for _ in range(iters):
        bc = e.sparkSession.sparkContext.broadcast((cmat, cids))
        assign = _topn_cid_udf(bc, 1)
        a = train.select(
            F.element_at(assign(F.col("embedding")), 1).alias("cid"), "embedding"
        )
        # ONE job per iteration: per-(cid, dim) integer sums carry the member
        # count for free (each (cid, d) group has exactly the cid's row
        # count); the second groupBy assembles each centroid's dim-ordered
        # vector BEFORE anything reaches the driver
        ex = a.select("cid", F.posexplode("embedding").alias("d", "v"))
        sums = ex.groupBy("cid", "d").agg(
            F.sum(
                F.round(F.col("v").cast("double") * F.lit(IVF_SCALE)).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("m"),
        )
        cent = (
            sums.groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("d", "s"))).alias("ds"),
                F.max("m").alias("m"),
            )
            .select(
                "cid",
                F.transform(
                    "ds", lambda st: st["s"] / (F.col("m") * F.lit(IVF_SCALE))
                ).alias("ce"),
            )
            .orderBy("cid")
            .collect()
        )
        bc.unpersist()
        # driver traffic per iteration is exactly one assembled row per
        # centroid — this is the invariant that keeps the Lloyd loop
        # bounded at any corpus size (empty clusters drop out, so <=)
        assert len(cent) <= n_centroids, (
            f"Lloyd update returned {len(cent)} rows for {n_centroids} "
            "centroids — per-centroid assembly invariant broken"
        )
        cids = np.array([r.cid for r in cent], dtype=np.int64)
        cmat = np.stack(
            [np.asarray(r.ce, dtype=np.float64) for r in cent]
        )  # empty clusters drop out (both engines identically)
    free_local_checkpoint(train)
    return cmat, cids


# In-process memo of loaded indexes: (index key) → (cmat, cids). The
# durable artifact is the SnapshotStore parquet; this just skips re-reading
# it within one session (e.g. bench warm passes, repeated driver queries).
_IVF_MEMO: dict[str, tuple[np.ndarray, np.ndarray]] = {}


def _default_index_root() -> str:
    from raster_processor_spark.sources.snapshots import engine_store_root

    return engine_store_root()


def _corpus_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file/dir: total byte size xor
    a size-weighted name hash. Folded into the snapshot-index key so a
    corpus regenerated IN PLACE with the same row count gets a fresh index
    instead of silently serving stale centroids/postings (the DuckDB twin
    retrains inline, so a stale index breaks oracle parity)."""
    import os
    import zlib

    acc = 0
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                acc ^= (zlib.crc32(fn.encode()) * 31 + st.st_size) & 0xFFFFFFFF
    else:
        acc = os.path.getsize(path) & 0xFFFFFFFF
    return f"{acc:08x}"


def _ivf_index_key(sf_dir: str, n: int, n_centroids: int, spill: int | None = None) -> str:
    """The snapshot key of the centroid index, or with ``spill`` of its
    postings — corpus identity INCLUDING the content fingerprint. The
    _IVF_MEMO, the centroid broadcast and both SnapshotStore tables key off
    it: a key weaker than the fingerprint (e.g. just sf_dir + kc) would
    keep serving stale centroids after the corpus is regenerated in place,
    breaking oracle parity."""
    import os

    kind, s = ("ivf", "") if spill is None else ("ivfpost", f"_s{spill}")
    return (
        f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_n{n}_k{n_centroids}_i{IVF_ITERS}{s}_c{IVF_SAMPLE_CAP}"
        f"_fp{_corpus_fingerprint(f'{sf_dir}/embeddings.parquet')}"
    )


def ivf_index(spark: SparkSession, sf_dir: str) -> tuple[object, int, int, int]:
    """Build-once / probe-many IVF centroid index → (broadcast of (cmat,
    cids), n, n_centroids, nprobe).

    The trained centroids are committed to a SnapshotStore table keyed by
    (corpus basename, row count, params) — the first call trains
    (kmeans_centroids, bounded-sample) and commits; every later call, in
    any process, reads the k×dim parquet back instead of re-running the
    two full Lloyd passes. This is the amortization a real IVF deployment
    has: training is an index-BUILD cost, not a per-query cost. Parquet
    doubles round-trip bit-exactly, so a loaded index scores identically
    to a freshly trained one (the DuckDB twin replays training inline and
    still matches). The broadcast is one per index per app, shared by the
    postings build and the query probes."""
    from raster_processor_spark.sources.tables import parquet_row_count
    from raster_processor_spark.sources.snapshots import SnapshotStore

    corpus_path = f"{sf_dir}/embeddings.parquet"
    n = parquet_row_count(corpus_path)
    n_centroids, nprobe = ivf_params(n)
    key = _ivf_index_key(sf_dir, n, n_centroids)
    if key not in _IVF_MEMO:
        store = SnapshotStore(_default_index_root())
        # mutable on purpose: compute() fills in the ACTUAL post-dropout
        # centroid count and probe fraction before the manifest is written
        # (resume_or_compute commits after compute() returns)
        metrics = {"n": n, "n_centroids": n_centroids, "iters": IVF_ITERS}

        def compute() -> DataFrame:
            e = _read_parquet(spark, corpus_path)
            cmat, cids = kmeans_centroids(e, n_centroids)
            metrics["actual_centroids"] = int(len(cids))
            metrics["probe_fraction"] = round(
                min(max(1, n_centroids // 4), len(cids)) / len(cids), 4
            )
            return spark.createDataFrame(
                [
                    (int(c), [float(x) for x in row])
                    for c, row in zip(cids, cmat)
                ],
                "cid BIGINT, ce ARRAY<DOUBLE>",
            )

        cdf = store.resume_or_compute(spark, key, compute, metrics=metrics)
        rows = cdf.orderBy("cid").collect()
        _IVF_MEMO[key] = (
            np.stack([np.asarray(r.ce, dtype=np.float64) for r in rows]),
            np.array([r.cid for r in rows], dtype=np.int64),
        )
    cmat, cids = _IVF_MEMO[key]
    sc = spark.sparkContext
    bc_key = (key, sc.applicationId)
    if bc_key not in _IVF_BC:
        _IVF_BC[bc_key] = sc.broadcast((cmat, cids))
    # nprobe is derived from the NOMINAL kc; empty-cluster dropout can leave
    # fewer actual centroids. Clamp so the advertised probe fraction can
    # never silently exceed 1.0 of the real index.
    return _IVF_BC[bc_key], n, n_centroids, min(nprobe, len(cids))


def ivf_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF postings list — every corpus vector indexed under its top
    IVF_SPILL clusters — committed once per (corpus, params) to the
    SnapshotStore and re-read by every query thereafter. This is the other
    half of the build-once index: at corpus scale the postings table IS the
    ANN index (spill×n rows, hive-partitionable by cluster), and queries
    must only probe it, never re-derive it. Parquet round-trips the float
    embeddings bit-exactly, so probing the stored postings scores
    identically to a freshly assigned corpus."""
    from raster_processor_spark.sources.snapshots import SnapshotStore

    bc, n, n_centroids, _ = ivf_index(spark, sf_dir)
    key = _ivf_index_key(sf_dir, n, n_centroids, IVF_SPILL)
    store = SnapshotStore(_default_index_root())

    def compute() -> DataFrame:
        e = _read_parquet(spark, f"{sf_dir}/embeddings.parquet")
        return e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ne"),
            F.explode(
                _topn_cid_udf(bc, IVF_SPILL)(F.col("embedding"))
            ).alias("cluster"),
        )

    return store.resume_or_compute(
        spark, key, compute,
        lineage_cols={"cell": "cluster"},
        metrics={"n": n, "spill": IVF_SPILL},
    )


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, k: int, query_mod: int
) -> DataFrame:
    """IVF ANN, production-shaped: corpus-size-scaled centroid count
    (ivf_params: 4*sqrt(n) centroids, nprobe = centroids/4), k-means-trained
    centroids loaded from the build-once snapshot index (ivf_index — no
    training pass inside the query after the first build), and spilled
    corpus assignment (each vector indexed under its top IVF_SPILL
    clusters) so the fixed 25% probe fraction reaches recall >= 0.9 even on
    a structureless corpus. Deterministic end-to-end — the SQL twin replays
    seeding, Lloyd iterations, spill, probes, and scoring bit-exactly.
    Queries stay a distributed DataFrame throughout."""
    e = _read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    bc, _, _, nprobe = ivf_index(spark, sf_dir)
    corpus = ivf_postings(spark, sf_dir)
    qs = e.where(f"pmod(vec_id, {query_mod}) = 0").selectExpr(
        "vec_id AS query_id", "embedding AS qe"
    )
    qp = qs.withColumn(
        "cluster", F.explode(_topn_cid_udf(bc, nprobe)("qe"))
    )
    # Scoring is blocked by cluster (score_blocks; measured 28 s -> ~3 s vs
    # per-pair expression scoring at the 20k-vector scale point), with the
    # top-k pushed into each block: a pair occurs at most once per cluster.
    # At larger scale a hot cluster's cogroup task is bounded by salting the
    # cluster key on both sides. Spill means a (query, neighbor) pair can
    # collide in several probed clusters — the duplicates carry
    # bit-identical cosines (same two vectors, same op order in every
    # block), so dedup the SCALAR rows after scoring.
    scored = score_blocks(
        qp, corpus.selectExpr("cluster", "neighbor_id", "ne"), ["cluster"],
        _topk_emit(k),
    ).distinct()
    return _rank_topk(scored, k)
