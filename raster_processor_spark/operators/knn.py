"""Cell-local kNN via sorted ring expansion (north star: "cell-local kNN via
sorted H3 k-ring expansion"; reference analogue: nearest-cell gather,
geoloc_raster.py:72-76, and nearest-grid interpolation,
make_raster_region_maps.py:112-117).

One driver (_knn) runs the algorithm on either of two cell grids; a _Grid
supplies only what differs between them (binning, probe cells, disk
offsets, resolve bound, density-chosen resolution):

  1. assign every point its cell at a density-chosen resolution — a
     square quadcell (QUAD) or a pointy-top axial hexcell (HEX) — and give
     the corpus side one composite ``cell`` id;
  2. for ring radius R in an escalating schedule: explode each unresolved
     query's disk(R) offsets, equi-join candidates on cell id, then ONE
     window pass computes rank, candidate count, and the kth distance — a
     query is resolved iff it has >= k candidates AND its kth distance is
     strictly inside the grid's bound for R (any point outside disk(R) is
     provably farther than that bound — the correctness guarantee);
  3. the unresolved tail (sparse regions) falls back to a broadcast
     brute-force pass — bounded, tiny at scale.

Each phase's accepted set has two consumers (the output union and the next
phase's anti-join), so it is materialized once at plan-build time with
``localCheckpoint(eager=True)``: one job per phase, per-query-bounded
blocks (k·|queries| rows of 4 scalars) that are not CacheManager entries
and are released by ContextCleaner once the caller drops the result. When
the exact point count n is known (``n_hint`` or an eager count), the
accepted row count is checked against n·k after each phase: at n·k every
query is resolved and the remaining phases and the brute tail are skipped;
above n·k the hint was wrong and the call raises.

Hot cells (occupancy > HOT_CELL_CAP) make ring candidates quadratic in
their membership; above HOT_SPLIT_MIN_ROWS points, queries in hot cells
re-run the same exact schedule at res + HOT_RES_DELTA. Both branches are
independently exact, so their union is too; their build-time phase jobs
run on two driver threads so one branch's scheduling tail overlaps the
other's tasks.

Distance: planar squared degrees (dx*dx + dy*dy) — a single-rounding double
expression, bit-identical in Spark / DuckDB / numpy, deterministic ties by
neighbor key. The candidate join is an equi-join on cell ids (bucket-aligned
when the corpus is a committed bucketed table, see knn_join); disk(R)
explode multiplies the QUERY side only, and each ring round is one shuffle
(rank/count/kth fuse into a single Exchange). The brute tail is a
BroadcastNestedLoopJoin on the query side only (never a CartesianProduct).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raster_processor_spark import cellindex as ci
from raster_processor_spark.functions.cells import hex_bins_expr, quad_bins_expr
from raster_processor_spark.functions.literals import sql_double
from raster_processor_spark.sources.tables import const_df

# Hot-cell split (two-level grid): a cell whose occupancy exceeds
# HOT_CELL_CAP makes ring candidates QUADRATIC in its membership (measured:
# the fixture's hot box at sf1 put ~625 points/cell at the density-chosen
# res → 26M ring-3 candidates for 50k queries, 500+ per query). The
# occupancy table is one map-side-combined agg over the corpus and the
# hot-cell set is a broadcast.
HOT_CELL_CAP = 64
HOT_RES_DELTA = 3
# The split's fixed cost (occupancy scan + a second branch in the plan)
# only pays once a hot cell's quadratic term can dominate: with ~10% of
# points in a hot box, extra candidates ~ (0.1 n)^2 crosses the ring
# schedule's own cost around n ~ 2*10^4. Below the gate the base schedule
# is strictly faster and its worst case is bounded by a small n^2.
HOT_SPLIT_MIN_ROWS = 16384


@dataclass(frozen=True)
class _Grid:
    """What differs between the two grids; the bins (functions/cells.py, the
    engine's one Spark-side encoder, so both join sides bin alike) are
    called b0 and b1 and the disk offsets d0 and d1 in the generated SQL."""

    name: str
    bins: Callable[[int], tuple[str, str]]  # res -> (b0, b1) SQL over lat/lon
    cell: Callable[[int, str, str], str]  # (res, b0, b1) -> composite id SQL
    probe: Callable[[int], tuple[str, str | None]]  # res -> (cell, keep filter)
    disk_offsets: Callable[[int], object]  # ring -> (d0, d1) rows
    bound: Callable[[int, float], float]  # (ring, cell size) -> resolve radius
    density_res: Callable[[int], int]  # point count -> resolution

    def corpus(self, points: DataFrame, res: int) -> DataFrame:
        """(nkey, nlat, nlon, cell) — the candidate side of every ring
        phase; also the table a bucketed layout commits once per res."""
        b0, b1 = self.bins(res)
        return points.selectExpr(
            "key AS nkey", "lat AS nlat", "lon AS nlon",
            f"{self.cell(res, b0, b1)} AS cell",
        )


def density_res(n: int) -> int:
    """Quadcell resolution for ~0.6 points per cell: with disk(3) = 49 cells
    that is ~30 candidates per query, an order of magnitude less window
    work than denser grids (measured 3-5x faster than ~8/cell)."""
    return max(2, min(12, int(math.log2(max(n, 16) / 0.6) / 2)))


def _quad_cell(res: int, yb: str, xb: str) -> str:
    return f"({yb}) * {1 << (res + 1)} + ({xb})"


def _quad_probe(res: int) -> tuple[str, str]:
    # longitude wraps, latitude rows outside [0, ny) are dropped
    ny, nx = 1 << res, 1 << (res + 1)
    return (
        _quad_cell(res, "b0 + d0", f"pmod(b1 + d1, {nx})"),
        f"b0 + d0 >= 0 AND b0 + d0 < {ny}",
    )


# composite single-column hex cell id: axial coords are bounded by the
# lon/lat extents over the smallest cell size (res 12 → |q|,|r| < 2^13),
# so (q + 2^19) * 2^20 + (r + 2^19) is collision-free
_HEX_OFF = 1 << 19
_HEX_MUL = 1 << 20


def _hex_cell(res: int, qb: str, rb: str) -> str:
    return f"(({qb}) + {_HEX_OFF}) * {_HEX_MUL} + ({rb}) + {_HEX_OFF}"


def _hex_density_res(n: int) -> int:
    # ~0.6 points per hex cell NOMINALLY — then one level finer once the
    # corpus is large: points cluster in bands, so the occupancy of
    # OCCUPIED cells runs ~4x the global average, and hex cells are 2.6x
    # the area of quad cells at equal res (measured at the 10x scale point:
    # res+1 halves the ring-3 candidate volume while the ring schedule
    # still resolves >99% of sparse queries in the first phase). Below the
    # gate the coarser grid's candidate volume is already small and the
    # finer grid only adds unresolved stragglers.
    s_target = math.sqrt(64800.0 * 0.6 / (2.598 * max(n, 16)))
    bump = 1 if n >= HOT_SPLIT_MIN_ROWS else 0
    return max(2, min(12, round(math.log2(180.0 / s_target)) + bump))


# Quadcells are square in degrees, so a Chebyshev ring R bounds euclidean
# distance: any point outside disk(R) is > R*s away.
QUAD = _Grid(
    name="quad",
    bins=quad_bins_expr,
    cell=_quad_cell,
    probe=_quad_probe,
    disk_offsets=ci.quad_disk_offsets,
    bound=lambda ring, s: ring * s,
    density_res=density_res,
)

# Hex centers at graph distance d are >= 1.5*size*d apart (|c|^2 =
# 3*size^2*(q^2+qr+r^2) and q^2+qr+r^2 >= (3/4)*d^2 — tight at knight-move
# cells like (2,-1); enumeration test in tests/). Any point outside disk(R)
# sits in a cell at distance >= R+1 and each point is within one
# circumradius of its center, so its separation from the query is
# >= (1.5*(R+1) - 2)*size. No longitude wrap: the hex grid is planar,
# matching the planar metric of the oracle, so a wrapped near-dateline
# neighbor is far in the metric and omitting it cannot change the answer.
HEX = _Grid(
    name="hex",
    bins=hex_bins_expr,
    cell=_hex_cell,
    probe=lambda res: (_hex_cell(res, "b0 + d0", "b1 + d1"), None),
    disk_offsets=ci.hex_disk_offsets,
    bound=lambda ring, s: (1.5 * (ring + 1) - 2.0) * s,
    density_res=_hex_density_res,
)


# shared by the ring phases and the brute tail: same distance, same ties
_DIST2 = "(nlon - qlon) * (nlon - qlon) + (nlat - qlat) * (nlat - qlat) AS dist2"
_RANK = (
    "row_number() OVER (PARTITION BY qkey ORDER BY dist2 ASC, nkey ASC) AS rank"
)


def _union(a: DataFrame | None, b: DataFrame | None) -> DataFrame | None:
    if a is None:
        return b
    return a if b is None else a.unionByName(b)


def _all_resolved(rows: int, n: int, k: int) -> bool:
    """An accepted query contributes exactly k rows, so n·k accepted rows
    prove every query resolved. More than n·k can only mean the caller's
    point count was too small."""
    if rows > n * k:
        raise ValueError(
            f"kNN n_hint={n} is below the true point count: the ring phases"
            f" accepted {rows} rows, more than n_hint*k = {n * k}"
        )
    return rows == n * k


def _ring_phases(
    grid: _Grid, queries: DataFrame, corpus: DataFrame, res: int,
    rings: tuple[int, ...], k: int, n_exact: int | None = None,
):
    """Run the escalating ring schedule at one resolution. ``queries`` has
    (key, lat, lon, b0, b1) binned at ``res``; returns (accepted rows
    (qkey, nkey, dist2, rank) or None, unresolved queries — or None when
    ``n_exact`` proves every query resolved, see _all_resolved)."""
    spark = queries.sparkSession
    s = 180.0 / (1 << res)
    probe_cell, keep = grid.probe(res)
    unresolved = queries
    accepted: DataFrame | None = None
    resolved_total = 0
    for ring in rings:
        offs = const_df(
            spark, ("knn_offsets", grid.name, ring),
            lambda: [(int(a), int(b)) for a, b in grid.disk_offsets(ring)],
            "d0 BIGINT, d1 BIGINT",
        )
        # SQL-string stages (one py4j call per stage) and early projection:
        # only (qkey, nkey, dist2) enter the rank window's exchange
        probes = unresolved.selectExpr(
            "key AS qkey", "lat AS qlat", "lon AS qlon", "b0", "b1"
        ).crossJoin(F.broadcast(offs))
        if keep is not None:
            probes = probes.where(keep)
        cand = (
            probes.selectExpr("qkey", "qlat", "qlon", f"{probe_cell} AS cell")
            .join(corpus, ["cell"], "inner")
            .where("qkey != nkey")
        )
        scored = cand.selectExpr("qkey", "nkey", _DIST2)
        # ONE shuffle: rank + count + kth-distance over the same partitioning
        limit = grid.bound(ring, s)
        limit = limit * limit
        ranked = scored.selectExpr(
            "qkey", "nkey", "dist2", _RANK,
            "count(1) OVER (PARTITION BY qkey) AS _cnt",
        ).selectExpr(
            "qkey", "nkey", "dist2", "rank", "_cnt",
            f"max(CASE WHEN rank <= {k} THEN dist2 END)"
            " OVER (PARTITION BY qkey) AS _kth",
        )
        got = ranked.where(
            f"_cnt >= {k} AND _kth < {sql_double(limit)} AND rank <= {k}"
        ).select("qkey", "nkey", "dist2", "rank").localCheckpoint(eager=True)
        accepted = _union(accepted, got)
        if n_exact is not None:
            resolved_total += got.count()
            if _all_resolved(resolved_total, n_exact, k):
                return accepted, None
        resolved_keys = got.selectExpr("qkey AS key").distinct()
        unresolved = unresolved.join(resolved_keys, "key", "left_anti")
    return accepted, unresolved


def _knn(
    grid: _Grid, points: DataFrame, k: int, res: int | None,
    rings: tuple[int, ...], n_hint: int | None,
    corpus_table: Callable[[int], str] | None, hot_cap: int | None,
) -> DataFrame:
    spark = points.sparkSession
    pts = points.select("key", "lat", "lon")
    n = n_hint
    if res is None:
        if n is None:
            n = pts.count()
        res = grid.density_res(n)

    def corpus_at(r: int) -> tuple[DataFrame, DataFrame]:
        """(corpus, its candidate-join side) at resolution r. A committed
        bucketed corpus is read bucket-aligned; the merge hint pins the
        sort-merge path so the layout is used even at toy scale where a
        broadcast would otherwise win."""
        if corpus_table is None:
            corpus = grid.corpus(pts, r)
            return corpus, corpus
        corpus = spark.table(corpus_table(r))
        return corpus, corpus.hint("merge")

    def binned(df: DataFrame, r: int) -> DataFrame:
        b0, b1 = grid.bins(r)
        return df.selectExpr("key", "lat", "lon", f"{b0} AS b0", f"{b1} AS b1")

    indexed = binned(pts, res)
    corpus, corpus_join = corpus_at(res)

    fres = min(12, res + HOT_RES_DELTA)
    if hot_cap is not None and fres > res and (
        n is None or n >= HOT_SPLIT_MIN_ROWS
    ):
        occ = corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("_occ"))
        hot_cells = F.broadcast(occ.where(f"_occ > {hot_cap}").select("cell"))
        q_cell = indexed.withColumn("cell", F.expr(grid.cell(res, "b0", "b1")))
        q_sparse = q_cell.join(hot_cells, "cell", "left_anti").drop("cell")
        q_hot = binned(q_cell.join(hot_cells, "cell", "left_semi"), fres)
        _, corpus_f = corpus_at(fres)
        with ThreadPoolExecutor(max_workers=2) as pool:
            sparse = pool.submit(
                _ring_phases, grid, q_sparse, corpus_join, res, rings, k
            )
            hot = pool.submit(_ring_phases, grid, q_hot, corpus_f, fres, rings, k)
            (acc_s, un_s), (acc_h, un_h) = sparse.result(), hot.result()
        accepted = _union(acc_s, acc_h)
        unresolved = un_s.unionByName(un_h)
        # the per-branch query counts are unknown, so the resolved check
        # runs once over both branches' materialized blocks
        if n is not None and accepted is not None:
            if _all_resolved(accepted.count(), n, k):
                unresolved = None
    else:
        accepted, unresolved = _ring_phases(
            grid, indexed, corpus_join, res, rings, k, n_exact=n
        )

    if unresolved is not None:
        # brute-force tail for the stragglers: broadcast the query side
        # (tiny by construction); AQE propagates the empty relation when
        # there are none
        q = unresolved.selectExpr("key AS qkey", "lat AS qlat", "lon AS qlon")
        tail = (
            F.broadcast(q).crossJoin(corpus.select("nkey", "nlat", "nlon"))
            .where("qkey != nkey")
            .selectExpr("qkey", "nkey", _DIST2)
            .selectExpr("qkey", "nkey", "dist2", _RANK)
            .where(f"rank <= {k}")
        )
        # rings=() => every query is in the brute tail, nothing was accepted
        accepted = _union(accepted, tail)

    return accepted.selectExpr(
        "qkey AS key", "nkey AS neighbor_key", "dist2",
        "CAST(rank AS BIGINT) AS rank",  # BIGINT like the oracle
    )


def knn_join(
    points: DataFrame,
    k: int,
    res: int | None = None,
    rings: tuple[int, ...] = (3, 12),
    n_hint: int | None = None,
    corpus_table: Callable[[int], str] | None = None,
    hot_cap: int | None = HOT_CELL_CAP,
) -> DataFrame:
    """points: DataFrame(key, lat, lon) → (key, neighbor_key, dist2, rank)
    over the quadcell grid.

    ``res`` defaults to density_res of the row count. The count comes from
    ``n_hint`` (parquet_row_count / snapshot manifest — metadata only);
    only when the caller supplies neither ``res`` nor ``n_hint`` does the
    function fall back to an eager pts.count(), a full extra scan. A given
    ``n_hint`` must be the EXACT row count: it also feeds the
    all-resolved short-circuit, which raises ValueError when the hint is
    provably too small (see _all_resolved).

    ``corpus_table`` maps a resolution to the name of a committed
    bucketed table of ``QUAD.corpus(points, res)`` bucketed on ``cell``
    (sources/snapshots.bucketed_table): every ring phase then scans the
    corpus bucket-aligned, with no Exchange on the corpus side. It is
    called for the hot-cell split's finer resolution too, but only when
    the split engages. ``hot_cap=None`` disables the split."""
    return _knn(QUAD, points, k, res, rings, n_hint, corpus_table, hot_cap)


def knn_hex_join(
    points: DataFrame,
    k: int,
    res: int | None = None,
    rings: tuple[int, ...] = (3, 12),
    n_hint: int | None = None,
    hot_cap: int | None = HOT_CELL_CAP,
) -> DataFrame:
    """kNN over H3-style hex k-rings (the north star's literal phrasing) —
    same contract and EXACT same output as knn_join, different index
    geometry (see HEX for the resolve bound)."""
    return _knn(HEX, points, k, res, rings, n_hint, None, hot_cap)


def knn_sql(points_sql: str, k: int) -> str:
    """DuckDB oracle: exact brute-force kNN with identical distance and ties.

    ``points_sql`` must yield (key, lat, lon).
    """
    return f"""
WITH pts AS ({points_sql}),
pairs AS (
  SELECT q.key AS key, n.key AS neighbor_key,
         (n.lon - q.lon) * (n.lon - q.lon) + (n.lat - q.lat) * (n.lat - q.lat) AS dist2
  FROM pts q CROSS JOIN pts n
  WHERE q.key <> n.key
),
ranked AS (
  SELECT key, neighbor_key, dist2,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY dist2 ASC, neighbor_key ASC) AS rank
  FROM pairs
)
SELECT key, neighbor_key, dist2, rank FROM ranked WHERE rank <= {k}
"""
