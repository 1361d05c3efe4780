"""Spatial joins via uniform grid bucketing.

Spark has no native spatial join; the standard distributed layout (the
one GeoSpark/Apache Sedona, PostGIS bitmap heaps, and every map-reduce
spatial paper converge on) is GRID BUCKETING: snap each point to a cell
of side ``cell = radius``, explode ONE side to its 3×3 neighborhood, and
equi-join on the cell id — every pair within ``radius`` is guaranteed to
meet (a point's neighbors live in its own or an adjacent cell when the
cell side ≥ the radius), each candidate pair meets EXACTLY ONCE (the
right point's single cell is one specific member of the left point's
neighborhood), and the residual distance predicate filters candidates to
true matches. Exact recall, no all-pairs product anywhere.

Metric: planar euclidean on the raw (x, y) columns — callers with
lat/lon project first (at city scale, equirectangular x = lon·cos(lat₀)
is the standard cheap projection); a haversine residual would bolt on
the same way. The planar form keeps the oracle brute-force replay
bit-exact (same sqrt/abs expression order both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from projectdatalake_spark.session import local_frame


def grid_radius_join(
    points: DataFrame,
    radius: float,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """All pairs of ``points`` within euclidean ``radius`` (self-join,
    ``id1 < id2``), via the 3×3 grid-neighborhood equi-join. Returns
    (id1, id2, dist).

    100 TB: the left side fans out ×9 on the CELL GRAIN and the join is
    a plain equi shuffle on cell id; per-cell work is quadratic only in
    that cell's occupancy (density-bounded, like every spatial index),
    never in the dataset. Skewed hotspots salt like any other hot key —
    ``grid_radius_join_salted`` is that claim as code (targeted hot-cell
    salting, equality- and distribution-gated).
    """
    cell_x = F.floor(F.col(x_col) / F.lit(radius))
    cell_y = F.floor(F.col(y_col) / F.lit(radius))
    base = points.select(
        F.col(id_col), F.col(x_col).alias("__x"), F.col(y_col).alias("__y"),
        cell_x.alias("__cx"), cell_y.alias("__cy"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    neigh = base.select(
        F.col(id_col), "__x", "__y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("__cx") + F.lit(dx)).alias("cx"),
                        (F.col("__cy") + F.lit(dy)).alias("cy"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("c"),
    ).select(
        F.col(id_col).alias("id1"),
        F.col("__x").alias("x1"), F.col("__y").alias("y1"),
        F.col("c.cx").alias("__cx"), F.col("c.cy").alias("__cy"),
    )
    right = base.select(
        F.col(id_col).alias("id2"),
        F.col("__x").alias("x2"), F.col("__y").alias("y2"),
        "__cx", "__cy",
    )
    dist = F.sqrt(
        (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2"))
        + (F.col("y1") - F.col("y2")) * (F.col("y1") - F.col("y2"))
    )
    return (
        neigh.join(right, ["__cx", "__cy"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", dist.alias("dist"))
        .filter(F.col("dist") <= F.lit(radius))
    )


def grid_radius_join_salted(
    points: DataFrame,
    radius: float,
    n_salt: int = 8,
    hot_threshold: int = 1000,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """``grid_radius_join`` with HOT-CELL SALTING — the proof of the
    plain form's "skewed hotspots salt like any other hot key" claim:
    cells whose occupancy exceeds ``hot_threshold`` (a real-world
    downtown in a city-scale radius join) would otherwise send their
    entire quadratic pair workload to ONE reducer; here the right side
    of each hot cell splits into ``n_salt`` deterministic salt groups
    (``xxhash64(id) mod n_salt``) and the left neighborhood rows
    replicate across all of them, so the join key becomes
    (cx, cy, salt) and the hot cell's work spreads over ``n_salt``
    tasks. Cold cells keep salt 0 on both sides — no extra fan-out
    where there is no skew (targeted salting, the manual twin of AQE's
    skew-join split). Each pair still meets exactly once: the right
    row's (cell, salt) is a single key, and the left row visits every
    salt of that cell. Result EXACTLY equals ``grid_radius_join``
    (equality + distribution gates in tests/test_scale_ops.py).

    100 TB: occupancy counting is one cell-grain aggregate (tiny,
    broadcast back); the ×n_salt replication applies ONLY to rows whose
    neighborhood touches a hot cell, bounded by n_salt × hot share."""
    cell_x = F.floor(F.col(x_col) / F.lit(radius))
    cell_y = F.floor(F.col(y_col) / F.lit(radius))
    base = points.select(
        F.col(id_col), F.col(x_col).alias("__x"), F.col(y_col).alias("__y"),
        cell_x.alias("__cx"), cell_y.alias("__cy"),
    )
    hot = (
        base.groupBy("__cx", "__cy")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > hot_threshold)
        .select("__cx", "__cy", F.lit(True).alias("__hot"))
    )
    right = (
        base.select(
            F.col(id_col).alias("id2"),
            F.col("__x").alias("x2"), F.col("__y").alias("y2"),
            "__cx", "__cy",
        )
        .join(F.broadcast(hot), ["__cx", "__cy"], "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__hot").isNotNull(),
                F.pmod(F.xxhash64(F.col("id2")), F.lit(n_salt)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("__hot")
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    neigh = (
        base.select(
            F.col(id_col).alias("id1"),
            F.col("__x").alias("x1"), F.col("__y").alias("y1"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("__cx") + F.lit(dx)).alias("cx"),
                            (F.col("__cy") + F.lit(dy)).alias("cy"),
                        )
                        for dx, dy in offsets
                    ]
                )
            ).alias("c"),
        )
        .select(
            "id1", "x1", "y1",
            F.col("c.cx").alias("__cx"), F.col("c.cy").alias("__cy"),
        )
        .join(F.broadcast(hot), ["__cx", "__cy"], "left")
        .withColumn(
            "__salts",
            F.when(
                F.col("__hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(n_salt - 1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("__salt", F.explode("__salts"))
        .withColumn("__salt", F.col("__salt").cast("int"))
        .drop("__hot", "__salts")
    )
    dist = F.sqrt(
        (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2"))
        + (F.col("y1") - F.col("y2")) * (F.col("y1") - F.col("y2"))
    )
    return (
        neigh.join(right, ["__cx", "__cy", "__salt"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", dist.alias("dist"))
        .filter(F.col("dist") <= F.lit(radius))
    )


def grid_knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    cell: float,
    max_rings: int = 8,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    max_query_rows: int = 1_000_000,
) -> DataFrame:
    """k nearest neighbors of each query point among ``points`` by
    EXPANDING GRID RINGS: candidates come from the query's (2R+1)²
    neighborhood at the smallest ring count R whose GUARANTEED-covered
    radius (R·cell) can hold k neighbors for every query; correctness is
    enforced per-row — a neighbor counts only while ``dist ≤ R·cell``
    (anything beyond could be beaten by a point in ring R+1). Queries
    that cannot prove k neighbors within ``max_rings`` are WHOLLY ABSENT
    from the result (no rows at all — partial neighbors found at the
    last R are discarded, not emitted): callers detect under-coverage by
    a missing id1, never by a short row count, and raise ``max_rings``
    or ``cell`` to cover. Deterministic ties: (dist, id2). Returns
    (id1, id2, dist, rank).

    The ring expansion is DRIVER-side doubling (R = 1, 2, 4, ...): each
    attempt is one equi-join at cell grain; unresolved queries re-run at
    the next R (geometrically few attempts; at most log₂(max_rings)+1
    joins). The solved/remaining bookkeeping broadcasts id sets at the
    QUERY grain, so the query side must stay bounded — ``max_query_rows``
    turns a contract breach into a loud error instead of a broadcast OOM
    (the ivf_search guard pattern)."""
    from pyspark.sql import Window

    n_queries = queries.limit(max_query_rows + 1).count()
    if n_queries > max_query_rows:
        raise ValueError(
            f"grid_knn_join query set exceeds max_query_rows="
            f"{max_query_rows}; solved/remaining id sets broadcast at "
            "query grain — pass a larger max_query_rows only if "
            "executors can hold the id set, or partition the query set "
            "into bounded chunks"
        )

    base = points.select(
        F.col(id_col).alias("id2"),
        F.col(x_col).alias("x2"), F.col(y_col).alias("y2"),
        F.floor(F.col(x_col) / F.lit(cell)).alias("__cx"),
        F.floor(F.col(y_col) / F.lit(cell)).alias("__cy"),
    )
    remaining = queries.select(
        F.col(id_col).alias("id1"),
        F.col(x_col).alias("x1"), F.col(y_col).alias("y1"),
    )
    spark = points.sparkSession
    out = None
    R = 1
    while R <= max_rings:
        # neighborhood offsets as DATA (a broadcast cross join), never as
        # an expression array: (2R+1)² struct literals blow past janino's
        # generated-code limits by R≈16 — offsets-as-rows cost nothing at
        # any R
        offsets = local_frame(
            spark,
            [(dx, dy) for dx in range(-R, R + 1) for dy in range(-R, R + 1)],
            "dx long, dy long",
        )
        neigh = remaining.crossJoin(F.broadcast(offsets)).select(
            "id1", "x1", "y1",
            (F.floor(F.col("x1") / F.lit(cell)) + F.col("dx")).alias("__cx"),
            (F.floor(F.col("y1") / F.lit(cell)) + F.col("dy")).alias("__cy"),
        )
        dist = F.sqrt(
            (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2"))
            + (F.col("y1") - F.col("y2")) * (F.col("y1") - F.col("y2"))
        )
        cand = (
            neigh.join(base, ["__cx", "__cy"])
            .filter(F.col("id1") != F.col("id2"))
            .select("id1", "id2", dist.alias("dist"))
            # the covered-radius guarantee: beyond R·cell a closer point
            # could hide in the next ring — don't let it count yet
            .filter(F.col("dist") <= F.lit(float(R) * cell))
        )
        w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2"))
        ranked = cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        counts = ranked.groupBy("id1").agg(F.count(F.lit(1)).alias("__n"))
        done_ids = counts.filter(F.col("__n") >= k).select("id1")
        solved = ranked.join(F.broadcast(done_ids), "id1", "left_semi")
        out = solved if out is None else out.unionByName(solved)
        remaining = remaining.join(F.broadcast(done_ids), "id1", "left_anti")
        if remaining.limit(1).count() == 0:
            return out
        R *= 2
    # queries unresolved at max_rings surface with NO rows (loudly absent,
    # never silently-wrong neighbors) — raise max_rings or cell to cover
    return out
