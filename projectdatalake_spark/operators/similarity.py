"""Similarity search over embedding columns (array<float>).

North-star surface (BASELINE.json): approximate-nearest-neighbor over
document embeddings. Three rungs:

- ``topk_neighbors`` — exact brute force: broadcast the (small) query set
  against the corpus, cosine per pair, window top-k. O(|Q|·n) with no
  shuffle of the corpus — the correctness baseline, and the right plan
  whenever |Q| is small.
- ``topk_neighbors_lsh`` — multi-table random-hyperplane LSH: bucket
  corpus and queries by seeded hyperplane sign patterns, search matching
  buckets (Hamming ≤ 1 multi-probe), re-rank exactly. Sub-linear
  candidates; bucket index is precomputable and partitionable.
- ``topk_neighbors_ivf`` — IVF coarse quantization: seeded KMeans cells,
  queries probe the n_probe nearest cells, exact re-rank. The
  partition-pruned file layout for 100 TB corpora.

Cosine math uses the engine's higher-order-function expressions
(functions.scalar.vec_dot) — JVM-side, no Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from projectdatalake_spark.functions.scalar import vec_dot, vec_dots_literal
from projectdatalake_spark.session import local_frame


def _py_fold_norm(c: list) -> float:
    """sqrt of the left-fold self-dot of a Python float vector — the exact
    IEEE double sequence the Catalyst fold sqrt(0.0 + c0*c0 + c1*c1 + ...)
    produces, so literal centers can carry their norm as ONE constant."""
    import math

    acc = 0.0
    for x in c:
        acc = acc + x * x
    return math.sqrt(acc)


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    block_cols: list[str] = [],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine within blocks.

    Quadratic within a block (like dedup.jaccard_pairs); use LSH buckets as
    the block at scale. Returns (id_a, id_b, cosine), id_a < id_b.
    """
    # cast + norm are materialized per ROW before the pair join (O(n)),
    # so each of the O(n²/blocks) pairs pays only one dot product; the
    # pair-generation side is repartitioned so the quadratic dot-product
    # work spreads across all cores even when the table is one file split
    slim = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col(vec_col)
    )
    target = df.sparkSession.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < target:
        slim = slim.repartition(target)
    proj = slim.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("norm", F.sqrt(vec_dot(F.col("v"), F.col("v"))))
    left = proj.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("v").alias("v_a"),
        F.col("norm").alias("norm_a"),
    )
    right = proj.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("v").alias("v_b"),
        F.col("norm").alias("norm_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    cos = vec_dot(F.col("v_a"), F.col("v_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        left.join(right, cond)
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def topk_neighbors(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (must be driver-small); the corpus streams
    through map-side — the only shuffle is the per-query window on
    |Q|·n candidate rows, bounded by keeping |Q| small.
    Output: (query_id, neighbor_id, cosine, rank), self-matches excluded,
    ties broken by neighbor id.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_norm", F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec"))))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ).withColumn("c_norm", F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec"))))
    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_literals(
    num_tables: int, num_planes: int, dim: int, seed: int
) -> list[list[list[float]]]:
    """Deterministic random hyperplanes (seeded; reproducible across runs):
    one plane set per hash table."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_tables, num_planes, dim)).astype("float64").tolist()


def bucket_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) > 0."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        dot = vec_dot(vec, F.array(*[F.lit(x) for x in plane]))
        sig = sig + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def topk_neighbors_lsh_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH search with SEED hyperplanes — the oracle-backed rung pinning
    the random-hyperplane machinery ``topk_neighbors_lsh`` trains
    randomly (the ivf_seeded/pq_seeded pattern, applied to the last
    unproven ANN family): planes are the ``n_planes`` lowest-id corpus
    vectors as LITERAL arrays, a vector's bucket is its sign-bit code
    (dot(v, plane) > 0 → bit set), queries MULTIPROBE their own bucket
    plus every Hamming-1 neighbor (bit flips), and candidates re-rank by
    exact cosine with (cosine DESC, neighbor_id) ties. Every step is a
    Catalyst expression a SQL engine replays value-for-value. Each
    corpus row owns exactly ONE code, so a (query, neighbor) pair meets
    through at most one probe — no dedup needed.

    100 TB: the per-row code is a scan-stage expression; the probe side
    explodes ×(n_planes+1) on the QUERY grain only; the candidate join
    is an equality join on the code."""
    from pyspark.sql import Window

    seeds = (
        corpus.orderBy(id_col).limit(n_planes).select(id_col, vec_col)
        .collect()
    )
    planes = [[float(x) for x in r[vec_col]] for r in seeds]
    p_lits = [F.array(*[F.lit(x) for x in p]) for p in planes]
    v = F.col(vec_col).cast("array<double>")
    code = None
    for i, p in enumerate(p_lits):
        bit = F.when(vec_dot(v, p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    code = code.cast("long")
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("c_vec"),
        code.alias("bucket"),
    ).withColumn("c_norm", F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec"))))
    probe_codes = F.array(
        F.col("code"),
        *[F.col("code").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            v.alias("q_vec"),
            code.alias("code"),
        )
        .withColumn("pc", F.explode(probe_codes))
        .withColumn("q_norm", F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec"))))
    )
    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        probes.join(assigned, F.col("pc") == F.col("bucket"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def topk_neighbors_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    num_tables: int = 8,
    num_planes: int = 6,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via multi-table random-hyperplane LSH + Hamming≤1 probe.

    ``num_tables`` independent plane sets: a corpus row indexes into one
    bucket per table; a query probes, per table, its own bucket plus the
    ``num_planes`` buckets one bit away. Union of candidates re-ranks by
    exact cosine. With p = P(same side of one plane) = 1 - θ/π, per-table
    hit ≈ p^r + r·p^(r-1)(1-p); tables multiply recall: 1-(1-hit)^L — at
    moderate similarity (cos≈0.4, p≈0.63) this is ~0.9 for L=8, r=6 where
    a single 8-plane table sits near 0.1. Bucket index is L× the corpus
    in rows (ids only) — the classic LSH memory/recall trade.
    """
    # planes as a broadcast TABLE, not expression literals: inlining
    # L·r·dim literal nodes into one projection makes a pathological
    # expression tree (measured ~20 s of codegen/eval at r=6, L=8, d=64);
    # a cross join against 48 broadcast plane rows + one bit-packing
    # aggregate keeps every expression tiny and the work linear.
    import itertools

    spark = corpus.sparkSession
    tables = _plane_literals(num_tables, num_planes, dim, seed)
    plane_rows = [
        (t, p, 1 << p, tables[t][p])
        for t, p in itertools.product(range(num_tables), range(num_planes))
    ]
    planes_df = local_frame(
        spark,
        plane_rows, schema="t int, p int, bit long, w array<double>"
    )

    def bucketize(df: DataFrame, out_id: str) -> DataFrame:
        """(out_id, t, sig): per-table sign-pattern signature via one
        cross join with the plane table + one bit-packing aggregate."""
        base = df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        target = spark.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < target:
            base = base.repartition(target)
        dots = base.crossJoin(F.broadcast(planes_df)).select(
            out_id, "t", "bit", vec_dot(F.col("v"), F.col("w")).alias("d")
        )
        return dots.groupBy(out_id, "t").agg(
            F.sum(F.when(F.col("d") > 0, F.col("bit")).otherwise(F.lit(0).cast("long"))).alias("sig")
        )

    table_offset = (F.col("t").cast("long") * F.lit(1 << 32).cast("long"))
    c_sides = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ).withColumn("c_norm", F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec"))))
    c_buckets = bucketize(corpus, "neighbor_id").select(
        "neighbor_id", (F.col("sig") + table_offset).alias("bucket")
    )
    c = c_buckets.join(c_sides, "neighbor_id")

    q_sides = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_norm", F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec"))))
    probes = F.array(
        F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)]
    )
    q_buckets = (
        bucketize(queries, "query_id")
        .select("query_id", "t", F.explode(probes).alias("probe"))
        .select("query_id", (F.col("probe") + table_offset).alias("bucket"))
    )
    q_probe = q_buckets.join(q_sides, "query_id")

    from pyspark.sql import Window

    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q_probe), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec", "q_norm", "c_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
):
    """Build the IVF coarse index: returns ``(assigned, centers)`` where
    ``assigned`` is the cell-assigned corpus DataFrame (the PERSISTABLE
    artifact — write it partitioned by ``cell`` and every later query
    batch touches only its n_probe partitions, the classic IVF file
    layout) and ``centers`` is the (n_cells, dim) numpy array of cell
    centroids (KB-sized metadata — ship it with the table).

    Building is the one-off indexing cost (KMeans over the corpus);
    searching amortizes it across every subsequent query batch — the
    split matters, which is why this is a separate function (measured in
    BASELINE.md's round-4 ANN probe: build dominates a cold one-shot
    call, search is the recurring cost).

    ``train_fraction`` bounds that build cost the way real ANN systems
    do: the quantizer trains on a seeded sample (KMeans only needs
    enough points to place centroids — hundreds per cell suffice) while
    cell ASSIGNMENT still covers every corpus row. With k=sqrt(n) cells,
    full-corpus training is O(n^1.5·iters) (the probe's 192 s at 100k);
    a fixed sample per cell makes it O(n_cells·sample·iters) — the term
    that keeps indexing linear-ish at 100 TB. None = train on
    everything (right at test scale; recall impact at 0.5 sampling is
    gated in tests/test_accuracy_gates.py).

    The quantizer trains on L2-NORMALIZED vectors: ranking is by cosine,
    and on the unit sphere euclidean distance is monotone in cosine —
    un-normalized KMeans cells split by magnitude and cost ~20 recall
    points on this corpus. Exact re-rank still uses raw vectors (cosine
    is scale-invariant).
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    norm = F.sqrt(vec_dot(F.col("v"), F.col("v")))
    unit = F.transform(F.col("v"), lambda x: x / norm)
    feat = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("features", array_to_vector(unit))
    train = feat.select("features")
    if train_fraction is not None:
        train = train.sample(fraction=train_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
    assigned = (
        model.transform(feat)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("v").alias("c_vec"),
            F.col(model.getPredictionCol()).alias("cell"),
        )
        .withColumn("c_norm", F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec"))))
    )
    centers = np.stack([c for c in model.clusterCenters()])
    return assigned, centers


def ivf_search(
    assigned: DataFrame,
    centers,
    queries: DataFrame,
    k: int,
    n_probe: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Search an ``ivf_index``: each query probes its ``n_probe`` nearest
    cells and re-ranks candidates by exact cosine. Expected candidate
    fraction ≈ n_probe/n_cells of the corpus — the recurring per-batch
    cost the index build amortizes into.

    Queries must be driver-small (they are collected to compute probe
    cells; the corpus is never collected). ``max_query_rows`` enforces
    that contract: a query set above the ceiling raises instead of
    silently OOMing the driver — raise the limit explicitly if the driver
    truly has the memory.
    """
    import numpy as np
    from pyspark.sql import Window

    # limit()+collect() bounds what can ever reach the driver; the count
    # check turns a contract breach into a loud error instead of an OOM
    probe_q = queries.select(F.col(id_col), F.col(vec_col))
    n_queries = probe_q.limit(max_query_rows + 1).count()
    if n_queries > max_query_rows:
        raise ValueError(
            f"ivf_search query set exceeds max_query_rows="
            f"{max_query_rows}; queries are collected to the driver to "
            "compute probe cells — pass a larger max_query_rows only if "
            "the driver can hold them, or pre-sample the query set"
        )
    q_rows = probe_q.collect()
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype="float64")
        qn = np.linalg.norm(qv)
        d2 = ((centers - qv / (qn if qn > 0 else 1.0)) ** 2).sum(axis=1)
        for cell in np.argsort(d2)[:n_probe]:
            probe_rows.append((r[id_col], qv.tolist(), int(cell)))
    spark = assigned.sparkSession
    q_probe = local_frame(
        spark,
        probe_rows, schema=f"query_id long, q_vec array<double>, cell int"
    ).withColumn("q_norm", F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec"))))

    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        assigned.join(F.broadcast(q_probe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def topk_neighbors_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 32,
    n_probe: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """ANN top-k via IVF coarse quantization: ``ivf_index`` +
    ``ivf_search`` in one call (one-shot convenience; at scale build the
    index once and reuse it per query batch — see both docstrings).

    Size ``n_cells`` ≈ sqrt(corpus size) (the classic IVF rule): finer
    quantization concentrates true neighbors into fewer cells, so recall
    per scanned fraction rises with more cells — measured on the test
    corpus (500 vecs): 32 cells/12 probes = 0.94 recall@10 scanning 38%,
    vs 16/6 = 0.72 at the same fraction. Defaults fit the test corpus;
    recall is gated in tests/test_accuracy_gates.py.
    """
    assigned, centers = ivf_index(
        corpus, n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col
    )
    return ivf_search(
        assigned,
        centers,
        queries,
        k,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        max_query_rows=max_query_rows,
    )


def topk_neighbors_ivf_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search with SEED-INITIALIZED centers (KMeans init iteration 0:
    the ``n_cells`` lowest-id corpus vectors), fully declarative — every
    step (cell argmax, probe selection, candidate join, exact re-rank) is
    a Catalyst expression over literal center arrays, which makes this
    the one ANN rung a SQL oracle can replay value-for-value (the KMeans
    rungs are rows-only because the quantizer isn't SQL-expressible).

    Semantics match ``ivf_search``: each corpus row lands in its single
    nearest cell by cosine (ties → lowest cell id), each query probes its
    ``n_probe`` nearest cells, candidates re-rank by exact cosine with
    (cosine DESC, neighbor_id) ordering, self-matches excluded.

    100 TB: the physical plan is the IVF plan — the per-row cell argmax
    is a scan-stage expression (no shuffle), the probe side broadcasts,
    and the only shuffle is the per-query top-k window. Swapping the
    literal seeds for trained KMeans centers changes ONLY the center
    constants, so this rung doubles as the plan-shape proof for the
    trained rungs."""
    from pyspark.sql import Window

    seeds = (
        corpus.orderBy(id_col).limit(n_cells).select(id_col, vec_col).collect()
    )
    centers = [[float(x) for x in r[vec_col]] for r in seeds]
    c_lits = [F.array(*[F.lit(x) for x in c]) for c in centers]
    v = F.col(vec_col).cast("array<double>")

    def cell_scores() -> Column:
        # (cosine-to-center, -cell, cell) structs: array_sort ascending
        # puts the best cell LAST, ties resolved toward the lowest cell
        # id by the -cell component — mirrored exactly in the SQL oracle
        # as ORDER BY score DESC, cell ASC
        return F.array(
            *[
                F.struct(
                    (vec_dot(v, c) / F.sqrt(vec_dot(c, c))).alias("s"),
                    F.lit(-i).alias("neg"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(c_lits)
            ]
        )

    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("c_vec"),
        F.element_at(F.array_sort(cell_scores()), -1)["cell"].alias("cell"),
    ).withColumn("c_norm", F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec"))))

    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            v.alias("q_vec"),
            F.slice(F.array_sort(cell_scores()), -n_probe, n_probe).alias("p"),
        )
        .select(
            "query_id",
            "q_vec",
            F.explode(F.transform(F.col("p"), lambda s: s["cell"])).alias("cell"),
        )
        .withColumn("q_norm", F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec"))))
    )

    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def topk_neighbors_pq_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 4,
    k_codes: int = 8,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC search with SEED-INITIALIZED codebooks (Lloyd iteration 0:
    codebook ``j`` is subspace ``j`` of the ``k_codes`` lowest-id corpus
    vectors), fully declarative — encode (per-subspace argmin), ADC
    lookup-sum, shortlist cut and exact re-rank are all Catalyst
    expressions over literal codeword arrays, which makes this the PQ
    rung a SQL oracle can replay value-for-value (the trained
    ``pq_index`` rung is rows-only because Lloyd isn't SQL-expressible;
    this rung pins the SEARCH machinery both share — the
    ``ann_topk_ivf_seeded`` pattern).

    Float discipline (queries.py header): every distance is the same
    expression in the same order on both engines —
    ``(dot(x,x) − 2·dot(x,c)) + dot(c,c)`` per subspace, subspace terms
    summed left-to-right — so shortlist ORDER matches bitwise and only
    the final cosine is rounded (6dp) for output. Ties break (adc,
    neighbor_id) and (cosine DESC, neighbor_id); encode ties break
    toward the lowest codeword index.

    100 TB: the plan is the PQ plan — encode is a scan-stage expression
    (no shuffle, no Python), queries broadcast onto the codes, the only
    shuffle is the per-query shortlist/top-k window; swapping literal
    seeds for trained codebooks changes only the constants."""
    import operator
    from functools import reduce

    from pyspark.sql import Window

    dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    seeds = (
        corpus.orderBy(id_col).limit(k_codes).select(id_col, vec_col).collect()
    )
    # books[j][c] = subspace j of seed c (raw values — ADC ordering only;
    # the exact re-rank normalizes)
    books = [
        [
            [float(x) for x in r[vec_col]][j * sub : (j + 1) * sub]
            for r in seeds
        ]
        for j in range(m)
    ]
    v = F.col(vec_col).cast("array<double>")

    def lit_arr(xs):
        return F.array(*[F.lit(x) for x in xs])

    def d2(xj, cw):
        # EXACT oracle mirror: (dot(x,x) - 2*dot(x,c)) + dot(c,c)
        return (
            vec_dot(xj, xj) - F.lit(2.0) * vec_dot(xj, cw)
        ) + vec_dot(cw, cw)

    def code_expr(j):
        xj = F.slice(v, j * sub + 1, sub)
        scores = F.array(
            *[
                F.struct(
                    d2(xj, lit_arr(books[j][c])).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c in range(k_codes)
            ]
        )
        return F.element_at(F.array_sort(scores), 1)["c"]

    encoded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("c_vec"),
        *[code_expr(j).alias(f"code{j}") for j in range(m)],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), v.alias("q_vec")
    )
    adc = reduce(
        operator.add,
        [
            d2(
                F.slice(F.col("q_vec"), j * sub + 1, sub),
                F.element_at(
                    F.array(*[lit_arr(b) for b in books[j]]),
                    F.col(f"code{j}") + 1,
                ),
            )
            for j in range(m)
        ],
    )
    scored = (
        encoded.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "c_vec", "q_vec", adc.alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    short = scored.withColumn("r", F.row_number().over(ws)).filter(
        F.col("r") <= shortlist
    )
    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (
        F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec")))
        * F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec")))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        short.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def topk_neighbors_ivfpq_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 3,
    m: int = 4,
    k_codes: int = 8,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ COMPOSITE with seed-initialized centers AND codebooks
    (round 12 — the last ANN family without an oracle hash-proof): the
    ``topk_neighbors_ivf_seeded`` × ``topk_neighbors_pq_seeded``
    composition. The coarse quantizer restricts WHICH candidates a
    query scores (per-row cell argmax over literal centers; each query
    probes its ``n_probe`` best cells), the PQ ADC over literal
    codebooks orders them into a shortlist, and the exact-cosine
    re-rank finishes — every step a Catalyst expression DuckDB replays
    value-for-value.

    DEVIATION from the trained composite (``ivfpq_index``, which
    encodes RESIDUALS v − centroid per Jégou 2011): the seeded rung
    quantizes the RAW vector, because the rung's job is to hash-pin the
    composite's SEARCH machinery (probe pruning × ADC shortlist ×
    re-rank) — the residual algebra is already accuracy-gated in the
    trained rows-only rung, and a raw-vector ADC keeps the oracle
    expression identical to the proven ``ann_topk_pq_seeded`` form.

    Float discipline: distances are ``(dot(x,x) − 2·dot(x,c)) +
    dot(c,c)`` per subspace, summed left-to-right; cell scores are
    cosine-to-center; ties break (cell ASC), (adc, neighbor_id),
    (cosine DESC, neighbor_id) — all mirrored in the SQL oracle, so
    shortlist ORDER matches bitwise and only the output cosine rounds.

    100 TB: the plan IS the production IVF-PQ plan — cell argmax and PQ
    encode are scan-stage expressions (no shuffle, no Python), probes
    broadcast, candidates are cut to probed cells BEFORE any scoring,
    and the only shuffles are the two per-query windows. Swapping
    literal seeds for trained centers/codebooks changes only constants."""
    import operator
    from functools import reduce

    from pyspark.sql import Window

    dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    seeds = (
        corpus.orderBy(id_col)
        .limit(max(n_cells, k_codes))
        .select(id_col, vec_col)
        .collect()
    )
    centers = [[float(x) for x in r[vec_col]] for r in seeds[:n_cells]]
    books = [
        [
            [float(x) for x in r[vec_col]][j * sub : (j + 1) * sub]
            for r in seeds[:k_codes]
        ]
        for j in range(m)
    ]
    v = F.col(vec_col).cast("array<double>")

    def lit_arr(xs):
        return F.array(*[F.lit(x) for x in xs])

    c_lits = [lit_arr(c) for c in centers]

    def cell_scores() -> Column:
        return F.array(
            *[
                F.struct(
                    (vec_dot(v, c) / F.sqrt(vec_dot(c, c))).alias("s"),
                    F.lit(-i).alias("neg"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(c_lits)
            ]
        )

    def d2(xj, cw):
        return (
            vec_dot(xj, xj) - F.lit(2.0) * vec_dot(xj, cw)
        ) + vec_dot(cw, cw)

    def code_expr(j):
        xj = F.slice(v, j * sub + 1, sub)
        scores = F.array(
            *[
                F.struct(
                    d2(xj, lit_arr(books[j][c])).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c in range(k_codes)
            ]
        )
        return F.element_at(F.array_sort(scores), 1)["c"]

    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("c_vec"),
        F.element_at(F.array_sort(cell_scores()), -1)["cell"].alias("cell"),
        *[code_expr(j).alias(f"code{j}") for j in range(m)],
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        v.alias("q_vec"),
        F.slice(F.array_sort(cell_scores()), -n_probe, n_probe).alias("p"),
    ).select(
        "query_id",
        "q_vec",
        F.explode(F.transform(F.col("p"), lambda s: s["cell"])).alias("cell"),
    )
    adc = reduce(
        operator.add,
        [
            d2(
                F.slice(F.col("q_vec"), j * sub + 1, sub),
                F.element_at(
                    F.array(*[lit_arr(b) for b in books[j]]),
                    F.col(f"code{j}") + 1,
                ),
            )
            for j in range(m)
        ],
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "c_vec", "q_vec", adc.alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    short = scored.withColumn("r", F.row_number().over(ws)).filter(
        F.col("r") <= shortlist
    )
    cos = vec_dot(F.col("q_vec"), F.col("c_vec")) / (
        F.sqrt(vec_dot(F.col("q_vec"), F.col("q_vec")))
        * F.sqrt(vec_dot(F.col("c_vec"), F.col("c_vec")))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        short.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def embed_features_arrow(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector features via ``mapInArrow`` — the pure-Arrow UDF path
    (no pandas conversion at all): kernels operate on the ListArray's
    flat values buffer with SEGMENTED numpy reductions (reduceat over
    the offsets), so cost is one vectorized pass per batch regardless of
    row count — the shape a 100 TB embedding scan needs from Python when
    an expression can't say it. Returns (id, dim, n_positive,
    argmax_pos[1-based first-occurrence], max_val).

    Everything emitted is exact (counts and SELECTIONS — no float
    arithmetic), so the output is oracle-hash-checkable cross-engine,
    unlike norms/means whose accumulation order differs per engine.
    """
    from collections.abc import Iterator

    import pyarrow as pa

    out_schema = (
        f"{id_col} long, dim int, n_positive int, argmax_pos int, max_val double"
    )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        for batch in batches:
            ids = batch.column(id_col)
            la = batch.column(vec_col)
            if isinstance(la, pa.ChunkedArray):  # pragma: no cover - defensive
                la = la.combine_chunks()
            offsets = np.asarray(la.offsets, dtype=np.int64)
            vals = np.asarray(la.values, dtype=np.float32)
            starts = offsets[:-1]
            dims = (offsets[1:] - starts).astype(np.int32)
            if (dims == 0).any():
                raise ValueError("embed_features_arrow: empty vector")
            seg_max = np.maximum.reduceat(vals, starts)
            n_pos = np.add.reduceat(
                (vals > 0).astype(np.int64), starts
            ).astype(np.int32)
            # first index of the max within each segment: positions of
            # non-hits are poisoned to +inf, then a segmented min
            idx = np.arange(len(vals), dtype=np.int64)
            rel = idx - np.repeat(starts, dims)
            hit_pos = np.where(
                vals == np.repeat(seg_max, dims), rel, np.iinfo(np.int64).max
            )
            argmax_pos = (
                np.minimum.reduceat(hit_pos, starts) + 1
            ).astype(np.int32)  # 1-based, DuckDB list_position convention
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(dims, type=pa.int32()),
                    pa.array(n_pos, type=pa.int32()),
                    pa.array(argmax_pos, type=pa.int32()),
                    pa.array(seg_max.astype(np.float64), type=pa.float64()),
                ],
                names=[id_col, "dim", "n_positive", "argmax_pos", "max_val"],
            )

    return df.select(id_col, vec_col).mapInArrow(kernel, schema=out_schema)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): from each query's top-``pool`` cosine candidates, greedily
    pick k maximizing λ·sim(q, d) − (1−λ)·max over picked p of
    sim(d, p) — relevance minus redundancy, the standard diversity
    re-rank between retrieval and a context window.

    Scale shape: candidate generation is the existing distributed top-k
    (swap in the LSH/IVF rung at scale); the GREEDY part is inherently
    sequential but group-LOCAL — each query's pool is a few dozen rows —
    so it runs inside applyInPandas per query key: thousands of queries
    re-rank in parallel, nothing iterates on the driver. Ties break by
    candidate id (deterministic).

    Output: (query_id, neighbor_id, mmr_rank, cosine, mmr_score).
    """
    import pandas as pd

    cand = topk_neighbors(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    pool_df = cand.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "cosine", "n_vec"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["cosine", "neighbor_id"], ascending=[False, True])
        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["cosine"].to_numpy()
        mat = np.stack(pdf["n_vec"].to_numpy())
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T  # pool×pool pairwise cosine, tiny
        picked: list[int] = []
        out = []
        avail = np.ones(len(ids), dtype=bool)
        for rank in range(1, min(k, len(ids)) + 1):
            red = sims[:, picked].max(axis=1) if picked else np.zeros(len(ids))
            score = lam * rel - (1.0 - lam) * red
            # deterministic: best score, then smallest id
            masked = np.where(avail, score, -np.inf)
            best = masked.max()
            cand_idx = np.flatnonzero(avail & (masked == best))
            j = cand_idx[np.argmin(ids[cand_idx])]
            picked.append(j)
            avail[j] = False
            out.append(
                (pdf["query_id"].iloc[0], int(ids[j]), rank,
                 float(rel[j]), float(score[j]))
            )
        return pd.DataFrame(
            out,
            columns=["query_id", "neighbor_id", "mmr_rank", "cosine", "mmr_score"],
        )

    return pool_df.groupBy("query_id").applyInPandas(
        greedy,
        schema="query_id long, neighbor_id long, mmr_rank int, "
               "cosine double, mmr_score double",
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.6,
    n_cells: int = 16,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: KMeans cells over the
    embedding space (soft-assigned to the ``n_assign`` nearest cells),
    exact cosine pairs WITHIN each cell, then the deterministic survivor
    rule — a row is dropped iff some cell-sharing row with a smaller id
    is cosine-similar above ``threshold``. Returns the surviving rows of
    ``embeddings`` (original schema).

    This is the embedding rung of the dedup ladder (exact → MinHash →
    SimHash → cosine): near-duplicate MEANING, not near-duplicate bytes
    — the training-corpus pass that text fingerprints cannot do
    (Abbas et al. 2023, "SemDeDup", arXiv:2303.09540, describes the
    recipe: k-means clusters, pairwise cosine within cluster, keep one
    per duplicate set).

    Approximation is the clustering itself: cross-cell near-dups are
    missed (gated vs unblocked brute force in
    tests/test_accuracy_gates.py). Precision is exact — every drop is
    backed by a real above-threshold pair.

    Scale: the quadratic pair join is confined to cells (n²/k per cell,
    k≈√n cells → O(n^1.5) total, vs n² unblocked); cell assignment is
    one KMeans transform; the survivor rule is one left_anti join on the
    pair list. The cell-assigned frame is the persistable artifact —
    at 100 TB write it partitioned by cell and dedup incrementally per
    cell.
    """
    _, centers = ivf_index(
        embeddings,
        n_cells=n_cells,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        train_fraction=train_fraction,
    )
    return semantic_dedup_with_centers(
        embeddings,
        centers,
        threshold=threshold,
        n_assign=n_assign,
        id_col=id_col,
        vec_col=vec_col,
    )


def semantic_dedup_with_centers(
    embeddings: DataFrame,
    centers,
    threshold: float = 0.6,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``semantic_dedup`` with a caller-supplied (frozen) centroid matrix
    — the quantizer-independent core, shared by the one-shot form above
    and the incremental ``semantic_dedup_apply_batch`` (equality between
    the two is only meaningful against the SAME centers)."""
    multi = assign_cells_multi(
        embeddings, centers, n_assign=n_assign, id_col=id_col, vec_col=vec_col
    )
    # soft assignment: each row sits in its n_assign nearest cells, so a
    # near-dup pair straddling one boundary still shares a cell; a pair
    # sharing several cells is generated once per shared cell and
    # collapsed by the distinct() below
    pairs = cosine_pairs(
        multi,
        threshold=threshold,
        block_cols=["cell"],
        id_col=id_col,
        vec_col=vec_col,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return embeddings.join(dropped, on=id_col, how="left_anti")


def semantic_dedup_seeded(
    embeddings: DataFrame,
    threshold: float = 0.6,
    n_cells: int = 8,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with SEED-INITIALIZED centers (KMeans init iteration 0:
    the ``n_cells`` lowest-id vectors) — the ORACLE-BACKED rung of the
    semantic dedup ladder, the same trick that made
    ``topk_neighbors_ivf_seeded``/PQ hash-provable: with literal centers
    every step (soft cell assignment, within-cell cosine pairs, the
    smaller-id survivor rule) is a Catalyst expression a SQL engine can
    replay value-for-value; no KMeans sits in the loop. Semantics match
    ``semantic_dedup_with_centers`` EXACTLY for the same centers
    (equality-gated in tests) — swapping literal seeds for trained
    centers changes only the center constants, so this rung pins the
    dedup machinery the trained rungs share.

    Assignment ties break toward the LOWEST cell id (the IVF-seeded
    convention: sort (score, -cell) ascending, take the last
    ``n_assign``), mirrored in SQL as ORDER BY score DESC, cell ASC.

    100 TB: identical plan shape to the trained form — assignment is a
    scan-stage expression over literal KB-sized centers (no shuffle),
    the pair join is confined to cells, survivors are one left_anti."""
    seeds = (
        embeddings.orderBy(id_col).limit(n_cells).select(id_col, vec_col)
        .collect()
    )
    centers = [[float(x) for x in r[vec_col]] for r in seeds]
    dim = len(centers[0]) if centers else 0
    v = F.col(vec_col).cast("array<double>")
    # center self-norms are constants: fold them in Python (same IEEE op
    # order as the Catalyst fold — 0.0 + c0*c0 + c1*c1 ... then sqrt —
    # so the scores are bitwise unchanged) instead of re-evaluating an
    # interpreted 64-element fold per ROW per center
    c_norms = [_py_fold_norm(c) for c in centers]
    dots = vec_dots_literal(v, centers)
    scores = F.array(
        *[
            F.struct(
                (dots[i] / F.lit(c_norms[i])).alias("s"),
                F.lit(-i).alias("neg"),
                F.lit(i).alias("cell"),
            )
            for i in range(len(centers))
        ]
    )
    top_cells = F.transform(
        F.slice(F.array_sort(scores), -n_assign, n_assign),
        lambda x: x["cell"],
    )
    # the 1-file embeddings scan would otherwise single-task the whole
    # cell-confined pair join below (the dominant stage of this query —
    # OPTIMIZATION_r12.md §2); spread it the way cosine_pairs does
    emb_slim = embeddings.select(F.col(id_col), F.col(vec_col))
    target = embeddings.sparkSession.sparkContext.defaultParallelism
    if emb_slim.rdd.getNumPartitions() < target:
        emb_slim = emb_slim.repartition(target)
    assigned = emb_slim.select(
        F.col(id_col), v.alias("__v"), F.explode(top_cells).alias("cell")
    ).withColumn("__norm", F.sqrt(vec_dot(F.col("__v"), F.col("__v"), dim=dim)))
    left = assigned.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("v_a"),
        F.col("__norm").alias("norm_a"), "cell",
    )
    right = assigned.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("v_b"),
        F.col("__norm").alias("norm_b"), "cell",
    )
    cos = vec_dot(F.col("v_a"), F.col("v_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    dropped = (
        left.join(right, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return embeddings.join(dropped, on=id_col, how="left_anti")


def semantic_dedup_apply_batch(
    assigned: DataFrame,
    centers,
    batch: DataFrame,
    threshold: float = 0.6,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL SemDeDup: dedup only a NEW batch against the frozen
    cell index — the amortization the one-shot docstring promises
    ("write the cell-assigned frame partitioned by cell and dedup
    incrementally per cell"), made concrete.

    ``assigned`` is the persisted (id, vec, cell) frame of ALL prior
    rows — survivors AND dropped rows stay in it. Keeping dropped rows
    is what makes the incremental result EXACTLY equal the one-shot
    rule: a one-shot drop may be justified by a row that was itself
    dropped (chained duplicates), so the comparison set must be every
    smaller-id row, not just survivors. ``batch`` ids must exceed all
    prior ids (arrival order = id order — the append-only contract).

    Per-batch cost tracks the BATCH, not the corpus: the batch is
    cell-assigned with the frozen centers (no re-training), prior
    candidates are confined to the batch's TOUCHED cells (partition
    pruning when ``assigned`` is stored partitioned by cell), and the
    pair join's right side is only the batch — O(|batch| · touched-cell
    density) dot products. Returns ``(batch_survivors,
    batch_assigned)``; append ``batch_assigned`` to the index for the
    next batch.

    Equality contract (gated in tests/test_accuracy_gates.py):
    survivors(base) ∪ apply_batch(batch) == one-shot
    ``semantic_dedup_with_centers(base ∪ batch, centers)``.
    """
    b_assigned = assign_cells_multi(
        batch, centers, n_assign=n_assign, id_col=id_col, vec_col=vec_col
    )
    touched = b_assigned.select("cell").distinct()
    prior = assigned.select(F.col(id_col), F.col(vec_col), F.col("cell")).join(
        F.broadcast(touched), "cell"
    )
    cand = prior.unionByName(
        b_assigned.select(F.col(id_col), F.col(vec_col), F.col("cell"))
    )

    def _norms(df: DataFrame, suffix: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col("cell").alias(f"cell_{suffix}"),
            v.alias(f"v_{suffix}"),
        ).withColumn(
            f"norm_{suffix}",
            F.sqrt(vec_dot(F.col(f"v_{suffix}"), F.col(f"v_{suffix}"))),
        )

    left = _norms(cand, "a")
    right = _norms(b_assigned, "b")
    cos = vec_dot(F.col("v_a"), F.col("v_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    pairs = (
        left.join(
            right,
            (F.col("cell_a") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = batch.join(dropped, on=id_col, how="left_anti")
    return survivors, b_assigned


def pca_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
):
    """Distributed PCA fit: ONE pass over the corpus computes the exact
    d×d second-moment matrix and mean via per-Arrow-batch numpy partials
    (each batch emits one flattened (n, Σx, ΣxxT) row — executors do the
    O(n·d²) work, the driver reduces #batches rows and runs a d×d
    ``eigh``). d is the embedding width (small); n never matters to the
    driver. Returns ``(components, mean, explained_variance)`` — numpy
    arrays, KB-sized model state to broadcast with ``pca_project``.

    This is the scale shape for 100 TB: covariance assembly is a
    map-side-combined aggregation (no shuffle of vectors), and the only
    driver-side linear algebra is d×d."""
    import numpy as np
    import pandas as pd

    d = len(df.select(vec_col).first()[0])

    def partials(batches):
        # ONE partial row per PARTITION (accumulate across the
        # partition's Arrow batches): the collected frame is
        # #partitions × (d² + d + 1) doubles — metadata-sized at any
        # corpus scale, and no wide Spark aggregation (thousands of
        # per-element sum exprs would blow up codegen/compile time)
        n_acc = 0.0
        s_acc = np.zeros(d)
        ss_acc = np.zeros((d, d))
        for pdf in batches:
            mat = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            n_acc += mat.shape[0]
            s_acc += mat.sum(axis=0)
            ss_acc += mat.T @ mat
        if n_acc:
            yield pd.DataFrame(
                {
                    "n": [n_acc],
                    "s": [s_acc.tolist()],
                    "ss": [ss_acc.ravel().tolist()],
                }
            )

    parts = (
        df.select(vec_col)
        .mapInPandas(partials, schema="n double, s array<double>, ss array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    mean = np.sum([np.asarray(r["s"]) for r in parts], axis=0) / n
    second = np.sum(
        [np.asarray(r["ss"]).reshape(d, d) for r in parts], axis=0
    )
    cov = second / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    components = evecs[:, order].T  # (k, d)
    # deterministic sign convention: largest-|coord| entry positive
    for row in components:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1
    return components, mean, evals[order]


def power_iteration_top_component(
    df: DataFrame,
    iterations: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ORDER-PINNED power iteration for the dominant eigenvector of the
    UNCENTERED second-moment matrix M = Σ x·xᵀ — the hash-provable rung
    beside ``pca_fit`` (whose LAPACK ``eigh`` no SQL engine replays).
    Every float fold is pinned: M's per-(i,j) products fold in row-id
    order (the graph.pagerank sorted-struct left fold), each mat-vec
    folds over j ascending, the norm over i ascending — a fixed
    sequence of IEEE doubles any engine reproduces exactly, so a fixed
    iteration count hash-matches an unrolled DuckDB replay bitwise
    (rounded at the output boundary only).

    Scale shape: the O(n·d²) work — assembling M — is one distributed
    pass (explode + self-join on the row id, d²-group fold); the
    iteration itself is d×d DRIVER-side algebra on collected KB-state,
    exactly like ``pca_fit``'s eigh. Per-group fold lists are
    row-count-bounded at the (i,j) grain; past exact-oracle scale the
    production path is pca_fit (map-side numpy partials, no shuffle of
    per-row products)."""
    import math

    flat = df.select(
        F.col(id_col).alias("k"), F.posexplode(F.col(vec_col)).alias("i", "xf")
    ).select("k", "i", F.col("xf").cast("double").alias("x"))
    prods = (
        flat.alias("a")
        .join(flat.alias("b"), F.col("a.k") == F.col("b.k"))
        .select(
            F.col("a.k").alias("k"),
            F.col("a.i").alias("i"),
            F.col("b.i").alias("j"),
            (F.col("a.x") * F.col("b.x")).alias("p"),
        )
    )
    # k-ascending left fold per (i, j) cell as a running-sum window — an
    # UnboundedPreceding frame accumulates row-by-row in sort order, the
    # same IEEE add sequence as the previous collect_list → array_sort →
    # aggregate() fold (which is CodegenFallback: interpreted per element,
    # plus an n-row struct array per cell). The trailing + 0.0 reproduces
    # the fold's 0.0 seed (differs only in the sign of an all-zero sum).
    # Same transform as graph.pagerank's order-pinned fold this round.
    # UNIQUE-KEY CONTRACT: max_by(run, k) equals the sorted fold only
    # because k is unique within each (i, j) group — guaranteed here by
    # construction (posexplode emits one (k, i) row per vector element,
    # so the self-join yields exactly one (k, i, j) row per cell).
    # Pinned in tests/test_r12_optimizations.py.
    from pyspark.sql import Window

    w = (
        Window.partitionBy("i", "j")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m_rows = (
        prods.withColumn("run", F.sum("p").over(w))
        .groupBy("i", "j")
        .agg((F.max_by(F.col("run"), F.col("k")) + F.lit(0.0)).alias("val"))
        .collect()
    )
    d = 1 + max(r.i for r in m_rows)
    mat = [[0.0] * d for _ in range(d)]
    for r in m_rows:
        mat[r.i][r.j] = r.val
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(iterations):
        w = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + mat[i][j] * v[j]
            w.append(acc)
        nrm = 0.0
        for i in range(d):
            nrm = nrm + w[i] * w[i]
        s = math.sqrt(nrm)
        v = [wi / s for wi in w]
    return local_frame(
        df.sparkSession,
        [(i, v[i]) for i in range(d)], "dim int, weight double"
    )


def pca_project(
    df: DataFrame,
    components,
    mean,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto fitted PCA components — an Arrow-batched
    numpy matmul against the KB-sized (k, d) component matrix carried in
    the UDF closure; O(n·k·d) executor work, nothing driver-side."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    comp = np.asarray(components, dtype="float64")
    mu = np.asarray(mean, dtype="float64")

    def _proj(s):
        mat = np.stack([np.asarray(v, dtype="float64") for v in s])
        out = (mat - mu) @ comp.T
        return pd.Series([row.tolist() for row in out])

    _proj.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return df.withColumn(out_col, pandas_udf(_proj, "array<double>")(F.col(vec_col)))


def assign_cells_multi(
    df: DataFrame,
    centers,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each row into its ``n_assign`` nearest KMeans cells —
    soft IVF assignment, the standard recall lever for cell-blocked
    similarity work. The centroid matrix is KB-sized metadata carried in
    the UDF closure (broadcast with the task, never shuffled); each
    Arrow batch computes one (batch × cells) distance matrix in numpy —
    no per-row Python. Rows are L2-normalized for the distance (cosine
    ranking on the unit sphere), matching ``ivf_index`` training.
    Returns (id, vec, cell) with n_assign rows per input row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centers, dtype="float64")
    m = min(n_assign, len(c))

    def _cells(s):
        mat = np.stack(
            [np.asarray(v, dtype="float64") for v in s]
        )  # (batch, dim)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = mat / np.where(norms == 0, 1.0, norms)
        d2 = ((unit[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        top = np.argsort(d2, axis=1)[:, :m]
        return pd.Series([row.astype("int32").tolist() for row in top])

    _cells.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf(_cells, "array<int>")
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(udf(F.col(vec_col))).alias("cell"),
    )


def _train_pq_books(X, m: int, k_codes: int, sub: int, seed: int):
    """Seeded Lloyd per subspace over a driver-resident training sample:
    O(train_rows·k_codes·iters) — bounded by the sample, never the
    corpus. Deterministic (seeded init, fixed 15 iterations)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    books = np.empty((m, k_codes, sub), dtype="float64")
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        # deterministic k-means++-ish init: seeded choice without replacement
        init = Xj[rng.choice(len(Xj), size=k_codes, replace=False)]
        C = init.copy()
        for _ in range(15):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_codes):
                pts = Xj[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books[j] = C
    return books


def pq_index(
    corpus: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 20_000,
):
    """PRODUCT QUANTIZATION index (Jégou, Douze, Schmid 2011, "Product
    Quantization for Nearest Neighbor Search"): split each L2-normalized
    vector into ``m`` subspaces and learn ``k_codes`` codewords per
    subspace (driver-side seeded Lloyd iterations on a bounded sample);
    every corpus vector is then encoded as ``m`` small ints — dim×4
    bytes of float32 become m bytes (32× at 64-dim/m=8). Returns
    ``(codes, codebooks)``: ``codes`` is the corpus as (id, codes array)
    — the PERSISTABLE artifact — and ``codebooks`` a (m, k_codes,
    dim/m) numpy array (KB-sized; ship it with the table).

    100 TB: the codes table is the point — a 100 TB float corpus
    becomes ~3 TB of codes that SCAN fast, and ADC search reads codes
    only; raw vectors are touched just for the final re-rank shortlist.
    Training cost is bounded by ``train_rows`` regardless of corpus
    size; encoding is one Arrow-batched numpy argmin pass, linear."""
    import numpy as np
    import pandas as pd

    dim_row = corpus.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # bounded, seeded training sample → driver numpy (contract mirrors
    # ivf_search's driver-smallness: train_rows caps what's collected)
    frac = min(1.0, train_rows / max(1, corpus.count()))
    sample = (
        corpus.sample(fraction=frac, seed=seed)
        .limit(train_rows)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    X = np.asarray([r["v"] for r in sample], dtype="float64")
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    books = _train_pq_books(X, m, k_codes, sub, seed)
    books_b = corpus.sparkSession.sparkContext.broadcast(books)

    out_schema = f"{id_col} long, codes array<int>"

    def encode(batches):
        B = books_b.value
        for pdf in batches:
            V = np.asarray(list(pdf["v"]), dtype="float64")
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(V), m), dtype="int32")
            for j in range(m):
                Vj = V[:, j * sub : (j + 1) * sub]
                d2 = ((Vj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "codes": list(codes.tolist())}
            )

    codes = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).mapInPandas(encode, schema=out_schema)
    return codes, books


def pq_search(
    codes: DataFrame,
    codebooks,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """ADC search over a ``pq_index`` + EXACT RE-RANK: each query builds
    its (m, k_codes) distance table against the codebooks once
    (asymmetric distance computation — the query stays un-quantized);
    scanning the codes table is then a numpy TABLE-LOOKUP SUM per row,
    never a float dot product. Each partition emits only its per-query
    top-``shortlist`` candidates (mergeable partial top-k), the global
    shortlist re-ranks by exact cosine against the raw vectors, and the
    final window keeps top-``k``. Deterministic: ADC ties break by id,
    re-rank ties by (cosine desc, id).

    100 TB: the scan touches m-byte codes instead of dim×4-byte floats
    (32× less IO), the lookup-sum is branch-free numpy, and only
    |Q|·shortlist raw vectors are ever read for the re-rank."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q = queries.select(F.col(id_col), F.col(vec_col))
    n_queries = q.limit(max_query_rows + 1).count()
    if n_queries > max_query_rows:
        raise ValueError(
            f"pq_search query set exceeds max_query_rows={max_query_rows}; "
            "queries are collected to build ADC tables — pre-sample or "
            "raise the limit explicitly"
        )
    q_rows = q.collect()
    m, k_codes, sub = codebooks.shape
    qids = np.asarray([r[id_col] for r in q_rows], dtype="int64")
    Q = np.asarray([r[vec_col] for r in q_rows], dtype="float64")
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # per-query ADC tables: (nq, m, k_codes) squared-L2 lookups
    tables = np.empty((len(Q), m, k_codes), dtype="float64")
    for j in range(m):
        Qj = Q[:, j * sub : (j + 1) * sub]
        tables[:, j, :] = ((Qj[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(
            axis=2
        )
    spark = codes.sparkSession
    tables_b = spark.sparkContext.broadcast((qids, tables))

    def scan(batches):
        ids_q, T = tables_b.value
        for pdf in batches:
            ids = pdf[id_col].values
            C = np.asarray(list(pdf["codes"]), dtype="int64")  # (B, m)
            rows = {"query_id": [], "neighbor_id": [], "adc": []}
            for qi in range(len(ids_q)):
                # lookup-sum: T[qi][j, C[:, j]] summed over j — no floats
                # recomputed, no dot products
                d = T[qi][np.arange(m)[:, None], C.T].sum(axis=0)
                mask = ids != ids_q[qi]
                dm, idm = d[mask], ids[mask]
                # (adc, neighbor_id) lexsort: the per-partition cut must
                # break equal-ADC ties exactly like the global window —
                # distance-only argsort keeps boundary ties by partition
                # row order, varying results with data layout
                top = np.lexsort((idm, dm))[: min(len(dm), shortlist)]
                rows["query_id"].extend([int(ids_q[qi])] * len(top))
                rows["neighbor_id"].extend(idm[top].tolist())
                rows["adc"].extend(dm[top].tolist())
            yield pd.DataFrame(rows)

    partial = codes.mapInPandas(
        scan, schema="query_id long, neighbor_id long, adc double"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    short = (
        partial.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= shortlist)
        .drop("r", "adc")
    )
    # exact cosine re-rank of the shortlist against raw vectors
    from projectdatalake_spark.functions.scalar import vec_dot as _dot

    nb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    qv = local_frame(
        spark,
        [(int(i), v.tolist()) for i, v in zip(qids, Q)],
        schema="query_id long, q_vec array<double>",
    )
    joined = short.join(nb, "neighbor_id").join(F.broadcast(qv), "query_id")
    n_norm = F.sqrt(_dot(F.col("n_vec"), F.col("n_vec")))
    cos = _dot(F.col("q_vec"), F.col("n_vec")) / F.when(
        n_norm > 0, n_norm
    ).otherwise(F.lit(1.0))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def ivfpq_index(
    corpus: DataFrame,
    n_cells: int = 32,
    m: int = 8,
    k_codes: int = 32,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float | None = None,
    residual: bool = True,
    train_rows: int = 20_000,
):
    """IVF-PQ composite index — the layout production ANN systems
    (FAISS IVFPQ) run at corpus scale: the IVF coarse quantizer decides
    WHICH rows a query reads (cell partition pruning), PQ codes decide
    HOW MUCH is read per row (m bytes instead of dim×4). Returns
    ``(cells_codes, centers, codebooks)`` where ``cells_codes`` is the
    corpus as (id, cell, codes) — persist it partitioned by ``cell``
    and a probe touches only its n_probe partitions of m-byte codes.

    ``residual=True`` (the full FAISS IVFPQ form) quantizes
    ``r = unit(v) − centroid(cell)`` instead of the raw vector: every
    cell's residual cloud is centered at the origin, so the m×k_codes
    codewords only have to cover the WITHIN-cell spread instead of the
    whole sphere — tighter codes wherever the coarse quantizer is tight.
    The matching ``ivfpq_search(residual=True)`` builds its ADC table per
    (query, probed cell) against ``q − centroid(cell)``; pass the flag
    identically on both sides (a mismatch raises nothing but scores
    garbage — the index is codes, the flag is how to read them).

    100 TB: a 100 TB float corpus becomes ~3 TB of codes, of which a
    12/32-probe query plans ~37% of partitions — the two reductions
    COMPOUND (≈ 0.37 × 1/32 of the raw bytes per query). Residual
    training stays bounded by ``train_rows``; encoding adds one
    broadcast-lookup subtraction per row to the same Arrow-batched
    argmin pass."""
    import numpy as np
    import pandas as pd

    assigned, centers = ivf_index(
        corpus, n_cells=n_cells, seed=seed, id_col=id_col, vec_col=vec_col,
        train_fraction=train_fraction,
    )
    if not residual:
        codes, books = pq_index(
            corpus, m=m, k_codes=k_codes, seed=seed, id_col=id_col,
            vec_col=vec_col,
        )
        cells_codes = assigned.select(
            F.col("neighbor_id").alias(id_col), "cell"
        ).join(codes, id_col)
        return cells_codes, centers, books

    dim = centers.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    with_cell = assigned.select(
        F.col("neighbor_id").alias(id_col),
        F.col("c_vec").alias("v"),
        "cell",
    )
    # bounded seeded residual sample → driver training (same contract as
    # pq_index: train_rows caps what is ever collected)
    frac = min(1.0, train_rows / max(1, corpus.count()))
    sample = (
        with_cell.sample(fraction=frac, seed=seed).limit(train_rows).collect()
    )
    V = np.asarray([r["v"] for r in sample], dtype="float64")
    V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    R = V - centers[np.asarray([r["cell"] for r in sample], dtype="int64")]
    books = _train_pq_books(R, m, k_codes, sub, seed)
    sc = corpus.sparkSession.sparkContext
    state_b = sc.broadcast((centers, books))

    def encode(batches):
        C_, B = state_b.value
        for pdf in batches:
            V = np.asarray(list(pdf["v"]), dtype="float64")
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            R = V - C_[pdf["cell"].values.astype("int64")]
            codes = np.empty((len(V), m), dtype="int32")
            for j in range(m):
                Rj = R[:, j * sub : (j + 1) * sub]
                d2 = ((Rj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": pdf["cell"].values,
                    "codes": list(codes.tolist()),
                }
            )

    cells_codes = with_cell.mapInPandas(
        encode, schema=f"{id_col} long, cell int, codes array<int>"
    )
    return cells_codes, centers, books


def ivfpq_search(
    cells_codes: DataFrame,
    centers,
    codebooks,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int = 12,
    shortlist: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
    residual: bool = True,
) -> DataFrame:
    """Search an ``ivfpq_index``: each query probes its ``n_probe``
    nearest cells (IVF pruning), scans ONLY those cells' PQ codes with
    ADC lookup-sums, keeps a per-partition partial top-``shortlist``,
    and re-ranks the global shortlist by exact cosine against raw
    vectors. Deterministic tie-breaks throughout (distance, then id).

    ``residual=True`` matches ``ivfpq_index(residual=True)``: the ADC
    table is built per (query, probed cell) against ``q −
    centroid(cell)`` — m·k_codes·(dim/m) flops per pair, trivially
    amortized over the cell's rows — so codes quantizing within-cell
    residuals score correctly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q = queries.select(F.col(id_col), F.col(vec_col))
    n_queries = q.limit(max_query_rows + 1).count()
    if n_queries > max_query_rows:
        raise ValueError(
            f"ivfpq_search query set exceeds max_query_rows={max_query_rows}"
        )
    q_rows = q.collect()
    m, k_codes, sub = codebooks.shape
    qids, qvecs, probes = [], [], []
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype="float64")
        qn = np.linalg.norm(qv)
        u = qv / (qn if qn > 0 else 1.0)
        qids.append(int(r[id_col]))
        qvecs.append(u)
        d2 = ((centers - u) ** 2).sum(axis=1)
        probes.append([int(c) for c in np.argsort(d2)[:n_probe]])
    Q = np.stack(qvecs)
    spark = cells_codes.sparkSession
    probe_df = local_frame(
        spark,
        [(qid, c) for qid, ps in zip(qids, probes) for c in ps],
        schema="query_id long, cell int",
    )
    qmap = {qid: Q[i] for i, qid in enumerate(qids)}
    state_b = spark.sparkContext.broadcast(
        (qmap, centers if residual else None, codebooks)
    )
    cand = cells_codes.join(F.broadcast(probe_df), "cell").filter(
        F.col(id_col) != F.col("query_id")
    )

    def scan(batches):
        QM, C_, B = state_b.value
        jj = np.arange(m)[:, None]
        for pdf in batches:
            out = {"query_id": [], "neighbor_id": [], "adc": []}
            for key, grp in pdf.groupby(["query_id", "cell"], sort=False):
                qid, cell = int(key[0]), int(key[1])
                # per-(query, cell) ADC table: residual form subtracts the
                # probed cell's centroid from the query first
                qr = QM[qid] - C_[cell] if C_ is not None else QM[qid]
                T = np.empty((m, k_codes), dtype="float64")
                for j in range(m):
                    T[j] = (
                        (qr[j * sub : (j + 1) * sub][None, :] - B[j]) ** 2
                    ).sum(axis=1)
                C = np.asarray(list(grp["codes"]), dtype="int64")
                d = T[jj, C.T].sum(axis=0)
                ids = grp[id_col].values
                # (adc, neighbor_id) lexsort — same tie-break as the
                # global shortlist window (see pq_search.scan)
                top = np.lexsort((ids, d))[: min(len(d), shortlist)]
                out["query_id"].extend([qid] * len(top))
                out["neighbor_id"].extend(ids[top].tolist())
                out["adc"].extend(d[top].tolist())
            yield pd.DataFrame(out)

    partial = cand.mapInPandas(
        scan, schema="query_id long, neighbor_id long, adc double"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    short = (
        partial.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= shortlist)
        .drop("r", "adc")
    )
    from projectdatalake_spark.functions.scalar import vec_dot as _dot

    nb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    qv_df = local_frame(
        spark,
        [(qid, Q[i].tolist()) for i, qid in enumerate(qids)],
        schema="query_id long, q_vec array<double>",
    )
    joined = short.join(nb, "neighbor_id").join(F.broadcast(qv_df), "query_id")
    n_norm = F.sqrt(_dot(F.col("n_vec"), F.col("n_vec")))
    cos = _dot(F.col("q_vec"), F.col("n_vec")) / F.when(
        n_norm > 0, n_norm
    ).otherwise(F.lit(1.0))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )
