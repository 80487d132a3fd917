"""Similarity search over embedding columns (array<float>).

Scale design: the baseline is brute-force cosine top-k with the query
side **broadcast** (queries ≪ corpus; the corpus side streams through
without a shuffle). The scale path is random-hyperplane LSH bucketing
(SRP): corpus and queries hash to sign-pattern buckets, the join is on
bucket id, and only in-bucket pairs are scored — the 100 TB analog of
an IVF coarse quantizer. All math runs JVM-side via higher-order
functions (zip_with / aggregate); no Python UDFs.

Cross-engine note: cosine is computed in float64 with sequential
summation in both engines, but we still ``round(…, 6)`` before any
compare/output so the DuckDB oracle hashes identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_COS = (
    "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v) / "
    "(sqrt(aggregate(a, cast(0.0 as double), "
    "(acc, v) -> acc + cast(v as double) * cast(v as double))) * "
    "sqrt(aggregate(b, cast(0.0 as double), "
    "(acc, v) -> acc + cast(v as double) * cast(v as double))))"
)


def cosine_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k: for each of the first ``n_queries`` ids,
    the k nearest corpus vectors by cosine (self excluded).
    Output (query_id, neighbor_id, rank, sim)."""
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("a")
    )
    corpus = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("b"))
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(F.expr(_COS), 6).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def oracle_cosine_topk_sql(
    table: str = "embeddings", n_queries: int = 10, k: int = 5
) -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS a
           FROM {table} WHERE vec_id < {n_queries}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS b FROM {table}),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(a, b), 6) AS sim
  FROM q JOIN c ON query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {k}
"""


def srp_bucket_ann(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k via signed-random-projection buckets.

    Hyperplanes are derived deterministically from md5 so the oracle
    can reproduce them: plane p, dimension d gets weight ±1 by the
    parity of a hex digit of md5('p:d'). Bucket = bitstring of
    sign(dot(v, plane)). Join is bucket-equality only (the scale path:
    candidate set ≪ corpus). Output (query_id, neighbor_id, rank, sim).

    ``multiprobe=True`` additionally probes every Hamming-1 bucket
    (flip each of the n_planes bits): single-probe SRP misses any
    neighbor that lands one sign-flip away, the dominant recall loss
    for points near a hyperplane. The expansion multiplies only the
    QUERY side (n_planes+1 rows per query, still broadcast); the
    corpus side is untouched, so the cost model at scale is unchanged.
    Each (query, neighbor) pair matches at most one probe (probe
    strings are distinct, a neighbor has one bucket) — no dedup needed.

    Pass ``dim`` explicitly when known (schema metadata / config) —
    the ``None`` fallback peeks at one row, a driver-side action.

    Each hyperplane is an ``array<double>`` LITERAL and the dot product
    is ``aggregate(zip_with(v, plane, *), 0d, +)`` — a single constant
    per plane, so the generated expression stays O(n_planes) regardless
    of ``dim`` (the r2 version emitted a literal sum of dim*n_planes
    terms: 12k-65k codegen terms at real embedding dims 768-4096).
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])

    def dot_expr(col, p):
        plane = "array(" + ", ".join(
            f"{_srp_weight(p, d)}D" for d in range(dim)
        ) + ")"
        return (
            f"aggregate(zip_with({col}, {plane}, "
            "(v, w) -> cast(v as double) * w), "
            "cast(0.0 as double), (a, x) -> a + x)"
        )

    bucket = (
        "concat("
        + ", ".join(
            f"case when {dot_expr(vec_col, p)} >= 0 then '1' else '0' end"
            for p in range(n_planes)
        )
        + ")"
    )
    hashed = emb.select(
        F.col(id_col), F.col(vec_col), F.expr(bucket).alias("bucket")
    )
    queries = hashed.where(F.col(id_col) < n_queries)
    if multiprobe:
        probe_arr = (
            f"transform(sequence(0, {n_planes}), i -> "
            "case when i = 0 then bucket else concat("
            "substring(bucket, 1, i - 1), "
            "case when substring(bucket, i, 1) = '0' then '1' else '0' end, "
            f"substring(bucket, i + 1, {n_planes})) end)"
        )
        queries = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("a"),
            F.explode(F.expr(probe_arr)).alias("qb"),
        )
    else:
        queries = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("a"),
            F.col("bucket").alias("qb"),
        )
    corpus = hashed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("b"),
        F.col("bucket"),
    )
    scored = (
        corpus.join(
            F.broadcast(queries),
            (F.col("qb") == F.col("bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", F.round(F.expr(_COS), 6).alias("sim"))
    )
    w_ = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _srp_weight(p: int, d: int) -> float:
    import hashlib

    h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


def oracle_srp_sql(
    table: str = "embeddings",
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: bool = False,
) -> str:
    """DuckDB mirror of srp_bucket_ann: identical md5-derived ±1 plane
    weights inlined as constants (1-based list indexing); multiprobe
    expands the query side over generate_series bit flips."""

    def dot(p):
        return " + ".join(
            f"({_srp_weight(p, d)}) * embedding[{d + 1}]::DOUBLE"
            for d in range(dim)
        )

    bucket = " || ".join(
        f"case when ({dot(p)}) >= 0 then '1' else '0' end"
        for p in range(n_planes)
    )
    if multiprobe:
        probe_cte = (
            "SELECT query_id, a, CASE WHEN i = 0 THEN qb ELSE "
            "substr(qb, 1, i - 1) || (CASE WHEN substr(qb, i, 1) = '0' "
            "THEN '1' ELSE '0' END) || substr(qb, i + 1) END AS qb "
            f"FROM q0 CROSS JOIN generate_series(0, {n_planes}) AS t(i)"
        )
    else:
        probe_cte = "SELECT * FROM q0"
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket}) AS bucket FROM {table}
),
q0 AS (SELECT vec_id AS query_id, v AS a, bucket AS qb FROM hashed
       WHERE vec_id < {n_queries}),
q AS ({probe_cte}),
c AS (SELECT vec_id AS neighbor_id, v AS b, bucket FROM hashed),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(a, b), 6) AS sim
  FROM q JOIN c ON qb = bucket AND query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {k}
"""


def normalize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize (the precondition for dot-product == cosine ANN
    indexes): v / ||v||, float64 math, rounded to 6 places for the
    cross-engine hash. Row-local, zero shuffle; the norm is lambda-bound
    so it's computed once per row. Zero vectors get a NULL unit on BOTH
    engines (unguarded, Spark's x/0 is NULL but DuckDB's is inf/NaN —
    the gate would hash-mismatch the moment a zero embedding appears).
    Output (vec_id, norm, unit)."""
    norm = (
        f"sqrt(aggregate({vec_col}, cast(0.0 as double), "
        "(acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    unit = (
        f"element_at(transform(array({norm}), n -> case when n = 0 then "
        f"null else transform({vec_col}, "
        "v -> round(cast(v as double) / n, 6)) end), 1)"
    )
    return emb.select(
        F.col(id_col),
        F.round(F.expr(norm), 6).alias("norm"),
        F.expr(unit).alias("unit"),
    )


def oracle_normalize_sql(table: str = "embeddings") -> str:
    return f"""
SELECT vec_id,
  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v * v))), 6)
    AS norm,
  CASE WHEN sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) = 0
       THEN NULL
       ELSE list_transform(embedding::DOUBLE[],
         v -> round(v / sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                     x -> x * x))), 6))
  END AS unit
FROM {table}
"""


# in-block pair output is quadratic: a hot block of B vectors (a dominant
# class/source at corpus scale) is B²/2 candidate pairs. Same discipline
# as dedup.DEFAULT_MAX_BUCKET: above the cap, pairwise edges carry no
# information clustering could use — route oversized blocks through a
# bounded blocking key (SRP buckets) instead.
DEFAULT_MAX_BLOCK = 64


def neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on ``block_col``
    (the skew-safe join key at scale). Output (id_a, id_b, sim).

    Blocks larger than ``max_block`` emit NO pairs (r4 verdict: the one
    uncapped pairwise generator — a hot block was an unbounded quadratic
    self-join). The size pre-count is a ``count() OVER (block)`` window
    on the SAME key the self-join shuffles on, so the second join side
    is a ReusedExchange, not a recompute — the identical pattern to
    ``dedup.lsh_candidate_pairs``. For corpora where one natural block
    dominates, compose :func:`srp_bucket_ann`'s bucket string as
    ``block_col`` so block size is bounded by construction (2^n_planes
    buckets of ~n/2^n_planes). Pass ``max_block=None`` for uncapped."""
    blocked = emb.select(
        F.col(id_col), F.col(vec_col), F.col(block_col).alias("blk")
    )
    if max_block is not None:
        w = Window.partitionBy("blk")
        blocked = (
            blocked.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_block)
            .drop("_bsz")
        )
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("a"), F.col("blk")
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("b"),
        F.col("blk").alias("blk2"),
    )
    return (
        a.join(b, (F.col("blk") == F.col("blk2")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", F.round(F.expr(_COS), 6).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def oracle_neardup_sql(
    table: str = "embeddings",
    threshold: float = 0.95,
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> str:
    if max_block is not None:
        src = (
            f"(SELECT * FROM (SELECT vec_id, embedding, label, "
            f"count(*) OVER (PARTITION BY label) AS _bsz FROM {table}) "
            f"WHERE _bsz <= {max_block})"
        )
    else:
        src = table
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS sim
FROM {src} a JOIN {src} b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) >= {threshold}
"""


def neardup_clusters(
    emb: DataFrame,
    threshold: float = 0.95,
    max_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Semantic near-dup clustering: connected components over the
    :func:`neardup_pairs` edge list via neighbor-min label propagation
    (one hop per round). Output (vec_id, cluster_id) for ALL vectors —
    pairless vectors label themselves. Same oracle contract as
    lsh_connected_components (CLAUDE.md fixed-iteration rule): the
    Spark loop early-stops only when converged and otherwise runs
    exactly ``max_iter`` rounds, so the fixed-depth unrolled CTE
    (oracle_neardup_clusters_sql) produces identical labels. Edges
    shuffle on uniform vector ids; per-round cost is one edge join +
    one group-by — O(diameter) rounds, and real near-dup graphs are
    tiny diameter (dup sets are near-cliques)."""
    pairs = neardup_pairs(emb, threshold, id_col, vec_col, block_col, max_block)
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .persist()
    )
    labels = emb.select(F.col(id_col), F.col(id_col).alias("lbl")).persist()
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col(id_col).alias("_d"), "lbl"),
                F.col("d") == F.col("_d"),
            )
            .groupBy("s")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels[id_col] == nbr_min["s"], "left")
            .select(
                F.col(id_col),
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    out = labels.select(
        F.col(id_col), F.col("lbl").alias("cluster_id")
    ).localCheckpoint(eager=True)
    edges.unpersist()
    labels.unpersist()
    return out


def oracle_neardup_clusters_sql(
    table: str = "embeddings",
    threshold: float = 0.95,
    max_iter: int = 4,
    max_block: int | None = DEFAULT_MAX_BLOCK,
) -> str:
    """Unrolled neighbor-min propagation over the pair edges — one CTE
    per round, mirroring :func:`neardup_clusters` exactly (including the
    block-size cap: vectors in oversized blocks still label themselves —
    only their EDGES are suppressed, so l0 stays the full table)."""
    rounds = [f"l0 AS (SELECT vec_id, vec_id AS lbl FROM {table})"]
    for i in range(1, max_iter + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT p.vec_id, least(p.lbl, coalesce(min(n.lbl), p.lbl)) AS lbl
  FROM l{i - 1} p
  LEFT JOIN edges ON edges.s = p.vec_id
  LEFT JOIN l{i - 1} n ON n.vec_id = edges.d
  GROUP BY p.vec_id, p.lbl
)"""
        )
    return (
        f"""WITH pairs AS ({oracle_neardup_sql(table, threshold, max_block)}),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs
          UNION ALL SELECT id_b AS s, id_a AS d FROM pairs),
"""
        + ",\n".join(rounds)
        + f"\nSELECT vec_id, lbl AS cluster_id FROM l{max_iter}"
    )


# ---------------------------------------------------------------------------
# IVF ANN — the other scale path the pipeline mandate names alongside
# LSH: a k-means coarse quantizer (fixed-iteration Lloyd's, so the
# whole build is SQL-expressible per the unrolled-CTE discipline),
# then probe-limited exact search inside the nprobe nearest cells.


def _ivf_vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform({vec_col}, x -> cast(x as double))"
        ).alias("v"),
    )


_L2 = (
    "round(aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), "
    "cast(0.0 as double), (acc, e) -> acc + e), 6)"
)

# per-cell centroid: elementwise mean over members folded in vec_id
# order (the lm_score discipline — a bare elementwise sum would be
# partial-agg-order-dependent and hash-mismatch the oracle), 9dp
_CENTROID = """
transform(array(sort_array(collect_list(struct(vec_id, v)))), arr ->
  transform(
    aggregate(arr, transform(arr[0].v, x -> cast(0.0 as double)),
              (acc, s) -> zip_with(acc, s.v, (x, y) -> x + y)),
    t -> round(t / size(arr), 9)))[0]
"""


def _round_like_spark(x: float, scale: int) -> float:
    """Spark's double ``round(x, scale)``: BigDecimal(Double.toString)
    + HALF_UP. Python's ``repr`` is the same shortest-roundtrip decimal
    as Double.toString, so Decimal(repr)+ROUND_HALF_UP is bit-exact;
    -0.0 normalizes to +0.0 like BigDecimal."""
    from decimal import ROUND_HALF_UP, Decimal

    r = float(Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    ))
    return 0.0 if r == 0.0 else r


def _lloyd_rounds_local(members, seeds, iters, round6, round9):
    """Shared fixed-iteration Lloyd kernel over IN-MEMORY rows:
    ``members`` = [(sort_key, vec)] pre-sorted ascending, ``seeds`` =
    {cid: vec}. Reproduces the SQL build's arithmetic EXACTLY — dist =
    6dp-rounded left-fold of squared diffs (tie-break on cid),
    centroid = 9dp-rounded per-dim mean folded in sort_key order,
    empty cells drop out — so the result is bit-identical to the
    unrolled-CTE oracle. Returns {cid: vec}; no seeds → no cells."""
    cents = dict(seeds)
    for _ in range(iters if cents else 0):
        groups: dict = {}
        clist = sorted(cents.items())
        for _, vec in members:
            best = None
            for cid, c in clist:
                acc = 0.0
                for xi, ci in zip(vec, c):
                    d = xi - ci
                    acc += d * d
                key = (round6(acc), cid)
                if best is None or key < best[0]:
                    best = (key, cid)
            groups.setdefault(best[1], []).append(vec)
        cents = {}
        for cid, vs in groups.items():
            n = len(vs)
            dim_ = len(vs[0])
            out = [0.0] * dim_
            for i in range(dim_):
                acc = 0.0
                for vec in vs:
                    acc += vec[i]
                out[i] = round9(acc / n)
            cents[cid] = out
    return cents


def _ivf_train_gate(k: int, train_frac: float, train_salt: str) -> str:
    """SQL predicate selecting the deterministic hash-sampled TRAINING
    subset of the corpus: the k seed vectors (ids 0..k-1, always in so
    the init centroids exist) plus every vector whose layout-independent
    md5 draw falls under ``train_frac`` — the same gate family as
    :func:`sampling.stratified_sample`, so the DuckDB oracle mirrors the
    predicate exactly and the unrolled-CTE hashes still match."""
    from .sampling import _uniform_expr

    u = _uniform_expr("vec_id", train_salt)
    return f"vec_id < {k} OR ({u}) < {float(train_frac)!r}"


def ivf_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_frac: float = 0.5,
    train_salt: str = "h5ivf",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF build: centroids initialized from the vectors
    with ids 0..k-1, then ``iters`` Lloyd rounds run over a **bounded
    deterministic hash-sample** of the corpus (``train_frac`` of rows
    by md5 draw, plus the k seeds); the full corpus is then assigned
    once via the broadcast trained centroids. Assign is by squared-L2,
    6dp-rounded with centroid-id tie-break; recompute is the 9dp
    elementwise mean folded in vec_id order. Returns
    ``(assignment(vec_id, cell), centroids(cid, c))`` — one lazy plan,
    no driver actions; the centroid side is always k rows and broadcast
    (constant-key join, never a cartesian node).

    Why the sample: the centroid recompute's aggregation buffer holds
    every member vector of a cell (sort_array(collect_list(...)) — the
    price of an order-exact cross-engine mean), so training on the full
    corpus puts ~corpus/k × dim doubles in ONE agg state: executor OOM
    long before 100 TB. Training on a hash-sample bounds that state to
    ~|sample|/k vectors — at corpus scale the caller sets ``train_frac``
    so the sample is a bounded training set (how real IVF builds work:
    faiss trains the coarse quantizer on a sample, then assigns
    everything). The sample gate is a pure function of the row key
    (layout-independent, resumable), so the fixed-iteration build stays
    SQL-expressible: :func:`oracle_ivf_sql` unrolls the rounds with the
    identical gate predicate inside the train CTE."""
    v = _ivf_vectors(emb, id_col, vec_col)
    train = v.where(F.expr(_ivf_train_gate(k, train_frac, train_salt)))

    # r9: the Lloyd rounds run FUSED in one single-partition Python
    # stage over the bounded hash-sample (the faiss layout exactly:
    # the coarse quantizer trains on a sample on one node, assignment
    # stays distributed). The former unrolled SQL build planned ~10
    # small stages (2 exchanges + a broadcast per round) that dwarfed
    # the actual arithmetic; the kernel (_lloyd_rounds_local)
    # reproduces the SQL arithmetic bit-for-bit — 6dp-rounded
    # left-fold L2 with cid tie-break, 9dp per-dim mean folded in
    # vec_id order, Spark-identical HALF_UP rounding via
    # Decimal(repr) — so the unrolled-CTE oracle and the driver gates
    # (ann_ivf_cells: the full 500-row assignment) are unchanged.
    def lloyd_fn(pdf_iter):
        import pandas as pd

        rows = []
        for pdf in pdf_iter:
            for vid, vec in zip(pdf["vec_id"], pdf["v"]):
                rows.append((vid, [float(x) for x in vec]))
        rows.sort(key=lambda r: r[0])
        seeds = {vid: vec for vid, vec in rows if vid < k}
        r6 = lambda x: _round_like_spark(x, 6)  # noqa: E731
        r9 = lambda x: _round_like_spark(x, 9)  # noqa: E731
        cents = _lloyd_rounds_local(rows, seeds, iters, r6, r9)
        cids = sorted(cents)
        if cids:  # an empty frame cannot carry the array<double> type
            yield pd.DataFrame({"cid": cids, "c": [cents[c] for c in cids]})

    cents = train.coalesce(1).mapInPandas(
        lloyd_fn, "cid bigint, c array<double>"
    )

    return (_assign_by_cents(v, cents), cents)


def _assign_by_cents(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Full-corpus cell assignment under trained centroids — stays
    distributed: broadcast k centroids, argmin via groupBy
    min(struct(dist, cid)) — lexicographic struct min == the old
    row_number tie-break, with map-side partial aggregation and no
    window sort. Shared by :func:`ivf_assign` and
    :func:`ivf_pq_topk`."""
    d = (
        v.withColumn("_j", F.lit(1))
        .join(F.broadcast(cents.withColumn("_j", F.lit(1))), "_j")
        .select("vec_id", "cid", F.expr(_L2).alias("dist"))
    )
    return (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("_m"))
        .select("vec_id", F.col("_m.cid").alias("cell"))
    )


def ann_ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k_top: int = 5,
    k_cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_frac: float = 0.5,
    train_salt: str = "h5ivf",
) -> DataFrame:
    """IVF search: each query probes its ``nprobe`` nearest cells and
    runs exact cosine only against their members — the classic recall/
    cost dial. Output (query_id, neighbor_id, rank, sim): top-k within
    the probed cells. At corpus scale the candidate join is an
    equi-join on cell id (same shape as the SRP bucket join); the
    centroid table is k rows, always broadcast; the build trains on a
    bounded hash-sample (see :func:`ivf_assign`). Building the operator
    runs an eager Spark job: the trained centroids are materialized once
    (``localCheckpoint``) because two lineages consume them, so a
    plan-only caller pays for the Lloyd kernel at construction."""
    assignment, cents = ivf_assign(
        emb, k_cells, iters, id_col, vec_col, train_frac, train_salt
    )
    # cents has TWO consumers (the query-probe broadcast and the
    # full-corpus assignment lineage under `members`) — left lazy the
    # single-task Lloyd kernel and its sample scan run once per
    # consumer (plan showed the MapInPandas subtree twice). k rows;
    # materialize once (the multi-consumer lineage invariant).
    cents = cents.localCheckpoint(eager=True)
    assignment = _assign_by_cents(_ivf_vectors(emb, id_col, vec_col), cents)
    v = _ivf_vectors(emb, id_col, vec_col)
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qd = (
        queries.withColumn("_j", F.lit(1))
        .join(F.broadcast(cents.withColumn("_j", F.lit(1))), "_j")
        .select(
            "query_id", "qv", "cid",
            F.expr(_L2.replace("v, c", "qv, c")).alias("dist"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cid")
    probes = (
        qd.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("cid").alias("cell"))
    )
    members = assignment.join(
        v, "vec_id"
    ).select(F.col("vec_id").alias("neighbor_id"), "cell",
             F.col("v").alias("b"))
    cand = (
        probes.withColumnRenamed("qv", "a")
        .join(members, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(F.expr(_COS), 6).alias("sim"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("bigint").alias("rank"), "sim")
    )


def oracle_ivf_sql(
    table: str = "embeddings",
    dim: int = 64,
    k_cells: int = 8,
    iters: int = 2,
    n_queries: int | None = None,
    k_top: int = 5,
    nprobe: int = 2,
    assignment_only: bool = False,
    train_frac: float = 0.5,
    train_salt: str = "h5ivf",
) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`ivf_assign` /
    :func:`ann_ivf_topk`: one (assign, recompute) CTE pair per Lloyd
    round — run over the same hash-sampled train CTE as the Spark
    build — identical 6dp/9dp rounding and tie-breaks, per-dim means
    folded in vec_id order (list(... ORDER BY vec_id) + list_sum);
    the final assignment CTE runs over the FULL corpus."""
    if not assignment_only and n_queries is None:
        raise ValueError(
            "oracle_ivf_sql: n_queries is required unless "
            "assignment_only=True (it bounds the probe CTE)"
        )
    l2 = (
        "round(list_sum(list_transform(range(1, {d} + 1), "
        "i -> (v[i] - c[i]) * (v[i] - c[i]))), 6)"
    ).format(d=dim)
    gate = (
        f"vec_id < {k_cells} OR "
        f"cast(('0x' || substr(md5('{train_salt}' || vec_id::VARCHAR), 1, 8))"
        f"::BIGINT as double) / {float(1 << 32)} < {float(train_frac)!r}"
    )
    ctes = [
        f"v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})",
        f"tv AS (SELECT vec_id, v FROM v WHERE {gate})",
        f"c0 AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < {k_cells})",
    ]
    for t in range(1, iters + 2):
        prev = f"c{t - 1}"
        src = "tv" if t <= iters else "v"
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, v, cid FROM (
    SELECT {src}.vec_id, {src}.v, {prev}.cid,
           row_number() OVER (PARTITION BY {src}.vec_id
                              ORDER BY {l2.replace('c[', prev + '.c[')}, {prev}.cid) AS rn
    FROM {src}, {prev}
  ) WHERE rn = 1
)"""
        )
        if t <= iters:
            ctes.append(
                f"""c{t} AS (
  SELECT cid, list(dimval ORDER BY d) AS c FROM (
    SELECT cid, d,
           round(list_sum(list(v[d] ORDER BY vec_id))
                 / count(*), 9) AS dimval
    FROM a{t}, range(1, {dim} + 1) t(d)
    GROUP BY cid, d
  ) GROUP BY cid
)"""
            )
    final_a = f"a{iters + 1}"
    if assignment_only:
        return ("WITH " + ",\n".join(ctes)
                + f"\nSELECT vec_id, cid::BIGINT AS cell FROM {final_a}")
    cf = f"c{iters}"
    ctes.append(
        f"""probes AS (
  SELECT query_id, cell FROM (
    SELECT v.vec_id AS query_id, {cf}.cid AS cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {l2.replace('c[', cf + '.c[')}, {cf}.cid) AS rn
    FROM v, {cf}
    WHERE v.vec_id < {n_queries}
  ) WHERE rn <= {nprobe}
)"""
    )
    ctes.append(
        f"""cand AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, m.v), 6) AS sim
  FROM probes p
  JOIN {final_a} m ON m.cid = p.cell
  JOIN v q ON q.vec_id = p.query_id
  WHERE m.vec_id <> p.query_id
)"""
    )
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, rank::BIGINT AS rank, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {k_top}""")


# ---------------------------------------------------------------------------
# IVF-PQ (round 8): product quantization over coarse-cell residuals —
# the faiss IVFPQ layout. At 100 TB the vector payload, not the coarse
# index, is the memory wall: m 1-byte codes per vector replace dim
# float64s (64x smaller at dim=64/m=4 vs raw doubles), and queries
# score members by table lookup (asymmetric distance, ADC) instead of
# touching raw vectors.
#
# Determinism discipline (same as the coarse build): codebook Lloyd
# rounds train on the SAME md5 hash-sample, assignment is 6dp-rounded
# L2 with code-id tie-break, centroid recompute is the 9dp elementwise
# mean folded in vec_id order, and the per-member ADC total folds the m
# per-subspace distances in j order (never a bare sum(double) across a
# shuffle) — so the fixed-iteration build + search is hash-exact at any
# parallelism and SQL-expressible for the unrolled-CTE oracle.


def ivf_pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k_top: int = 5,
    k_cells: int = 8,
    iters: int = 2,
    m: int = 4,
    k_pq: int = 8,
    pq_iters: int = 2,
    nprobe: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_frac: float = 0.5,
    train_salt: str = "h5ivf",
) -> DataFrame:
    """IVF-PQ search: coarse-probe ``nprobe`` cells, then rank members
    by the ADC estimate — sum over ``m`` subspaces of the squared-L2
    between the query's residual sub-vector and the member's CODEWORD
    (the member's raw vector is never read at query time). Output
    (query_id, neighbor_id, rank, adist); rank ascending by adist with
    neighbor-id tie-break.

    Plan shape / 100 TB notes: residual encode is row-local after a
    broadcast centroid join; all m subspaces train in ONE lineage (rows
    keyed by subspace index j, codebook = m*k_pq rows, always
    broadcast); per-vector window keys are (vec_id, j) — uniform; the
    query LUT is n_queries*nprobe*m*k_pq rows joined on the uniform
    (cell, j, code) key; the ADC total folds m rows per
    (query, neighbor) group in j order (bounded group, deterministic).
    """
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub = dim // m
    v = _ivf_vectors(emb, id_col, vec_col)

    # r9 (second pass): coarse quantizer AND the m PQ codebooks train
    # FUSED in ONE single-task Python stage over the union of the two
    # hash-sample gates (coarse gate seeds ids < k_cells, PQ gate seeds
    # ids < k_pq; both pure functions of vec_id, evaluated by Spark SQL
    # so the predicate is bit-identical to the unrolled-CTE oracle's).
    # The kernel runs the coarse Lloyd rounds, then locally re-derives
    # the PQ-gated rows' cell assignment + residuals under the trained
    # centroids (the same 6dp argmin / exact subtraction the
    # distributed path uses) and trains each subspace codebook — so the
    # former chain of separate barrier jobs (cents ckpt → assignment
    # ckpt → rsub ckpt → cb train ckpt) collapses to ONE trained-model
    # checkpoint + the assignment checkpoint. rsub loses its second
    # consumer (PQ training) and is no longer materialized at all —
    # at corpus scale that was N*m cached sub-vector rows. Values are
    # unchanged (same arithmetic, same gates; hash-exact vs the frozen
    # oracle at sf0.01 and sf0.1).
    gate_c = _ivf_train_gate(k_cells, train_frac, train_salt)
    gate_p = _ivf_train_gate(k_pq, train_frac, train_salt)
    train_in = (
        v.withColumn("in_c", F.expr(gate_c))
        .withColumn("in_p", F.expr(gate_p))
        .where("in_c OR in_p")
    )

    def fused_train_fn(pdf_iter):
        import pandas as pd

        rows = []
        for pdf in pdf_iter:
            for vid, vec, ic, ip in zip(
                pdf["vec_id"], pdf["v"], pdf["in_c"], pdf["in_p"]
            ):
                rows.append(
                    (int(vid), [float(x) for x in vec], bool(ic), bool(ip))
                )
        rows.sort(key=lambda r: r[0])
        r6 = lambda x: _round_like_spark(x, 6)  # noqa: E731
        r9 = lambda x: _round_like_spark(x, 9)  # noqa: E731
        coarse = [(vid, vec) for vid, vec, ic, _ in rows if ic]
        seeds = {vid: vec for vid, vec in coarse if vid < k_cells}
        cents_d = _lloyd_rounds_local(coarse, seeds, iters, r6, r9)
        clist = sorted(cents_d.items())
        o_kind, o_a, o_b, o_w = [], [], [], []
        for cid, c in clist:
            o_kind.append(0)
            o_a.append(cid)
            o_b.append(0)
            o_w.append(c)
        # PQ: assign each PQ-gated row to its cell under the trained
        # centroids (6dp-rounded left-fold L2, cid tie-break — exactly
        # the distributed argmin), residual = exact subtraction, then
        # per-subspace Lloyd over the vec_id-ordered members
        by_j: dict = {}
        for vid, vec, _, ip in rows:
            if not ip or not clist:
                # no seed vector → no cells: the model (and the search
                # result) is empty rather than a failed task
                continue
            best = None
            for cid, c in clist:
                acc = 0.0
                for xi, ci in zip(vec, c):
                    d = xi - ci
                    acc += d * d
                key = (r6(acc), cid)
                if best is None or key < best[0]:
                    best = (key, cid)
            c = cents_d[best[1]]
            r = [xi - ci for xi, ci in zip(vec, c)]
            for j in range(m):
                by_j.setdefault(j, []).append(
                    (vid, r[j * sub: (j + 1) * sub])
                )
        for j in sorted(by_j):
            rows_j = by_j[j]  # vec_id-ordered (rows was sorted)
            seeds_j = {vid: rv for vid, rv in rows_j if vid < k_pq}
            cbj = _lloyd_rounds_local(rows_j, seeds_j, pq_iters, r6, r9)
            for code in sorted(cbj):
                o_kind.append(1)
                o_a.append(j)
                o_b.append(code)
                o_w.append(cbj[code])
        if o_kind:  # an empty frame cannot carry the array<double> type
            yield pd.DataFrame(
                {"kind": o_kind, "a": o_a, "b": o_b, "w": o_w}
            )

    trained = train_in.coalesce(1).mapInPandas(
        fused_train_fn, "kind int, a bigint, b bigint, w array<double>"
    )
    # ONE trained-model materialization: cents (3 broadcast consumers)
    # and cb (2 broadcast consumers) are filters over this k + m*k_pq
    # row checkpoint
    trained = trained.localCheckpoint(eager=True)
    cents = trained.where("kind = 0").select(
        F.col("a").alias("cid"), F.col("w").alias("c")
    )
    cb = trained.where("kind = 1").select(
        F.col("a").cast("int").alias("j"),
        F.col("b").alias("code"),
        F.col("w").alias("cw"),
    )

    # full-corpus assignment stays distributed; it feeds two consumers
    # (residual encode, member codes) and is the IVF index a 100 TB
    # run persists — materialize once (the PageRank barrier lesson)
    assignment = _assign_by_cents(v, cents).localCheckpoint(eager=True)

    # residuals r = v - centroid(cell): exact double subtraction,
    # identical in both engines (no rounding needed)
    res = (
        assignment.join(v, "vec_id")
        .join(
            F.broadcast(
                cents.select(F.col("cid").alias("cell"), "c")
            ),
            "cell",
        )
        .select(
            "vec_id",
            "cell",
            F.expr("zip_with(v, c, (x, y) -> x - y)").alias("r"),
        )
    )
    rsub = res.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), j -> named_struct("
                f"'j', j, 'rv', slice(r, j * {sub} + 1, {sub})))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.j").alias("j"), F.col("s.rv").alias("rv"))
    # rsub's only consumer is now the member encode (PQ training reads
    # the raw sample inside the fused kernel) — no materialization

    sub_l2 = _L2.replace("v, c", "rv, cw")

    def assign_sub(xs: DataFrame, cb: DataFrame) -> DataFrame:
        d = xs.join(F.broadcast(cb), "j").select(
            "vec_id", "j", "code", F.expr(sub_l2).alias("dist")
        )
        return (
            d.groupBy("vec_id", "j")
            .agg(F.min(F.struct("dist", "code")).alias("_m"))
            .select("vec_id", "j", F.col("_m.code").alias("code"))
        )

    codes_rows = assign_sub(rsub, cb).select("vec_id", "j", "code")

    # queries → nprobe nearest coarse cells (as in ann_ivf_topk)
    queries = v.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qd = (
        queries.withColumn("_j", F.lit(1))
        .join(F.broadcast(cents.withColumn("_j", F.lit(1))), "_j")
        .select(
            "query_id", "qv", "cid",
            F.expr(_L2.replace("v, c", "qv, c")).alias("dist"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cid")
    probes = (
        qd.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", F.col("cid").alias("cell"))
    )

    # per-(query, probed cell) ADC lookup table: the query residual's
    # distance to EVERY codeword — m*k_pq rows per probe
    qres = probes.join(
        F.broadcast(cents.select(F.col("cid").alias("cell"), "c")),
        "cell",
    ).select(
        "query_id",
        "cell",
        F.expr("zip_with(qv, c, (x, y) -> x - y)").alias("qr"),
    )
    qsub = qres.select(
        "query_id",
        "cell",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), j -> named_struct("
                f"'j', j, 'qrv', slice(qr, j * {sub} + 1, {sub})))"
            )
        ).alias("s"),
    ).select(
        "query_id", "cell",
        F.col("s.j").alias("j"), F.col("s.qrv").alias("qrv"),
    )
    lut = qsub.join(F.broadcast(cb), "j").select(
        "query_id", "cell", "j", "code",
        F.expr(_L2.replace("v, c", "qrv, cw")).alias("dsub"),
    )

    mem = codes_rows.join(
        assignment.select("vec_id", "cell"), "vec_id"
    ).select(F.col("vec_id").alias("neighbor_id"), "cell", "j", "code")
    cr = lut.join(mem, ["cell", "j", "code"]).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    # ADC total: fold the m per-subspace distances in j order (exactly
    # m rows per group — bounded state, shuffle-order deterministic)
    cand = cr.groupBy("query_id", "neighbor_id").agg(
        F.expr(
            "round(aggregate(transform(array_sort(collect_list("
            "struct(j, dsub))), s -> s.dsub), cast(0.0 as double), "
            "(acc, x) -> acc + x), 6)"
        ).alias("adist")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k_top)
        .select(
            "query_id", "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"), "adist",
        )
    )


def oracle_ivf_pq_sql(
    table: str = "embeddings",
    dim: int = 64,
    k_cells: int = 8,
    iters: int = 2,
    m: int = 4,
    k_pq: int = 8,
    pq_iters: int = 2,
    n_queries: int = 10,
    k_top: int = 5,
    nprobe: int = 2,
    train_frac: float = 0.5,
    train_salt: str = "h5ivf",
) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`ivf_pq_topk`: the coarse
    build CTEs of :func:`oracle_ivf_sql`, then residual/subspace CTEs,
    one (assign, recompute) pair per PQ Lloyd round over the same
    hash-sampled train gate, the query LUT, and the j-ordered ADC
    fold."""
    sub = dim // m
    l2 = (
        "round(list_sum(list_transform(range(1, {d} + 1), "
        "i -> (v[i] - c[i]) * (v[i] - c[i]))), 6)"
    ).format(d=dim)
    def sub_l2(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {sub} + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
        )

    def gate(k: int) -> str:
        return (
            f"vec_id < {k} OR "
            f"cast(('0x' || substr(md5('{train_salt}' || vec_id::VARCHAR)"
            f", 1, 8))::BIGINT as double) / {float(1 << 32)}"
            f" < {float(train_frac)!r}"
        )

    ctes = [
        f"v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})",
        f"tv AS (SELECT vec_id, v FROM v WHERE {gate(k_cells)})",
        f"c0 AS (SELECT vec_id AS cid, v AS c FROM v "
        f"WHERE vec_id < {k_cells})",
    ]
    for t in range(1, iters + 2):
        prev = f"c{t - 1}"
        src = "tv" if t <= iters else "v"
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, v, cid FROM (
    SELECT {src}.vec_id, {src}.v, {prev}.cid,
           row_number() OVER (PARTITION BY {src}.vec_id
                              ORDER BY {l2.replace('c[', prev + '.c[')}, {prev}.cid) AS rn
    FROM {src}, {prev}
  ) WHERE rn = 1
)"""
        )
        if t <= iters:
            ctes.append(
                f"""c{t} AS (
  SELECT cid, list(dimval ORDER BY d) AS c FROM (
    SELECT cid, d,
           round(list_sum(list(v[d] ORDER BY vec_id))
                 / count(*), 9) AS dimval
    FROM a{t}, range(1, {dim} + 1) t(d)
    GROUP BY cid, d
  ) GROUP BY cid
)"""
            )
    cf, af = f"c{iters}", f"a{iters + 1}"
    ctes.append(
        f"""res AS (
  SELECT a.vec_id, a.cid AS cell,
         list_transform(range(1, {dim} + 1), i -> a.v[i] - c.c[i]) AS r
  FROM {af} a JOIN {cf} c ON c.cid = a.cid
)"""
    )
    ctes.append(
        f"""rsub AS (
  SELECT vec_id, j,
         list_transform(range(1, {sub} + 1),
                        i -> r[j * {sub} + i]) AS rv
  FROM res, range(0, {m}) t(j)
)"""
    )
    ctes.append(f"ptv AS (SELECT * FROM rsub WHERE {gate(k_pq)})")
    ctes.append(
        f"p0 AS (SELECT j, vec_id AS code, rv AS cw FROM rsub "
        f"WHERE vec_id < {k_pq})"
    )
    for t in range(1, pq_iters + 2):
        prev = f"p{t - 1}"
        src = "ptv" if t <= pq_iters else "rsub"
        ctes.append(
            f"""pa{t} AS (
  SELECT vec_id, j, rv, code FROM (
    SELECT s.vec_id, s.j, s.rv, p.code,
           row_number() OVER (PARTITION BY s.vec_id, s.j
                              ORDER BY {sub_l2('s.rv', 'p.cw')}, p.code) AS rn
    FROM {src} s JOIN {prev} p ON p.j = s.j
  ) WHERE rn = 1
)"""
        )
        if t <= pq_iters:
            ctes.append(
                f"""p{t} AS (
  SELECT j, code, list(dimval ORDER BY d) AS cw FROM (
    SELECT j, code, d,
           round(list_sum(list(rv[d] ORDER BY vec_id))
                 / count(*), 9) AS dimval
    FROM pa{t}, range(1, {sub} + 1) t(d)
    GROUP BY j, code, d
  ) GROUP BY j, code
)"""
            )
    pf, paf = f"p{pq_iters}", f"pa{pq_iters + 1}"
    ctes.append(
        f"""probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT v.vec_id AS query_id, v.v AS qv, {cf}.cid AS cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {l2.replace('c[', cf + '.c[')}, {cf}.cid) AS rn
    FROM v, {cf}
    WHERE v.vec_id < {n_queries}
  ) WHERE rn <= {nprobe}
)"""
    )
    ctes.append(
        f"""qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(1, {dim} + 1), i -> p.qv[i] - c.c[i]) AS qr
  FROM probes p JOIN {cf} c ON c.cid = p.cell
)"""
    )
    ctes.append(
        f"""lut AS (
  SELECT q.query_id, q.cell, pc.j, pc.code,
         {sub_l2('sv', 'pc.cw').replace('sv[i]', f'q.qr[pc.j * {sub} + i]')} AS dsub
  FROM qres q, {pf} pc
)"""
    )
    ctes.append(
        f"""mem AS (
  SELECT pa.vec_id AS neighbor_id, a.cid AS cell, pa.j, pa.code
  FROM {paf} pa JOIN {af} a ON a.vec_id = pa.vec_id
)"""
    )
    ctes.append(
        """cr AS (
  SELECT l.query_id, m.neighbor_id, l.j, l.dsub
  FROM lut l
  JOIN mem m ON m.cell = l.cell AND m.j = l.j AND m.code = l.code
  WHERE m.neighbor_id <> l.query_id
)"""
    )
    ctes.append(
        """cand AS (
  SELECT query_id, neighbor_id,
         round(list_sum(list(dsub ORDER BY j)), 6) AS adist
  FROM cr GROUP BY query_id, neighbor_id
)"""
    )
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, rank::BIGINT AS rank, adist FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {k_top}""")
