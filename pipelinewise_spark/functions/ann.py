"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, one broadcast of the query
set, JVM-side ``zip_with``/``aggregate`` arithmetic (no Python). Scale
path: random-hyperplane LSH bucketing so candidate generation is an
equi-join on bucket signatures; at 100 TB the bucketed variant prunes the
candidate set by ~2^num_planes before any dot product is computed.
Hyperplanes are deterministic (md5-seeded ±1 components precomputed
driver-side and baked into the plan as literals), so results are
reproducible across cluster sizes AND engines — the DuckDB oracle embeds
the identical sign arrays.
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Unrolled-expression memo: building a 64-term sum costs ~0.4s of py4j
# round trips PER CALL; a Column tree is immutable (resolution happens
# per plan), so identical (expr, dim) requests reuse one tree. Keys use
# the UNDERLYING Catalyst expression's toString — which carries the
# expression id for dataset-bound columns (``df["v"]`` → ``v#123``), so
# two different datasets' same-named columns never collide; plain
# ``F.col("v")`` from any caller keys as the same unresolved name,
# which resolves per plan as always. Keys also carry the JVM gateway and
# SparkContext identity: a tree holds JVM object references, which a
# restarted context or JVM must never be handed. Caches EXPRESSION TREES
# only — never data or results — and at most _UNROLLED_CACHE_MAX of
# them, least recently used evicted first: dataset-bound keys change
# with every new DataFrame, so an unbounded memo grows for the life of
# the driver.
_UNROLLED_CACHE: OrderedDict = OrderedDict()
_UNROLLED_CACHE_MAX = 256


def _expr_key(c) -> str:
    try:
        return c._jc.expr().toString()
    except Exception:
        return str(c)


def _unrolled(key: tuple, build):
    """The memoized tree for ``key``, built by ``build()`` on a miss."""
    sc = SparkContext._active_spark_context
    key = (id(sc._gateway), sc.applicationId) + key if sc else key
    c = _UNROLLED_CACHE.get(key)
    if c is None:
        c = _UNROLLED_CACHE[key] = build()
        if len(_UNROLLED_CACHE) > _UNROLLED_CACHE_MAX:
            _UNROLLED_CACHE.popitem(last=False)
    else:
        _UNROLLED_CACHE.move_to_end(key)
    return c


def dot(a, b, dim: int | None = None):
    """Dot product of two array columns. With ``dim`` the sum is UNROLLED
    into a flat codegen-friendly expression (``a[0]*b[0] + a[1]*b[1] +
    ...``) instead of the interpreted ``aggregate``/``zip_with``
    higher-order functions — measured 3-4x faster per pair on the LSH
    verify joins (OPTIMIZATION_r08.md) and bit-identical: the unrolled
    chain adds left-associated from ``0.0`` in index order, exactly the
    fold order of ``F.aggregate``, and each element goes through the
    same ``cast("double")`` pair. Caveat: a malformed vector SHORTER
    than ``dim`` yields NULL (out-of-range getItem) where the HOF form
    scored the truncated prefix — fixed-dim inputs are the contract
    either way."""
    if dim is not None:
        def build():
            c = F.lit(0.0)
            for i in range(dim):
                c = c + a[i].cast("double") * b[i].cast("double")
            return c

        return _unrolled(("dot", _expr_key(a), _expr_key(b), dim), build)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a, dim: int | None = None):
    """L2 norm; ``dim`` unrolls like :func:`dot` (same fold order →
    bit-identical doubles)."""
    if dim is not None:
        def build():
            s = F.lit(0.0)
            for i in range(dim):
                s = s + a[i].cast("double") * a[i].cast("double")
            return F.sqrt(s)

        return _unrolled(("norm", _expr_key(a), dim), build)
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a, b, dim: int | None = None):
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


from pipelinewise_spark.functions.util import spread_to_cores as _spread  # noqa: E402


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector. The query side is
    broadcast (small by construction); the corpus streams through one
    projection + per-query window. ``dim`` unrolls the arithmetic and
    precomputes each side's norm ONCE per row instead of once per
    (query, row) pair — identical doubles, see :func:`dot`. Columns:
    query_id, neighbor_id, sim, rank."""
    if dim is not None:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            norm(F.col(vec_col), dim).alias("__qn"),
        )
        c = _spread(corpus, id_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            norm(F.col(vec_col), dim).alias("__cn"),
        )
        sim = dot(F.col("qv"), F.col("cv"), dim) / (
            F.col("__qn") * F.col("__cn")
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        sim = cosine(F.col("qv"), F.col("cv"))
    scored = F.broadcast(q).crossJoin(c).where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(sim, 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def similar_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.2,
    max_id: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold (optionally restricted to
    id < max_id). Quadratic — the oracle-checkable baseline the LSH
    variant is validated against."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if max_id is not None:
        base = base.where(F.col("id") < max_id)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def plane_signs(dim: int, num_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplane components: sign of plane ``p``,
    dimension ``d`` is the parity of the first md5 byte of
    ``"{seed}|{p}|{d}"``. Computed driver-side once (literals in the plan
    — zero per-row cost) and reusable verbatim by any SQL oracle."""
    return [
        [
            1.0
            if hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()[0] % 2 == 0
            else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_bucket(vec, dim: int, num_planes: int = 8, seed: int = 42):
    """LSH bucket id: sign pattern of the vector against ``num_planes``
    deterministic ±1 hyperplanes (see :func:`plane_signs`). Kept in the
    compact ``aggregate``/``zip_with`` form deliberately: this is a
    PER-ROW expression (never per candidate pair), and the unrolled
    variant's ~10x bigger expression tree costs more in driver-side
    Catalyst planning per query than its execution saves
    (OPTIMIZATION_r08.md — plan-size vs per-pair trade)."""
    bucket = F.lit(0).cast("long")
    for p, signs in enumerate(plane_signs(dim, num_planes, seed)):
        comps = F.array(*[F.lit(s) for s in signs])
        s = dot(vec, comps)
        bucket = bucket + F.when(s > 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    num_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket
    (equi-join on bucket), then exact cosine rank within candidates. At
    scale, corpus bucketing is a one-off precompute; the join shuffles by
    bucket instead of broadcasting the corpus."""
    cb = _spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        hyperplane_bucket(F.col(vec_col), dim, num_planes).alias("bkt"),
        norm(F.col(vec_col), dim).alias("__cn"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_bucket(F.col(vec_col), dim, num_planes).alias("bkt"),
        norm(F.col(vec_col), dim).alias("__qn"),
    )
    scored = (
        F.broadcast(qb)
        .join(cb, "bkt")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"), dim)
                / (F.col("__qn") * F.col("__cn")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_similar_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 6,
    threshold: float = 0.3,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: candidates are pairs
    sharing a hyperplane bucket (equi-join keyed on the bucket — linear
    shuffle, no cross product), then exact cosine ≥ threshold on
    candidates only. The LSH analog of the quadratic
    :func:`similar_pairs` baseline; recall is bounded by the bucket
    collision probability of the ``num_planes`` sign pattern.

    Physical shape (r8): each row's norm is computed ONCE in the
    pre-join projection (the old per-pair ``cosine`` recomputed both
    norms for every candidate pair — 2/3 of the pair arithmetic), the
    dot product is unrolled for codegen, and the narrow single-file
    scan is spread across cores. Same doubles, same rows.
    Columns: id_a, id_b, sim."""
    b = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        hyperplane_bucket(F.col(vec_col), dim, num_planes).alias("bkt"),
        norm(F.col(vec_col), dim).alias("nrm"),
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(c, (F.col("a.bkt") == F.col("b.bkt")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dot(F.col("a.v"), F.col("b.v"), dim)
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _band_pairs(ids: DataFrame, buckets: list) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, of ``ids`` rows
    that share a bucket in any band; ``buckets[b]`` is band ``b``'s
    bucket column. Each row explodes to one ``(band, bkt)`` row per band
    and the band rows self-join on both."""
    exploded = ids.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), bkt.alias("bkt"))
            for b, bkt in enumerate(buckets)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bkt")
    a, c = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_banded_candidates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    band_planes: int = 10,
    seed: int = 42,
) -> DataFrame:
    """OR-amplified hyperplane LSH candidate pairs: ``bands`` INDEPENDENT
    plane sets (band ``b`` seeds its planes with ``seed + b``), a pair is
    a candidate if it collides in ANY band — the same AND/OR construction
    :func:`pipelinewise_spark.functions.dedup_text.lsh_candidate_pairs`
    uses for MinHash, applied to the embedding side.

    Why this beats the single-table variant at scale: one sign table
    forces a recall/granularity trade — few planes → coarse buckets →
    O((n/2^planes)²) verify tail; many planes → borderline pairs split
    and recall cliffs. Banding decouples them: each band can afford MANY
    planes (fine buckets, tiny within-bucket quadratic tail) while the OR
    across bands restores recall (1-(1-p^planes)^bands). Candidates are
    id pairs only (vectors join back in the verify stage), so the
    band-bucket shuffle carries no embedding payload.
    Columns: id_a, id_b (distinct)."""
    ids = _spread(df, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    return _band_pairs(ids, [
        hyperplane_bucket(F.col("v"), dim, band_planes, seed=seed + b)
        for b in range(bands)
    ])


def lsh_banded_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    band_planes: int = 10,
    threshold: float = 0.3,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded (OR-amplified) LSH:
    candidates that collide in any band, exact cosine verified ONLY on
    candidates. Supersedes :func:`lsh_similar_pairs` (kept as the
    single-table baseline) for large corpora.

    Physical shape (r8): the signed frame — (id, v, per-band bucket,
    norm), the ``bands``·``band_planes``·``dim``-term projection that
    dominated this operator — is computed ONCE and localCheckpointed;
    the band-row explode (both self-join sides) and the verify join all
    read the materialized columns instead of re-deriving the projection
    per consumer (the old plan evaluated it 4x: two candidate sides +
    va + vb). The checkpoint is one skinny O(corpus) materialization —
    the standard sign-once LSH trade (cf. the persisted minhash index)
    — and gives the verify joins accurate size stats, so the corpus
    side broadcasts when it fits instead of sort-merge-shuffling the
    candidate pairs. Same doubles, same rows.
    Columns: id_a, id_b, sim."""
    base = _spread(df, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        *[
            hyperplane_bucket(
                F.col(vec_col), dim, band_planes, seed=seed + b
            ).alias(f"__bkt{b}")
            for b in range(bands)
        ],
        norm(F.col(vec_col), dim).alias("nrm"),
    ).localCheckpoint(eager=True)
    cands = _band_pairs(base, [F.col(f"__bkt{b}") for b in range(bands)])
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"), dim)
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def kmeans_cells(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding column — the REAL
    coarse quantizer for the IVF index (:func:`ivf_topk` previously used
    the provided label column as cells; at 100 TB the cells come from
    exactly this: a few assignment+mean passes with centroids collected
    driver-side between iterations, k·dim doubles each — the canonical
    Spark iterative-algorithm shape).

    Deterministic and ORACLE-REPLICABLE by construction:
    - init = the k vectors with smallest ``(md5(id), id)`` (arbitrary but
      engine-independent spread), cell ids 0..k-1 in that order;
    - distances are squared-euclidean via dot products, ROUNDED to 6
      decimals before the argmin (ties break on cell id), and new
      centroids are per-dimension means rounded to 6 — so both engines
      carry bit-identical centroid literals into the next iteration.

    Returns (id_col, cell). One job per iteration: broadcast-literal
    argmin (no join) + one groupBy mean."""
    assigned, _ = _kmeans_fit(
        df, id_col=id_col, vec_col=vec_col, k=k, iters=iters
    )
    return assigned.select(F.col("id").alias(id_col), "cell")


def _kmeans_fit(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
):
    """Shared deterministic-Lloyd core: returns ``(assigned_df,
    centroids)`` where assigned has columns (id, v, cell) and centroids
    is the [(cell_id, vector), ...] list the FINAL assignment used —
    needed by the PQ encoder's asymmetric-distance scoring."""
    base = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    seed_rows = (
        base.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .collect()
    )
    # (cell_id, vector) pairs; a corpus smaller than k just seeds fewer
    # cells (same as the oracle's rn <= k over the available rows)
    centroids = [(c, list(r["v"])) for c, r in enumerate(seed_rows)]

    def assign(cents):
        v_dot = dot(F.col("v"), F.col("v"))
        opts = []
        for cell_id, cv in cents:
            arr = F.array(*[F.lit(float(x)) for x in cv])
            cc = float(sum(x * x for x in cv))
            d2 = F.round(v_dot + F.lit(cc) - 2.0 * dot(F.col("v"), arr), 6)
            opts.append(F.struct(d2.alias("d"), F.lit(cell_id).alias("c")))
        return base.select(
            "id", "v", F.array_min(F.array(*opts))["c"].alias("cell")
        )

    assigned = assign(centroids)
    for _ in range(iters - 1):
        means = (
            assigned.select("cell", F.posexplode("v").alias("idx", "x"))
            .groupBy("cell", "idx")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("s")
            )
            .select("cell", F.transform("s", lambda t: t["m"]).alias("cv"))
            .collect()
        )
        # a cell that lost all members is DROPPED from the candidate set
        # (not carried) — identical to the oracle's GROUP BY-derived
        # centroid table, which is the determinism contract
        centroids = sorted((r["cell"], list(r["cv"])) for r in means)
        assigned = assign(centroids)
    return assigned, centroids


def label_centroids(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector — the coarse-quantizer "training" step of an
    IVF index (here labels stand in for k-means cells; at scale the cells
    come from a sampled k-means). Element-wise mean via posexplode +
    re-assemble: one shuffle keyed (label, dim), fully JVM-side.
    Columns: label, idx, centroid_val."""
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("idx", "v"),
    )
    return (
        exploded.groupBy("label", "idx")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_probe: int = 1,
    centroids: list[tuple] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are partitioned into
    cells (label_col); each query probes its ``n_probe`` nearest cell
    centroids and ranks only vectors in those cells. The candidate join
    is an equi-join on cell id — at 100 TB this prunes the scan to
    n_probe/n_cells of the corpus before any full dot product.

    Pass ``centroids=[(label, vector), ...]`` (e.g. from a persisted
    index, :mod:`pipelinewise_spark.functions.ann_index`) to skip the
    centroid recompute — the encode-once/query-many shape: the inline
    path shuffles the whole corpus once per call to derive cell means;
    the pretrained path builds the same k·dim broadcast table from
    saved literals and touches only the probed cells."""
    if centroids is not None:
        if not centroids:
            # an empty centroid table would silently return ZERO rows
            # for every query — fail loudly instead
            raise ValueError(
                "ivf_topk: centroids is empty — fit/save the index "
                "before querying the pretrained path"
            )
        spark = corpus.sparkSession
        # coerce labels explicitly (numpy ints etc. would fail or
        # mis-type schema inference from the first element)
        as_str = isinstance(centroids[0][0], str)
        cents = spark.createDataFrame(
            [
                (str(c) if as_str else int(c), [float(x) for x in v])
                for c, v in centroids
            ],
            f"label {'string' if as_str else 'bigint'}, cv array<double>",
        )
    else:
        cents = (
            label_centroids(corpus, label_col=label_col, vec_col=vec_col)
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "centroid_val"))).alias("s"))
            .select("label", F.transform("s", lambda x: x["centroid_val"]).alias("cv"))
        )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("label")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        # rounded before ranking so the probe order is reproducible across
        # engines/summation orders (oracle parity)
        .select("query_id", "qv", "label",
                F.round(cosine(F.col("qv"), F.col("cv"), dim), 6).alias("csim"))
        .withColumn("prank", F.row_number().over(probe_w))
        .where(F.col("prank") <= n_probe)
        .select("query_id", "qv", "label")
    )
    c = _spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.col(label_col).alias("label"),
    )
    scored = (
        F.broadcast(probes)
        .join(c, "label")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv"), dim), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _pq_fit(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    k: int,
    iters: int,
):
    """Train the m per-subspace codebooks ONCE and encode the corpus in
    ONE projection (no joins): per subspace the trained centroids become
    a broadcast-literal argmin expression over the vector slice — the
    same expression shape (rounded d2, tie on cell id) _kmeans_fit's
    final assignment used, so the single-select encoding is bit-equal to
    the per-subspace assignments. Returns ``(codes_df, codebooks)`` with
    codebooks[j] = {cell: centroid_vector}."""
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    codebooks: list[dict] = []
    for j in range(m):
        sub = base.select(
            F.col(id_col),
            F.slice(F.col("v"), j * sub_dim + 1, sub_dim).alias("sub"),
        )
        _, cents = _kmeans_fit(
            sub, id_col=id_col, vec_col="sub", k=k, iters=iters
        )
        codebooks.append(dict(cents))
    return (
        pq_encode(
            df, codebooks, id_col=id_col, vec_col=vec_col, sub_dim=sub_dim
        ),
        codebooks,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[dict],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
) -> DataFrame:
    """Encode vectors against ALREADY-TRAINED PQ codebooks — one
    projection, no joins, no training: per subspace the codebook
    centroids are broadcast-literal argmin candidates over the vector
    slice (rounded d2, tie on cell id — the exact expression
    :func:`_pq_fit`'s own encoding uses, so incremental encodes are
    bit-compatible with the original fit). This is the INCREMENTAL
    MAINTENANCE path: when CDC lands new corpus rows, encode only those
    rows with the saved codebooks and append to the codes table —
    retraining (and re-encoding 10⁹ vectors) only happens when drift
    warrants it. Columns: (id_col, code0..code{m-1})."""
    base = _spread(df, id_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    exprs = []
    for j, cb in enumerate(codebooks):
        sv = F.slice(F.col("v"), j * sub_dim + 1, sub_dim)
        sv_dot = dot(sv, sv)
        opts = []
        for cell_id, cv in sorted(cb.items()):
            arr = F.array(*[F.lit(float(x)) for x in cv])
            cc = float(sum(x * x for x in cv))
            d2 = F.round(sv_dot + F.lit(cc) - 2.0 * dot(sv, arr), 6)
            opts.append(F.struct(d2.alias("d"), F.lit(cell_id).alias("c")))
        exprs.append(F.array_min(F.array(*opts))["c"].alias(f"code{j}"))
    return base.select(F.col(id_col), *exprs)


def pq_codes(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Product-quantization ENCODER: split each vector into ``m``
    subvectors of ``sub_dim`` dims, train an independent deterministic
    k-means codebook per subspace (same md5-spread/rounding contract as
    :func:`kmeans_cells`, so the oracle can replay it), and emit each
    vector's code word — columns (id_col, code0..code{m-1}) from ONE
    projection over the corpus.

    Scale story: PQ compresses a d-dim float32 vector to m codes
    (m·log2(k) bits) — at 10⁹ vectors the codes table fits where raw
    embeddings cannot, and ADC scoring (:func:`pq_adc_topk`) scans
    codes with per-query lookup tables instead of touching raw vectors.
    Training is m independent kmeans runs (k·sub_dim doubles collected
    per iteration per subspace — the bounded iterative shape)."""
    codes, _ = _pq_fit(
        df, id_col=id_col, vec_col=vec_col, m=m, sub_dim=sub_dim, k=k,
        iters=iters,
    )
    return codes


def _round6(x: float) -> float:
    """Round to 6 decimals with the SAME semantics as Spark's
    ``F.round`` (BigDecimal of the double's shortest decimal repr,
    HALF_UP). Python's built-in ``round()`` is half-even on the binary
    value and diverges on exact half boundaries (round(5e-7, 6) = 0.0
    vs Spark's 1e-6) — driver-side LUTs must match the engine-side
    rounding or the two ADC variants disagree on boundary values."""
    import math
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    if not math.isfinite(x):
        return x
    # a double's 17 significant digits + 6 decimals can need ~330
    # digits of working precision at the extremes (1e308); the default
    # 28-digit context raises InvalidOperation past ~1e22
    with localcontext() as ctx:
        ctx.prec = 400
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )


def _model_geometry(codebooks: list[dict]) -> tuple[int, int]:
    """(m, sub_dim) as recorded IN the trained codebooks — callers of a
    pre-trained model must not be trusted to repeat the training
    params (a silent mismatch slices queries wrong and returns
    garbage)."""
    return len(codebooks), len(next(iter(codebooks[0].values())))


def pq_adc_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    m: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    iters: int = 2,
    top_k: int = 10,
    model: tuple | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approximate
    ``||q - x||² ≈ Σ_j ||q_sub_j - centroid_{j, code_j(x)}||²``. Per
    query the m·k partial distances are computed DRIVER-side from the
    trained codebooks (k·sub_dim doubles per subspace) and embedded as
    literal lookup arrays, so scoring the corpus is a pure projection
    over the CODES table: no join, no raw vectors at scan time, one
    scan + one top-k aggregate. Pass ``model=(codes_df, codebooks)``
    from :func:`_pq_fit` to score against a PRE-TRAINED index (the
    production shape — encode once, query many); its geometry
    (m, sub_dim) is then DERIVED from the codebooks, so the keyword
    params cannot silently disagree with how the index was trained.
    Omitted, it trains one inline. Queries must be a small
    broadcastable set (the per-query lookup is m·k literals)."""
    if model is not None:
        codes, codebooks = model
        m, sub_dim = _model_geometry(codebooks)
    else:
        codes, codebooks = _pq_fit(
            df, id_col=id_col, vec_col=vec_col, m=m, sub_dim=sub_dim, k=k,
            iters=iters,
        )
    q_rows = queries.select(
        F.col(q_id_col),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    per_query = []
    for qr in q_rows:
        qv = list(qr["qv"])
        score = None
        for j in range(m):
            qs = qv[j * sub_dim : (j + 1) * sub_dim]
            # dense cell_id -> d2 lookup; a dropped (empty) cell never
            # appears as a code, its slot is a placeholder
            lut = []
            cells_j = codebooks[j]
            max_cell = max(cells_j) if cells_j else -1
            for c in range(max_cell + 1):
                cv = cells_j.get(c)
                d2 = (
                    sum((a - b) ** 2 for a, b in zip(qs, cv))
                    if cv is not None
                    else float("inf")
                )
                lut.append(_round6(d2))
            term = F.element_at(
                F.array(*[F.lit(x) for x in lut]), F.col(f"code{j}") + 1
            )
            score = term if score is None else score + term
        per_query.append(
            F.struct(
                F.lit(qr[q_id_col]).alias("q"),
                F.round(score, 6).alias("d2"),
            )
        )
    exploded = codes.select(
        F.col(id_col),
        F.explode(F.array(*per_query)).alias("s"),
    ).select(
        F.col("s.q").alias(q_id_col), F.col(id_col), F.col("s.d2").alias("d2")
    )
    w_rank = F.row_number().over(
        Window.partitionBy(q_id_col).orderBy(F.col("d2"), F.col(id_col))
    )
    return (
        exploded.withColumn("rank", w_rank)
        .where(F.col("rank") <= top_k)
        .select(q_id_col, id_col, "d2", "rank")
    )


def pq_adc_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    m: int = 4,
    sub_dim: int = 16,
    k: int = 8,
    iters: int = 2,
    top_k: int = 10,
    model: tuple | None = None,
) -> DataFrame:
    """ADC top-k for LARGE query batches. Same asymmetric-distance math
    as :func:`pq_adc_topk`, different physical plan: instead of per-query
    literal lookup arrays (an expression tree that grows with |Q| — fine
    for a handful of queries, a 10k-branch tree for a 10k batch), the
    per-(query, subspace, cell) partial distances become a BROADCAST
    LUT DataFrame computed in Spark (queries never collect to the
    driver):

    - centroids → a tiny literal table (m·k rows);
    - queries explode to (q_id, j, q_sub) and broadcast-join centroids →
      LUT (q_id, j, cell, d2), |Q|·m·k rows, broadcast;
    - the codes table explodes to (id, j, code) and broadcast-joins the
      LUT; one partial-agg sum per (q_id, id) + per-query top-k window.

    Scale: the joins are broadcast (no shuffle of the codes table); the
    only shuffles are the (q_id, id) aggregation and the top-k window —
    both over scored candidates, never raw vectors. Per-subspace partial
    distances go through the same engine-side ``F.round(..., 6)`` as the
    literal path's driver LUT (which uses HALF_UP :func:`_round6` for
    exactly this reason), so both variants return the same rows — up to
    float summation order of the m rounded terms, which only matters if
    the exact total lands within one double ulp of a rounding boundary.
    Geometry (m, sub_dim) is derived from a passed ``model``'s
    codebooks, never trusted from the keywords."""
    if model is not None:
        codes, codebooks = model
        m, sub_dim = _model_geometry(codebooks)
    else:
        codes, codebooks = _pq_fit(
            df, id_col=id_col, vec_col=vec_col, m=m, sub_dim=sub_dim, k=k,
            iters=iters,
        )
    spark = codes.sparkSession
    cent_rows = [
        (j, int(c), [float(x) for x in v])
        for j, cb in enumerate(codebooks)
        for c, v in sorted(cb.items())
    ]
    cents = spark.createDataFrame(
        cent_rows, "j int, cell int, cv array<double>"
    )
    qv = F.col(vec_col).cast("array<double>")
    q_subs = queries.select(
        F.col(q_id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice(qv, j * sub_dim + 1, sub_dim).alias("qs"),
                )
                for j in range(m)
            ])
        ).alias("s"),
    ).select(q_id_col, "s.j", "s.qs")
    lut = q_subs.join(F.broadcast(cents), "j").select(
        F.col(q_id_col),
        "j",
        "cell",
        F.round(
            F.aggregate(
                F.zip_with("qs", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d2"),
    )
    codes_long = codes.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(j).alias("j"), F.col(f"code{j}").alias("cell"))
                for j in range(m)
            ])
        ).alias("s"),
    ).select(id_col, "s.j", "s.cell")
    scored = (
        codes_long.join(F.broadcast(lut), ["j", "cell"])
        .groupBy(q_id_col, id_col)
        .agg(F.round(F.sum("d2"), 6).alias("d2"))
    )
    w_rank = F.row_number().over(
        Window.partitionBy(q_id_col).orderBy(F.col("d2"), F.col(id_col))
    )
    return (
        scored.withColumn("rank", w_rank)
        .where(F.col("rank") <= top_k)
        .select(q_id_col, id_col, "d2", "rank")
    )
