"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline) plus LSH- and IVF-bucketed approximate variants
(the 100 TB scale paths — candidate sets come from bucket equi-joins,
never a full cross product).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_snapshot_spark.functions import cosine


def _vector_ok(col: Column, dim: int) -> Column:
    """TRUE iff the vector is exactly ``dim`` long with NO NULL
    elements.  The length check alone was not enough (r12 review): a
    correct-length vector with one NULL element NULLs the zip_with
    distance for a whole subspace — NULL sorts FIRST under asc(), so
    the vector silently took PQ code 0; a NULL-element QUERY made
    F.sum skip that subspace's ADC term and ranked every candidate too
    close; in SRP the projections went NULL and the vector fell into
    bucket 0."""
    return (F.size(col) == dim) & (
        F.size(F.filter(col, lambda x: x.isNull())) == 0)


def _vector_err(op: str, dim: int, col: Column) -> Column:
    return F.raise_error(F.concat(
        F.lit(f"{op}: vector must be exactly dim={dim} "
              "non-NULL elements (got length "),
        F.size(col).cast("string"),
        F.lit(", nulls "),
        F.size(F.filter(col, lambda x: x.isNull())).cast("string"),
        F.lit(")")))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """exact top-k by cosine: broadcast the (small) query set against the
    vector corpus, rank per query.  One broadcast join + one window
    shuffle on query_id; ties broken by vec_id for determinism.

    r13: the L2 norms are hoisted ABOVE the cross join — HOF lambda
    bodies get no common-subexpression elimination, so the inlined
    ``cosine()`` form recomputed the O(d) corpus-row norm once PER
    QUERY and the query norm once per pair (3·|Q| array aggregates per
    row); hoisting makes it one norm per corpus row + one per query +
    |Q| dots.  Values are bit-identical (same expressions over the
    same inputs — only the evaluation point moves), so the DuckDB
    oracle hash is unchanged by construction."""
    from hbase_snapshot_spark.functions import dot, l2_norm

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_vn"),
    )
    # same zero-norm guard as functions.cosine: NULL, never NaN
    cos = F.when(
        (F.col("_vn") > F.lit(0.0)) & (F.col("_qn") > F.lit(0.0)),
        dot(F.col("_v"), F.col("qvec")) / (F.col("_vn") * F.col("_qn")),
    )
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _srp_planes(dim: int, num_planes: int) -> list[list[float]]:
    """deterministic signed-random-projection hyperplanes: entry sign
    from a hash of (plane, dim) — reproducible everywhere, no RNG"""
    import hashlib

    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: sign bits of projections onto the fixed planes"""
    sig = None
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in plane]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """approximate top-k: bucket corpus and queries by SRP-LSH signature,
    score only same-bucket candidates.  Recall < 1 by design; tests
    measure it against cosine_topk."""
    planes = _srp_planes(dim, num_planes)

    def checked_sig(col):
        # a dim mismatch (or a NULL element — r12 review) would
        # NULL-pad zip_with, NULL the projections, and silently
        # collapse the vector into bucket 0 (turning the bucket join
        # into a cross product) — fail loudly instead
        return F.when(
            _vector_ok(col, dim), srp_signature(col, planes)
        ).otherwise(_vector_err("ann_lsh_topk", dim, col))

    # norms hoisted above the bucket join (r13, same reasoning as
    # cosine_topk): bit-identical values, one dot per candidate pair
    from hbase_snapshot_spark.functions import dot, l2_norm

    v = vectors.withColumn("bucket", checked_sig(F.col(vec_col))).withColumn(
        "_vn", l2_norm(F.col(vec_col)))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("bucket", checked_sig(F.col("qvec"))).withColumn(
        "_qn", l2_norm(F.col("qvec")))
    cos = F.when(
        (F.col("_vn") > F.lit(0.0)) & (F.col("_qn") > F.lit(0.0)),
        dot(F.col(vec_col), F.col("qvec")) / (F.col("_vn") * F.col("_qn")),
    )
    scored = v.join(F.broadcast(q), on="bucket").select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmeans_refine(
    vectors: DataFrame,
    cents: DataFrame,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd iterations over the coarse quantizer: re-assign vectors to
    their best cell, recompute centroids as elementwise means.  Improves
    cell balance (and therefore IVF recall per probe) over the init-only
    quantizer; a handful of iterations suffices for a bucketing
    structure.

    Scale shape per iteration: one broadcast cross-score (centroids are
    tiny), one posexplode + (cell, dim) aggregation — dimension fan-out
    is bounded (dim × n vectors), all JVM-side.  The result is
    deterministic up to float-sum ordering inside the mean, which is why
    the ORACLE-facing ivf query keeps the init-only quantizer
    (iterations=0); refined quantizers are for production recall, pinned
    by the recall tests instead."""
    for _ in range(iterations):
        scored = vectors.crossJoin(F.broadcast(cents)).select(
            id_col, vec_col, "cell",
            F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("_sim"),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_sim").desc(), F.col("cell").asc()
        )
        assigned = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, vec_col, "cell")
        )
        means = (
            assigned.select(
                "cell", F.posexplode(F.col(vec_col)).alias("dim", "x")
            )
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("m")))
                ).alias("dm")
            )
            .select("cell", F.transform(F.col("dm"), lambda s: s.m).alias("mvec"))
        )
        # a cell that lost every assignment KEEPS its previous centroid
        # (pq_train's empty-cluster rule): rebuilding only from assigned
        # rows silently shrank the quantizer below num_centroids
        cents = (
            cents.join(means, on="cell", how="left")
            .select("cell",
                    F.coalesce(F.col("mvec"), F.col("cvec")).alias("cvec"))
        )
    return cents


def ivf_assign(
    vectors: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer with deterministic seeding: centroids are the
    vectors with the ``num_centroids`` smallest ids (no RNG — a k-means
    init step), optionally refined with ``kmeans_iterations`` Lloyd
    rounds (kmeans_refine).  Returns (assigned vectors with ``cell``,
    centroids).

    Assignment ranks on round(cos, 6) with cell-asc tie-break so the
    argmax is reproducible bit-for-bit across engines (the DuckDB oracle
    in oracle_ops.ann_ivf_sql ranks identically for the init-only
    quantizer)."""
    cents = _make_centroids(
        vectors, num_centroids, id_col, vec_col, kmeans_iterations)
    return _assign_cells(vectors, cents, id_col, vec_col), cents


def _make_centroids(
    vectors: DataFrame, num_centroids: int, id_col: str, vec_col: str,
    kmeans_iterations: int,
) -> DataFrame:
    """Deterministic quantizer: smallest-id seeding + optional Lloyd
    refinement (shared by ivf_assign and build_ann_index)."""
    cents = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(num_centroids)
        .select(F.col(id_col).alias("cent_src"), F.col(vec_col).alias("cvec"))
    )
    # stable cell ids: rank of the source id
    w = Window.orderBy(F.col("cent_src").asc())
    cents = cents.select((F.row_number().over(w) - 1).alias("cell"), "cvec")
    if kmeans_iterations > 0:
        cents = kmeans_refine(
            vectors, cents, kmeans_iterations, id_col, vec_col
        )
    return cents


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kmeans_iterations: int = 0,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest cells per query, exact
    cosine within probed cells only.  ``kmeans_iterations > 0`` trains
    the quantizer (better-balanced cells → higher recall per probe)."""
    assigned, cents = ivf_assign(
        vectors, num_centroids, id_col, vec_col, kmeans_iterations
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    probes = _probes_for(q, cents, nprobe)
    return _score_and_rank(assigned, probes, k, id_col, vec_col)


# ----------------------------------------------------- product quantization


def _l2sq(a: Column, b: Column) -> Column:
    """squared L2 distance between two float arrays (JVM-side fold)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(df: DataFrame, m: int, dim: int, vec_col: str) -> DataFrame:
    """explode each vector into its m subvectors: + (sub, svec) columns.

    The ONE validation chokepoint for every PQ path (train / encode /
    ADC lookup): ``m`` must divide ``dim`` — the trailing dim % m
    dimensions would otherwise be silently dropped from codebooks,
    codes, and distances — and every vector must be exactly ``dim``
    long: a short vector NULL-pads zip_with, the NULL L2 distance
    sorts FIRST under asc() (Spark ranks NULL before every value), and
    the vector would get code 0 per subspace with no error.  Same loud
    contract as ann_lsh_topk's checked_sig."""
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"dim={dim} must be a positive multiple of m={m}: the "
            "trailing dim % m dimensions would silently drop from "
            "training, encoding, and ADC distances")
    d_sub = dim // m
    checked = F.when(
        _vector_ok(F.col(vec_col), dim), F.col(vec_col)
    ).otherwise(_vector_err("pq", dim, F.col(vec_col)))
    df = df.withColumn(vec_col, checked)
    subs = F.expr(
        f"transform(sequence(0, {m - 1}), "
        f"s -> slice({vec_col}, s * {d_sub} + 1, {d_sub}))"
    )
    return df.select(
        "*", F.posexplode(subs).alias("sub", "svec")
    ).drop(vec_col)


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    num_codes: int = 16,
    dim: int = 64,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the dimension splits
    into ``m`` subspaces; each learns its own ``num_codes``-entry
    codebook.  Deterministic seeding (the smallest-id vectors donate
    the initial codewords — no RNG), then ``iterations`` Lloyd rounds
    per subspace, each one assign-shuffle + mean-aggregate over the
    full corpus.  Returns (sub, code, cvec).

    At 100 TB this is the standard memory-compression path: 8 bytes of
    codes replace 256 bytes of float32 per vector, and search runs in
    the compressed domain (pq_topk)."""
    seeds = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(num_codes)
        .select(F.col(id_col).alias("_src"), F.col(vec_col))
    )
    w = Window.orderBy(F.col("_src").asc())
    seeds = seeds.select((F.row_number().over(w) - 1).alias("code"), vec_col)
    books = _subvectors(seeds, m, dim, vec_col).select(
        "sub", "code", F.col("svec").alias("cvec")
    )
    if iterations <= 0:
        return books
    subvecs = _subvectors(
        vectors.select(id_col, vec_col), m, dim, vec_col
    )
    for _ in range(iterations):
        scored = subvecs.join(F.broadcast(books), on="sub").select(
            id_col, "sub", "code", "svec",
            _l2sq(F.col("svec"), F.col("cvec")).alias("_d"),
        )
        wv = Window.partitionBy(id_col, "sub").orderBy(
            F.col("_d").asc(), F.col("code").asc()
        )
        assigned = (
            scored.withColumn("_rn", F.row_number().over(wv))
            .filter(F.col("_rn") == 1)
        )
        d_sub = dim // m
        # per-dimension mean of each (sub, code) cluster — empty
        # clusters keep their previous codeword (left join + coalesce)
        means = assigned.groupBy("sub", "code").agg(
            *[
                F.avg(F.element_at(F.col("svec"), i + 1)).alias(f"_m{i}")
                for i in range(d_sub)
            ]
        ).select(
            "sub", "code",
            F.array(*[F.col(f"_m{i}") for i in range(d_sub)]).alias("mvec"),
        )
        books = (
            books.join(means, on=["sub", "code"], how="left")
            .select(
                "sub", "code",
                F.coalesce(F.col("mvec"), F.col("cvec")).alias("cvec"),
            )
        )
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """vectors → (vec_id, codes array<int>): per subspace, the nearest
    codeword (L2, code-asc tie-break for determinism).  One broadcast
    join + one window + one groupBy — all JVM-side."""
    subvecs = _subvectors(vectors.select(id_col, vec_col), m, dim, vec_col)
    # round(.,6) before the argmin so near-ties resolve identically
    # across engines (the DuckDB oracle ranks the same rounded value
    # with the same code-asc tie-break) — same device as ivf_assign
    scored = subvecs.join(F.broadcast(codebooks), on="sub").select(
        id_col, "sub", "code",
        F.round(_l2sq(F.col("svec"), F.col("cvec")), 6).alias("_d"),
    )
    wv = Window.partitionBy(id_col, "sub").orderBy(
        F.col("_d").asc(), F.col("code").asc()
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == 1)
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub"), F.col("code")))
            ),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k in the compressed domain: each
    query precomputes an (m x num_codes) distance table against the
    codebooks (a small broadcast frame, built Spark-side); every coded
    vector then sums m table lookups.  Plan shape: explode codes to
    (vec_id, sub, code), broadcast-hash-join the lookup table, partial
    sum per (query, vec), window top-k — no decompression, no cartesian
    over the corpus."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    lookup = _adc_lookup(q, codebooks, m, dim)
    exploded = codes.select(
        id_col, F.posexplode(F.col("codes")).alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(lookup), on=["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("_d"), 6).alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    num_codes: int = 16,
    dim: int = 64,
    pq_iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ composition): the IVF coarse quantizer
    restricts the candidate set to ``nprobe`` cells, and the ADC scan
    inside those cells runs on PQ codes instead of raw vectors.  This is
    the 100 TB memory shape — the raw float columns never enter the
    search join; only (cell, codes) does.

    Plan: ivf_assign (broadcast centroids) → pq_train/pq_encode once →
    per-query probe list (broadcast) → cell-bucketed equi-join of coded
    candidates × query distance tables → partial-sum + window top-k."""
    assigned, cents = ivf_assign(vectors, num_centroids, id_col, vec_col)
    books = pq_train(
        vectors, m=m, num_codes=num_codes, dim=dim,
        iterations=pq_iterations, id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(
        vectors, books, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    ).join(assigned.select(id_col, "cell"), on=id_col)

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # the probe list and the ADC lookup table are the SHARED helpers —
    # a third inline copy of the round-6 + cell-asc probe window (or of
    # the lookup construction) could silently drift from pq_topk /
    # ivf_topk
    probes = _probes_for(q, cents, nprobe).select("query_id", "cell")
    lookup = _adc_lookup(q, books, m, dim)
    candidates = codes.join(F.broadcast(probes), on="cell")
    exploded = candidates.select(
        "query_id", id_col, F.posexplode(F.col("codes")).alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(lookup), on=["query_id", "sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("_d"), 6).alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------- persistent IVF index
#
# The probe/score/rank and cell-assignment cores are factored into the
# helpers below and SHARED between the inline operators (ivf_topk /
# ivf_assign) and the persisted AnnIndex: the index's contract is
# "search reproduces ivf_topk exactly", and one copy of the rounding +
# tie-break logic is what makes that contract drift-proof.


def _assign_cells(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Assign each vector to its best cell (round-6 cosine, cell-asc
    tie-break): one broadcast cross-score + one per-id window.

    Degenerate vectors (zero norm, or a length that mismatches the
    centroids') score NULL against every cell — cosine() returns NULL
    for zero norms, and zip_with NULL-pads a length mismatch — so the
    desc ordering (NULLS LAST) degenerates to the cell-asc tie-break
    and they land DETERMINISTICALLY in cell 0.  They stay in the index
    (dropping rows silently would be worse) but can never rank above a
    real similarity at search time (NULL fails every comparison)."""
    clash = {"cell", "cvec", "_sim", "_rn"} & set(vectors.columns)
    if clash:
        # (r12 review) the crossJoin carries the centroid frame's
        # cell/cvec columns — a same-named input column surfaces as
        # AMBIGUOUS_REFERENCE deep inside ingest; fail at the boundary
        raise ValueError(
            f"vector columns {sorted(clash)} collide with the IVF "
            "assignment's working columns — rename them first")
    scored = vectors.crossJoin(F.broadcast(cents)).select(
        "*", F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("_sim")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_sim").desc(), F.col("cell").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_sim", "cvec")
    )


def _adc_lookup(q: DataFrame, codebooks: DataFrame,
                m: int, dim: int) -> DataFrame:
    """Per-query ADC distance table: (query_id, sub, code, _d) — the
    round-6 L2² of each query subvector against every codeword.  ``q``
    has (query_id, qvec); shared by pq_topk and ivfpq_topk so the
    rounding/validation contract cannot drift."""
    qsubs = _subvectors(q, m, dim, "qvec").select(
        "query_id", "sub", F.col("svec").alias("qsub")
    )
    return qsubs.join(F.broadcast(codebooks), on="sub").select(
        "query_id", "sub", "code",
        F.round(_l2sq(F.col("qsub"), F.col("cvec")), 6).alias("_d"),
    )


def _probes_for(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Per query: the nprobe nearest cells.  ``q`` has (query_id, qvec)."""
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qvec", "cell",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("cell").asc())
    return (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qvec", "cell")
    )


def _score_and_rank(
    candidates: DataFrame, probes: DataFrame, k: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Exact cosine within probed cells, top-k per query.  Norms
    hoisted to the sides of the cell join (r13): bit-identical, one
    dot per candidate pair instead of three O(d) aggregates."""
    from hbase_snapshot_spark.functions import dot, l2_norm

    cand = candidates.withColumn("_vn", l2_norm(F.col(vec_col)))
    prb = probes.withColumn("_qn", l2_norm(F.col("qvec")))
    cos = F.when(
        (F.col("_vn") > F.lit(0.0)) & (F.col("_qn") > F.lit(0.0)),
        dot(F.col(vec_col), F.col("qvec")) / (F.col("_vn") * F.col("_qn")),
    )
    scored = cand.join(F.broadcast(prb), on="cell").select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        F.round(cos, 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def build_ann_index(
    vectors: DataFrame,
    path: str,
    num_centroids: int = 16,
    kmeans_iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "AnnIndex":
    """Build an IVF index ON DISK: the quantizer (centroids) plus the
    inverted lists materialized as parquet PARTITIONED BY
    (cell, _ingest_batch).  At 100 TB you train the quantizer once and
    reuse it across every search and every ingest batch — re-deriving
    it per query (what ``ivf_topk`` does for oracle determinism)
    re-scans the corpus.

    The hive layout IS the inverted-list structure: a probe of p cells
    reads exactly p cell directories (static partition pruning — the
    scan's PartitionFilters carries the probed cell set, pinned by
    test), so search I/O scales with nprobe × cell size, never with
    corpus size.  The second partition level is the ingest batch,
    which makes ``add_vectors`` replay-idempotent (see there).

    Build order: the centroids are WRITTEN FIRST and re-read, and the
    corpus is assigned against the stored copy — one quantizer
    computation total (seeding + Lloyd passes are full corpus scans),
    and what's on disk is bit-identical to what assignment used.

    The manifest records the ACTUAL centroid count — a corpus smaller
    than ``num_centroids`` yields fewer centroids (smallest-id
    seeding), and recording the request instead would make every such
    index fail its own load check."""
    import os

    # derive + VALIDATE the index dim before anything lands on disk
    # (r12 review): the old `.first()` read a nondeterministic row —
    # a NULL embedding there crashed AFTER the data write (so a retry
    # hit errorifexists), an empty corpus recorded dim=0 which
    # permanently disabled _checked_dim, and a mixed-dim corpus
    # silently recorded whichever dim partition order served up
    st = vectors.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(F.col(vec_col))).alias("dmin"),
        F.max(F.size(F.col(vec_col))).alias("dmax"),
        F.sum(F.when(F.col(vec_col).isNull(), 1).otherwise(0)).alias("nnull"),
        F.sum(F.when(
            F.size(F.filter(F.col(vec_col), lambda x: x.isNull())) > 0, 1
        ).otherwise(0)).alias("nelem"),
    ).first()
    if st.n == 0:
        raise ValueError("build_ann_index: empty corpus — the index dim "
                         "cannot be derived (and dim=0 would disable the "
                         "ingest/search dim checks forever)")
    if st.nnull or st.nelem:
        raise ValueError(
            f"build_ann_index: {st.nnull or 0} NULL embedding(s) and "
            f"{st.nelem or 0} vector(s) with NULL elements — NULL "
            "distances sort first / drop ADC terms silently; clean the "
            "corpus first")
    if st.dmin != st.dmax:
        raise ValueError(
            f"build_ann_index: mixed embedding lengths {st.dmin}.."
            f"{st.dmax} — one index has ONE dim")

    cents = _make_centroids(
        vectors, num_centroids, id_col, vec_col, kmeans_iterations)
    cents.write.mode("errorifexists").parquet(
        os.path.join(path, "centroids"))
    spark = vectors.sparkSession
    stored_cents = spark.read.parquet(os.path.join(path, "centroids"))
    n_cents = stored_cents.count()
    assigned = _assign_cells(vectors, stored_cents, id_col, vec_col)
    (
        assigned.withColumn("_ingest_batch", F.lit(0))
        .write.partitionBy("cell", "_ingest_batch")
        .mode("errorifexists").parquet(os.path.join(path, "assigned"))
    )
    n0 = spark.read.parquet(os.path.join(path, "assigned")).count()
    manifest = {
        "format": "ivf-parquet", "version": 2,
        "num_centroids": int(n_cents),
        "kmeans_iterations": kmeans_iterations,
        "id_col": id_col, "vec_col": vec_col,
        "dim": int(st.dmin),
        "batches": {"0": int(n0)}, "count": int(n0),
    }
    idx = AnnIndex(spark, path, manifest)
    idx._write_manifest()
    return idx


def load_ann_index(spark, path: str) -> "AnnIndex":
    """Open a persisted IVF index, verifying the manifest against the
    stored data (centroid count; a truncated/partial copy fails loudly
    here, not as silent recall loss at search time).  Only format
    version 2 loads — the on-disk layout changed with the batched
    ingest partitioning, and accepting an older index would surface as
    a KeyError in add_vectors or a partition-discovery failure instead
    of a clear format error."""
    import json
    import os

    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("format") != "ivf-parquet" or manifest.get("version") != 2:
        raise ValueError(
            f"not an ivf-parquet v2 index: {path} "
            f"(found format={manifest.get('format')!r} "
            f"version={manifest.get('version')!r})")
    idx = AnnIndex(spark, path, manifest)
    n_cents = idx.centroids.count()
    if n_cents != manifest["num_centroids"]:
        raise ValueError(
            f"index corrupt: manifest says {manifest['num_centroids']} "
            f"centroids, found {n_cents}")
    return idx


class AnnIndex:
    """Handle over a persisted IVF index (see build_ann_index).

    ``search`` reproduces ivf_topk's ranking exactly — it runs the SAME
    _probes_for/_score_and_rank helpers the inline operator runs
    (pinned by test equality) — while reading only the probed cells'
    partitions.  Like ivf_topk, search BROADCASTS the probe set: the
    design point is a search batch that is small next to the corpus;
    mass re-scoring of the whole corpus belongs to the inline operators
    with their own join planning."""

    def __init__(self, spark, path: str, manifest: dict):
        import os

        self.spark = spark
        self.path = path
        self.manifest = manifest
        self._assigned_path = os.path.join(path, "assigned")
        self._centroids_path = os.path.join(path, "centroids")

    def _write_manifest(self) -> None:
        import os

        from hbase_snapshot_spark.table import write_json_atomic

        write_json_atomic(os.path.join(self.path, "manifest.json"), self.manifest)

    @property
    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._centroids_path)

    def assigned(self) -> DataFrame:
        return self.spark.read.parquet(self._assigned_path)

    def _checked_dim(self, col: str, op: str):
        """Loud dim enforcement at the index boundary: the manifest
        records the build dim, and a mismatched ingest or query vector
        would otherwise NULL out every cosine and fall to the
        deterministic cell-0 / rank-by-tie-break behavior silently
        (recorded dim 0 = a legacy/empty index: skip the check)."""
        dim = int(self.manifest.get("dim", 0))
        if dim <= 0:
            return F.col(col)
        return F.when(_vector_ok(F.col(col), dim), F.col(col)).otherwise(
            _vector_err(f"AnnIndex.{op}", dim, F.col(col)))

    def _drop_batch_dirs(self, batch_id: int) -> None:
        """Remove every (cell, batch) partition directory of a batch —
        a reused batch id means REPLACE, and dynamic overwrite alone
        would only replace the cells the new data touches, leaving
        stale rows in the old batch's other cells."""
        import glob
        import os
        import shutil

        for d in glob.glob(os.path.join(
                self._assigned_path, "cell=*",
                f"_ingest_batch={batch_id}")):
            shutil.rmtree(d, ignore_errors=True)

    def add_vectors(self, vectors: DataFrame,
                    batch_id: int | None = None) -> int:
        """Ingest a batch against the FROZEN quantizer (the standard
        growing-corpus shape: centroids train once, batches stream in).
        Assignment is one broadcast cross-score.

        IDEMPOTENT per batch: a reused ``batch_id`` REPLACES that batch
        completely — its old partition directories are dropped first,
        then the write lands under _ingest_batch=<batch_id> with
        dynamic partition overwrite — so a crash-retry (or a corrected
        re-submission) of the same batch never appends duplicates and
        never leaves stale rows in cells the new data missed.  Pass the
        caller's stable batch id for replay safety; the default picks
        max+1.  The manifest count is maintained per batch — never by
        rescanning the whole index.  Returns the batch id used."""
        id_col = self.manifest["id_col"]
        vec_col = self.manifest["vec_col"]
        if batch_id is None:
            batch_id = 1 + max(int(b) for b in self.manifest["batches"])
        # unconditional, and AFTER batch-id resolution (r12 review: the
        # auto-id path skipped it): a crash BETWEEN the parquet write
        # and the manifest write leaves phantom (cell, batch)
        # directories the manifest has never heard of — the auto path
        # re-derives the SAME max+1 id on retry (the manifest never
        # advanced), so without the drop the aborted ingest's rows
        # survive in cells the new data misses and inflate the count
        self._drop_batch_dirs(batch_id)
        vectors = vectors.withColumn(
            vec_col, self._checked_dim(vec_col, "add_vectors"))
        assigned = _assign_cells(vectors, self.centroids, id_col, vec_col)
        (
            assigned.withColumn("_ingest_batch", F.lit(batch_id))
            .write.partitionBy("cell", "_ingest_batch")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(self._assigned_path)
        )
        # count only this batch's partitions (partition-pruned read)
        n = (self.assigned()
             .filter(F.col("_ingest_batch") == batch_id).count())
        self.manifest["batches"][str(batch_id)] = int(n)
        self.manifest["count"] = sum(self.manifest["batches"].values())
        self._write_manifest()
        return batch_id

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        vec_col = self.manifest["vec_col"]
        id_col = self.manifest["id_col"]
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
        ).withColumn("qvec", self._checked_dim("qvec", "search"))
        # collect ONLY the probed cell ids (≤ num_centroids values —
        # driver-sized regardless of query-batch size; collecting the
        # probe ROWS would ship every query embedding to the driver).
        # The probes subtree is evaluated twice (cell list + the join
        # side), which is the queries×centroids cross-score — small by
        # the search-batch design point above.
        probes = _probes_for(q, self.centroids, nprobe)
        cells = sorted(
            r.cell for r in probes.select("cell").distinct().collect())
        cand = self.assigned().filter(F.col("cell").isin(cells))
        return _score_and_rank(cand, probes, k, id_col, vec_col)
