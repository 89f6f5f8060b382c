"""Product quantization (PQ) ANN: compress vectors to m sub-space
codes and search with asymmetric look-up-table distances.

Completes the ANN ladder (ext/similarity.py): brute force (exact) →
IVF (prune the corpus) → int8 (4× scan density) → PQ (codes are
m bytes per vector — 64-dim float32 → 4 bytes is 64×, the regime
where 100 TB of embeddings fits hot storage).  Jégou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011).

Spark-first shapes, no UDFs anywhere:
- **Train**: all m sub-space Lloyd's fits run as ONE grouped chain
  over the sliced corpus (vec_id, subspace, sub-vector) — the same
  deterministic discipline as ext/kmeans (first-k init by vec_id,
  rounded-distance argmin, means rounded to 6) with a (subspace, ...)
  prefix on every key, so one map-only assignment pass + one update
  shuffle per iteration covers every subspace.  The m k×(dim/m)
  codebooks are MODEL state: collected once per use and folded into
  the plan as literals (r15 — the argmins run as ``array_min`` over
  literal candidate structs, no join, no shuffle).
- **Encode**: per sub-space, literal-folded argmin over the row's
  slice (rounded distance, centroid-id tiebreak) — map-only.  Output
  is LONG format (vec_id, subspace, code) — at rest you'd pivot to m
  byte columns, but long keeps the search join a plain equi-join.
- **Search (asymmetric)**: the query is NOT quantized — a per-query
  LUT of (subspace, code) → sub-distance is computed against the
  codebook (q × m × k rows, broadcast), the encoded corpus equi-joins
  it on (subspace, code), and one groupBy(q, vec) SUMS the m
  sub-distances (map-side combinable).  The corpus contributes only
  its codes to the shuffle — never vectors.

Approximation contract: PQ distance is a lossy estimate; the pytest
gate checks recall@k against exact L2 top-k and determinism across
partitionings (rounded-distance ranks with id tiebreaks throughout,
the repo-wide float-ranking rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from trade_data_collection_service_spark.ext.kmeans import _sqdist
from trade_data_collection_service_spark.ext.similarity import (
    _one_pass,
    _sql_structs,
    _sql_vec,
    vectors,
)


def _subslice(col, j: int, sub_dim: int):
    return F.slice(col, j * sub_dim + 1, sub_dim)


def _bucket_expr(centroids: DataFrame, emb_col: str = "emb"):
    """Map-only squared-L2 coarse-assignment expression (r15, guide
    §2.4 / the NB-dense literal precedent): the centroid frame is
    MODEL state (n_coarse × dim — the GD-scalar driver budget), so it
    is collected once and folded in as literals; the winner is one
    ``array_min`` over (c_d, c_id) structs — the identical rounded-6
    lexicographic pick the r14 join+struct-min aggregation made, with
    zero shuffles instead of an Exchange + SortAggregate pair.
    Returns (winner Column, collected row count, bucket dtype)."""
    ctype = dict(centroids.dtypes)["vec_id"]
    rows = centroids.select("vec_id", "emb").collect()
    if not rows:
        return None, 0, ctype
    cands = _sql_structs(
        [
            (
                ("c_id", f"CAST({int(r['vec_id'])} AS {ctype})"),
                ("c_emb", _sql_vec(r["emb"])),
            )
            for r in rows
        ]
    )
    scored = F.transform(
        cands,
        lambda c: F.struct(
            F.round(_sqdist(F.col(emb_col), c["c_emb"]), 6).alias("c_d"),
            c["c_id"].alias("c_id"),
        ),
    )
    return F.array_min(scored), len(rows), ctype


def _collect_books(codebooks: DataFrame):
    """Collected codebooks as {subspace: [(cluster, centroid)]} plus
    the cluster dtype — one bounded driver read of m·k model rows
    shared by the literal-folded argmin builders below."""
    ktype = dict(codebooks.dtypes)["cluster"]
    by: dict[int, list] = {}
    for r in codebooks.select("subspace", "cluster", "centroid").collect():
        by.setdefault(int(r["subspace"]), []).append(
            (r["cluster"], r["centroid"])
        )
    return by, ktype


def _book_argmin(cbj, ktype, sub_col):
    """``array_min`` over one subspace's codewords: the identical
    (rounded sub-distance, cluster) lexicographic winner the r14
    join+struct-min aggregation picked, as a map-only expression."""
    cands = _sql_structs(
        [
            (
                ("c_id", f"CAST({int(cid)} AS {ktype})"),
                ("c_emb", _sql_vec(ce)),
            )
            for cid, ce in cbj
        ]
    )
    return F.array_min(
        F.transform(
            cands,
            lambda c: F.struct(
                F.round(_sqdist(sub_col, c["c_emb"]), 6).alias("rd"),
                c["c_id"].alias("c_id"),
            ),
        )
    )


def _subspace_argmin(codebooks: DataFrame, emb_col: str = "emb"):
    """Winner struct (rd, c_id) for a row carrying a ``subspace``
    column and the already-sliced sub-vector in ``emb_col`` — a CASE
    chain dispatching to each subspace's literal-folded argmin."""
    by, ktype = _collect_books(codebooks)
    expr = None
    for j in sorted(by):
        wj = _book_argmin(by[j], ktype, F.col(emb_col))
        cond = F.col("subspace") == F.lit(j)
        expr = F.when(cond, wj) if expr is None else expr.when(cond, wj)
    return expr


def _code_exprs(codebooks: DataFrame, m: int, emb_col: str = "emb"):
    """One code Column per subspace j over the FULL vector in
    ``emb_col`` (slicing folded into the expression) — the map-only
    encode used by :func:`pq_encode` and :func:`_ivfpq_rows`."""
    by, ktype = _collect_books(codebooks)
    sub_dim = len(next(iter(by.values()))[0][1]) if by else 0

    def _one(j):
        # the slice is invariant across the k candidates, but an
        # interpreted HOF re-evaluates every subtree of its lambda
        # body per element — binding it as the variable of a
        # one-element transform slices once per row (measured 1.4×
        # on the encode pass)
        return F.transform(
            F.array(_subslice(F.col(emb_col), j, sub_dim)),
            lambda sub: _book_argmin(by[j], ktype, sub)["c_id"],
        )[0]

    return [
        (
            _one(j)
            if by.get(j)
            else None  # subspace absent from the codebooks: emit no
            # rows for it, matching the r14 inner join's behavior
        )
        for j in range(m)
    ]


def assign_buckets_l2(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Coarse quantization by squared-L2 — one metric end to end for
    the IVF-PQ family (PQ sub-distances are L2, so the coarse
    assign/probe must be too; the cosine assign_buckets in
    ext/similarity serves the cosine IVF ladder).  Same determinism
    discipline as ext/kmeans.assign: rounded-6 distance argmin, ties
    to the lowest centroid id.  ``centroids`` is (vec_id, emb).

    r15: literal-folded map-only argmin (see :func:`_bucket_expr` and
    ext/kmeans.assign) — same winners, no Exchange, no SortAggregate;
    ``emb`` rides from the row it always equalled."""
    w, n, ctype = _bucket_expr(centroids)
    if not n:
        return v.select(
            "vec_id", "emb", F.lit(None).cast(ctype).alias("bucket")
        ).filter(F.lit(False))
    return _one_pass(
        v, F.col("vec_id"), F.col("emb"), w["c_id"].alias("bucket")
    )


def probe_buckets_l2(v: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Top-``nprobe`` nearest centroids per query by squared-L2
    (rounded-6 rank, lowest-id tiebreak) — the probe half of
    assign_buckets_l2."""
    c = centroids.select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    )
    scored = v.join(broadcast(c)).withColumn(
        "c_d", F.round(_sqdist(F.col("emb"), F.col("c_emb")), 6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_d").asc(), F.col("c_id"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .select("vec_id", "emb", F.col("c_id").alias("probe_bucket"))
    )


def train_codebooks(
    spark: SparkSession,
    sf_dir: str,
    m: int = 4,
    k: int = 16,
    max_iters: int = 4,
    source: DataFrame | None = None,
) -> DataFrame:
    """(subspace, cluster, centroid) codebooks — the m sub-space
    Lloyd's fits batched into ONE chained computation.  Deterministic:
    first-k init by vec_id, rounded-distance assignment with
    lowest-cluster tiebreak, centroid means rounded to 6 — identical
    math to m independent ext/kmeans fits (the DuckDB oracle unrolls
    them independently and matches).

    Scale shape: the sliced corpus (vec_id, subspace, sub-vector) is
    materialized once; each iteration is one assignment pass (corpus ⋈
    broadcast codebooks, argmin per (subspace, vec_id)) and one update
    shuffle of (subspace, cluster, dim) partial means — m× fewer job
    barriers than looping the subspaces in the driver, and the update
    shuffle is m·k·sub_dim = k·dim rows regardless of corpus size.

    ``source`` overrides the training set (a (vec_id, emb) frame) —
    the residual-encoding IVFADC path trains on x − coarse_centroid
    instead of raw vectors."""
    v = (
        source.select("vec_id", "emb")
        if source is not None
        else vectors(spark, sf_dir).select("vec_id", "emb")
    )
    dim = len(v.select("emb").first()["emb"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    sliced = (
        v.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("subspace"),
                            _subslice(F.col("emb"), j, sub_dim).alias("emb"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("s"),
        )
        .select("vec_id", "s.subspace", "s.emb")
        .localCheckpoint(eager=True)
    )
    # O(k) init: every subspace slices the SAME vec_id set, so the
    # per-subspace "first k rows by vec_id" is one shared mapping — the
    # k lowest vec_ids (a TakeOrdered job, never a corpus-wide window
    # sort), numbered 1..k over the k-row result only.
    init_map = (
        v.select("vec_id")
        .orderBy("vec_id")
        .limit(k)
        .withColumn(
            "cluster", F.row_number().over(Window.orderBy("vec_id"))
        )
    )
    centroids = (
        sliced.join(broadcast(init_map), "vec_id")
        .select("subspace", "cluster", F.col("emb").alias("centroid"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # r15 literal-folded assignment (see ext/kmeans.assign): the
        # per-iteration codebooks are m·k dimension-bounded rows
        # (model state, already checkpointed — the collect reads the
        # materialized blocks); a subspace-dispatched CASE of
        # ``array_min`` argmins picks the identical (rounded d, c_id)
        # winner per sliced row with ZERO shuffles, where r14 paid an
        # Exchange on (subspace, vec_id) + SortAggregate pair per
        # iteration.  The update shuffle below is unchanged (that one
        # is fundamental — it re-groups by cluster).
        assigned = sliced.select(
            "subspace",
            "vec_id",
            "emb",
            _subspace_argmin(centroids)["c_id"].alias("cluster"),
        )
        exploded = assigned.select(
            "subspace", "cluster", F.posexplode("emb").alias("pos", "x")
        )
        centroids = (
            exploded.groupBy("subspace", "cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("mu"))
            .groupBy("subspace", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select(
                "subspace",
                "cluster",
                F.transform("pm", lambda s: s["mu"]).alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def pq_encode(
    spark: SparkSession,
    sf_dir: str,
    codebooks: DataFrame,
    m: int = 4,
    source: DataFrame | None = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """(vec_id[, *extra_cols], subspace, code): nearest codebook
    centroid per vector slice — the m-byte compressed corpus, long
    format.  ``source`` overrides the encoded set (residual-encoding
    path); ``extra_cols`` ride source columns (e.g. an already-
    assigned ``bucket``) through unchanged, so callers that need
    codes WITH their bucket key skip a corpus-sized vec_id join.

    r15 (guide §2.4): all m argmins are literal-folded ``array_min``
    expressions over the collected codebooks (model state, m·k rows —
    see ext/kmeans.assign), computed per ROW and exploded to long
    format afterwards.  The r14 shape exploded m slice rows per
    vector, broadcast-joined the codebooks (k× expansion) and
    re-grouped by (vec_id, subspace) through an Exchange +
    SortAggregate pair; this is one Generate over a map-only
    projection — zero shuffles, identical (rounded d, cluster)
    winners, bit-identical output."""
    v = (
        source.select("vec_id", *extra_cols, "emb")
        if source is not None
        else vectors(spark, sf_dir).select("vec_id", "emb")
    )
    codes = _code_exprs(codebooks, m)
    pairs = [
        F.struct(F.lit(j).alias("subspace"), codes[j].alias("code"))
        for j in range(m)
        if codes[j] is not None
    ]
    return v.select(
        "vec_id", *extra_cols, F.explode(F.array(*pairs)).alias("c")
    ).select("vec_id", *extra_cols, "c.subspace", "c.code")


def pq_search(
    spark: SparkSession,
    sf_dir: str,
    codebooks: DataFrame,
    encoded: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    m: int = 4,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric PQ top-k: per-query LUT against the codebooks
    (broadcast), equi-join on (subspace, code), sum sub-distances.
    Returns (q_id, vec_id, approx_d, rank).

    ``queries`` (q_id, q_emb) overrides the default query set (the
    first ``n_queries`` corpus vectors) — the planted-neighbor recall
    gate and external probe sets use this."""
    v = vectors(spark, sf_dir).select("vec_id", "emb")
    dim = len(v.select("emb").first()["emb"])
    sub_dim = dim // m
    q = queries if queries is not None else v.filter(
        F.col("vec_id") < n_queries
    ).select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"))
    q_sliced = q.select(
        "q_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        _subslice(F.col("q_emb"), j, sub_dim).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("q_id", "s.subspace", "s.qsub")
    lut = (
        q_sliced.join(broadcast(codebooks), "subspace")
        .withColumn("sub_d", F.round(_sqdist(F.col("qsub"), F.col("centroid")), 6))
        .select("q_id", "subspace", F.col("cluster").alias("code"), "sub_d")
    )
    joined = encoded.join(broadcast(lut), ["subspace", "code"]).filter(
        F.col("vec_id") != F.col("q_id")
    )
    dist = joined.groupBy("q_id", "vec_id").agg(
        F.round(F.sum("sub_d"), 6).alias("approx_d"),
        F.count(F.lit(1)).alias("_m"),
    )
    # every corpus vector must contribute exactly m sub-distances
    dist = dist.filter(F.col("_m") == m).drop("_m")
    w = Window.partitionBy("q_id").orderBy(F.col("approx_d").asc(), F.col("vec_id").asc())
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_coarse: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    n_queries: int = 3,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ: the ANN ladder's capstone and the canonical 100 TB
    deployment shape — a trained coarse quantizer prunes the corpus to
    ``nprobe`` buckets per query, and PQ codes (m bytes/vector) are
    scored with the asymmetric LUT inside only those buckets.

    Plan shape: the corpus NEVER meets a corpus-sized broadcast — the
    code table equi-joins the bucket assignment on vec_id (a plain
    distributed join; at rest the two are stored together
    partitionBy(bucket), so this join disappears into the
    write_ivfpq_index layout and becomes partition pruning), then the
    tiny (queries × nprobe) probe set broadcasts onto the bucket key
    to fan codes out per query; the scored row count past that point
    is O(candidates·m), never O(corpus·m).  One metric end to end:
    coarse assign/probe is squared-L2 (assign_buckets_l2), matching
    the L2 PQ sub-distances.  No residual encoding (the FAISS
    refinement that re-centers each vector on its coarse centroid
    before PQ — see ivfadc_topk): codebooks train on raw vectors so
    the DuckDB twin stays the composition of the two existing CTE
    generators; plumbing, pruning, and storage layout are identical
    either way.

    Returns (q_id, vec_id, approx_d, rank)."""
    from trade_data_collection_service_spark.ext.similarity import (
        vectors as svectors,
    )

    # coarse quantizer: train_codebooks(m=1) IS full-dim Lloyd's with
    # the exact discipline of kmeans.fit (first-k init by vec_id,
    # rounded argmin, means rounded to 6 — the oracle's _kmeans_ctes),
    # minus fit's per-iteration inertia collects the search never uses
    coarse = train_codebooks(
        spark, sf_dir, m=1, k=n_coarse, max_iters=coarse_iters
    )
    centroids = coarse.select(
        F.col("cluster").alias("vec_id"), F.col("centroid").alias("emb")
    )
    v = svectors(spark, sf_dir)
    # r15: bucket assignment and PQ codes are both literal-folded
    # map-only expressions now, so the codes CARRY their bucket key
    # from one projection over the corpus (extra_cols) — the r14
    # ``encoded ⋈ bucketed`` corpus-sized vec_id sort-merge join (two
    # Exchanges + sorts) is gone; the joined rows are identical.
    bucketed = assign_buckets_l2(v, centroids)

    books = train_codebooks(spark, sf_dir, m=m, k=k_codes, max_iters=pq_iters)
    encoded = pq_encode(
        spark, sf_dir, books, m=m, source=bucketed, extra_cols=("bucket",)
    )

    queries = v.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + n_queries)
    )
    probes = probe_buckets_l2(queries, centroids, nprobe).select(
        F.col("vec_id").alias("q_id"), F.col("probe_bucket").alias("q_bucket")
    )

    dim = len(v.select("emb").first()["emb"])
    sub_dim = dim // m
    q_sliced = queries.select(
        F.col("vec_id").alias("q_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        _subslice(F.col("emb"), j, sub_dim).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("q_id", "s.subspace", "s.qsub")
    lut = (
        q_sliced.join(broadcast(books), "subspace")
        .withColumn("sub_d", F.round(_sqdist(F.col("qsub"), F.col("centroid")), 6))
        .select("q_id", "subspace", F.col("cluster").alias("code"), "sub_d")
    )
    dist = (
        encoded.join(broadcast(probes), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(broadcast(lut), ["q_id", "subspace", "code"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(F.sum("sub_d"), 6).alias("approx_d"),
            F.count(F.lit(1)).alias("_m"),
        )
        .filter(F.col("_m") == m)
        .drop("_m")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("approx_d").asc(), F.col("vec_id").asc())
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def _ivfpq_rows(
    source: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int,
) -> DataFrame:
    """(vec_id, code0..code{m-1}, bucket) index rows for ``source``
    under FROZEN quantizers — the shared encode path of the base
    build and the incremental append.

    r15 (guide §2.4): ONE map-only projection — the m wide code
    columns and the coarse bucket are all literal-folded argmins over
    the same row (see :func:`_code_exprs` / :func:`_bucket_expr`).
    The r14 shape pivoted the long encode through a groupBy Exchange
    and equi-joined the bucket assignment on vec_id (a corpus-sized
    sort-merge join); both shuffles are gone and the values are
    unchanged (same winners; the pivot's first(code) was over exactly
    one row per (vec_id, subspace))."""
    codes = _code_exprs(codebooks, m)
    # a subspace absent from the codebooks gets a null code typed as
    # the cluster column, so the index frame stays writable
    ktype = dict(codebooks.dtypes)["cluster"]
    w, n, ctype = _bucket_expr(centroids)
    if not n:
        return source.select(
            "vec_id",
            *[F.lit(None).cast(ktype).alias(f"code{j}") for j in range(m)],
            F.lit(None).cast(ctype).alias("bucket"),
        ).filter(F.lit(False))
    return source.select(
        "vec_id",
        *[
            (
                codes[j] if codes[j] is not None else F.lit(None).cast(ktype)
            ).alias(f"code{j}")
            for j in range(m)
        ],
        w.alias("w"),
    ).select(
        "vec_id",
        *[f"code{j}" for j in range(m)],
        F.col("w.c_id").alias("bucket"),
    )


def write_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    n_coarse: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    source: DataFrame | None = None,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the IVF-PQ index at rest: PQ codes pivoted to one
    row per vector, joined with the coarse bucket assignment, written
    ``partitionBy(bucket, batch)`` with the base build owning the
    ``batch=base`` partitions.  Returns (coarse centroids, codebooks)
    — the only state a searcher needs besides the path.

    This is the storage form the 100 TB story rests on: the index is
    m code bytes + one bucket key per vector (the vectors themselves
    stay in cold storage), each coarse bucket is a partition
    directory, and a query reads ONLY its nprobe directories —
    partition pruning is plan-asserted in tests/test_ivf_index.py.
    The second (``batch``) partition level is the replay-idempotence
    ledger shared with the near-dup index: a keyed
    :func:`append_to_ivfpq_index` dynamically overwrites its own
    partitions, so a crash-replayed append rewrites instead of
    duplicating (a duplicated vec_id is NOT harmless here — its 2m
    LUT rows fail the ``_m == m`` completeness filter in
    :func:`ivfpq_search_indexed` and the vector silently vanishes
    from every result).

    ``source`` limits the INDEXED rows (default: the whole corpus);
    the quantizers always train on the full ``sf_dir`` corpus, so a
    base-subset build composes with :func:`append_to_ivfpq_index`
    into exactly the full-corpus index.  Pass pre-trained
    ``centroids``/``codebooks`` to skip training entirely (staged
    base+append builds train ONCE, not once per stage)."""
    from trade_data_collection_service_spark.ext.dedup import _retire_stage
    from trade_data_collection_service_spark.ext.similarity import (
        vectors as svectors,
    )

    if centroids is None:
        coarse = train_codebooks(
            spark, sf_dir, m=1, k=n_coarse, max_iters=coarse_iters
        )
        centroids = coarse.select(
            F.col("cluster").alias("vec_id"), F.col("centroid").alias("emb")
        )
    books = (
        codebooks
        if codebooks is not None
        else train_codebooks(spark, sf_dir, m=m, k=k_codes, max_iters=pq_iters)
    )
    if source is None:
        source = svectors(spark, sf_dir)
    if source.select("vec_id").isEmpty():
        raise ValueError(
            "write_ivfpq_index: source is empty — a partitioned write"
            " of zero rows leaves no schema-bearing files, so every"
            " later read would die on schema inference"
        )
    rows = _ivfpq_rows(source, centroids, books, m).withColumn(
        "batch", F.lit("base")
    )
    from trade_data_collection_service_spark.ext.dedup import (
        maintenance_lease,
    )

    with maintenance_lease(spark, path, "write_ivfpq_index"):
        # a fresh build supersedes any crashed-compaction stage; clear
        # it (marker-first) so a later recover cannot clobber the new
        # table
        _retire_stage(spark, path + ".stage")
        (
            rows.repartition("bucket")
            .sortWithinPartitions("vec_id")
            .write.mode("overwrite")
            # explicit STATIC overwrite (r11 review): wipe stale batch
            # partitions even under a session-global dynamic mode
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket", "batch")
            .parquet(path)
        )
    return centroids, books


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    batch_id: str | int | None = None,
) -> None:
    """Grow a stored IVF-PQ index incrementally — the FAISS ``add``
    contract on the compressed form (twin of
    ``similarity.append_to_ivf_index``): assign ONLY the new vectors
    to coarse buckets and PQ-encode them under the STORED (frozen)
    centroids and codebooks, appending m code bytes + bucket key per
    vector to the touched bucket partitions.  The existing index is
    never re-read or rewritten; per batch the cost is
    O(batch × (n_coarse + m·k_codes)) map-side work plus the
    partition appends.  An empty batch is a clean no-op.

    REPLAY SAFETY (r9 review finding): a re-delivered un-keyed append
    duplicates index rows, and a duplicated vec_id does not merely
    rank twice — its 2m LUT-join rows fail the ``_m == m``
    completeness filter in :func:`ivfpq_search_indexed`, so the
    vector SILENTLY DISAPPEARS from every query's results
    (pytest-demonstrated).  Pass ``batch_id`` (e.g. the foreachBatch
    batch id) to make the append idempotent: the batch's rows land in
    ``bucket=*/batch=<id>`` partitions via dynamic overwrite, so a
    replay rewrites the same partitions instead of appending twice.
    Without a batch_id (at-most-once delivery), repair accidental
    duplication with :func:`compact_ivfpq_index`.

    Quantizers deliberately stay frozen: retraining on drifted data
    would silently re-home and re-code *existing* vectors — retrain +
    rebuild is a separate, explicit operation.  An appended index
    searches identically to a rebuild over the union corpus
    (pytest: tests/test_ivf_index.py).

    MIGRATION: an index persisted by the pre-ledger (bucket-only)
    layout cannot be appended to — flat data files inside
    ``bucket=*/`` and ``batch=*/`` subdirectories in the same bucket
    dir break Spark partition discovery — rebuild it once with
    :func:`write_ivfpq_index` first (the near-dup index carries the
    same rule)."""
    from trade_data_collection_service_spark.ext.dedup import (
        _recover_compaction,
        _require_ledger_layout,
        _validate_batch_id,
        maintenance_lease,
    )

    b = _validate_batch_id(batch_id)
    spark = new_vectors.sparkSession
    with maintenance_lease(spark, path, "append_to_ivfpq_index"):
        _recover_compaction(spark, path)
        _require_ledger_layout(
            spark, path, "append_to_ivfpq_index", "write_ivfpq_index"
        )
        rows = (
            _ivfpq_rows(new_vectors, centroids, codebooks, m)
            .withColumn("batch", F.lit(b if b is not None else "legacy"))
            .repartition("bucket")
            .sortWithinPartitions("vec_id")
        )
        w = rows.write.partitionBy("bucket", "batch")
        if b is not None:
            # dynamic overwrite of THIS batch's partitions only —
            # replaying the same batch_id rewrites, never duplicates
            (
                w.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(path)
            )
        else:
            w.mode("append").parquet(path)


def write_ivfpq_quantizers(
    centroids: DataFrame, codebooks: DataFrame, path: str
) -> None:
    """Persist the frozen quantizers NEXT TO the index (at
    ``{path}.quantizers/…`` — a dotted sibling like the ``.stage``
    WAL dir, because extra directories inside the partitioned index
    root would break Spark partition discovery).  They are the only
    state besides the path that a searcher or an incremental appender
    needs, so storing them makes the index self-contained across
    process restarts — the streaming ingest reads them back every
    micro-batch instead of holding DataFrames captive in the driver."""
    centroids.write.mode("overwrite").parquet(f"{path}.quantizers/centroids")
    codebooks.write.mode("overwrite").parquet(f"{path}.quantizers/codebooks")


def read_ivfpq_quantizers(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Load the stored (coarse centroids, PQ codebooks) pair written
    by :func:`write_ivfpq_quantizers`.  Both are tiny (n_coarse rows /
    m×k_codes rows) and broadcast everywhere they are used."""
    return (
        spark.read.parquet(f"{path}.quantizers/centroids"),
        spark.read.parquet(f"{path}.quantizers/codebooks"),
    )


def compact_ivfpq_index(
    spark: SparkSession,
    path: str,
    fold_batches: bool = False,
    protect_batches: tuple = (),
) -> None:
    """Repair/compact the stored IVF-PQ index: resolve every vec_id
    to ONE row — duplicates that un-keyed append replays accumulate
    make the vector vanish from search results (see
    :func:`append_to_ivfpq_index`), so this is a correctness repair,
    not just space reclamation.  The ``OPTIMIZE FINAL`` analog for
    this index, sibling of ``dedup.compact_neardup_index`` and
    reusing its winner rule: keyed partitions beat base/legacy (they
    are the replay-idempotence ledger), lexicographically smallest
    batch among keyed duplicates; code/bucket columns are identical
    across duplicates (frozen quantizers encode deterministically),
    so the winner's payload is taken with the partition via one
    map-side-combinable min-struct pass.  Crash safety is the shared
    stage-WAL (``dedup._staged_rewrite``; recover-on-entry in
    append/compact, readers pure via ``dedup._authoritative``).
    Run at quiescence — maintenance is single-maintainer by
    contract.  ``fold_batches=True`` remaps unprotected batch
    partitions to ``base`` after the winner pass (the
    ``dedup.maybe_compact`` cadence; ledger trade-off documented at
    ``dedup._fold_batches_tf``)."""
    from trade_data_collection_service_spark.ext.dedup import (
        _fold_batches_tf,
        _staged_rewrite,
        _winner_tf,
        maintenance_lease,
    )

    fold = (
        _fold_batches_tf(protect_batches)
        if fold_batches
        else (lambda df: df)
    )
    # protected batches win the min-struct too, so the fold cannot
    # move a still-replayable batch's rows out of its own partition
    # (dedup._winner_tf, r10 review finding)
    prot = protect_batches if fold_batches else ()

    def _tf(df: DataFrame) -> DataFrame:
        code_cols = [c for c in df.columns if c.startswith("code")]
        return fold(
            _winner_tf(
                ["vec_id"], payload_cols=[*code_cols, "bucket"], protect=prot
            )(df)
        )

    with maintenance_lease(spark, path, "compact_ivfpq_index"):
        _staged_rewrite(spark, path, _tf)


def ivfpq_search_indexed(
    spark: SparkSession,
    path: str,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    m: int = 4,
) -> DataFrame:
    """Search a stored IVF-PQ index: probe-bucket the queries against
    the broadcast coarse centroids, read ONLY the probed bucket
    partitions (`bucket IN (…)` prunes at the parquet partition
    level), un-pivot the m code columns, and score with the
    asymmetric LUT.  Scanned bytes ∝ (nprobe/n_coarse) × (m bytes +
    key per vector) — the double pruning (partitions × compression)
    that makes exabyte-class ANN a few-seconds scan."""
    probes = probe_buckets_l2(queries, centroids, nprobe).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("probe_bucket").alias("q_bucket"),
    )
    from trade_data_collection_service_spark.ext.dedup import _authoritative

    probe_ids = [
        r["q_bucket"] for r in probes.select("q_bucket").distinct().collect()
    ]
    # pure read with crash awareness (a _SUCCESS-marked compaction
    # stage is the authoritative table); the bucket filter still
    # prunes at the partition level in either location
    index = _authoritative(spark, path).filter(F.col("bucket").isin(probe_ids))
    cand = (
        index.join(
            broadcast(probes.select("q_id", "q_bucket")),
            F.col("bucket") == F.col("q_bucket"),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("subspace"),
                            F.col(f"code{j}").alias("code"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("c"),
        )
        .select("q_id", "vec_id", "c.subspace", "c.code")
    )
    sub_dim = len(codebooks.select("centroid").first()["centroid"])
    q_sliced = queries.select(
        F.col("vec_id").alias("q_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        _subslice(F.col("emb"), j, sub_dim).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("q_id", "s.subspace", "s.qsub")
    lut = (
        q_sliced.join(broadcast(codebooks), "subspace")
        .withColumn("sub_d", F.round(_sqdist(F.col("qsub"), F.col("centroid")), 6))
        .select("q_id", "subspace", F.col("cluster").alias("code"), "sub_d")
    )
    dist = (
        cand.join(broadcast(lut), ["q_id", "subspace", "code"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(F.sum("sub_d"), 6).alias("approx_d"),
            F.count(F.lit(1)).alias("_m"),
        )
        .filter(F.col("_m") == m)
        .drop("_m")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("approx_d").asc(), F.col("vec_id").asc())
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ivfadc_topk(
    spark: SparkSession,
    sf_dir: str,
    n_coarse: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    n_queries: int = 3,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVFADC — IVF with RESIDUAL product quantization, the exact
    FAISS IVF-PQ form (Jégou et al. §5): codes quantize the residual
    x − coarse_centroid(x), which concentrates the codebooks on the
    within-bucket distribution and is what recall at scale comes from;
    ``ivf_pq_topk`` is the residual-free ablation kept for comparison.

    Asymmetric distance: ||q − c − code_centroid||² per probed bucket,
    so the query LUT is per (query, probe bucket) — the query residual
    q − c changes with each probed centroid.  One metric end to end:
    coarse assign/probe is squared-L2 (assign_buckets_l2), like the PQ
    sub-distances — the FAISS discipline.  LUT size is
    n_queries × nprobe × m × k_codes (broadcast); the code table
    equi-joins the bucket assignment on vec_id (distributed, never a
    corpus-sized broadcast — at rest the two live together
    partitionBy(bucket)), the broadcast probe set prunes on the bucket
    key, and candidate codes join the LUT on (q_bucket, subspace,
    code), so scored rows stay O(candidates·m).

    Determinism: residuals are exact double subtractions of rounded-6
    centroids from exact cast doubles — bit-equal across engines; all
    ranking on rounded distances with id tiebreaks as everywhere."""
    from trade_data_collection_service_spark.ext.similarity import (
        vectors as svectors,
    )

    coarse = train_codebooks(
        spark, sf_dir, m=1, k=n_coarse, max_iters=coarse_iters
    )
    centroids = coarse.select(
        F.col("cluster").alias("vec_id"), F.col("centroid").alias("emb")
    )
    v = svectors(spark, sf_dir)
    bucketed = assign_buckets_l2(v, centroids).select("vec_id", "emb", "bucket")
    c_by_bucket = coarse.select(
        F.col("cluster").alias("bucket"), F.col("centroid").alias("c_emb")
    )
    residuals = (
        bucketed.join(broadcast(c_by_bucket), "bucket")
        .select(
            "vec_id",
            "bucket",
            F.zip_with("emb", "c_emb", lambda x, y: x - y).alias("emb"),
        )
        .localCheckpoint(eager=False)
    )
    books = train_codebooks(
        spark, sf_dir, m=m, k=k_codes, max_iters=pq_iters,
        source=residuals,
    )
    # r15: the checkpointed residuals already carry their bucket key,
    # so the codes ride it through pq_encode (extra_cols) — the r14
    # ``encoded ⋈ bucketed`` corpus-sized vec_id join is gone.
    encoded = pq_encode(
        spark, sf_dir, books, m=m, source=residuals, extra_cols=("bucket",)
    )

    queries = v.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + n_queries)
    )
    probes = probe_buckets_l2(queries, centroids, nprobe).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("probe_bucket").alias("q_bucket"),
    )
    qres = probes.join(
        broadcast(c_by_bucket.withColumnRenamed("bucket", "q_bucket")),
        "q_bucket",
    ).select(
        "q_id",
        "q_bucket",
        F.zip_with("q_emb", "c_emb", lambda x, y: x - y).alias("qres_emb"),
    )
    dim = len(v.select("emb").first()["emb"])
    sub_dim = dim // m
    q_sliced = qres.select(
        "q_id",
        "q_bucket",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        _subslice(F.col("qres_emb"), j, sub_dim).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("q_id", "q_bucket", "s.subspace", "s.qsub")
    lut = (
        q_sliced.join(broadcast(books), "subspace")
        .withColumn("sub_d", F.round(_sqdist(F.col("qsub"), F.col("centroid")), 6))
        .select(
            "q_id", "q_bucket", "subspace", F.col("cluster").alias("code"), "sub_d"
        )
    )
    dist = (
        encoded.join(
            broadcast(probes.select("q_id", "q_bucket")),
            F.col("bucket") == F.col("q_bucket"),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(broadcast(lut), ["q_id", "q_bucket", "subspace", "code"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(F.sum("sub_d"), 6).alias("approx_d"),
            F.count(F.lit(1)).alias("_m"),
        )
        .filter(F.col("_m") == m)
        .drop("_m")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("approx_d").asc(), F.col("vec_id").asc())
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def ivfadc_rerank_topk(
    spark: SparkSession,
    sf_dir: str,
    n_coarse: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    n_queries: int = 3,
    k: int = 10,
    shortlist: int = 30,
    nprobe: int = 2,
) -> DataFrame:
    """ADC shortlist + EXACT re-rank — the FAISS refine step
    (`IndexRefineFlat`): the compressed-domain scan is cheap but
    lossy, so production serving takes a ``shortlist`` of ADC
    candidates (3-10x k) and re-scores ONLY those against the
    original vectors with exact squared-L2, recovering most of the
    recall the quantization gave up at the cost of `shortlist`
    full-precision distances per query.

    Scale shape: the shortlist is O(queries x shortlist) rows — it
    BROADCASTS onto the corpus vec_id (one equi-join retrieves just
    the shortlisted originals; at rest with write_ivfpq_index the
    originals live partitionBy(bucket), so the retrieval is also
    partition-pruned), the exact distance is the JVM zip_with fold,
    and the re-rank window is per query over <= shortlist rows.  The
    corpus is never re-scanned beyond the single indexed retrieval.

    Returns (q_id, vec_id, exact_d, rank) — ranking and ties on
    round-6 exact distance then vec_id, as everywhere."""
    from trade_data_collection_service_spark.ext.similarity import (
        vectors as svectors,
    )

    sl = ivfadc_topk(
        spark,
        sf_dir,
        n_coarse=n_coarse,
        coarse_iters=coarse_iters,
        m=m,
        k_codes=k_codes,
        pq_iters=pq_iters,
        n_queries=n_queries,
        k=shortlist,
        nprobe=nprobe,
    ).select("q_id", "vec_id")
    v = svectors(spark, sf_dir)
    q = v.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + n_queries)
    ).select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"))
    exact = (
        v.select("vec_id", "emb")
        .join(broadcast(sl), "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn(
            "exact_d", F.round(_sqdist(F.col("q_emb"), F.col("emb")), 6)
        )
        .select("q_id", "vec_id", "exact_d")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("exact_d").asc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )
