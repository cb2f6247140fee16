"""ANN / similarity-search operators: brute-force cosine top-k (the
labeled O(n^2) baseline), LSH random-hyperplane banding, IVF coarse
quantization, PQ/IVF-PQ asymmetric-distance search — each with an
md5-derived deterministic "verified" twin whose DuckDB oracle rebuilds the
whole mechanism — plus the recall evaluation harness. The exact baseline,
IVF, PQ and IVF-PQ, trained or md5-derived, run one pipeline
(_ann_search) whose parameters are data.

Split out of operators/llm.py in r18 (VERDICT r17 task #5) — a mechanical
move, no behavior change. Signatures/buckets/probed lists shuffle as
equi-join keys; codebook training is bounded k x dim driver state
(Lloyd's pattern), the one legitimate collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_to_clickhouse_schema_spark._registry import new_registry
from parquet_to_clickhouse_schema_spark.functions.compat import qround, sql_qround
from parquet_to_clickhouse_schema_spark.sources.io import load_table

QUERIES, ORACLES, _q = new_registry()

from parquet_to_clickhouse_schema_spark.operators.llm_dedup import (
    _block_sides,
    _embeddings_rowcount,
    _empty_pairs,
    _partial_topk,
    _unit_rows,
)


def _as_double_vec(df: DataFrame, col: str = "embedding") -> DataFrame:
    """float32 → double + precomputed L2 norm (shared by both ANN paths).

    The repartition is a materialization barrier (see minhash_signatures):
    without it the norm's aggregate expression collapses into the projection
    above the pair join and is recomputed for every PAIR instead of every
    row — at n² pairs that triples the per-pair work."""
    vec = F.transform(F.col(col), lambda x: x.cast("double"))
    return df.select(
        "vec_id",
        vec.alias("vec"),
        F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)).alias("norm"),
    ).repartition("vec_id")


_COSINE_ORACLE = """
    WITH ex AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_id, nbr_id, floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM (
      SELECT d.vec_id, d.nbr_id, d.dot / (na.nrm * nb.nrm) AS cos_sim,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY d.dot / (na.nrm * nb.nrm) DESC, d.nbr_id) AS rn
      FROM dots d
      JOIN norms na ON d.vec_id = na.vec_id
      JOIN norms nb ON d.nbr_id = nb.vec_id
    ) WHERE rn <= 3
"""


@_q("q_cosine_topk", _COSINE_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-3 neighbors per vector — the LABELED O(n²)
    brute-force BASELINE (contract-mandated; do NOT ship this at corpus
    scale — the sublinear paths are q_ann_lsh_topk / q_ivf_topk /
    q_pq_topk / q_ivfpq_topk, recall-measured by q_ann_recall_eval).
    Gated path; see cosine_topk_blocked for the tiled all-pairs plan."""
    return cosine_topk_blocked(spark, sf_dir, k=3)


def cosine_topk_blocked(
    spark: SparkSession, sf_dir: str, k: int = 3, index_block_rows: int = 1024
) -> DataFrame:
    """Exact cosine top-k as ONE distributed job: 2-D block-cogroup
    all-pairs — the IVF/PQ pipeline (_ann_search) given neither coarse
    centroids nor codebooks.

    Both sides are hash-partitioned into a ceil(n / index_block_rows)² tile
    grid (see _block_sides); each (qblk, iblk) tile meets in
    groupBy(qblk, iblk).cogroup(...).applyInPandas, where one BLAS matmul
    (A @ B.T) + lexsort computes the per-tile partial top-k — the classic
    map-side combine for top-k. A final window re-ranks the partials into
    the global exact top-k, shuffling only O(n * blocks * k) small rows.

    vs the r2 formulation (collect one block to the driver → broadcast →
    mapInPandas, serially per block): no embedding transits the driver, one
    Spark job replaces n_blocks sequential ones, parallelism is the full
    tile grid instead of one task per index block, and each side is scanned
    once — the fan-out replicates rows in the shuffle write, not the scan.
    At 100 TB the executor working set stays bounded by
    2 x index_block_rows x dim doubles per tile task regardless of corpus
    size; replication is n * n_blocks rows per side, the inherent cost of
    EXACT all-pairs — raise index_block_rows as n grows, or switch to the
    approximate paths (ann_lsh_topk / ivf_topk) which prune candidates
    instead of blocking them. Tie handling matches the oracle:
    (-cos, nbr_id), rounded only after the global re-rank — per-tile
    partials carry RAW cosine so cross-tile ties resolve exactly as the
    oracle's single sort does."""
    return _ann_search(spark, sf_dir, k, index_block_rows=index_block_rows)


def cosine_topk_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM formulation of cosine top-k (zip_with + aggregate dot
    products over a broadcast nested-loop self-join) — the semantics
    baseline the vectorized q_cosine_topk is tested against."""
    e = _as_double_vec(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_id"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("nbr_id"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id", (dot / (F.col("na") * F.col("nb"))).alias("cos_sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "nbr_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_id", "nbr_id", qround(F.col("cos_sim"), 4).alias("cosine"))
    )


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_planes: int | None = None,
    n_tables: int = 16,
) -> DataFrame:
    """Scale path for similarity search: random-hyperplane (SimHash) LSH.

    Each vector gets n_tables bucket signatures (sign pattern against
    n_planes fixed-seed Gaussian hyperplanes, regenerated identically on
    every executor — no driver-side state, fully reproducible). One
    mapInPandas pass computes all signatures as BLAS matmuls + sign-bit
    packs; candidates then meet in groupBy(tbl, bucket).cogroup(...)
    .applyInPandas where one matmul ranks each bucket — the same
    join-not-crossjoin cogroup shape as ivf_topk / cosine tiles.
    At 100 TB this replaces the O(n²) cross join with a skew-resistant
    hash join whose cost follows bucket occupancy (~n/2^planes rows per
    bucket). n_planes therefore AUTO-SIZES with the corpus (footer
    rowcount, no data scan): ceil(log2(n / 256)) keeps expected occupancy
    ~256 rows — a fixed plane count silently goes quadratic as n grows
    (measured: 4 planes is fine at 6k vectors and a 225M-pair blowup at
    60k). The recall-vs-cost trade moves to n_tables, which multiplies
    independent chances to collide. Measured recall vs brute force on the
    hard case of near-orthogonal random vectors: 0.91 at the auto-chosen
    4 planes x 16 tables on the 500-vector smoke corpus. Not oracle-gated
    (approximate); tests assert recall against q_cosine_topk.
    """
    import math

    import numpy as np
    import pandas as pd

    if n_planes is None:
        n = _embeddings_rowcount(spark, sf_dir)
        n_planes = min(12, max(4, math.ceil(math.log2(max(n, 2) / 256))))
    npl, ntb = n_planes, n_tables

    # Hyperplanes are a fixed-seed Gaussian matrix REGENERATED on each
    # executor (dim read off the first batch) — nothing random at plan
    # level, nothing broadcast, identical on every worker and every run.
    # Signature computation is one BLAS matmul + sign-bit pack per batch;
    # the prior formulation (n_tables x n_planes interpreted zip_with
    # aggregates per ROW) was ~50x slower at sf0.1 for identical output
    # shape, a whole-column HOF pitfall (see docs/PLANS.md notes).
    def sig_batches(batches):
        planes = None
        weights = (1 << np.arange(npl)).astype("int64")
        for b in batches:
            if len(b) == 0:
                continue
            mat = np.stack(b["embedding"].to_numpy()).astype("float64")
            if planes is None:
                rng = np.random.RandomState(0x5EED)
                planes = rng.standard_normal((ntb, npl, mat.shape[1]))
            unit = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
            for t in range(ntb):
                bits = unit @ planes[t].T >= 0  # (rows, n_planes)
                yield pd.DataFrame(
                    {
                        "vec_id": b["vec_id"],
                        "embedding": b["embedding"],
                        "tbl": np.full(len(b), t, dtype="int32"),
                        "bucket": bits @ weights,
                    }
                )

    sig_schema = "vec_id long, embedding array<float>, tbl int, bucket long"
    # two independent loads: a self-cogroup of one DataFrame trips the
    # analyzer's self-join dedup and prunes the right side (see _block_sides)
    qside = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .mapInPandas(sig_batches, schema=sig_schema)
    )
    iside = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .mapInPandas(sig_batches, schema=sig_schema)
    )

    def rank_cogroup(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        # per-(table, bucket) all-pairs: one BLAS matmul, partial top-k
        if len(qpdf) == 0 or len(ipdf) == 0:
            return _empty_pairs("cos_raw")
        a_ids, a_unit = _unit_rows(qpdf)
        b_ids, b_unit = _unit_rows(ipdf)
        out_vec, out_nbr, out_cos = _partial_topk(a_ids, b_ids, a_unit @ b_unit.T, k)
        if not out_vec:
            return _empty_pairs("cos_raw")
        return pd.DataFrame({"vec_id": out_vec, "nbr_id": out_nbr, "cos_raw": out_cos})

    cand = (
        qside.groupBy("tbl", "bucket")
        .cogroup(iside.groupBy("tbl", "bucket"))
        .applyInPandas(rank_cogroup, schema="vec_id long, nbr_id long, cos_raw double")
        # the same pair surfaces once per colliding table with an identical
        # cosine; dedup before the global re-rank
        .dropDuplicates(["vec_id", "nbr_id"])
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_raw").desc(), "nbr_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("vec_id", "nbr_id", qround(F.col("cos_raw"), 4).alias("cosine"))
    )


def _train_coarse_centroids(e: DataFrame, n_centroids: int, iters: int = 4):
    """Distributed coarse-quantizer training for the IVF family (VERDICT r5
    #3): Lloyd's over the FULL corpus via kmeans_fit instead of a
    driver-side sample — at 100 TB a bounded sample stops representing the
    corpus, and this form keeps every heavy step in executors (the only
    driver traffic is the k x dim per-iteration centroid sums). Vectors are
    unit-normalized first so kmeans_fit's Euclidean argmin coincides with
    the cosine argmax the probe/assign kernels use; the returned centroids
    are re-projected onto the unit sphere (spherical k-means). Deterministic
    end-to-end (farthest-point init over a hash-ordered sample)."""
    import numpy as np

    vecd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vecd, F.lit(0.0), lambda a, x: a + x * x))
    ev = e.select("vec_id", F.transform(vecd, lambda x: x / norm).alias("unit"))
    cent, _ = kmeans_fit(
        ev, vec_col="unit", k=n_centroids, iters=iters, with_assignments=False
    )
    n = np.sqrt((cent * cent).sum(axis=1))[:, None]
    return cent / np.maximum(n, 1e-12)


# ----------------------------------------------- IVF / PQ / IVF-PQ pipeline ---
# One pipeline serves the exact tile baseline (cosine_topk_blocked), the
# trained keys (ivf_topk / pq_topk / ivfpq_topk) and their md5 twins
# (q_*_verified_topk). Parameters are data: coarse centroids (lists x dim)
# and PQ codebooks (m x ksub x dsub), trained (_train_coarse_centroids,
# pq_train_codebooks_distributed) or md5-derived (_md5_grid_np). The
# twins' oracle SQL defines every stage, so the hash check on a twin
# covers the code its trained key runs. Parameters are k x dim arrays on
# the Spark driver, captured in the kernel closures like any other constant.


def _rows(pdf, col: str = "embedding"):
    """float64 matrix of an array column of a pandas batch."""
    import numpy as np

    return np.stack(pdf[col].to_numpy()).astype("float64")


def _probe_lists(e: DataFrame, centroids, n_probe: int) -> DataFrame:
    """Coarse assign/probe stage: each (vec_id, embedding) row fans out to
    its n_probe nearest inverted lists `cid`, ranked by cosine to the
    centroid with the lower list first on ties — the oracles' ORDER BY
    dot / cn DESC, c. n_probe=1 is the list assignment. One mapInPandas
    pass; the SQL form (posexplode → groupBy(vec_id, c) → window)
    measured slower."""
    import numpy as np
    import pandas as pd

    cm = centroids / np.sqrt((centroids * centroids).sum(axis=1))[:, None]

    def probe(batches):
        for b in batches:
            if len(b) == 0:
                continue
            ids, unit = _unit_rows(b)
            near = np.argsort(-(unit @ cm.T), axis=1, kind="stable")[:, :n_probe]
            rows = np.repeat(np.arange(len(b)), n_probe)
            yield pd.DataFrame(
                {
                    "vec_id": ids[rows],
                    "embedding": b["embedding"].iloc[rows].to_numpy(),
                    "cid": near.reshape(-1).astype("int32"),
                }
            )

    return e.mapInPandas(probe, schema="vec_id long, embedding array<float>, cid int")


def _pq_dists(mat, books):
    """Squared L2 from each raw subvector of the rows of `mat` (n x dim)
    to every codeword of `books` (m x ksub x dsub): an (n, m, ksub) table.
    Its argmin is a row's PQ code (lowest code on ties — the oracles'
    ORDER BY d2, code); for a query it is the ADC lookup table."""
    m, ksub, dsub = books.shape
    diff = mat.reshape(len(mat), m, 1, dsub) - books[None]
    return (diff * diff).sum(axis=-1)


def _encode(df: DataFrame, books) -> DataFrame:
    """PQ encode stage: the embedding column becomes `codes`, m small ints
    per vector, so the index side shuffles codes instead of dim floats
    (32x less at dim=64/m=8)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [f for f in df.schema.fields if f.name != "embedding"]
        + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for b in batches:
            if len(b) == 0:
                continue
            codes = _pq_dists(_rows(b), books).argmin(axis=-1).astype("int32")
            yield b.drop(columns="embedding").assign(codes=list(codes))

    return df.mapInPandas(encode, schema=schema)


def _score_lists(
    qside: DataFrame, iside: DataFrame, keys: tuple, top: int, books=None
) -> DataFrame:
    """List scorer stage: queries and index vectors meet per group of
    `keys` — an inverted list (cid) or a tile (qblk, iblk) — in one
    cogroup; one matmul scores the group and only each query's partial
    top-`top` leaves the kernel, then a window keeps the global top.

    `score` is the exact cosine, or with `books` the negated
    1e-6-quantized ADC (squared L2 summed over subspaces, as one dgemm of
    the query lookup tables against the one-hot index codes; the
    per-subspace gather measured 1.8-6x slower on 500x125 to 2000x2000
    groups). Larger is better in both, and
    (score, nbr_id) is the oracles' total order, so partial-then-global
    top-k is lossless. ADC is quantized because shared codes make raw ties
    common and summation order would break them differently per engine."""
    import numpy as np
    import pandas as pd

    def kernel(qpdf: pd.DataFrame, ipdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(ipdf) == 0:
            return _empty_pairs("score")
        a_ids, a_mat = qpdf["vec_id"].to_numpy(), _rows(qpdf)
        b_ids = ipdf["vec_id"].to_numpy()
        if books is None:
            b_mat = _rows(ipdf)
            a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
            b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
            score = (a_mat @ b_mat.T) / (a_norms[:, None] * b_norms[None, :])
        else:
            m, ksub, _ = books.shape
            codes = np.stack(ipdf["codes"].to_numpy())
            onehot = np.zeros((len(b_ids), m * ksub))
            onehot[np.arange(len(b_ids))[:, None], np.arange(m) * ksub + codes] = 1.0
            lut = _pq_dists(a_mat, books).reshape(len(a_ids), m * ksub)
            score = -(np.floor((lut @ onehot.T) * 1e6 + 0.5) / 1e6)
        out_vec, out_nbr, out_sc = _partial_topk(a_ids, b_ids, score, top)
        if not out_vec:
            return _empty_pairs("score")
        return pd.DataFrame({"vec_id": out_vec, "nbr_id": out_nbr, "score": out_sc})

    partials = (
        qside.groupBy(*keys)
        .cogroup(iside.groupBy(*keys))
        .applyInPandas(kernel, schema="vec_id long, nbr_id long, score double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), "nbr_id")
    return partials.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= top)


def _exact_rerank(spark: SparkSession, sf_dir: str, cand: DataFrame, k: int) -> DataFrame:
    """Exact re-rank stage: each shortlisted (vec_id, nbr_id) pair gets its
    exact cosine over the raw vectors (a JVM zip_with dot product on
    refine x n rows, never n²), and the top k per query by the 4-dp cosine,
    then nbr_id — duplicate embeddings make exact ties common, so the
    oracles rank the quantized value."""
    va = _as_double_vec(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    vb = _as_double_vec(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("nbr_id"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = cand.join(va, "vec_id").join(vb, "nbr_id").select(
        "vec_id", "nbr_id", qround(dot / (F.col("na") * F.col("nb")), 4).alias("cosine")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), "nbr_id")
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("vec_id", "nbr_id", "cosine")
    )


def _ann_search(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    centroids=None,
    n_probe: int = 1,
    books=None,
    refine: int = 0,
    index_block_rows: int = 1024,
) -> DataFrame:
    """Cosine top-k neighbors per vector: the one IVF / PQ / IVF-PQ
    pipeline, its stages chosen by which parameters it is given.

    - `centroids`: every query probes its n_probe nearest inverted lists
      and meets only the vectors assigned to them (cogroup on the list id,
      ~n * n_probe / lists candidates per query). Without centroids every
      query meets every vector in a 2-D tile grid of index_block_rows-row
      blocks (_block_sides).
    - `books`: the index side is PQ-encoded and the list scorer ranks by
      ADC, keeping a `refine` shortlist per query for the exact re-rank.
      Without books the list scorer ranks the exact cosine itself (raw,
      4-dp only on output).

    With neither it is the exact all-pairs top-k (q_cosine_topk). At
    100 TB: no vector transits the Spark driver, the list sides shuffle n_probe
    query copies and one index copy (codes only under PQ), and hot lists
    shrink as the list count grows."""
    if centroids is None:
        n = _embeddings_rowcount(spark, sf_dir)  # footer metadata, no Spark job
        n_blocks = max(1, -(-n // index_block_rows))
        qside, iside = _block_sides(spark, sf_dir, n_blocks, n_blocks)
        keys = ("qblk", "iblk")
    else:
        # two reads: a self-cogroup trips the analyzer's self-join dedup
        # (see _block_sides)
        def lists(n: int) -> DataFrame:
            e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
            return _probe_lists(e, centroids, n)

        qside, iside = lists(n_probe), lists(1)
        keys = ("cid",)
    if books is None:
        top = _score_lists(qside, iside, keys, k)
        return top.select("vec_id", "nbr_id", qround(F.col("score"), 4).alias("cosine"))
    shortlist = _score_lists(qside, _encode(iside, books), keys, refine, books)
    return _exact_rerank(spark, sf_dir, shortlist.select("vec_id", "nbr_id"), k)


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_iters: int = 4,
) -> DataFrame:
    """IVF-Flat approximate nearest neighbors: the inverted-list scale path.

    Trained parameters through the shared pipeline (_ann_search, the same
    code q_ivf_verified_topk runs on md5 centroids): the coarse quantizer
    trains DISTRIBUTED over the full corpus (_train_coarse_centroids →
    kmeans_fit: Lloyd's, deterministic farthest-point init), every vector
    is assigned to its nearest centroid, and each query probes its n_probe
    nearest lists and ranks only those candidates — cost drops from O(n²)
    to O(n² * n_probe / n_centroids) with recall controlled by n_probe
    (measured on the hard case of random near-orthogonal vectors at 16
    centroids: recall 0.44/0.63/0.86 at n_probe 2/4/8).
    Approximate → not oracle-gated; tests assert recall vs q_cosine_topk.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _train_coarse_centroids(e, n_centroids, iters=train_iters)
    return _ann_search(spark, sf_dir, k, centroids=cent, n_probe=n_probe)


def pq_train_codebooks_distributed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
):
    """Per-subspace Lloyd k-means codebooks trained DISTRIBUTED over the
    full corpus (VERDICT r8 #5 — finishes what the IVF coarse quantizer
    started; replaces the r5-era bounded-sample training path in
    pq_topk/ivfpq_topk).

    All m subspaces train in ONE set of Spark jobs, not m separate
    k-means runs: per iteration a single mapInPandas pass slices each
    Arrow batch into its m subvectors, assigns every (row, subspace) to
    its nearest codeword against the broadcast codebooks, and emits the
    per-batch PARTIAL SUMS — at most m*ksub*dsub rows per batch — so the
    shuffle and the driver collect carry codebook-sized aggregates
    (m*ksub*dsub = dim*ksub scalars, 1024 doubles at dim=64/ksub=16),
    never vectors. This is the same reduction shape as kmeans_fit's
    update step but with the assign and the partial sum fused into the
    scan, so there is no per-row label join and no posexplode of the
    corpus.

    Driver-side work is exactly the bounded seed (the first ksub
    hash-ordered unit vectors) plus the k-sized per-iteration collect.
    Deterministic up to float-sum reduction order (same contract as
    kmeans_fit; the PQ keys are rows-only, recall-asserted).
    Empty clusters keep their previous codeword."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    seed = (
        df.withColumn("_h", F.xxhash64(id_col))
        .orderBy("_h", id_col)
        .limit(ksub)
        .select(vec_col)
        .toPandas()
    )
    smat = np.stack(seed[vec_col].to_numpy()).astype("float64")
    smat = smat / np.sqrt((smat * smat).sum(axis=1))[:, None]
    dim = smat.shape[1]
    if dim % m != 0:
        raise ValueError(
            f"pq_train_codebooks_distributed: dim {dim} not divisible by "
            f"m={m}"
        )
    dsub = dim // m
    books = np.empty((m, ksub, dsub))
    for s in range(m):
        sub = smat[:, s * dsub : (s + 1) * dsub]
        cent = sub[: min(ksub, len(sub))].copy()
        if len(cent) < ksub:  # degenerate tiny input: pad by repeating
            cent = np.resize(cent, (ksub, dsub))
        books[s] = cent

    base = df.select(F.col(vec_col).alias("_v"))
    bcs = []
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)
        bcs.append(bc)

        def partial_sums(batches, _bc=bc):
            cb = _bc.value  # (m, ksub, dsub)
            m_, ksub_, dsub_ = cb.shape
            for b in batches:
                if len(b) == 0:
                    continue
                mat = np.stack(b["_v"].to_numpy()).astype("float64")
                unit = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
                ss, ll, ii, vv, nn = [], [], [], [], []
                for s in range(m_):
                    sub = unit[:, s * dsub_ : (s + 1) * dsub_]
                    c = cb[s]
                    d2 = (
                        (sub * sub).sum(1)[:, None]
                        - 2.0 * (sub @ c.T)
                        + (c * c).sum(1)[None, :]
                    )
                    lab = d2.argmin(axis=1)
                    for lbl in np.unique(lab):
                        pts = sub[lab == lbl]
                        ss.extend([s] * dsub_)
                        ll.extend([int(lbl)] * dsub_)
                        ii.extend(range(dsub_))
                        vv.extend(pts.sum(axis=0).tolist())
                        nn.extend([len(pts)] * dsub_)
                yield pd.DataFrame(
                    {"s": ss, "label": ll, "i": ii, "psum": vv, "pn": nn}
                )

        agg = (
            base.mapInPandas(
                partial_sums, schema="s int, label int, i int, psum double, pn long"
            )
            .groupBy("s", "label", "i")
            .agg(F.sum("psum").alias("sv"), F.sum("pn").alias("nv"))
            .collect()
        )
        new = books.copy()
        acc = np.zeros((m, ksub, dsub))
        cnt = np.zeros((m, ksub), dtype="int64")
        for r in agg:
            acc[r["s"], r["label"], r["i"]] = r["sv"]
            cnt[r["s"], r["label"]] = r["nv"]
        for s in range(m):
            for c_i in range(ksub):
                if cnt[s, c_i]:
                    new[s, c_i] = acc[s, c_i] / cnt[s, c_i]
        books = new
    for bc in bcs:
        bc.unpersist()
    return books


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    m: int = 8,
    ksub: int = 16,
    train_iters: int = 10,
    refine: int = 64,
    index_block_rows: int = 1024,
) -> DataFrame:
    """Product-quantization ANN (PQ-ADC + exact re-rank): the
    memory-compression scale path for similarity search.

    Trained parameters through the shared pipeline (_ann_search, the same
    code q_pq_verified_topk runs on md5 codebooks): per-subspace k-means
    codebooks train DISTRIBUTED over the full corpus
    (`pq_train_codebooks_distributed`), each vector is encoded to m codes
    (m bytes at ksub<=256 instead of dim floats), every query ranks every
    code by asymmetric squared-L2 distance in a 2-D tile grid, and an
    exact-cosine re-rank of the top `refine` candidates (refine * n rows,
    not n²) restores precision. `refine` is the recall-vs-shuffle knob.
    Approximate → rows-only; tests assert recall vs q_cosine_topk."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train_codebooks_distributed(e, m=m, ksub=ksub, iters=train_iters)
    return _ann_search(
        spark, sf_dir, k, books=books, refine=refine, index_block_rows=index_block_rows
    )


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 8,
    m: int = 8,
    ksub: int = 16,
    train_iters: int = 10,
    refine: int = 64,
) -> DataFrame:
    """IVF-PQ: the FAISS-style IVFADC composition, sub-quadratic in
    compute (queries probe n_probe of n_centroids lists) and compressed in
    memory and shuffle (the lists carry PQ codes, not raw vectors).

    Trained parameters through the shared pipeline (_ann_search, the same
    code q_ivfpq_verified_topk runs on md5 parameters): both quantizers
    train DISTRIBUTED over the full corpus (_train_coarse_centroids and
    `pq_train_codebooks_distributed`; residual codebooks are not used),
    the per-list ADC keeps the top `refine` per query, and an exact-cosine
    re-rank picks the top k. Approximate → rows-only; tests assert recall
    vs q_cosine_topk."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train_codebooks_distributed(e, m=m, ksub=ksub, iters=train_iters)
    cent = _train_coarse_centroids(e, n_centroids, iters=4)
    return _ann_search(
        spark, sf_dir, k, centroids=cent, n_probe=n_probe, books=books, refine=refine
    )


@_q("q_ivfpq_topk")  # rows-only: approximate — recall vs q_cosine_topk is test-asserted
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the IVF-PQ composition (16 lists x 8
    probes, 8x16 codebooks, refine=64). Shares one pipeline with
    q_ivfpq_verified_topk; see ivfpq_topk."""
    return ivfpq_topk(spark, sf_dir)


@_q("q_pq_topk")  # rows-only: approximate — recall vs q_cosine_topk is test-asserted
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the product-quantization ANN path (defaults:
    k=3, 8 subspaces x 16 codes, refine=64). Shares one pipeline with
    q_pq_verified_topk; see pq_topk."""
    return pq_topk(spark, sf_dir)


@_q("q_ann_lsh_topk")  # rows-only: approximate — recall vs q_cosine_topk is test-asserted
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the hyperplane-LSH ANN scale path (k=3,
    auto-sized planes x 16 tables, recall ~0.90 vs brute force on random
    near-orthogonal vectors at smoke scale). See ann_lsh_topk for the
    100-TB design notes."""
    return ann_lsh_topk(spark, sf_dir)


@_q("q_ivf_topk")  # rows-only: approximate — recall vs q_cosine_topk is test-asserted
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible entry for the IVF-Flat ANN scale path (defaults: k=3,
    16 centroids, 4 probes). Shares one pipeline with q_ivf_verified_topk;
    see ivf_topk and _ann_search for the 100-TB design notes."""
    return ivf_topk(spark, sf_dir)


# ---------------------------------------------------- verified ANN (r10) ---
# The trained ANN keys (q_ann_lsh_topk / q_ivf_topk / q_pq_topk /
# q_ivfpq_topk) are rows-only because their hyperplanes/codebooks come from
# numpy RNG + trained k-means — not expressible in SQL. Each has a twin
# whose parameters are DERIVED FROM md5, a function both engines share, so
# a DuckDB oracle rebuilds the twin bit for bit. The IVF / PQ / IVF-PQ
# twins run the same pipeline as their trained keys (_ann_search); the LSH
# twin below (signature -> band buckets -> candidate equi-join -> exact
# re-rank) is still a separate implementation of ann_lsh_topk's mechanism.

ANN_V_DIM = 64  # embeddings.embedding width at every SF (TESTDATA.md)
ANN_V_PLANES = 32
ANN_V_BAND_BITS = 8  # 4 bands x 8 bits
ANN_V_K = 3

_ANN_VERIFIED_ORACLE = f"""
    WITH planes AS (
      SELECT p, d,
             CASE WHEN substr(md5('h:' || p || ':' || d), 1, 1) <= '7'
                  THEN 1.0 ELSE -1.0 END AS s
      FROM (SELECT unnest(range(0, {ANN_V_PLANES})) AS p),
           (SELECT unnest(range(0, {ANN_V_DIM})) AS d)
    ),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, p, sum(v * s) AS proj
      FROM ex JOIN planes USING (d) GROUP BY vec_id, p
    ),
    sig AS (
      SELECT vec_id, CAST(p // {ANN_V_BAND_BITS} AS INT) AS band,
             string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY p) AS bucket
      FROM proj GROUP BY 1, 2
    ),
    pairs AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    cand AS (
      SELECT va AS vec_id, vb AS nbr_id FROM pairs
      UNION ALL
      SELECT vb AS vec_id, va AS nbr_id FROM pairs
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    dots AS (
      SELECT c.vec_id, c.nbr_id, sum(a.v * b.v) AS dot
      FROM cand c
      JOIN ex a ON a.vec_id = c.vec_id
      JOIN ex b ON b.vec_id = c.nbr_id AND a.d = b.d
      GROUP BY c.vec_id, c.nbr_id
    )
    SELECT vec_id, nbr_id,
           floor(cos_sim * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM (
      SELECT d.vec_id, d.nbr_id, d.dot / (na.nrm * nb.nrm) AS cos_sim,
             row_number() OVER (PARTITION BY d.vec_id
                                ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                         d.nbr_id) AS rn
      FROM dots d
      JOIN norms na ON d.vec_id = na.vec_id
      JOIN norms nb ON d.nbr_id = nb.vec_id
    ) WHERE rn <= {ANN_V_K}
"""


def _ann_plane_grid(spark: SparkSession) -> DataFrame:
    """(p, d, s) — the md5-derived ±1 hyperplane matrix both engines
    rebuild (s = +1 iff the first hex nibble of md5('h:p:d') <= '7')."""
    return (
        spark.range(ANN_V_PLANES)
        .select(F.col("id").alias("p"))
        .crossJoin(spark.range(ANN_V_DIM).select(F.col("id").alias("d")))
        .select(
            "p",
            "d",
            F.when(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit("h"),
                            F.col("p").cast("string"),
                            F.col("d").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    1,
                )
                <= "7",
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("s"),
        )
    )


def _ann_plane_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bits: array<string>) — each vector's full
    {ANN_V_PLANES}-bit hyperplane signature, computed ROW-LOCALLY: the
    plane matrix is aggregated into ONE broadcast array-of-arrays row
    (p-major, d-ascending — the exact summation order of the
    posexplode+groupBy form, so projections are bit-identical) and each
    vector folds all P projections in a single scan stage.

    The fold lambdas are INTERPRETED per element (not codegen'd), so this
    form only wins when one fold pass feeds several consumers/layouts —
    q_lsh_param_sweep (3 bandings, measured 3.87 -> 3.32 s interleaved
    A/B). Single-layout consumers keep the codegen'd explode form
    (_ann_v_signatures — measured the other way, see its docstring)."""
    planes = _ann_plane_grid(spark)
    planes_row = (
        planes.groupBy("p")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "s"))),
                lambda x: x["s"],
            ).alias("sarr")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "sarr"))),
                lambda x: x["sarr"],
            ).alias("planes")
        )
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    return emb.crossJoin(F.broadcast(planes_row)).select(
        "vec_id",
        F.transform(
            "planes",
            lambda pl: F.when(
                F.aggregate(
                    F.zip_with(F.col("v"), pl, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ).alias("bits"),
    )


def _band_buckets(bits_df: DataFrame, bits_per_band: int) -> DataFrame:
    """(vec_id, band, bucket) from a _ann_plane_bits frame: slice the
    P-bit array into P/bits_per_band band buckets, row-locally."""
    n_bands = ANN_V_PLANES // bits_per_band
    return bits_df.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.array_join(
                        F.slice("bits", b * bits_per_band + 1, bits_per_band),
                        "",
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _ann_v_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, bucket) LSH signatures from the md5-derived ±1
    hyperplanes shared by q_ann_verified_topk and q_ann_recall_eval — both
    engines rebuild the identical planes, so the banded buckets hash-match.

    Deliberately the CODEGEN'D posexplode+groupBy form, NOT the row-local
    _ann_plane_bits fold (r16 measured-and-rejected for the single-layout
    consumers: higher-order-function lambdas are interpreted per element,
    and the 64-plane x 64-dim fold costs more CPU than the whole-stage-
    codegen explode + map-side-combined shuffle it avoids — interleaved
    A/B at sf0.1: explode 2.15 s vs fold 2.94 s on q_ann_verified_topk,
    2.06 vs 2.48 on q_ann_recall_eval. The fold form wins only when its
    cost is amortized over several layouts: q_lsh_param_sweep keeps it)."""
    planes = _ann_plane_grid(spark)
    ex = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("d", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    proj = (
        ex.join(F.broadcast(planes), "d")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("v") * F.col("s")).alias("proj"))
    )
    bits = proj.select(
        "vec_id",
        (F.col("p") / ANN_V_BAND_BITS).cast("int").alias("band"),
        "p",
        F.when(F.col("proj") >= 0, F.lit("1")).otherwise(F.lit("0")).alias("bit"),
    )
    return bits.groupBy("vec_id", "band").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "bit"))),
                lambda x: x["bit"],
            ),
            "",
        ).alias("bucket")
    )


@_q("q_ann_verified_topk", _ANN_VERIFIED_ORACLE)
def q_ann_verified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN with a FULL oracle gate (r10): signatures come
    from md5-derived ±1 hyperplanes (s(p,d) = +1 iff the first hex nibble
    of md5('h:p:d') <= '7') instead of numpy RNG, so DuckDB rebuilds the
    identical planes, signatures, band buckets and candidate pairs, then
    re-ranks them with the same exact cosine — the driver's hash check
    covers the LSH path end-to-end, not merely a brute-force proxy.

    Shape: {ANN_V_PLANES} planes in {ANN_V_PLANES // ANN_V_BAND_BITS}
    bands of {ANN_V_BAND_BITS} bits; a random pair collides ~(1/2^8) per
    band (~1.6% overall) while near-duplicates collide with high
    probability — the standard recall/candidate-count dial.

    Scale shape: the plane table ({ANN_V_PLANES}x{ANN_V_DIM} rows) is a
    broadcast; projections are one map-side-combined groupBy(vec_id, p)
    over the posexploded stream (n x dim rows in, n x planes out);
    signatures group per (vec_id, band); candidates are a banded
    EQUI-join (each bucket joins only its own members — never all-pairs);
    the exact re-rank touches only candidate rows. At 100 TB the only
    skew risk is a hot bucket (near-constant vectors); the ceiling fix is
    the same document-frequency cap q_substring_dup applies to anchors.
    Float caveat: cross-engine doubles differ by summation order only
    (~1e-15 relative); the proj >= 0 bit threshold and the 1e-4 cosine
    quantization sit ~10 orders of magnitude above that."""
    sig = _ann_v_signatures(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    cand = pairs.select(F.col("va").alias("vec_id"), F.col("vb").alias("nbr_id")).unionAll(
        pairs.select(F.col("vb").alias("vec_id"), F.col("va").alias("nbr_id"))
    )
    va = _as_double_vec(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    vb = _as_double_vec(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = cand.join(va, "vec_id").join(vb, "nbr_id").select(
        "vec_id", "nbr_id", (dot / (F.col("na") * F.col("nb"))).alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "nbr_id")
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_V_K)
        .select("vec_id", "nbr_id", qround(F.col("cos_sim"), 4).alias("cosine"))
    )


RQ_N = 32  # evaluation query sample size (fixed — NOT a corpus fraction)
RQ_K = 10  # recall@k cutoff

_ANN_RECALL_ORACLE = f"""
    WITH planes AS (
      SELECT p, d,
             CASE WHEN substr(md5('h:' || p || ':' || d), 1, 1) <= '7'
                  THEN 1.0 ELSE -1.0 END AS s
      FROM (SELECT unnest(range(0, {ANN_V_PLANES})) AS p),
           (SELECT unnest(range(0, {ANN_V_DIM})) AS d)
    ),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, p, sum(v * s) AS proj
      FROM ex JOIN planes USING (d) GROUP BY vec_id, p
    ),
    sig AS (
      SELECT vec_id, CAST(p // {ANN_V_BAND_BITS} AS INT) AS band,
             string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY p) AS bucket
      FROM proj GROUP BY 1, 2
    ),
    q AS (
      SELECT vec_id FROM embeddings
      ORDER BY md5('rq:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {RQ_N}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    exd AS (
      SELECT qq.vec_id AS qid, b.vec_id AS nbr_id, sum(a.v * b.v) AS dot
      FROM q qq
      JOIN ex a ON a.vec_id = qq.vec_id
      JOIN ex b ON b.d = a.d AND b.vec_id <> qq.vec_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT qid, nbr_id FROM (
        SELECT d.qid, d.nbr_id,
               row_number() OVER (PARTITION BY d.qid
                                  ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                           d.nbr_id) AS rn
        FROM exd d
        JOIN norms na ON d.qid = na.vec_id
        JOIN norms nb ON d.nbr_id = nb.vec_id
      ) WHERE rn <= {RQ_K}
    ),
    cand AS (
      SELECT DISTINCT qq.vec_id AS qid, s2.vec_id AS nbr_id
      FROM q qq
      JOIN sig s1 ON s1.vec_id = qq.vec_id
      JOIN sig s2 ON s2.band = s1.band AND s2.bucket = s1.bucket
                 AND s2.vec_id <> qq.vec_id
    ),
    anndot AS (
      SELECT c.qid, c.nbr_id, sum(a.v * b.v) AS dot
      FROM cand c
      JOIN ex a ON a.vec_id = c.qid
      JOIN ex b ON b.vec_id = c.nbr_id AND b.d = a.d
      GROUP BY 1, 2
    ),
    ann AS (
      SELECT qid, nbr_id FROM (
        SELECT d.qid, d.nbr_id,
               row_number() OVER (PARTITION BY d.qid
                                  ORDER BY d.dot / (na.nrm * nb.nrm) DESC,
                                           d.nbr_id) AS rn
        FROM anndot d
        JOIN norms na ON d.qid = na.vec_id
        JOIN norms nb ON d.nbr_id = nb.vec_id
      ) WHERE rn <= {RQ_K}
    ),
    hits AS (
      SELECT e.qid, count(*) AS h
      FROM exact e JOIN ann a ON a.qid = e.qid AND a.nbr_id = e.nbr_id
      GROUP BY e.qid
    ),
    nc AS (SELECT qid, count(*) AS ncand FROM cand GROUP BY qid)
    SELECT qq.vec_id,
           CAST(COALESCE(nc.ncand, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(hits.h, 0) AS BIGINT) AS hits,
           floor(COALESCE(hits.h, 0) * 1000000.0 / {RQ_K} + 0.5) / 1000000.0
               AS recall_at_k
    FROM q qq
    LEFT JOIN nc ON nc.qid = qq.vec_id
    LEFT JOIN hits ON hits.qid = qq.vec_id
"""


@_q("q_ann_recall_eval", _ANN_RECALL_ORACLE)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation IN the engine (r10): recall@{RQ_K} of the
    md5-plane LSH shortlist against the exact brute-force top-{RQ_K}, per
    query, over a FIXED {RQ_N}-query md5-ordered sample — the measurement
    loop every ANN deployment needs (tune bands/bits by re-running the eval,
    not by faith). Emits (query, candidate-set size, hits, recall@k); both
    rankings and the sample itself are md5-deterministic, so the whole
    evaluation is oracle-gated — the in-repo recall tests become a
    driver-visible row.

    Scale shape: the query sample is CONSTANT-size ({RQ_N}), so the exact
    side is O({RQ_N}·n) via a broadcast of the 32 query vectors — never the
    O(n²) all-pairs the brute-force baseline pays; the ANN side reuses
    q_ann_verified_topk's banded equi-join signatures (shared helper). At
    100 TB the eval cost is one corpus scan plus the signature build, and
    sample size scales the precision of the estimate, not the data touched.
    Ranking ties: raw-double order with nbr_id tiebreak, the proven
    q_ann_verified_topk discipline (~1e-15 cross-engine relative error vs
    ~1e-7 typical cosine gaps); hits compare only ids, never floats.

    Plan-reuse note (r12): qs/sig/cand each feed 2-3 branches, so the
    q_graph_triangles localCheckpoint treatment was TRIED here — and
    measured SLOWER at both sf0.1 (1.9 s → 3.0 s) and the 10× probe
    (3.8 s → 4.4 s): the recomputed subtrees pipeline across all cores,
    while eager checkpoints serialize the job graph and pay
    materialization for corpus×bands rows. Rejected; evidence in
    docs/SCALE.md (r12)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = (
        emb.select("vec_id")
        .orderBy(
            F.md5(
                F.concat(F.lit("rq:"), F.col("vec_id").cast("string")).cast(
                    "binary"
                )
            ),
            "vec_id",
        )
        .limit(RQ_N)
    )
    v = _as_double_vec(emb)
    qv = (
        qs.join(v, "vec_id")
        .select(
            F.col("vec_id").alias("qid"),
            F.col("vec").alias("qvec"),
            F.col("norm").alias("qn"),
        )
    )
    allv = v.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("vec").alias("nvec"),
        F.col("norm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = (dot / (F.col("qn") * F.col("nn"))).alias("cos")
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nbr_id")
    exact = (
        allv.crossJoin(F.broadcast(qv))
        .filter(F.col("nbr_id") != F.col("qid"))
        .select("qid", "nbr_id", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RQ_K)
        .select("qid", "nbr_id")
    )
    sig = _ann_v_signatures(spark, sf_dir)
    sq = sig.join(
        F.broadcast(qs.withColumnRenamed("vec_id", "qid")),
        F.col("vec_id") == F.col("qid"),
    ).select("qid", "band", "bucket")
    cand = (
        sq.join(sig, ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nbr_id"))
        .distinct()
    )
    ann = (
        cand.join(F.broadcast(qv), "qid")
        .join(allv, "nbr_id")
        .select("qid", "nbr_id", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RQ_K)
        .select("qid", "nbr_id")
    )
    hits = exact.join(ann, ["qid", "nbr_id"]).groupBy("qid").agg(
        F.count("*").alias("h")
    )
    nc = cand.groupBy("qid").agg(F.count("*").alias("ncand"))
    return (
        qs.select(F.col("vec_id"))
        .join(nc.withColumnRenamed("qid", "vec_id"), "vec_id", "left")
        .join(hits.withColumnRenamed("qid", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("ncand"), F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("hits"),
            (
                F.floor(
                    F.coalesce(F.col("h"), F.lit(0)) * 1000000.0 / RQ_K
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("recall_at_k"),
        )
    )


def _md5_unit_grid(spark: SparkSession, tag: str, n: int, dim: int) -> DataFrame:
    """Deterministic pseudo-random grid (c, d) -> val in [-1, 1]: the value
    is the first FOUR hex nibbles of md5(tag:c:d) scaled to [-1, 1] — md5 is
    the one hash both engines share byte-for-byte, so a DuckDB oracle can
    rebuild the identical matrix (same trick as q_ann_verified_topk's ±1
    planes, extended from signs to continuous values). n x dim rows, built
    from two driver-local ranges — always broadcast at the consumer join."""

    def nib(j: int):
        return F.expr(f"instr('0123456789abcdef', substring(h, {j}, 1)) - 1")

    return (
        spark.range(n)
        .select(F.col("id").alias("c"))
        .crossJoin(spark.range(dim).select(F.col("id").alias("d")))
        .withColumn(
            "h",
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(tag),
                    F.col("c").cast("string"),
                    F.col("d").cast("string"),
                ).cast("binary")
            ),
        )
        .select(
            "c",
            "d",
            (
                (
                    (nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4))
                    / F.lit(65535.0)
                )
                * 2.0
                - 1.0
            ).alias("val"),
        )
    )


def _md5_grid_np(tag: str, n: int, dim: int):
    """_md5_unit_grid(spark, tag, n, dim) as an (n, dim) numpy array, built
    in the Spark driver: hashlib.md5 and Spark's F.md5 agree on every byte and
    the scaling is the same IEEE double expression, so the two are equal
    bit for bit (test-asserted for the "ivf" and "pq" grids). The md5 twins
    of the IVF/PQ family take their parameters from it."""
    import hashlib

    import numpy as np

    grid = np.empty((n, dim))
    for c in range(n):
        for d in range(dim):
            h = hashlib.md5(f"{tag}:{c}:{d}".encode()).hexdigest()
            grid[c, d] = (int(h[:4], 16) / 65535.0) * 2.0 - 1.0
    return grid


IVF_V_C = 16  # coarse centroids
IVF_V_PROBE = 4  # lists each query probes
IVF_V_K = 3

_IVF_GRID_SQL = """
      SELECT c, d,
             (((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(h, 4, 1)) - 1))
              / 65535.0) * 2.0 - 1.0 AS val
      FROM (
        SELECT c, d, md5('{tag}:' || c || ':' || d) AS h
        FROM (SELECT unnest(range(0, {n})) AS c),
             (SELECT unnest(range(0, {dim})) AS d)
      )
"""

_IVF_VERIFIED_ORACLE = f"""
    WITH cent AS ({_IVF_GRID_SQL.format(tag="ivf", n=IVF_V_C, dim=ANN_V_DIM)}),
    cnorm AS (SELECT c, sqrt(sum(val * val)) AS cn FROM cent GROUP BY c),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    dots AS (
      SELECT vec_id, c, sum(v * val) AS dot
      FROM ex JOIN cent USING (d) GROUP BY vec_id, c
    ),
    ranked AS (
      SELECT vec_id, dots.c AS c,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dot / cn DESC, dots.c) AS rn
      FROM dots JOIN cnorm ON dots.c = cnorm.c
    ),
    assigned AS (SELECT vec_id, c AS cid FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id, c AS pc FROM ranked WHERE rn <= {IVF_V_PROBE}),
    cand AS (
      SELECT p.vec_id, a.vec_id AS nbr_id
      FROM probes p JOIN assigned a ON p.pc = a.cid AND p.vec_id <> a.vec_id
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cd AS (
      SELECT c.vec_id, c.nbr_id, sum(a.v * b.v) AS dot
      FROM cand c
      JOIN ex a ON a.vec_id = c.vec_id
      JOIN ex b ON b.vec_id = c.nbr_id AND a.d = b.d
      GROUP BY c.vec_id, c.nbr_id
    )
    SELECT vec_id, nbr_id,
           floor(cos_sim * 10000.0 + 0.5) / 10000.0 AS cosine
    FROM (
      SELECT cd.vec_id, cd.nbr_id, cd.dot / (na.nrm * nb.nrm) AS cos_sim,
             row_number() OVER (PARTITION BY cd.vec_id
                                ORDER BY cd.dot / (na.nrm * nb.nrm) DESC,
                                         cd.nbr_id) AS rn
      FROM cd
      JOIN norms na ON cd.vec_id = na.vec_id
      JOIN norms nb ON cd.nbr_id = nb.vec_id
    ) WHERE rn <= {IVF_V_K}
"""


@_q("q_ivf_verified_topk", _IVF_VERIFIED_ORACLE)
def q_ivf_verified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with a FULL oracle gate: q_ivf_topk's pipeline run on
    an md5-derived {IVF_V_C}x{ANN_V_DIM} centroid grid instead of trained
    k-means, so DuckDB rebuilds the identical centroids, inverted-list
    assignment (argmax cosine-to-centroid), {IVF_V_PROBE}-probe candidate
    generation AND the exact list scoring.

    The pair shares one pipeline (_ann_search) and differs only in its
    parameters, so this key's hash check covers the assign → probe → list
    scorer code q_ivf_topk ships; q_ivf_topk keeps its recall pinned in
    tests. Float caveat: cross-engine sums differ ~1e-15 relative, the
    smallest gap between adjacent probe-rank scores (ranks 1-5) is 4.0e-6
    at sf0.1 (1.1e-5 at sf0.01), and the output cosine is quantized at
    1e-4."""
    cent = _md5_grid_np("ivf", IVF_V_C, ANN_V_DIM)
    return _ann_search(spark, sf_dir, IVF_V_K, centroids=cent, n_probe=IVF_V_PROBE)


PQ_V_S = 8  # subspaces (64-dim embedding -> 8 dims per subspace)
PQ_V_W = 8  # dims per subspace
PQ_V_CODES = 16  # codewords per subspace
PQ_V_REFINE = 16  # ADC shortlist re-ranked exactly
PQ_V_K = 3

_PQ_VERIFIED_ORACLE = f"""
    WITH grid AS (
      {_IVF_GRID_SQL.format(tag="pq", n=PQ_V_S * PQ_V_CODES, dim=PQ_V_W)}
    ),
    cb AS (
      SELECT c % {PQ_V_CODES} AS code, c // {PQ_V_CODES} AS s,
             (c // {PQ_V_CODES}) * {PQ_V_W} + d AS dim, val
      FROM grid
    ),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    enc AS (
      SELECT e.vec_id, cb.s, cb.code,
             sum((e.v - cb.val) * (e.v - cb.val)) AS d2
      FROM ex e JOIN cb ON e.d = cb.dim
      GROUP BY e.vec_id, cb.s, cb.code
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT q.vec_id, x.vec_id AS nbr_id,
             floor(sum(q.d2) * 1000000.0 + 0.5) / 1000000.0 AS adc
      FROM codes x
      JOIN enc q ON q.s = x.s AND q.code = x.code AND q.vec_id <> x.vec_id
      GROUP BY q.vec_id, x.vec_id
    ),
    cand AS (
      SELECT vec_id, nbr_id FROM (
        SELECT vec_id, nbr_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY adc, nbr_id) AS rn
        FROM adc
      ) WHERE rn <= {PQ_V_REFINE}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cd AS (
      SELECT c.vec_id, c.nbr_id, sum(a.v * b.v) AS dot
      FROM cand c
      JOIN ex a ON a.vec_id = c.vec_id
      JOIN ex b ON b.vec_id = c.nbr_id AND a.d = b.d
      GROUP BY c.vec_id, c.nbr_id
    )
    SELECT vec_id, nbr_id, cosine
    FROM (
      SELECT cd.vec_id, cd.nbr_id,
             floor(cd.dot / (na.nrm * nb.nrm) * 10000.0 + 0.5) / 10000.0
               AS cosine,
             row_number() OVER (
               PARTITION BY cd.vec_id
               ORDER BY floor(cd.dot / (na.nrm * nb.nrm) * 10000.0 + 0.5)
                          / 10000.0 DESC,
                        cd.nbr_id) AS rn
      FROM cd
      JOIN norms na ON cd.vec_id = na.vec_id
      JOIN norms nb ON cd.nbr_id = nb.vec_id
    ) WHERE rn <= {PQ_V_K}
"""


@_q("q_pq_verified_topk", _PQ_VERIFIED_ORACLE)
def q_pq_verified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with a FULL oracle gate: q_pq_topk's
    pipeline run on md5-derived {PQ_V_S}x{PQ_V_CODES} codebooks instead of
    k-means-trained ones, so DuckDB rebuilds encoding (per-subspace
    argmin), the asymmetric-distance (ADC) top-{PQ_V_REFINE} shortlist AND
    the exact re-rank.

    The pair shares one pipeline (_ann_search) and differs only in its
    parameters (and refine), so this key's hash check covers the encode →
    ADC → re-rank code q_pq_topk ships; q_pq_topk keeps its recall pinned
    in tests. The oracle's ADC is the shared-intermediate form: for
    self-ANN a query's lookup table IS its encoding distance table, so
    ADC(q, x) = Σ_s enc[q, s, code_x(s)]. Ranks compare the 1e-6-quantized
    ADC and the 1e-4-quantized cosine with nbr_id total tiebreaks, both
    bit-identical cross-engine; the smallest gap between a subvector's two
    nearest codewords is 2.3e-5 at sf0.1, far above ~1e-15 sum noise."""
    books = _md5_grid_np("pq", PQ_V_S * PQ_V_CODES, PQ_V_W).reshape(
        PQ_V_S, PQ_V_CODES, PQ_V_W
    )
    return _ann_search(spark, sf_dir, PQ_V_K, books=books, refine=PQ_V_REFINE)


IVFPQ_V_REFINE = 16  # ADC shortlist re-ranked exactly
IVFPQ_V_K = 3

_IVFPQ_VERIFIED_ORACLE = f"""
    WITH cent AS ({_IVF_GRID_SQL.format(tag="ivf", n=IVF_V_C, dim=ANN_V_DIM)}),
    cnorm AS (SELECT c, sqrt(sum(val * val)) AS cn FROM cent GROUP BY c),
    ex AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    dots AS (
      SELECT vec_id, c, sum(v * val) AS dot
      FROM ex JOIN cent USING (d) GROUP BY vec_id, c
    ),
    ranked AS (
      SELECT vec_id, dots.c AS c,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dot / cn DESC, dots.c) AS rn
      FROM dots JOIN cnorm ON dots.c = cnorm.c
    ),
    assigned AS (SELECT vec_id, c AS cid FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id, c AS pc FROM ranked WHERE rn <= {IVF_V_PROBE}),
    ivfcand AS (
      SELECT p.vec_id, a.vec_id AS nbr_id
      FROM probes p JOIN assigned a ON p.pc = a.cid AND p.vec_id <> a.vec_id
    ),
    grid AS (
      {_IVF_GRID_SQL.format(tag="pq", n=PQ_V_S * PQ_V_CODES, dim=PQ_V_W)}
    ),
    cb AS (
      SELECT c % {PQ_V_CODES} AS code, c // {PQ_V_CODES} AS s,
             (c // {PQ_V_CODES}) * {PQ_V_W} + d AS dim, val
      FROM grid
    ),
    enc AS (
      SELECT e.vec_id, cb.s, cb.code,
             sum((e.v - cb.val) * (e.v - cb.val)) AS d2
      FROM ex e JOIN cb ON e.d = cb.dim
      GROUP BY e.vec_id, cb.s, cb.code
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT c.vec_id, c.nbr_id,
             floor(sum(q.d2) * 1000000.0 + 0.5) / 1000000.0 AS adc
      FROM ivfcand c
      JOIN codes x ON x.vec_id = c.nbr_id
      JOIN enc q ON q.vec_id = c.vec_id AND q.s = x.s AND q.code = x.code
      GROUP BY c.vec_id, c.nbr_id
    ),
    shortlist AS (
      SELECT vec_id, nbr_id FROM (
        SELECT vec_id, nbr_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY adc, nbr_id) AS rn
        FROM adc
      ) WHERE rn <= {IVFPQ_V_REFINE}
    ),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cd AS (
      SELECT c.vec_id, c.nbr_id, sum(a.v * b.v) AS dot
      FROM shortlist c
      JOIN ex a ON a.vec_id = c.vec_id
      JOIN ex b ON b.vec_id = c.nbr_id AND a.d = b.d
      GROUP BY c.vec_id, c.nbr_id
    )
    SELECT vec_id, nbr_id, cosine
    FROM (
      SELECT cd.vec_id, cd.nbr_id,
             floor(cd.dot / (na.nrm * nb.nrm) * 10000.0 + 0.5) / 10000.0
               AS cosine,
             row_number() OVER (
               PARTITION BY cd.vec_id
               ORDER BY floor(cd.dot / (na.nrm * nb.nrm) * 10000.0 + 0.5)
                          / 10000.0 DESC,
                        cd.nbr_id) AS rn
      FROM cd
      JOIN norms na ON cd.vec_id = na.vec_id
      JOIN norms nb ON cd.nbr_id = nb.vec_id
    ) WHERE rn <= {IVFPQ_V_K}
"""


@_q("q_ivfpq_verified_topk", _IVFPQ_VERIFIED_ORACLE)
def q_ivfpq_verified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN with a FULL oracle gate: q_ivfpq_topk's pipeline run on
    the md5-derived parameters of q_ivf_verified_topk ("ivf" centroids,
    {IVF_V_PROBE} probes) and q_pq_verified_topk ("pq" codebooks), so
    DuckDB rebuilds the identical two-level index end-to-end: coarse
    assign → probe → list-restricted ADC shortlist → exact re-rank.

    The pair shares one pipeline (_ann_search) and differs only in its
    parameters (and n_probe, refine), so this key's hash check covers the
    code q_ivfpq_topk ships; q_ivfpq_topk keeps its recall pinned in tests.
    IVF-PQ probes {IVF_V_PROBE}/{IVF_V_C} of the lists and scores only
    those candidates by ADC; only per-list partial top-{IVFPQ_V_REFINE}
    rows leave the list scorer, so the shuffle after scoring is queries ×
    probes × {IVFPQ_V_REFINE}, linear in the corpus. Tie discipline as
    q_pq_verified_topk."""
    cent = _md5_grid_np("ivf", IVF_V_C, ANN_V_DIM)
    books = _md5_grid_np("pq", PQ_V_S * PQ_V_CODES, PQ_V_W).reshape(
        PQ_V_S, PQ_V_CODES, PQ_V_W
    )
    return _ann_search(
        spark,
        sf_dir,
        IVFPQ_V_K,
        centroids=cent,
        n_probe=IVF_V_PROBE,
        books=books,
        refine=IVFPQ_V_REFINE,
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    with_assignments: bool = True,
):
    """Distributed Lloyd's k-means over a vector column — the at-scale
    replacement for the driver-side sample training ivf_topk/pq_topk use
    (fine for codebooks, wrong when the corpus no longer fits a sample).

    Per iteration ONE job and NO vector ever crosses a shuffle: a
    vectorized mapInPandas fuses the argmin-distance assignment (BLAS
    tile per Arrow batch) with the per-batch partial centroid sums, so
    each batch emits at most k × dim (label, dim, sum, count) rows and
    the shuffle + driver collect carry only the k × dim aggregate (r9 —
    previously assign and update were separate jobs bridged by a per-row
    label join + posexplode of the corpus).

    Deterministic: init is farthest-point traversal over a bounded
    xxhash64-ordered sample (greedy k-center — separates well-spread
    clusters where naive first-k seeding collapses two seeds into one
    blob and Lloyd's sticks in that local optimum); empty clusters keep
    their previous centroid. Returns (centroids ndarray [k × dim],
    assignments DataFrame[id_col, label]) where the assignments are
    computed against the FINAL centroids (ADVICE r5: the in-loop
    assignment lags the update by one step), or (centroids, None) with
    with_assignments=False — callers that only want the codebook (the IVF
    coarse quantizer) then leave no lingering broadcast behind."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n_seed = max(64 * k, 256)
    seed = (
        df.withColumn("_h", F.xxhash64(id_col))
        .orderBy("_h", id_col)
        .limit(n_seed)
        .select(vec_col)
        .toPandas()
    )
    smat = np.stack(seed[vec_col].to_numpy()).astype("float64")
    chosen = [0]
    d2min = ((smat - smat[0]) ** 2).sum(1)
    while len(chosen) < min(k, len(smat)):
        nxt = int(d2min.argmax())
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((smat - smat[nxt]) ** 2).sum(1))
    cent = smat[chosen].copy()
    if len(cent) < k:  # degenerate tiny input: pad by repeating
        cent = np.resize(cent, (k, smat.shape[1]))
    dim = cent.shape[1]

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    bcs = []  # per-iteration centroid broadcasts, unpersisted before return

    def make_assign(cmat):
        bc = spark.sparkContext.broadcast(cmat)
        bcs.append(bc)

        def assign(batches):
            c = bc.value
            for b in batches:
                mat = np.stack(b["_v"].to_numpy()).astype("float64")
                d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ c.T) + (c * c).sum(1)[None, :]
                yield pd.DataFrame(
                    {"_id": b["_id"], "label": d2.argmin(1).astype("int32")}
                )

        return assign

    for _ in range(iters):
        # fused assign + per-batch partial sums (r9, same shape as
        # pq_train_codebooks_distributed): no per-row label join, no
        # posexplode of the corpus — each Arrow batch emits at most
        # k x dim (label, i, psum, pn) rows and the shuffle + driver
        # collect carry only the k x dim aggregate
        bc = spark.sparkContext.broadcast(cent)
        bcs.append(bc)

        def partial_sums(batches, _bc=bc):
            c = _bc.value
            for b in batches:
                if len(b) == 0:
                    continue
                mat = np.stack(b["_v"].to_numpy()).astype("float64")
                d2 = (
                    (mat * mat).sum(1)[:, None]
                    - 2.0 * (mat @ c.T)
                    + (c * c).sum(1)[None, :]
                )
                lab = d2.argmin(1)
                ll, ii, vv, nn = [], [], [], []
                for lbl in np.unique(lab):
                    pts = mat[lab == lbl]
                    ll.extend([int(lbl)] * dim)
                    ii.extend(range(dim))
                    vv.extend(pts.sum(axis=0).tolist())
                    nn.extend([len(pts)] * dim)
                yield pd.DataFrame({"label": ll, "i": ii, "psum": vv, "pn": nn})

        sums = (
            base.mapInPandas(
                partial_sums, schema="label int, i int, psum double, pn long"
            )
            .groupBy("label", "i")
            .agg(F.sum("psum").alias("s"), F.sum("pn").alias("n"))
            .collect()
        )
        new = cent.copy()
        acc = {}
        for r in sums:
            acc.setdefault(r["label"], [np.zeros(dim), 0])
            acc[r["label"]][0][r["i"]] = r["s"]
            acc[r["label"]][1] = r["n"]
        for lbl, (vec, n) in acc.items():
            if n:
                new[lbl] = vec / n
        cent = new
    if not with_assignments:
        for bc in bcs:
            bc.unpersist()
        return cent, None
    # assignments against the FINAL centroids — the in-loop assignment was
    # computed before the last update and would be internally inconsistent
    # with the returned centroid matrix
    final = base.mapInPandas(make_assign(cent), schema="_id long, label int")
    for bc in bcs[:-1]:
        bc.unpersist()
    return cent, final.select(F.col("_id").alias(id_col), "label")


