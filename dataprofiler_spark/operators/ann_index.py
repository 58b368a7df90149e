"""Persisted IVF (inverted-file) ANN index over an embedding column.

The in-memory IVF path (operators/mllib_ops.ivf_topk) re-fits and
re-assigns per query; this module makes the index a durable artifact —
the shape a 100 TB similarity-search deployment actually uses:

    {path}/centroids/   tiny parquet: (centroid, center array<double>)
    {path}/vectors/     parquet partitioned BY centroid:
                        (id, embedding[, code0..code{m-1}])
    {path}/_ivf_meta.json      (carries a fresh ``build_id`` per build)
    {path}/_pq_codebooks.json  (IVF-PQ builds only)

Build fits the coarse quantizer on a SAMPLE (``fit_fraction``) — at
corpus scale the quantizer needs thousands of points, not trillions —
then assigns the full table map-side and writes it partitioned by
centroid. Building is a Spark job; serving is not.

Serving: queries run EAGERLY on the driver from a resident index
handle — no Spark job per query. A handle is opened once per (path,
build) and kept in a small process-wide LRU (``_MAX_HANDLES``); it
holds the meta, the centroids and the PQ codebooks, and loads each
cell's ``(id, code0..m-1)`` with pyarrow from
``vectors/centroid=<c>/`` the first time a query probes that cell (the
``embedding`` column is never read). Memory: (8 + ``pq_m``) bytes per
vector in loaded cells (integer ids, ``pq_codes`` <= 256). Every call
re-reads ``_ivf_meta.json`` and drops a handle whose ``build_id`` no
longer matches, so a rebuild at the same path is never served stale.
The index must live on a local filesystem: the handle and the JSON
sidecars are read with ``open()``/pyarrow, not through Hadoop.
``ivf_query`` (raw-cosine path) still scans the probed partition
directories with Spark, with the probe ranked from the same handle.

Quantizer (VERDICT r4 item 5): default ``"det"`` — this package's
deterministic distributed k-means (operators/clustering.kmeans_fit),
whose fixed-point algebra a DuckDB oracle reproduces bit-for-bit, so
build → persist → query is oracle-checkable END TO END
(queries.ann_index_query_embeddings). ``"mllib"`` keeps the MLlib KMeans
path (kmeans|| init — statistically better centers on hard corpora, but
its sampled init is not cross-engine reproducible, so no oracle).
``fit_fraction`` under "det" is an md5-hash sample (same rule as
operators/sampling.hash_sample) — deterministic and oracle-mirrorable,
unlike Spark's partition-order-dependent ``DataFrame.sample``.

Distance: cosine. Deterministic given the seed (both quantizers).
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Resident handles kept per process; each holds one index build's
# centroids, codebooks and loaded cells (see the module docstring).
_MAX_HANDLES = 8
_handles: OrderedDict[str, _IvfHandle] = OrderedDict()
_handles_lock = threading.Lock()


def ivf_build(df: DataFrame, id_col: str, vec_col: str, path: str,
              n_centroids: int = 16, fit_fraction: float | None = None,
              seed: int = 42, quantizer: str = "det",
              iters: int = 2, pq_m: int | None = None,
              pq_codes: int = 16, pq_iters: int = 1) -> dict:
    """Fit + assign + write the index; returns the metadata dict.

    ``pq_m`` (det quantizer only) additionally fits ``pq_m`` product-
    quantization codebooks (clustering.pq_fit) and stores each vector's
    m codes in the vectors table plus the codebooks in
    ``_pq_codebooks.json`` — the durable IVF-PQ layout ivf_query_adc
    serves from without ever reading the vector column."""
    pq_books = None
    if quantizer == "det":
        from dataprofiler_spark.operators import clustering as cl
        from dataprofiler_spark.operators.sampling import hash_sample

        # NULL vectors have no cell — same rule as the clustering ops
        df = df.where(F.col(vec_col).isNotNull())
        fit_on = (hash_sample(df, id_col, fit_fraction)
                  if fit_fraction else df)
        centers_list = cl.kmeans_fit(fit_on, id_col, vec_col,
                                     k=n_centroids, iters=iters)
        # centroid assignment via _assign_df: above ASSIGN_EXPR_MAX_K
        # centroids the full-corpus build scan switches to the
        # vectorized NumPy kernel (bit-identical — see clustering.py);
        # a deployment-sized n_centroids must not pay the O(k·dim)
        # interpreted expression per row.
        assigned = (cl._assign_df(
            df.select(F.col(id_col).alias("id"),
                      F.col(vec_col).alias("v")), centers_list)
            .select("id", F.col("v").alias("embedding"),
                    F.col("cluster").alias("centroid")))
        if pq_m is not None:
            dim = len(centers_list[0])
            sub = dim // pq_m
            pq_books = cl.pq_fit(fit_on, id_col, vec_col, m=pq_m,
                                 k_codes=pq_codes, iters=pq_iters,
                                 dim=dim)
            # one nested codebook literal + one transform lambda per
            # code column (r13 literal fusion — see clustering.pq_audit;
            # bit-identical (d, cl) structs and array_min tie-break)
            bmat = F.lit([[[float(w) for w in c] for c in book]
                          for book in pq_books])

            def _cand_struct(sl):
                # closure factory: pyspark HOF binding counts named
                # lambda params
                return lambda c, i: F.struct(
                    cl._sqdist(sl, c).alias("d"), i.alias("cl"))

            for j in range(pq_m):
                sl = F.slice(F.col("embedding"), j * sub + 1, sub)
                cands = F.transform(F.element_at(bmat, j + 1),
                                    _cand_struct(sl))
                assigned = assigned.withColumn(
                    f"code{j}", F.array_min(cands)["cl"].cast("int"))
    elif quantizer == "mllib":
        if pq_m is not None:
            raise ValueError("pq_m requires quantizer='det' (the PQ "
                             "codebooks reuse the deterministic k-means)")
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = df.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("embedding"),
                         array_to_vector(F.col(vec_col)
                                         .cast("array<double>"))
                         .alias("__features"))
        fit_on = (vecs.sample(fit_fraction, seed=seed)
                  if fit_fraction else vecs)
        km = KMeans(k=n_centroids, seed=seed, featuresCol="__features",
                    predictionCol="centroid")
        model = km.fit(fit_on)
        assigned = model.transform(vecs).select("id", "embedding",
                                                "centroid")
        centers_list = [[float(x) for x in c]
                        for c in model.clusterCenters()]
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}"
                         " (expected 'det' or 'mllib')")
    (assigned.write.mode("overwrite").partitionBy("centroid")
     .parquet(os.path.join(path, "vectors")))

    spark = df.sparkSession
    centers = [(i, c) for i, c in enumerate(centers_list)]
    (spark.createDataFrame(centers, "centroid int, center array<double>")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "centroids")))

    dim = len(centers[0][1]) if centers else 0
    meta = {"n_centroids": n_centroids, "dim": dim, "metric": "cosine",
            "seed": seed, "fit_fraction": fit_fraction,
            "quantizer": quantizer, "iters": iters,
            "pq_m": pq_m, "pq_codes": pq_codes if pq_m else None,
            "pq_iters": pq_iters if pq_m else None,
            "build_id": uuid.uuid4().hex}
    if pq_books is not None:
        with open(os.path.join(path, "_pq_codebooks.json"), "w") as f:
            json.dump(pq_books, f)
    # the meta goes last: its build_id is what open handles check
    with open(os.path.join(path, "_ivf_meta.json"), "w") as f:
        json.dump(meta, f)
    with _handles_lock:
        _handles.pop(os.path.abspath(path), None)
    return meta


class _IvfHandle:
    """One opened index build: meta, centroids (sorted by id), PQ
    codebooks, and the ``(id, code0..m-1)`` table of every cell probed
    so far (``cells``, loaded lazily; codes narrowed to uint8 when they
    fit)."""

    def __init__(self, path: str, meta: dict):
        import numpy as np
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        self.path = path
        self.meta = meta
        self.build_id = meta.get("build_id")
        cent = pq.read_table(os.path.join(path, "centroids")).sort_by(
            "centroid")
        self.centroid_ids = cent.column("centroid").to_numpy()
        self.centers = np.asarray(cent.column("center").to_pylist(),
                                  dtype=np.float64)
        self.books = None
        if meta.get("pq_m"):
            with open(os.path.join(path, "_pq_codebooks.json")) as f:
                self.books = [np.asarray(b, dtype=np.float64)
                              for b in json.load(f)]
        self.id_type = ds.dataset(os.path.join(path, "vectors"),
                                  format="parquet",
                                  partitioning="hive").schema.field("id").type
        self.cells: dict = {}
        self._cells_lock = threading.Lock()

    def cell(self, c: int):
        """The cell's (id, codes) table; a cell with no vectors has no
        directory and loads as an empty table."""
        with self._cells_lock:
            t = self.cells.get(c)
            if t is None:
                t = self.cells[c] = self._load_cell(c)
            return t

    def _load_cell(self, c: int):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        m = self.meta["pq_m"]
        code_type = pa.uint8() if self.meta["pq_codes"] <= 256 \
            else pa.int32()
        schema = pa.schema([("id", self.id_type)]
                           + [(f"code{j}", code_type) for j in range(m)])
        d = os.path.join(self.path, "vectors", f"centroid={c}")
        if not os.path.isdir(d):
            return schema.empty_table()
        t = pq.read_table(d, columns=schema.names)
        # a NULL id can be neither excluded nor returned as a neighbour
        t = t.filter(pc.is_valid(t.column("id")))
        return t.cast(schema).combine_chunks()


def _resident(path: str) -> _IvfHandle:
    """The open handle for the index at ``path``, (re)opened when the
    on-disk ``build_id`` differs from the cached one."""
    key = os.path.abspath(path)
    meta = ivf_meta(path)
    with _handles_lock:
        h = _handles.get(key)
        if h is None or h.build_id != meta.get("build_id"):
            h = _handles[key] = _IvfHandle(key, meta)
        _handles.move_to_end(key)
        while len(_handles) > _MAX_HANDLES:
            _handles.popitem(last=False)
        return h


def _fold_sqdist(q, mat):
    """Squared distance from ``q`` to every row of ``mat`` as a
    left fold over the dimensions, ``acc + (q_i - x_i)^2`` from 0.0 —
    the operation order of Python's ``sum`` over the pairs, so the
    doubles are bit-identical to the scalar form."""
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for i in range(min(len(q), mat.shape[1])):
        diff = q[i] - mat[:, i]
        acc = acc + diff * diff
    return acc


def _cosine(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return num / (na * nb) if na and nb else 0.0


def ivf_probe_centroids(spark: SparkSession, path: str,
                        query_vec: list[float], nprobe: int) -> list[int]:
    """Rank centroids by cosine against the query (driver-side, from
    the resident handle — the centroid table is O(n_centroids))."""
    h = _resident(path)
    ranked = sorted(zip(h.centroid_ids.tolist(), h.centers.tolist()),
                    key=lambda r: (-_cosine(query_vec, r[1]), r[0]))
    return [c for c, _ in ranked[:nprobe]]


def ivf_query(spark: SparkSession, path: str, query_vec: list[float],
              k: int = 10, nprobe: int = 2,
              exclude_id: int | None = None) -> DataFrame:
    """(rank, vec_id, cosine) over the nprobe nearest inverted lists.

    The ``centroid IN (...)`` filter is a partition filter on the
    vectors table — only nprobe/n_centroids of the files are listed or
    read. Scoring is a broadcast of the query literal + scan; top-k is
    distributed TakeOrderedAndProject."""
    from dataprofiler_spark.operators.similarity import cosine_expr
    from dataprofiler_spark.operators.topk import ranked_topk

    probe = ivf_probe_centroids(spark, path, query_vec, nprobe)
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    cand = vecs.where(F.col("centroid").isin(probe))
    if exclude_id is not None:
        cand = cand.where(F.col("id") != exclude_id)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col("id").alias("vec_id"),
        F.round(cosine_expr(F.col("embedding"), q), 6).alias("cosine"))
    return (ranked_topk(scored, [F.desc("cosine"), F.asc("vec_id")], k)
            .select("rank", "vec_id", "cosine"))


def ivf_query_adc(spark: SparkSession, path: str,
                  query_vec: list[float], k: int = 10, nprobe: int = 2,
                  exclude_id: int | None = None) -> DataFrame:
    """(rank, vec_id, approx_d) via asymmetric-distance scoring over the
    STORED PQ codes, run eagerly on the driver from the resident index
    handle: no Spark job runs, and the returned frame is a local
    relation, so collecting it runs none either. Each probed cell's
    ``(id, code0..m-1)`` is loaded once per build and kept — (8 +
    ``pq_m``) bytes per vector — and the vector column is never read.
    Each candidate costs m integer table lookups (NumPy gathers). The
    index must be on a local filesystem.

    Ranking semantics == clustering.ivf_pq_topk: probe cells by squared
    distance (tie → lowest centroid), ADC tables in 1e6 fixed-point
    longs, ties by (d6, id). Rows with a NULL id are never returned.
    Requires an index built with ``ivf_build(pq_m=...)``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)

    from dataprofiler_spark.operators.clustering import _SCALE

    h = _resident(path)
    if h.books is None:
        raise ValueError(f"index at {path} was built without pq_m — "
                         "rebuild with ivf_build(..., pq_m=m)")
    q = np.asarray(query_vec, dtype=np.float64)
    sub = h.meta["dim"] // len(h.books)
    order = np.lexsort((h.centroid_ids, _fold_sqdist(q, h.centers)))
    tables = [np.rint(_fold_sqdist(q[j * sub:(j + 1) * sub], book)
                      * _SCALE).astype(np.int64)
              for j, book in enumerate(h.books)]

    ids, d6 = [], []
    for c in h.centroid_ids[order[:nprobe]].tolist():
        cell = h.cell(c)
        cid = cell.column("id").to_numpy()
        cd6 = np.zeros(len(cid), dtype=np.int64)
        for j, t in enumerate(tables):
            cd6 += t[cell.column(f"code{j}").to_numpy()]
        if exclude_id is not None:
            keep = cid != exclude_id
            cid, cd6 = cid[keep], cd6[keep]
        ids.append(cid)
        d6.append(cd6)
    ids = np.concatenate(ids) if ids else np.zeros(0, dtype=np.int64)
    d6 = np.concatenate(d6) if d6 else np.zeros(0, dtype=np.int64)
    top = np.lexsort((ids, d6))[:max(k, 0)]

    schema = StructType([
        StructField("rank", IntegerType(), False),
        StructField("vec_id", from_arrow_type(h.id_type), True),
        StructField("approx_d", DoubleType(), True)])
    table = pa.table({
        "rank": pa.array(np.arange(1, len(top) + 1, dtype=np.int32)),
        "vec_id": pa.array(ids[top], type=h.id_type),
        "approx_d": pa.array(d6[top] / float(_SCALE))})
    return spark.createDataFrame(table, schema=schema)


def ivf_meta(path: str) -> dict:
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        return json.load(f)


def oracle_ann_index_query_sql(table: str, id_col: str, vec_col: str,
                               n_centroids: int = 8, iters: int = 2,
                               nprobe: int = 2, k: int = 5,
                               dim: int = 64,
                               round_digits: int = 6) -> str:
    """SQL twin of build(quantizer='det') → ivf_query(query_vec =
    the smallest id's vector, exclude_id = that id).

    Mirrors every decision point of the persisted index: the
    deterministic k-means centroids (clustering._kmeans_ctes — exact
    fixed-point algebra), the one-cell-per-vector assignment
    (squared distance, tie → lowest centroid), the driver-side probe
    ranking (cosine DESC, centroid ASC — Python's sequential sum and
    DuckDB's list_sum are the same left fold over identical doubles),
    and the final top-k (rounded cosine DESC, id ASC)."""
    from dataprofiler_spark.operators.clustering import (_duck_sqdist,
                                                         _kmeans_ctes)
    sq = _duck_sqdist("e.v", "c.v", dim)
    dot = ("list_sum(list_transform(generate_series(1, {d}),"
           " i -> {a}[i] * {b}[i]))")
    qnum = dot.format(d=dim, a="c.v", b="q.qv")
    qna = dot.format(d=dim, a="c.v", b="c.v")
    qnb = dot.format(d=dim, a="q.qv", b="q.qv")
    num = dot.format(d=dim, a="cells.v", b="q.qv")
    na = dot.format(d=dim, a="cells.v", b="cells.v")
    nb = dot.format(d=dim, a="q.qv", b="q.qv")
    return f"""
WITH {_kmeans_ctes(table, id_col, vec_col, n_centroids, iters, dim)},
cells AS (
  SELECT id, v, cl::INT AS centroid FROM (
    SELECT e.id, e.v, c.cl,
           ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sq}, c.cl) AS rn
    FROM e CROSS JOIN c{iters} c)
  WHERE rn = 1
),
q AS (SELECT id AS qid, v AS qv FROM e ORDER BY id LIMIT 1),
probes AS (
  SELECT cl::INT AS centroid FROM (
    SELECT c.cl,
           ROW_NUMBER() OVER (
             ORDER BY CASE WHEN {qna} > 0 AND {qnb} > 0
                           THEN {qnum} / (SQRT({qna}) * SQRT({qnb}))
                           ELSE 0.0 END DESC,
                      c.cl) AS rn
    FROM c{iters} c CROSS JOIN q)
  WHERE rn <= {nprobe}
),
scored AS (
  SELECT cells.id AS vec_id,
         ROUND(CASE WHEN {na} > 0 AND {nb} > 0 THEN {num} / (SQRT({na}) * SQRT({nb})) ELSE 0.0 END, {round_digits}) AS cosine
  FROM cells JOIN probes USING (centroid) CROSS JOIN q
  WHERE cells.id <> q.qid
)
SELECT CAST(rank AS INT) AS rank, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""
