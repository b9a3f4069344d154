"""Product quantization (PQ) for billion-scale ANN — the FAISS
IVF-PQ compression side, Spark-native.

Exact and LSH/IVF search (llm/similarity.py) keep full vectors; at
100 TB the index itself must shrink.  PQ splits each d-dim vector into
m subvectors, learns a ks-entry codebook per subspace (k-means), and
stores each vector as m small codes (m bytes at ks=256; here ks=16 for
the tiny test corpus).  Query scoring is ADC (asymmetric distance
computation): one (m x ks) table of exact subspace distances per
query, then each corpus row costs m table lookups — no float vector
ever read again.

Spark posture mirrors the Lloyd discipline in similarity.ivf_centroids:
training is ONE map-only sufficient-stats pass per iteration covering
ALL m subspaces at once (partials are (m, ks, d/m) sums + (m, ks)
counts — independent of corpus size), encoding and ADC scoring are
map-only Arrow batches with the codebooks/tables broadcast, and top-k
is the standard per-query window.  Vectors are L2-normalized first, so
ADC's L2 ranking is cosine ranking (||a-b||^2 = 2 - 2cos for unit
vectors) and recall is measured against brute_force_knn directly.

Deterministic: init centroid c of subspace s = mean of subvectors with
id % ks == c; no RNG anywhere.
"""

from __future__ import annotations

from dbt_lab_spark.localrel import local_df

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _norm_rows(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return x / n


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Learn the (m, ks, d/m) codebooks.  Each iteration is one
    map-only pass emitting dense partial sums/counts for every
    (subspace, code) cell; the driver reduce is k*d floats."""
    sc = corpus.sparkSession.sparkContext
    # One persisted copy of (id, vec) feeds the dim probe, the init
    # pass and every Lloyd iteration — the same discipline as
    # similarity.ivf_centroids (r11 opt, guide §5): without it each of
    # the iters+2 passes re-scans and re-decodes the corpus source.
    # Per-invocation only (unpersisted in the finally below).
    base = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).persist()

    first = base.select(F.size("__v").alias("d")).first()
    if first is None or first["d"] % m:
        base.unpersist()  # the finally below does not cover the probe
        if first is None:
            raise ValueError("pq_train: empty corpus")
        raise ValueError(f"dim {first['d']} not divisible by m={m}")
    d = int(first["d"])
    dsub = d // m

    def _init(batches):
        import pandas as pd

        sums = np.zeros((ks, d), dtype=np.float64)
        counts = np.zeros(ks, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = _norm_rows(np.stack(pdf["__v"].to_numpy()).astype(np.float64))
            cells = pdf["__id"].to_numpy().astype(np.int64) % ks
            np.add.at(sums, cells, x)
            np.add.at(counts, cells, 1.0)
        yield pd.DataFrame({"stat": [np.concatenate([sums.ravel(), counts]).tobytes()]})

    def _reduce(rows, shape):
        total = None
        for r in rows:
            p = np.frombuffer(r["stat"], dtype=np.float64)
            total = p if total is None else total + p
        return total

    try:
        rows = base.mapInPandas(_init, "stat binary").collect()
        tot = _reduce(rows, None)
        sums = tot[: ks * d].reshape(ks, d)
        counts = tot[ks * d :]
        means = sums / np.maximum(counts, 1.0)[:, None]
        # codebooks[s, c] = subvector s of init mean c
        codebooks = means.reshape(ks, m, dsub).transpose(1, 0, 2).copy()

        for _ in range(iters):
            bc = sc.broadcast(codebooks)

            def _iter(batches):
                import pandas as pd

                cb = bc.value  # (m, ks, dsub)
                sums = np.zeros((m, ks, dsub), dtype=np.float64)
                counts = np.zeros((m, ks), dtype=np.float64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    x = _norm_rows(np.stack(pdf["__v"].to_numpy()).astype(np.float64))
                    xs = x.reshape(len(x), m, dsub)
                    for s in range(m):
                        # (n, ks) squared distances via expansion
                        d2 = (
                            (xs[:, s, :] ** 2).sum(1)[:, None]
                            - 2.0 * xs[:, s, :] @ cb[s].T
                            + (cb[s] ** 2).sum(1)[None, :]
                        )
                        a = np.argmin(d2, axis=1)
                        np.add.at(sums[s], a, xs[:, s, :])
                        np.add.at(counts[s], a, 1.0)
                yield pd.DataFrame(
                    {"stat": [np.concatenate([sums.ravel(), counts.ravel()]).tobytes()]}
                )

            rows = base.mapInPandas(_iter, "stat binary").collect()
            tot = _reduce(rows, None)
            sums = tot[: m * ks * dsub].reshape(m, ks, dsub)
            counts = tot[m * ks * dsub :].reshape(m, ks)
            # empty cells keep their previous centroid
            nz = counts > 0
            new = codebooks.copy()
            new[nz] = sums[nz] / counts[nz][:, None]
            codebooks = new
            bc.destroy()
    finally:
        base.unpersist()
    return codebooks


PQ_CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-only encode: (vec_id, codes array<int> length m)."""
    m, ks, dsub = codebooks.shape

    def _enc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            xs = x.reshape(len(x), m, dsub)
            codes = np.empty((len(x), m), dtype=np.int32)
            for s in range(m):
                d2 = (
                    (xs[:, s, :] ** 2).sum(1)[:, None]
                    - 2.0 * xs[:, s, :] @ codebooks[s].T
                    + (codebooks[s] ** 2).sum(1)[None, :]
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(_enc, PQ_CODES_SCHEMA)


def adc_tables(queries: list[tuple[int, np.ndarray]], codebooks: np.ndarray) -> dict:
    """Per-query (m, ks) exact subspace distance tables — the only
    full-precision work ADC does per query."""
    m, ks, dsub = codebooks.shape
    out = {}
    for qid, qv in queries:
        q = qv / (np.linalg.norm(qv) or 1.0)
        qs = q.reshape(m, dsub)
        out[int(qid)] = np.stack(
            [((codebooks[s] - qs[s][None, :]) ** 2).sum(1) for s in range(m)]
        )
    return out


def _collect_queries(
    queries: DataFrame, query_id_col: str, vec_col: str, max_queries: int
) -> list[tuple[int, np.ndarray]]:
    """Bounded driver pull of the QUERY side (r4, VERDICT r3 #6).

    The ADC design intentionally brings query vectors to the driver to
    build per-query lookup tables — correct for the intended
    'small query batch vs huge corpus' shape, and O(|queries| x m x 256)
    driver memory.  This guard makes the bound EXPLICIT: limit(max+1)
    caps what is ever transferred, and exceeding `max_queries` raises
    instead of silently growing the driver.  For corpus-scale query
    sets, run the batch in chunks or use the distributed brute-force /
    LSH paths in llm/similarity.py instead."""
    rows = queries.select(query_id_col, vec_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"ADC query set exceeds max_queries={max_queries}: the ADC table "
            "path is designed for small query batches vs a huge corpus. "
            "Chunk the query batch, raise max_queries explicitly, or use the "
            "distributed knn paths in llm/similarity.py."
        )
    return [(int(r[query_id_col]), np.asarray(r[vec_col], dtype=np.float64)) for r in rows]


def pq_adc_knn(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """ADC top-k: broadcast the per-query tables, score each corpus row
    with m lookups (vectorized fancy indexing over the whole Arrow
    batch), window top-k.  Returns (query_id, neighbor_id, approx_d2,
    rank)."""
    m = codebooks.shape[0]
    qrows = _collect_queries(queries, query_id_col, vec_col, max_queries)
    tables = adc_tables(qrows, codebooks)
    sc = codes.sparkSession.sparkContext
    bt = sc.broadcast(tables)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("approx_d2", T.DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        tabs = bt.value
        srange = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            ids = pdf["vec_id"].to_numpy()
            frames = []
            for qid, tab in tabs.items():
                d2 = tab[srange[None, :], c].sum(axis=1)  # (n,)
                frames.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": ids, "approx_d2": d2}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = codes.mapInPandas(_score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("approx_d2", 6).alias("approx_d2"), "rank")
    )


def pq_refine(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist (the FAISS 'refine' stage):
    join the shortlist ids back to their full vectors — the shortlist
    is |queries| x shortlist_k rows, so this join touches a sliver of
    the corpus — broadcast the query vectors, exact cosine, top-k.
    Returns (query_id, neighbor_id, cosine, rank)."""
    from dbt_lab_spark.functions.vectors import cosine_similarity, to_double_array

    cand = shortlist.select("query_id", "neighbor_id")
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), to_double_array(vec_col).alias("__cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), to_double_array(vec_col).alias("__qv")
    )
    scored = (
        cand.join(vecs, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivfpq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """The full FAISS IVF-PQ read path: route each query to its
    `nprobe` nearest coarse centroids, ADC-score ONLY the rows in
    those inverted lists (a semi-join on cluster id — at scale this is
    the partition-pruning step), then exact-refine the shortlist.

    Composition of the existing primitives: similarity.ivf_assign for
    the inverted file, pq_encode for codes, broadcast ADC tables for
    scoring, pq_refine for the exact top-k.  Returns
    (query_id, neighbor_id, cosine, rank)."""
    from dbt_lab_spark.llm.similarity import ivf_assign

    m = codebooks.shape[0]
    cents = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(
        corpus, cents.tolist(), vec_col, id_col, with_vec=False
    ).select(F.col("neighbor_id").alias("vec_id"), "cluster")
    codes = pq_encode(corpus, codebooks, vec_col, id_col).join(assigned, "vec_id")

    qrows = _collect_queries(queries, query_id_col, vec_col, max_queries)
    tables = adc_tables(qrows, codebooks)
    probes = []
    for qid, qv in qrows:
        qn = qv / (np.linalg.norm(qv) or 1.0)
        top = np.argsort(-(qn @ cents.T))[:nprobe]
        probes += [(qid, int(c)) for c in top]
    probe_df = local_df(codes.sparkSession, probes, "query_id long, cluster int")

    cand = codes.join(F.broadcast(probe_df), "cluster")
    sc = codes.sparkSession.sparkContext
    bt = sc.broadcast(tables)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("approx_d2", T.DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        tabs = bt.value
        srange = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for qid, grp in pdf.groupby("query_id"):
                c = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                d2 = tabs[int(qid)][srange[None, :], c].sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": int(qid),
                            "neighbor_id": grp["vec_id"].to_numpy(),
                            "approx_d2": d2,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = cand.select("query_id", "vec_id", "codes").mapInPandas(_score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return pq_refine(short, corpus, queries, k, vec_col, id_col, query_id_col)
