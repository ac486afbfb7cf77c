"""Product quantization (IVF-PQ family) for embedding columns — the
standard way a 100 TB vector store actually fits in memory.

A ``dim``-float embedding (256 B at dim=64/float32) compresses to
``m`` one-byte codes (8 B at m=8): each vector splits into ``m``
contiguous subvectors, each subspace gets its own 256-codeword
codebook (k-means over that slice), and a vector is stored as the
indices of its nearest codewords (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).  Queries
score compressed codes WITHOUT decompressing via asymmetric distance
(ADC): one ``m×256`` lookup table of exact query-to-codeword dot
products per query, then every corpus score is ``m`` table lookups.

Spark shapes (beyond the reference's surface — it has no vector
search at all; this extends the repo's ANN suite in similarity.py):

* ``pq_fit`` — ``m`` independent L2 k-means fits over SLICES of a
  bounded deterministic sample (the round-5 sample-fit valve —
  ``fit_sample_per_k × 2**nbits`` rows max).  Because PQ's ksub is
  FIXED (unlike SemDeDup's corpus-growing k), the whole sample
  collects once and Lloyd's runs in driver numpy: bounded work at
  any corpus size, none of the ~m×max_iter Spark scheduler rounds,
  and the fit metric matches the encoder's L2 argmin exactly.  Fit
  once, encode many.
* ``pq_encode`` — map-only Arrow ``mapInPandas``: each batch is one
  reshape + per-subspace GEMM argmin.  No shuffle; output is the
  input plus an ``array<int>`` code column (the 32× memory story).
* ``pq_topk`` — queries collect to the driver (small by the same
  contract as cosine_topk's broadcast side), their LUTs ride the
  task closure (q×m×256 doubles), and each corpus batch scores as
  ``m`` numpy fancy-indexed lookups — emitting only the per-batch
  top-k per query, so the shuffle after the scan is
  O(k × partitions × queries), never O(corpus × queries).  A final
  window takes the global top-k (top-k is decomposable over batch
  top-ks with the same ordering).
* ``ivf_pq_fit`` / ``ivf_pq_encode`` / ``ivf_pq_topk`` — the
  two-level index (FAISS IndexIVFPQ): coarse centroids partition the
  corpus into cells, PQ codebooks quantize RESIDUALS ``x - c`` (a
  far tighter distribution at equal bits), and search scores only
  the members of each query's ``nprobe`` nearest cells — the probe
  filter is a boolean mask inside the scan closure, so the codes
  path stays a joinless single-exchange plan while touching
  ~nprobe/n_centroids of the corpus.

The target metric is cosine, so the whole pipeline is SPHERICAL by
default (``normalize=True``): vectors L2-normalize before fit and
encode, which (a) spends the entire quantization budget on direction
— the only thing cosine sees — and (b) makes the ADC denominator
|x̃| ≈ 1 instead of an approximation of a raw norm, removing the
norm-bias term from the score.  External ``codebooks``/``encoded``
passed into ``pq_topk`` must share the same ``normalize`` setting.

When the true neighbors are tightly packed (the test embeddings'
rank-5 vs rank-10 cosines differ by ~0.01), ADC alone cannot resolve
the ordering — codes-only recall@5 measured 0.4.  The standard fix
(FAISS's refine stage) is ``rerank=R``: ADC shortlists R ≥ k
candidates per query, the R·q survivors (tiny by construction)
broadcast-join back to the raw corpus vectors, and EXACT cosine
decides the final top-k.  Compression still does the heavy lifting —
the full corpus is only ever scored through codes; the raw-vector
scan touches one projected column pair and materializes only
shortlist rows.

Approximate by construction (codebook quantization error), so the
registry entry is rows-only; tests pin recall against the exact
brute-force cosine_topk instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pq_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    nbits: int = 8,
    id_col: str | None = None,
    max_iter: int = 10,
    fit_sample_per_k: int | None = 256,
    normalize: bool = True,
    tol: float = 1e-9,
) -> list[list[list[float]]]:
    """Fit ``m`` per-subspace codebooks of ``2**nbits`` codewords;
    returns ``codebooks[m][ksub][dim//m]`` as plain Python floats.

    Unlike SemDeDup's k (which grows with the corpus —
    semantic.kmeans_fit stays Spark-side for that reason), PQ's
    ``ksub = 2**nbits`` is FIXED (≤256 at the standard nbits=8), so
    the sample-fit valve bounds the ENTIRE fit input at
    ``fit_sample_per_k × ksub`` rows (~16k at the defaults, ~8 MB at
    dim=64) regardless of corpus size.  The fit therefore collects
    the deterministic sample ONCE — a count + one bounded collect,
    the only Spark jobs — and runs proper L2 Lloyd's per subspace in
    numpy on the driver: the same work Spark-side costs
    ~m × max_iter scheduler rounds (measured ~100 s of pure job
    overhead at ANY corpus size) for matrices that fit in L2 cache,
    and spherical-kmeans assignment there disagrees with
    ``pq_encode``'s L2 argmin on non-unit subvectors.

    Determinism: the sample is the xxhash64-of-id filter (partition-
    layout-independent; requires ``id_col`` — without it the fit
    collects the full corpus, so pass ``id_col`` at scale), rows sort
    by id driver-side, and each subspace seeds from the ``ksub``
    lowest-id sample rows — a corpus no larger than ``ksub`` makes
    every vector its own codeword (lossless, max_iter=0 included).
    Empty clusters keep their previous centroid; iteration stops when
    no coordinate moves more than ``tol``.  NULL / wrong-width / NaN
    vectors are dropped before anything: one NaN seed codeword would
    poison its whole subspace at encode time (NaN distances argmin to
    the poisoned index).  ``normalize`` fits on the unit sphere
    (full-vector L2, BEFORE slicing — per-subspace norms would change
    the metric); zero vectors pass through raw."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    ksub = 2 ** nbits
    mat = _collect_fit_sample(
        df, vec_col, dim, id_col,
        fit_sample_per_k * ksub if fit_sample_per_k is not None else None,
        normalize,
    )
    books = []
    for j in range(m):
        sub = np.ascontiguousarray(mat[:, j * dsub : (j + 1) * dsub])
        cents = _lloyd(sub, ksub, max_iter, tol)
        books.append([[float(x) for x in cw] for cw in cents])
    return books


def _valid_matrix(vecs, dim, normalize):
    """(mat, ok) from a pandas column of vectors: rows for NULL /
    wrong-width / NaN inputs stay zero with ok=False.  Shared by the
    encode closures (module-level on purpose — executor workers
    resolve it by import)."""
    import numpy as np

    nrow = len(vecs)
    mat = np.zeros((nrow, dim), dtype=np.float64)
    ok = np.zeros(nrow, dtype=bool)
    for i, v in enumerate(vecs):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape[0] != dim or np.isnan(a).any():
            continue
        mat[i] = a
        ok[i] = True
    if normalize:
        nrm = np.linalg.norm(mat, axis=1)
        nz = nrm > 0
        mat[nz] /= nrm[nz, None]
    return mat, ok


def _fit_rows_arrow(df):
    """Arrow collect for the fit sample (exact binary64 round trip,
    no per-row pickling); None on pyspark without toArrow so the
    caller keeps the Row-collect path."""
    try:
        return df.toArrow()
    except Exception:  # pragma: no cover - older pyspark
        return None


def _collect_fit_sample(df, vec_col, dim, id_col, target, normalize):
    """Valid (non-NULL, width-``dim``, NaN-free) vectors as an
    (n, dim) float64 matrix, deterministically id-sampled down to
    ~``target`` rows (xxhash64-of-id filter, partition-layout-
    independent — requires ``id_col``; without it the full corpus
    collects) and driver-sorted by id so seeding is reproducible.
    ``normalize`` projects onto the unit sphere (zero vectors pass
    through raw)."""
    import numpy as np

    base = df.select(
        *([F.col(id_col).alias("__sid")] if id_col else []),
        F.col(vec_col).alias("__vec"),
    ).filter(
        F.col("__vec").isNotNull()
        & (F.size("__vec") == dim)
        & ~F.exists("__vec", lambda x: F.isnan(x.cast("double")))
    )
    if target is not None and id_col:
        # Probe with ONE bounded job: limit(target+1) returns the
        # complete valid set iff it fits the sample target, which is
        # the common case (the valve exists so the collect is bounded,
        # not because sampling usually triggers).  The previous
        # count-then-collect shape paid two full-scan jobs even when
        # no sampling happened — at bench scale that was ~half the
        # cold-fit's driver time.  Only when the probe overflows does
        # the exact count run and the hash-sample filter apply — the
        # SAME deterministic sample as before (thr needs the exact
        # valid-row count), at the cost of the early-terminating
        # probe job on top.
        tbl = _fit_rows_arrow(base.limit(target + 1))
        if tbl is not None and tbl.num_rows > target:
            tbl = None
        if tbl is None:
            n = base.count()
            if n > target:
                # same deterministic uniform hash-sample as kmeans_fit:
                # keep ids hashing under the target fraction (2^30 grain)
                den = 1 << 30
                thr = max(1, (target * den) // n)
                base = base.filter(
                    F.pmod(F.xxhash64(F.col("__sid")), F.lit(den)) < F.lit(thr)
                )
            tbl = _fit_rows_arrow(base)
    else:
        tbl = _fit_rows_arrow(base) if id_col else None
    if tbl is not None:
        if tbl.num_rows == 0:
            raise ValueError("pq fit: empty input")
        import numpy as np

        flat = tbl.column("__vec").combine_chunks()
        mat = flat.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
        order = np.argsort(
            tbl.column("__sid").to_numpy(zero_copy_only=False), kind="stable"
        )
        mat = np.ascontiguousarray(mat[order], dtype=np.float64)
        if normalize:
            nrm = np.linalg.norm(mat, axis=1)
            nz = nrm > 0
            mat[nz] /= nrm[nz, None]
        return mat
    rows = base.collect()
    if not rows:
        raise ValueError("pq fit: empty input")
    if id_col:
        rows.sort(key=lambda r: r["__sid"])
    else:
        rows.sort(key=lambda r: tuple(r["__vec"]))
    mat = np.asarray([r["__vec"] for r in rows], dtype=np.float64)
    if normalize:
        nrm = np.linalg.norm(mat, axis=1)
        nz = nrm > 0
        mat[nz] /= nrm[nz, None]
    return mat


def _lloyd(sub, k, max_iter, tol=1e-9):
    """L2 Lloyd's over the rows of ``sub`` — lowest-row seeding (rows
    arrive id-sorted), first-min tie-break matching pq_encode's
    argmin, empty clusters keep their previous centroid. Returns a
    (min(k, n), dsub) ndarray."""
    import numpy as np

    ks = min(k, sub.shape[0])
    cents = sub[:ks].copy()
    for _ in range(max_iter):
        # argmin ||x-c||² = argmin (|c|² - 2 x·c), as in pq_encode
        d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (sub @ cents.T)
        assign = np.argmin(d, axis=1)
        new = cents.copy()
        for c in range(ks):
            mask = assign == c
            if mask.any():
                new[c] = sub[mask].mean(axis=0)
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved <= tol:
            break
    return cents


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    code_col: str = "pq_code",
    normalize: bool = True,
) -> DataFrame:
    """Append ``code_col`` (``array<int>`` length m): per subspace,
    the L2-nearest codeword index (lowest index on exact ties).
    Map-only Arrow batches — one reshape + m GEMM argmins per batch;
    NULL / wrong-width / NaN vectors encode as NULL.  ``normalize``
    must match the fit (spherical codebooks quantize unit vectors)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = cb.shape
    dim = m * dsub
    cb2 = (cb * cb).sum(axis=2)  # (m, ksub) codeword squared norms
    if code_col in df.columns:
        df = df.drop(code_col)
    schema = StructType(
        list(df.schema.fields) + [StructField(code_col, ArrayType(IntegerType()))]
    )

    def run(batches):
        for pdf in batches:
            nrow = len(pdf)
            mat, ok = _valid_matrix(pdf[vec_col], dim, normalize)
            sub = mat.reshape(nrow, m, dsub)
            codes = np.empty((nrow, m), dtype=np.int32)
            for j in range(m):
                # argmin ||x - c||² = argmin (|c|² - 2 x·c); |x|² constant
                d = cb2[j][None, :] - 2.0 * (sub[:, j, :] @ cb[j].T)
                codes[:, j] = np.argmin(d, axis=1)  # first-min tie-break
            out = [codes[i].tolist() if ok[i] else None for i in range(nrow)]
            pdf = pdf.copy()
            pdf[code_col] = out
            yield pdf

    return df.mapInPandas(run, schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    m: int = 8,
    nbits: int = 8,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    code_col: str = "pq_code",
    fit_sample_per_k: int | None = 256,
    rerank: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via asymmetric distance.

    ``queries`` is small by contract (same as cosine_topk's broadcast
    side) and collects to the driver: per query the exact
    query-to-codeword dot products form an (m × ksub) LUT, and the
    stacked LUTs ride the scoring closure.  Per corpus batch the
    approximate dot is ``m`` fancy-indexed lookups and the
    approximate corpus norm comes from codeword norms (|x̃|² =
    Σⱼ|c_{j,code}|²), so cosine ≈ adot / (|q|·|x̃|).  Only the
    per-batch top-k per query leaves the scan; a window takes the
    global top-k with the same (score desc, id asc) ordering.

    ``rerank=R`` (R ≥ k) adds the exact refine stage: ADC shortlists
    R candidates per query, the shortlist (q×R rows) broadcast-joins
    back to the raw corpus vectors, exact cosine re-scores it, and
    the final window keeps k.  Shuffle stays O(R × partitions ×
    queries); the extra corpus scan reads only (id, vec).

    Pass ``codebooks``/``encoded`` to reuse a fitted index across
    query rounds (fit-once / probe-many, the IVF contract); otherwise
    both derive here.  An external ``encoded`` frame's code column is
    named by ``code_col`` (pq_encode's default, ``pq_code``), and
    ``normalize`` must match the setting the codebooks were fitted
    and encoded with.  Output: (query_id, neighbor_id, approx_cos,
    rank) — approximate by construction, so rows-only at the oracle
    gate; recall is pinned in pytest against brute-force cosine_topk.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if codebooks is None:
        codebooks = pq_fit(
            corpus.select(id_col, vec_col), vec_col, dim, m=m, nbits=nbits,
            id_col=id_col, fit_sample_per_k=fit_sample_per_k,
            normalize=normalize,
        )
    if encoded is None:
        encoded = pq_encode(
            corpus.select(id_col, vec_col), codebooks, vec_col, code_col,
            normalize=normalize,
        )
    encoded = encoded.select(id_col, code_col)
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    mm, ksub, dsub = cb.shape
    cnorm2 = (cb * cb).sum(axis=2)  # (m, ksub)

    qids, qvecs = _collect_queries(queries, query_id_col, vec_col, mm * dsub)
    if not qids:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, neighbor_id long, approx_cos double, rank int"
        )
    qm = np.stack(qvecs)  # (q, dim)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0.0] = 1.0
    qsub = qm.reshape(len(qids), mm, dsub)
    # (q, m, ksub): exact query-to-codeword dot products
    lut = np.einsum("qjd,jkd->qjk", qsub, cb)
    qid_arr = np.asarray(qids, dtype=np.int64)
    kk = max(k, rerank) if rerank else k

    out_schema = StructType(
        [
            StructField("__qid", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("__cos", DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            nrow = len(pdf)
            codes = np.zeros((nrow, mm), dtype=np.int64)
            ok = np.zeros(nrow, dtype=bool)
            for i, c in enumerate(pdf[code_col]):
                if c is None:
                    continue
                codes[i] = np.asarray(c, dtype=np.int64)
                ok[i] = True
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            adot = np.zeros((len(qid_arr), nrow))
            n2 = np.zeros(nrow)
            for j in range(mm):
                adot += lut[:, j, :][:, codes[:, j]]
                n2 += cnorm2[j, codes[:, j]]
            norm = np.sqrt(n2)
            norm[norm == 0.0] = np.inf  # zero-norm code -> cos 0, never NaN
            cos = adot / (qn[:, None] * norm[None, :])
            rows = {"__qid": [], "neighbor_id": [], "__cos": []}
            for qi in range(len(qid_arr)):
                mask = ok & (ids != qid_arr[qi])  # self-match excluded
                if not mask.any():
                    continue
                cand = np.flatnonzero(mask)
                # exact per-batch top-k under (cos desc, id asc) — a
                # full lexsort keeps boundary TIES deterministic where
                # an argpartition margin could cut them arbitrarily
                order = cand[np.lexsort((ids[cand], -cos[qi, cand]))]
                for i in order[: min(kk, cand.size)]:
                    rows["__qid"].append(int(qid_arr[qi]))
                    rows["neighbor_id"].append(int(ids[i]))
                    rows["__cos"].append(float(cos[qi, i]))
            yield pd.DataFrame(rows, columns=["__qid", "neighbor_id", "__cos"])

    part = encoded.mapInPandas(score, out_schema)
    return _finalize_topk(
        part, corpus, qids, qvecs, id_col, vec_col, query_id_col,
        k, kk, rerank,
    )


def _collect_queries(queries, query_id_col, vec_col, dim):
    """Driver-side query set (small by the broadcast contract):
    NULL / wrong-width / NaN query vectors are skipped — a NaN cosine
    would sort above every real score."""
    import numpy as np

    qids, qvecs = [], []
    for r in queries.select(query_id_col, vec_col).collect():
        v = r[vec_col]
        if v is None or len(v) != dim:
            continue
        a = np.asarray(v, dtype=np.float64)
        if np.isnan(a).any():
            continue
        qids.append(int(r[query_id_col]))
        qvecs.append(a)
    return qids, qvecs


def _finalize_topk(
    part, corpus, qids, qvecs, id_col, vec_col, query_id_col, k, kk, rerank
):
    """Global top-k window over the per-batch partial top-k rows,
    plus the optional FAISS-style exact refine: the q×R shortlist
    broadcast-joins the raw corpus vectors and exact cosine decides
    the final ranking (shared by pq_topk and ivf_pq_topk)."""
    w = Window.partitionBy("__qid").orderBy(
        F.col("__cos").desc(), F.col("neighbor_id")
    )
    if rerank:
        from scratchdata_spark.dialect import local_result_df
        from scratchdata_spark.operators.similarity import _dot, _norm

        shortlist = (
            part.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= kk)
            .select("__qid", "neighbor_id")
        )
        # the refine's query frame (tens of rows by the broadcast
        # contract) as a LocalRelation: it broadcasts with no job
        qdf = local_result_df(
            corpus.sparkSession,
            [(q, [float(x) for x in v]) for q, v in zip(qids, qvecs)],
            "__qid bigint, __qvec array<double>",
        )
        cvec = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec"),
        )
        # shortlist is q×R rows — broadcast it into the corpus scan so
        # only shortlist rows materialize vectors; the exact fold then
        # runs on a small-by-contract set (the refine stage).
        exact = (
            cvec.join(F.broadcast(shortlist), "neighbor_id")
            .join(F.broadcast(qdf), "__qid")
            .withColumn(
                "__cos",
                F.try_divide(
                    _dot(F.col("__cvec"), F.col("__qvec")),
                    _norm(F.col("__cvec")) * _norm(F.col("__qvec")),
                ),
            )
        )
        part = exact
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id_col),
            "neighbor_id",
            F.round("__cos", 6).alias("approx_cos"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_reconstruction_error(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    normalize: bool = True,
) -> float:
    """Mean squared reconstruction error of the codebooks over ``df``
    — the fit-quality diagnostic (decreasing in k-means iterations;
    an untrained random codebook scores far worse). With
    ``normalize`` (matching the fit/encode setting) the error is
    measured against the L2-normalized vector — what spherical
    codebooks actually quantize — so a lossless codebook reports ~0
    instead of the norm gap. Driver-side scalar; one map-only pass."""
    import numpy as np

    enc = pq_encode(
        df.select(vec_col), codebooks, vec_col, "__code", normalize=normalize
    )
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape

    agg = enc.select(
        F.col(vec_col).alias("__v"), F.col("__code").alias("__c")
    ).filter(F.col("__c").isNotNull())
    # decode Spark-side would re-ship codebooks; the diagnostic is a
    # test-scale helper, so collect the (vec, code) pairs directly
    pairs = [
        (np.asarray(r["__v"], dtype=np.float64), np.asarray(r["__c"]))
        for r in agg.collect()
    ]
    if not pairs:
        return float("nan")
    errs = []
    for v, c in pairs:
        if normalize:
            nrm = np.linalg.norm(v)
            if nrm > 0:
                v = v / nrm
        rec = np.concatenate([cb[j, c[j]] for j in range(m)])
        d = v - rec
        errs.append(float(d @ d))
    return float(np.mean(errs))


def ivf_pq_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_centroids: int = 16,
    m: int = 8,
    nbits: int = 8,
    id_col: str | None = None,
    max_iter: int = 10,
    fit_sample_per_k: int | None = 256,
    normalize: bool = True,
    tol: float = 1e-9,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Fit the two-level IVF-PQ index (FAISS IndexIVFPQ): coarse
    centroids partition the space into cells, and the PQ codebooks
    quantize RESIDUALS ``x - centroid(x)`` — residuals concentrate
    near zero, so the same code budget spends on a much tighter
    distribution than raw vectors (the reason IVFPQ beats flat PQ at
    equal bits).  Returns ``(centroids[n_centroids][dim],
    codebooks[m][2**nbits][dim//m])``.

    One bounded sample collect feeds BOTH fits (the coarse Lloyd's
    and, after assigning the sample to cells, the per-subspace
    residual Lloyd's) — the sample valve sizes to the larger of the
    two cluster counts, so fit work stays constant at any corpus
    size, same contract as :func:`pq_fit`."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    ksub = 2 ** nbits
    target = (
        fit_sample_per_k * max(ksub, n_centroids)
        if fit_sample_per_k is not None
        else None
    )
    mat = _collect_fit_sample(df, vec_col, dim, id_col, target, normalize)
    cents = _lloyd(mat, n_centroids, max_iter, tol)
    d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (mat @ cents.T)
    res = mat - cents[np.argmin(d, axis=1)]
    books = []
    for j in range(m):
        sub = np.ascontiguousarray(res[:, j * dsub : (j + 1) * dsub])
        books.append(
            [[float(x) for x in cw] for cw in _lloyd(sub, ksub, max_iter, tol)]
        )
    return [[float(x) for x in c] for c in cents], books


def ivf_pq_encode(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    normalize: bool = True,
) -> DataFrame:
    """Append ``cell_col`` (nearest-centroid index) and ``code_col``
    (per-subspace nearest-RESIDUAL-codeword indices). Map-only Arrow
    batches — one cell GEMM + m residual GEMMs per batch; NULL /
    wrong-width / NaN vectors encode as NULL in both columns.
    ``normalize`` must match the fit."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cm = np.asarray(centroids, dtype=np.float64)  # (nc, dim)
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = cb.shape
    dim = m * dsub
    cn2 = (cm * cm).sum(axis=1)
    cb2 = (cb * cb).sum(axis=2)
    for c in (cell_col, code_col):
        if c in df.columns:
            df = df.drop(c)
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(cell_col, IntegerType()),
            StructField(code_col, ArrayType(IntegerType())),
        ]
    )

    def run(batches):
        for pdf in batches:
            nrow = len(pdf)
            mat, ok = _valid_matrix(pdf[vec_col], dim, normalize)
            dcell = cn2[None, :] - 2.0 * (mat @ cm.T)
            cells = np.argmin(dcell, axis=1)
            res = (mat - cm[cells]).reshape(nrow, m, dsub)
            codes = np.empty((nrow, m), dtype=np.int32)
            for j in range(m):
                d = cb2[j][None, :] - 2.0 * (res[:, j, :] @ cb[j].T)
                codes[:, j] = np.argmin(d, axis=1)
            pdf = pdf.copy()
            pdf[cell_col] = [int(cells[i]) if ok[i] else None for i in range(nrow)]
            pdf[code_col] = [codes[i].tolist() if ok[i] else None for i in range(nrow)]
            yield pdf

    return df.mapInPandas(run, schema)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 8,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    cell_col: str = "ivf_cell",
    code_col: str = "pq_code",
    fit_sample_per_k: int | None = 256,
    rerank: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """IVF-PQ approximate cosine top-k: probe ``nprobe`` cells per
    query, score ONLY probed-cell members — through their compressed
    codes, never the raw vectors — with residual-aware asymmetric
    distance, then (``rerank=R``) exact-refine the broadcast
    shortlist.

    The ADC algebra that keeps everything closure-borne: with
    ``x̃ = c + r̃``, the numerator ``q·x̃ = q·c + Σⱼ q_subⱼ·cb[j,codeⱼ]``
    splits into a per-(query, cell) scalar table (q × n_centroids)
    plus the SAME cell-independent LUT flat PQ uses, and
    ``|x̃|² = |c|² + 2·Σⱼ c_subⱼ·cb[j,codeⱼ] + Σⱼ|cb[j,codeⱼ]|²``
    needs one (n_centroids × m × ksub) centroid-codeword table
    precomputed at build time.  Per corpus batch the probe filter is
    a boolean lookup ``probe_mask[q, cell]`` — rows outside a query's
    probed cells never even reach the fancy-indexed scoring, the
    ~nprobe/n_centroids compute saving that IS the IVF speedup (and
    with cell-partitioned storage, the IO pruning).  Only per-batch
    top-R rows leave the scan; window + optional exact refine as in
    :func:`pq_topk`.  Approximate by construction → rows-only at the
    oracle gate; recall pinned in pytest."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if centroids is None or codebooks is None:
        centroids, codebooks = ivf_pq_fit(
            corpus.select(id_col, vec_col), vec_col, dim,
            n_centroids=n_centroids, m=m, nbits=nbits, id_col=id_col,
            fit_sample_per_k=fit_sample_per_k, normalize=normalize,
        )
    if encoded is None:
        encoded = ivf_pq_encode(
            corpus.select(id_col, vec_col), centroids, codebooks, vec_col,
            cell_col, code_col, normalize=normalize,
        )
    encoded = encoded.select(id_col, cell_col, code_col)
    cm = np.asarray(centroids, dtype=np.float64)  # (nc, dim)
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    mm, ksub, dsub = cb.shape
    nc = cm.shape[0]
    if dim != mm * dsub or cm.shape[1] != dim:
        raise ValueError(
            f"dim={dim} disagrees with the fitted index: codebooks"
            f" cover {mm}×{dsub}={mm * dsub}, centroids are"
            f" {cm.shape[1]}-wide"
        )
    cn2 = (cm * cm).sum(axis=1)  # (nc,)
    rn2 = (cb * cb).sum(axis=2)  # (m, ksub)
    # centroid-codeword dot table: (nc, m, ksub)
    cdot = np.einsum("cjd,jkd->cjk", cm.reshape(nc, mm, dsub), cb)

    qids, qvecs = _collect_queries(queries, query_id_col, vec_col, dim)
    if not qids:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, neighbor_id long, approx_cos double, rank int"
        )
    qm = np.stack(qvecs)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0.0] = 1.0
    # probe selection in the fitted (normalized) space
    qs = qm / qn[:, None] if normalize else qm
    dq = cn2[None, :] - 2.0 * (qs @ cm.T)
    probes = np.argsort(dq, axis=1, kind="stable")[:, : min(nprobe, nc)]
    probe_mask = np.zeros((len(qids), nc), dtype=bool)
    for qi in range(len(qids)):
        probe_mask[qi, probes[qi]] = True
    lut = np.einsum("qjd,jkd->qjk", qm.reshape(len(qids), mm, dsub), cb)
    qcdot = qm @ cm.T  # (q, nc)
    qid_arr = np.asarray(qids, dtype=np.int64)
    kk = max(k, rerank) if rerank else k

    out_schema = StructType(
        [
            StructField("__qid", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("__cos", DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        empty = pd.DataFrame(
            {"__qid": [], "neighbor_id": [], "__cos": []},
            columns=["__qid", "neighbor_id", "__cos"],
        )
        for pdf in batches:
            nrow = len(pdf)
            codes = np.zeros((nrow, mm), dtype=np.int64)
            cells = np.zeros(nrow, dtype=np.int64)
            ok = np.zeros(nrow, dtype=bool)
            for i, (c, cl) in enumerate(zip(pdf[code_col], pdf[cell_col])):
                if c is None or cl is None:
                    continue
                codes[i] = np.asarray(c, dtype=np.int64)
                cells[i] = int(cl)
                ok[i] = True
            # the pruning itself: rows in NO query's probed cells are
            # dropped BEFORE any ADC work, so the expensive LUT
            # gathers and norms run on ~nprobe/n_centroids of the
            # batch — the IVF speedup, not just an output filter
            keep = ok & probe_mask[:, cells].any(axis=0)
            idx = np.flatnonzero(keep)
            if idx.size == 0:
                yield empty
                continue
            kcells = cells[idx]
            kcodes = codes[idx]
            kids = pdf[id_col].to_numpy(dtype=np.int64)[idx]
            # residual-aware reconstruction norm, query-independent
            n2 = cn2[kcells].copy()
            for j in range(mm):
                n2 += 2.0 * cdot[kcells, j, kcodes[:, j]] + rn2[j, kcodes[:, j]]
            n2[n2 < 0.0] = 0.0  # quantization round-off guard
            norm = np.sqrt(n2)
            norm[norm == 0.0] = np.inf
            rdot = np.zeros((len(qid_arr), idx.size))
            for j in range(mm):
                rdot += lut[:, j, :][:, kcodes[:, j]]
            rows = {"__qid": [], "neighbor_id": [], "__cos": []}
            for qi in range(len(qid_arr)):
                mask = probe_mask[qi, kcells] & (kids != qid_arr[qi])
                if not mask.any():
                    continue
                cand = np.flatnonzero(mask)
                cos = (qcdot[qi, kcells[cand]] + rdot[qi, cand]) / (
                    qn[qi] * norm[cand]
                )
                srt = np.lexsort((kids[cand], -cos))
                for ci in srt[: min(kk, cand.size)]:
                    rows["__qid"].append(int(qid_arr[qi]))
                    rows["neighbor_id"].append(int(kids[cand[ci]]))
                    rows["__cos"].append(float(cos[ci]))
            yield pd.DataFrame(rows, columns=["__qid", "neighbor_id", "__cos"])

    part = encoded.mapInPandas(score, out_schema)
    return _finalize_topk(
        part, corpus, qids, qvecs, id_col, vec_col, query_id_col,
        k, kk, rerank,
    )
