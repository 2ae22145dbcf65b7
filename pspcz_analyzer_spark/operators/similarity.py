"""MP voting-similarity operators (SURVEY M1-M3, A9).

The reference pivots MPs x votes into a NumPy matrix, then does SVD-PCA and
an O(n^2) Python cosine loop
(/root/reference/pspcz_analyzer/services/similarity_service.py:10-108).

Scale-first formulations — the matrix is never materialized densely:

* cosine pairs: sparse dot products via an equi-join of (mp, vote, value)
  entries on the vote id, grouped by MP pair, divided by per-MP norms.
  ONE shuffle keyed by vote id, work proportional to matrix entries times
  per-vote fanout — no dense vectors, no nested-loop join, no global
  vote-axis broadcast. (A dense per-MP vector of dim = #distinct votes is
  ~150k doubles at sf0.1 and unbounded at corpus scale.)
* PCA: the classic transpose/Gram trick the reference itself exploits
  (SVD of a thin 200 x 10^4 matrix, similarity_service.py:47-72). The
  MP x MP Gram matrix of the *centered* rows is assembled from the same
  sparse entries (n ~ hundreds), eigendecomposed on the driver (tiny,
  deterministic), and coordinates come straight from U * S. The
  feature x feature covariance (dim^2 ~ 10^10 doubles at sf0.1) is never
  formed.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# The Gram-trick PCA's driver ceiling: above this many SAMPLES the
# dense n x n Gram + O(n^3) eigh stop being "hundreds-to-thousands"
# driver work (n=10k is ~800 MB + tens of seconds of LAPACK; n=20k is
# 3.2 GB + minutes). pca_coords refuses past it and points to the
# distributed twin, whose cost has no n^2 driver term.
PCA_GRAM_MAX_N = 10_000

# Vote encoding (similarity_service.py:20-28): YES=+1, NO=-1, other 0.
_ENCODE = {"A": 1.0, "B": -1.0}


def encode_votes(mp_votes: DataFrame) -> DataFrame:
    """(id_poslanec, id_hlasovani, vote_num in {+1,-1,0})."""
    return mp_votes.select(
        "id_poslanec",
        "id_hlasovani",
        F.when(F.col("vysledek") == "A", 1.0)
        .when(F.col("vysledek") == "B", -1.0)
        .otherwise(0.0)
        .alias("vote_num"),
    )


def vote_entries(mp_votes: DataFrame, void_votes: DataFrame | None = None) -> DataFrame:
    """Sparse matrix entries: one row per observed (MP, vote) cell.

    Missing cells are implicit zeros — exactly the reference's
    pivot + fill_null(0) semantics (similarity_service.py:30-36) without
    ever building the dense matrix. Duplicate cells collapse via max
    (deterministic; the reference's pivot used row-order "first").
    """
    if void_votes is not None:
        from pspcz_analyzer_spark.operators.voting import exclude_void

        mp_votes = exclude_void(mp_votes, void_votes)
    return (
        encode_votes(mp_votes)
        .groupBy("id_poslanec", "id_hlasovani")
        .agg(F.max("vote_num").alias("v"))
    )


def sparse_cosine_pairs(
    entries: DataFrame,
    id_col: str = "id_poslanec",
    key_col: str = "id_hlasovani",
    val_col: str = "v",
    round_to: int | None = 6,
) -> DataFrame:
    """All-pairs cosine over sparse (id, key, value) entries.

    Pairs meet ONLY via shared keys (equi-join on ``key_col``), so cost is
    sum over keys of per-key-count^2 — never n^2 over ids. Zero-valued
    entries still create the pair (dot contribution 0), matching the dense
    semantics for any pair sharing at least one observed key.

    Returns (id_a, id_b, cosine_sim) with id_a < id_b.
    """
    norms = entries.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col(val_col) * F.col(val_col))).alias("nrm")
    )
    a = entries.select(
        F.col(id_col).alias("id_a"), F.col(key_col).alias("__k"), F.col(val_col).alias("va")
    )
    b = entries.select(
        F.col(id_col).alias("id_b"), F.col(key_col).alias("__k"), F.col(val_col).alias("vb")
    )
    dots = (
        a.join(b, "__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nrm_b"))
    denom = F.col("nrm_a") * F.col("nrm_b")
    score = F.when(denom == 0, F.lit(0.0)).otherwise(F.col("dot") / denom)
    if round_to is not None:
        score = F.round(score, round_to)
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", score.alias("cosine_sim"))
    )


def mp_cosine_pair_table(
    mp_votes: DataFrame, void_votes: DataFrame, mp_info: DataFrame
) -> DataFrame:
    """Every MP pair sharing a vote, (id_a, id_b, group_a, group_b,
    cosine_sim) with id_a < id_b: the parameter-free part of
    :func:`mp_cosine_pairs`, which :func:`top_pairs` ranks."""
    pairs = sparse_cosine_pairs(vote_entries(mp_votes, void_votes))
    info = F.broadcast(mp_info.select("id_poslanec", "party"))
    return (
        pairs.join(
            info.select(F.col("id_poslanec").alias("id_a"), F.col("party").alias("group_a")),
            "id_a",
        )
        .join(
            info.select(F.col("id_poslanec").alias("id_b"), F.col("party").alias("group_b")),
            "id_b",
        )
        .select("id_a", "id_b", "group_a", "group_b", "cosine_sim")
    )


def top_pairs(
    pairs: DataFrame, k: int | None = 20, cross_party_only: bool = True
) -> DataFrame:
    """Cross-party filter and top-k (cosine desc, ids asc — a total order)
    over :func:`mp_cosine_pair_table`; ``k`` falsy keeps every pair."""
    from pspcz_analyzer_spark.operators.pagination import top_k

    out = pairs
    if cross_party_only:
        out = out.filter(F.col("group_a") != F.col("group_b"))
    if not k:
        return out
    return top_k(out, [F.desc("cosine_sim"), F.asc("id_a"), F.asc("id_b")], k)


def mp_cosine_pairs(
    mp_votes: DataFrame,
    void_votes: DataFrame,
    mp_info: DataFrame,
    k: int | None = 20,
    cross_party_only: bool = True,
) -> DataFrame:
    """Top-k most-similar MP pairs by vote-vector cosine, cross-party only
    (similarity_service.py:75-108), via the sparse-join formulation."""
    return top_pairs(
        mp_cosine_pair_table(mp_votes, void_votes, mp_info), k, cross_party_only
    )


def pca_coords(
    mp_votes: DataFrame, void_votes: DataFrame, n_components: int = 2
) -> DataFrame:
    """2-D PCA coordinates per MP from the vote matrix.

    Transpose/Gram trick (samples n << features d, like the reference's
    200 x 10^4 SVD at similarity_service.py:47-72):

        G = Xc Xc^T  (n x n)  with  G[a,b] = D[a,b] - s_a - s_b + m2
          D[a,b] = sum_j x_aj x_bj   — sparse equi-join on vote id
          s_a    = sum_j mu_j x_aj   — join entries with per-vote means
          m2     = sum_j mu_j^2      — scalar

    (mu_j is the per-vote column mean over ALL n MPs, zeros included.)
    Distributed work is two jobs over the sparse entries (the scalar m2
    rides the s-vector job as an Observation); only
    the n x n Gram (n = #MPs: hundreds-to-thousands) reaches the driver,
    where eigh gives U, S^2 and coords = U[:, :k] * S[:k]. The d x d
    covariance is never materialized, so vote-count growth is free.
    """
    import numpy as np

    from pyspark import StorageLevel

    entries = vote_entries(mp_votes, void_votes)
    # Four independent aggregations consume the entries (ids, dots, s, mu);
    # persist so the upstream scan+groupBy runs once, spilling to disk if
    # the matrix outgrows memory (entry count = observed cells, not n x d).
    entries = entries.persist(StorageLevel.MEMORY_AND_DISK)
    nz = entries.filter(F.col("v") != 0)

    # n (MP count) is needed to define mu, but mu's VALUE only scales the
    # centering terms, so compute the MP list and the s-vector in ONE pass:
    # aggregate sum(v * mu_unscaled) per MP over ALL entries (left join —
    # zero cells contribute nothing but keep every MP in the output), then
    # divide by n on the driver. The scalar m2 = sum(mu_raw^2) rides the
    # SAME job as an Observation on the mu_raw subtree (it would otherwise
    # recompute the per-vote aggregation in a third action), so the
    # distributed work is TWO jobs total: s+ids+m2, dots.
    from pyspark.sql import Observation

    m2_obs = Observation("pca_m2")
    mu_raw = (
        nz.groupBy("id_hlasovani")
        .agg(F.sum("v").alias("mu_raw"))
        .observe(m2_obs, F.sum(F.col("mu_raw") * F.col("mu_raw")).alias("m2"))
    )
    s_pdf = (
        entries.join(mu_raw, "id_hlasovani", "left")
        .groupBy("id_poslanec")
        .agg(
            F.sum(F.coalesce(F.col("v") * F.col("mu_raw"), F.lit(0.0))).alias(
                "s_raw"
            )
        )
        .toPandas()
        .sort_values("id_poslanec")
    )
    ids = [int(p) for p in s_pdf["id_poslanec"]]
    n = len(ids)
    if n == 0:
        return mp_votes.sparkSession.createDataFrame([], "id_poslanec long, x double, y double")
    if n > PCA_GRAM_MAX_N:
        # The Gram trick is n-BOUND by design: a dense n x n driver
        # matrix + O(n^3) eigh. That matches the reference's domain
        # (MP count is ~200 whatever the data volume — growth means
        # more VOTES, which this path absorbs for free), but an input
        # whose sample count scales with the corpus would melt the
        # driver here (n=20k -> 3.2 GB Gram + minutes of LAPACK).
        # Refuse loudly; the distributed twin has no n term.
        raise ValueError(
            f"pca_coords: {n} samples exceeds PCA_GRAM_MAX_N="
            f"{PCA_GRAM_MAX_N} (dense n^2 Gram + O(n^3) driver eigh); "
            "use pca_coords_distributed (randomized subspace, no "
            "driver n^2 term) for sample counts that scale with data"
        )
    idx = {p: i for i, p in enumerate(ids)}

    # D: pairwise dots incl. the diagonal, only over shared nonzero votes.
    a = nz.select(F.col("id_poslanec").alias("pa"), F.col("id_hlasovani").alias("k"), F.col("v").alias("va"))
    b = nz.select(F.col("id_poslanec").alias("pb"), F.col("id_hlasovani").alias("k"), F.col("v").alias("vb"))
    # Arrow transfer + vectorized assembly: the n^2/2 dot rows are the only
    # non-trivial driver payload (n = #MPs, hundreds-to-thousands).
    dots = (
        a.join(b, "k")
        .filter(F.col("pa") <= F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
        .toPandas()
    )
    m2 = float(m2_obs.get["m2"] or 0.0) / (n * n)
    entries.unpersist()

    s = np.zeros(n)
    s[[idx[p] for p in s_pdf["id_poslanec"]]] = s_pdf["s_raw"].to_numpy() / n
    G = np.full((n, n), m2) - s[:, None] - s[None, :]
    ii = dots["pa"].map(idx).to_numpy()
    jj = dots["pb"].map(idx).to_numpy()
    dd = dots["dot"].to_numpy()
    G[ii, jj] += dd
    off = ii != jj
    G[jj[off], ii[off]] += dd[off]

    evals, evecs = np.linalg.eigh(G)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = []
    for col in order:
        lam = max(float(evals[col]), 0.0)
        u = evecs[:, col]
        # Deterministic sign: largest-|.| component positive.
        pivot = int(np.argmax(np.abs(u)))
        if u[pivot] < 0:
            u = -u
        comps.append(u * np.sqrt(lam))
    while len(comps) < n_components:
        comps.append(np.zeros(n))

    spark = mp_votes.sparkSession
    data = [
        (int(p), float(round(comps[0][i], 6)), float(round(comps[1][i], 6)))
        for i, p in enumerate(ids)
    ]
    return spark.createDataFrame(data, "id_poslanec long, x double, y double")


def _apply_gram(nz: DataFrame, mu: DataFrame, ids: list[int], V, spark):
    """One application Z = G V of the centered Gram G = Xc Xc^T, without
    materializing G. V is a driver-side n x m ndarray (m = k + oversample,
    single digits); the distributed work is two sparse-entry joins:

        w = Xc^T V = X^T V - mu (1^T V)      (per-vote rows, m columns)
        Z = Xc w   = X w  - 1 (mu^T w)       (per-MP rows, m columns)

    The m columns ride along as posexploded (dim, value) rows — m is a
    small constant, so the entry stream grows m-fold, never n-fold, and
    nothing of size n x n exists anywhere.
    """
    import numpy as np

    n, m = V.shape
    colsum = V.sum(axis=0)  # 1^T V, m scalars
    vdf = spark.createDataFrame(
        [(int(p), [float(x) for x in V[i]]) for i, p in enumerate(ids)],
        "id_poslanec long, vals array<double>",
    )
    # X^T V: sum x_pj * V_pd per (vote j, dim d).
    xtv = (
        nz.join(vdf, "id_poslanec")
        .select("id_hlasovani", "v", F.posexplode("vals").alias("d", "val"))
        .groupBy("id_hlasovani", "d")
        .agg(F.sum(F.col("v") * F.col("val")).alias("xtv"))
    )
    colsum_df = F.array(*[F.lit(float(c)) for c in colsum])
    w = xtv.join(mu, "id_hlasovani").select(
        "id_hlasovani",
        "d",
        (F.col("xtv") - F.col("mu") * F.element_at(colsum_df, F.col("d") + 1)).alias("w"),
    )
    from pyspark import StorageLevel

    w = w.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # mu^T w: m scalars, one tiny aggregation.
        muw_rows = (
            w.join(mu, "id_hlasovani")
            .groupBy("d")
            .agg(F.sum(F.col("mu") * F.col("w")).alias("muw"))
            .collect()
        )
        muw = np.zeros(m)
        for r in muw_rows:
            muw[r["d"]] = r["muw"]
        # X w: sum x_pj * w_jd per (MP, dim).
        xw = (
            nz.join(w, "id_hlasovani")
            .groupBy("id_poslanec", "d")
            .agg(F.sum(F.col("v") * F.col("w")).alias("xw"))
            .toPandas()
        )
    finally:
        w.unpersist()
    idx = {p: i for i, p in enumerate(ids)}
    Z = np.tile(-muw, (n, 1))  # all-zero X rows still carry the centering term
    if len(xw):
        Z[xw["id_poslanec"].map(idx).to_numpy(), xw["d"].to_numpy()] += xw[
            "xw"
        ].to_numpy()
    return Z


def pca_coords_distributed(
    mp_votes: DataFrame,
    void_votes: DataFrame | None = None,
    n_components: int = 2,
    oversample: int = 6,
    power_iters: int = 2,
    seed: int = 20260814,
) -> DataFrame:
    """2-D PCA coordinates per MP with O(n*k) driver memory — the scale
    path for when the sample axis outgrows the n x n Gram that
    :func:`pca_coords` eigendecomposes on the driver (its documented
    bound: 10k MPs = 0.8 GB, 100k = 80 GB).

    Randomized subspace iteration (Halko/Martinsson/Tropp, SIAM Rev. 2011)
    on the centered Gram operator: draw a seeded n x (k+oversample)
    Gaussian block, alternate Z = G V applications (two sparse-entry
    joins each, see :func:`_apply_gram`) with driver-side QR, then
    Rayleigh-Ritz on the (k+p) x (k+p) projected matrix. The driver only
    ever holds n x (k+p) panels; the n x n Gram never exists. Accuracy
    for the top components is governed by the spectral decay that makes
    vote matrices PCA-able in the first place; power_iters=2 recovers the
    exact top-2 coordinates to ~1e-6 on the test fixtures
    (tests/test_similarity.py::TestPCADistributed). On a spectrum with NO
    decay (the driver's synthetic random votes: top eigenvalues within ~2%
    of each other) the individual components are non-identifiable for ANY
    method — exact eigh included — and the two paths return different
    rotations of the same near-degenerate subspace; real parliaments have
    the party-bloc gap that makes PC1/PC2 meaningful.

    Output contract matches :func:`pca_coords`: (id_poslanec, x, y),
    deterministic component signs (largest-|coord| positive), 6-decimal
    rounding.
    """
    import numpy as np

    from pyspark import StorageLevel

    spark = mp_votes.sparkSession
    entries = vote_entries(mp_votes, void_votes)
    nz = entries.filter(F.col("v") != 0).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ids = [
            int(r["id_poslanec"])
            for r in entries.select("id_poslanec").distinct().orderBy("id_poslanec").collect()
        ]
        n = len(ids)
        if n == 0:
            return spark.createDataFrame([], "id_poslanec long, x double, y double")
        mu = (
            nz.groupBy("id_hlasovani")
            .agg((F.sum("v") / F.lit(float(n))).alias("mu"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            m = min(n_components + oversample, n)
            rng = np.random.default_rng(seed)
            Q, _ = np.linalg.qr(rng.standard_normal((n, m)))
            for _ in range(power_iters):
                Q, _ = np.linalg.qr(_apply_gram(nz, mu, ids, Q, spark))
            Z = _apply_gram(nz, mu, ids, Q, spark)
            T = Q.T @ Z
            T = (T + T.T) / 2.0  # symmetrize numerical noise
            evals, W = np.linalg.eigh(T)  # ascending
            order = np.argsort(evals)[::-1][:n_components]
            comps = []
            for col in order:
                lam = max(float(evals[col]), 0.0)
                u = Q @ W[:, col]
                pivot = int(np.argmax(np.abs(u)))
                if u[pivot] < 0:
                    u = -u
                comps.append(u * np.sqrt(lam))
            while len(comps) < n_components:
                comps.append(np.zeros(n))
        finally:
            mu.unpersist()
    finally:
        nz.unpersist()
    data = [
        (int(p), float(round(comps[0][i], 6)), float(round(comps[1][i], 6)))
        for i, p in enumerate(ids)
    ]
    return spark.createDataFrame(data, "id_poslanec long, x double, y double")
