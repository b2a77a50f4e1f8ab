"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force scan: one projection (higher-order dot
  product, JVM-side) + a top-k. The baseline, and the verifier for the
  bucketed path.
* ``lsh_bucket_topk`` — random-hyperplane LSH: 2^P sign-pattern buckets; the
  query probes its own bucket plus (``probe_bits``-flip) neighbors. At 100 TB
  the bucket id is the partition key, so a query touches a handful of
  partitions instead of the corpus (IVF-style).
* ``cosine_pairs_above`` — all near-dup pairs by cosine ≥ τ. The scale path
  is **banded** LSH: B bands of r planes each; a pair is a candidate if it
  matches exactly in ANY band (union over bands), then every candidate is
  verified with the exact cosine. Detection probability at similarity s with
  bit-agreement p = 1 − θ(s)/π is ``1 − (1 − p^r)^B`` — the defaults
  (B=16, r=4) give ≥0.999 recall at cosine 0.8 and ≈0.91 at 0.35 (measured
  against the brute-force path by tools/recall_report.py). Raise r (and B)
  together to cut candidate volume at corpus scale; the tradeoff is explicit
  and the exact verify keeps precision at 1.0 regardless.

Hyperplanes are fixed constants derived from numpy RandomState(42) — shared
with the oracle-SQL generator so both engines compute identical buckets; the
banded planes are the first B·r planes of the same stream, so the legacy
8-plane single-table bucket (``with_lsh_bucket``) is bands 0–1 of it.

Single spellings — every caller in engine/datawork and the driver queries
goes through them, never a hand-copied twin:

* ``cosine`` (over the private ``_fold`` that ``dot`` and ``norm`` share)
  is THE pairwise cosine. The fold order must match the DuckDB oracle's
  list fold (``acc = acc + a[i]·b[i]``, i ascending) for the rounded
  values to agree bit for bit, so a second spelling is a second chance
  to drift.
* ``_shadow_losers`` is THE SemDeDup drop rule (keep-order predicate,
  equi-join on cell, first shadower). ``semdedup_losers`` and both
  incremental probes in embed_incremental call it, which is what keeps
  the probes exactly equal to a full recompute.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from . import stage_cache

LSH_PLANES_SEED = 42
LSH_N_PLANES = 8
EMBED_DIM = 64
LSH_BANDS = 24      # banded near-dup: bands of ...
LSH_ROWS = 4        # ... r planes each; P[pair caught] = 1-(1-p^r)^B
# B=24 closes the low-similarity recall tail: at cosine 0.35 the per-plane
# agreement is p = 1-θ/π ≈ 0.613, so analytic recall 1-(1-p^4)^B goes
# 0.912 (B=16, measured 0.941) → 0.974 (B=24); measured + candidate-volume
# growth are tracked by tools/recall_report.py (VERDICT r2 #5). The cost is
# linear: 1.5× band entries into the candidate join, verify stays exact.


def lsh_planes(n_planes: int = LSH_N_PLANES, dim: int = EMBED_DIM) -> List[List[float]]:
    import numpy as np
    rs = np.random.RandomState(LSH_PLANES_SEED)
    return [[float(x) for x in rs.standard_normal(dim)] for _ in range(n_planes)]


def _lit_array(values: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in values])


def _fold(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] as ``acc = acc + a[i]·b[i]`` for i = 0..n-1, in double
    precision — the oracle's list fold order, so every dot, norm and
    cosine matches it bit for bit. Null algebra: a NULL side → NULL;
    unequal lengths → NULL (zip_with pads the short side with nulls);
    two empty arrays → 0.0 (the init)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def dot(vec: Column, const: Sequence[float]) -> Column:
    """Σ vec[i]·const[i] (see ``_fold``)."""
    return _fold(vec.cast("array<double>"), _lit_array(const))


def norm(vec: Column) -> Column:
    v = vec.cast("array<double>")
    return F.sqrt(_fold(v, v))


def cosine(a: Column, a_nrm: Column, b: Column, b_nrm: Column) -> Column:
    """The oracle-pinned pairwise cosine: ``round(a·b / (|a|·|b|), 6)``,
    the dot folded by ``_fold`` and the norms precomputed by ``norm``."""
    return F.round(_fold(a.cast("array<double>"), b.cast("array<double>"))
                   / (a_nrm * b_nrm), 6)


def cosine_to_const(vec: Column, query: Sequence[float]) -> Column:
    import math
    qn = math.sqrt(sum(v * v for v in query))
    return dot(vec, query) / (norm(vec) * F.lit(qn))


def bucket_expr(vec: Column, planes: List[List[float]]) -> Column:
    """Sign-pattern bucket id, e.g. '10110010' for 8 planes."""
    bits = [F.when(dot(vec, p) > 0, F.lit("1")).otherwise(F.lit("0"))
            for p in planes]
    return F.concat(*bits)


def bucket_of(query: Sequence[float], planes: List[List[float]]) -> str:
    return "".join(
        "1" if sum(q * c for q, c in zip(query, p)) > 0 else "0" for p in planes)


IVF_CELLS = 16
IVF_NPROBE = 2
KMEANS_SCALE = 1 << 20   # fixed-point accumulator scale (≈6 decimal digits)
KMEANS_ITERS = 2         # Lloyd iterations in the trained codebook


def _default_centroids(df: DataFrame, id_col: str, vec_col: str,
                       n_cells: int) -> DataFrame:
    """The untrained rule: centroids = the ``n_cells`` SMALLEST-id vectors,
    cell id = the vector's own id (deterministic, id-range-agnostic)."""
    return (df.orderBy(F.col(id_col)).limit(n_cells)
            .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cv")))


def fixed_point(vec: Column, scale: int = KMEANS_SCALE) -> Column:
    """Round-half-up fixed-point encoding (array<double> → array<long>).
    floor(x·scale + 0.5) is half-up for BOTH signs and both engines — the
    trick that makes k-means centroid sums EXACT integer arithmetic, hence
    deterministic across partitionings (a plain double sum's value depends
    on partition merge order, which would unpin the oracle)."""
    return F.transform(vec.cast("array<double>"),
                       lambda x: F.floor(x * scale + 0.5).cast("long"))


def train_kmeans(df: DataFrame, n_cells: int = IVF_CELLS,
                 iters: int = KMEANS_ITERS, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 dim: int = EMBED_DIM) -> DataFrame:
    """Deterministic spherical-ish k-means codebook: (cell, cv).

    * init (md5-hash-sampled, VERDICT r4 #3): the ``n_cells`` vectors with
      the smallest (md5(id), id) key — a content-independent pseudo-random
      draw both engines order identically; TakeOrdered, not a full sort.
    * assignment: argmax cosine rounded to 6 decimals, ties → smallest
      cell (the same rule ``ivf_assignments`` applies).
    * update: per-cell per-dim mean via EXACT fixed-point integer sums
      (see ``fixed_point``) divided back in double — bit-identical across
      engines and partitionings. Empty cells keep their previous centroid.
      Bound: |sum| < n_cell_members · max|x| · 2^20 must stay ≪ 2^63 (and
      ≪ 2^53 for the double division to be exact) — fine for unit-scale
      embeddings up to ~10^9 members per cell.

    Scale shape: each iteration is one broadcast crossJoin (n_cells rows)
    + one hash aggregation; the centroid table is localCheckpoint'd per
    iteration so the plan stays flat over any iteration count. The base
    (v, nrm, fx) projection is computed once and cached."""
    base = stage_cache.persist(
        "ivf_kmeans_base",
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v"))
          .withColumn("nrm", norm(F.col("v")))
          .withColumn("fx", fixed_point(F.col("v"))))
    # the trained codebook is a deterministic function of (base, n_cells,
    # iters) and is re-derived by every consumer in a combined run (IVF
    # assignment + top-k + both SemDeDup index builds each call
    # train_kmeans): memoize it keyed on the base plan, one entry per
    # parameterization
    return stage_cache.checkpoint(
        f"kmeans_cent_{n_cells}_{iters}_{dim}", base,
        lambda: _train_kmeans_loop(base, n_cells, iters, dim))


def _train_kmeans_loop(base: DataFrame, n_cells: int, iters: int,
                       dim: int) -> DataFrame:
    hk = F.md5(F.col("id").cast("string"))
    seed = (base.select("id", "v").withColumn("hk", hk)
            .orderBy("hk", "id").limit(n_cells))
    w = Window.orderBy("hk", "id")
    cent = (seed.withColumn("rk", F.row_number().over(w))
            .select((F.col("rk") - 1).cast("int").alias("cell"),
                    F.col("v").alias("cv")))
    sums = [F.sum(F.element_at("fx", d + 1)).alias(f"s{d}")
            for d in range(dim)]
    mean = F.array(*[F.col(f"s{d}") / (F.col("cnt") * float(KMEANS_SCALE))
                     for d in range(dim)])
    for _ in range(iters):
        assigned = _assign_cells(base, cent)
        newc = (assigned.groupBy("cell")
                .agg(F.count("*").alias("cnt"), *sums)
                .select("cell", mean.alias("cv")))
        cent = (cent.alias("o").join(newc.alias("n"), "cell", "left")
                .select(F.col("cell"),
                        F.coalesce(F.col("n.cv"), F.col("o.cv")).alias("cv")))
        cent = cent.localCheckpoint(eager=True)  # flat plan per iteration
    return cent


def _assign_cells(base: DataFrame, cent: DataFrame,
                  keep_score: bool = False,
                  nprobe: int = 1) -> DataFrame:
    """argmax-cosine assignment of a (id, v, nrm[, fx]) base against a
    (cell, cv) centroid table — the shared kernel of ivf_assignments and
    every k-means iteration. Broadcast crossJoin: n_cells rows per input
    row, window argmax on (round(cos, 6) desc, cell). ``keep_score=True``
    retains the winning ``ccos`` (semdedup ranks members by it);
    ``nprobe>1`` keeps the top-nprobe cells per vector (one output row
    per (vector, probed cell) — semdedup's cluster-boundary closure)."""
    c = cent.select("cell", "cv").withColumn("cnrm", norm(F.col("cv")))
    scored = (base.crossJoin(F.broadcast(c))
              .withColumn("ccos", cosine(F.col("v"), F.col("nrm"),
                                         F.col("cv"), F.col("cnrm"))))
    w = Window.partitionBy("id").orderBy(F.col("ccos").desc(), F.col("cell"))
    drop = ["rk", "cv", "cnrm"] + ([] if keep_score else ["ccos"])
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= nprobe).drop(*drop))


def ivf_assignments(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    n_cells: int = IVF_CELLS,
                    centroids: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantization: (id, cell) where cell = the centroid with
    the highest cosine (ties → smallest cell id). ``centroids`` (cell, cv)
    defaults to the untrained smallest-id rule — pass ``train_kmeans(df)``
    for the trained codebook. The POINT of the structure is that at 100 TB
    the cell is the partition key and a query touches nprobe cells instead
    of the corpus."""
    cent = centroids if centroids is not None else \
        _default_centroids(df, id_col, vec_col, n_cells)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     norm(F.col(vec_col)).alias("nrm"))
    return _assign_cells(base, cent).select("id", "cell")


def semdedup_losers(df: DataFrame, threshold: float = 0.95,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: DataFrame | None = None,
                    n_cells: int = IVF_CELLS,
                    max_cluster: int | None = None,
                    nprobe: int = 1) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal by
    clustering embeddings and pruning within-cluster high-cosine pairs.

    Rule (matches the public reference implementation's semantics): rank
    each cluster's members by (cosine-to-centroid ASC, id ASC) — the paper
    KEEPS the example least similar to its centroid — then drop any member
    that has a LOWER-ranked cluster-mate with pairwise cosine ≥ τ. Returns
    one row per dropped doc: (id, cell, kept_id, cosine) where kept_id is
    its lowest-ranked shadower (deterministic: ranks are unique).

    Scale shape: assignment is a broadcast crossJoin against the (small)
    codebook; the only shuffle is the equi-join on ``cell``, and the
    within-cluster comparison is quadratic ONLY in cluster size — the
    SemDeDup contract is that k grows with N so clusters stay ~N/k. The
    ``max_cluster`` guard mirrors ``max_df``/``max_bucket`` elsewhere:
    clusters above it are excluded from pairing (all members kept) rather
    than paying a degenerate |C|² join — at 100 TB a mega-cluster means
    the codebook is too small, and the exclusion is observable (compare
    kept counts against ``ivf_assignments`` cluster census).

    ``nprobe>1`` closes the cluster-boundary misses (near-dups split
    across adjacent cells never meet at nprobe=1 — the soak measured
    15/18,000): each vector joins its top-nprobe cells and is dropped if
    ANY probed cell holds a mate ≥ τ that precedes it in the GLOBAL
    keep order (primary-cell ccos ASC, id). The order must be global,
    not per-cell rank: per-cell ranks disagree between cells, so two
    cluster-mates could mutually drop each other through different
    shared cells (measured: 19,763 losers where 18,000 exist — whole
    clusters annihilating). At nprobe=1 the global order restricted to
    one cell IS the per-cell rank, so the oracle's spelling is
    unchanged. Cost multiplies the pair join by ~nprobe²; the driver
    query pins nprobe=1.
    """
    cent = centroids if centroids is not None else train_kmeans(
        df, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     norm(F.col(vec_col)).alias("nrm"))
    asg = _assign_cells(base, cent, keep_score=True, nprobe=nprobe)
    if max_cluster is not None:
        sizes = asg.groupBy("cell").agg(F.count("*").alias("_csz"))
        asg = (asg.join(F.broadcast(sizes.filter(F.col("_csz") > max_cluster)
                                    .select("cell")), "cell", "left_anti"))
    # global keep order = (primary-cell ccos ASC, id): within one cell it
    # reduces to the per-cell rank (the oracle's spelling); across probed
    # cells it is the consistent order that makes mutual drops impossible
    ranked = asg.withColumn("pcos",
                            F.max("ccos").over(Window.partitionBy("id")))
    return _shadow_losers(ranked, ranked, threshold)


def _shadow_losers(shadowers: DataFrame, losers: DataFrame,
                   threshold: float) -> DataFrame:
    """THE SemDeDup drop rule, shared by ``semdedup_losers`` and the
    incremental probes (embed_incremental): a ``losers`` row is dropped
    iff a same-cell ``shadowers`` row precedes it in the global keep
    order (pcos ASC, id ASC) with pairwise cosine ≥ threshold. Both sides
    are (id, cell, pcos, v, nrm); returns (id, cell, kept_id, cosine)
    with kept_id = the first shadower in keep order. The probes' exactness
    against a full recompute rests on this being the only spelling."""
    a, b = shadowers.alias("a"), losers.alias("b")
    precedes = ((F.col("a.pcos") < F.col("b.pcos"))
                | ((F.col("a.pcos") == F.col("b.pcos"))
                   & (F.col("a.id") < F.col("b.id"))))
    pairs = (a.join(b, (F.col("a.cell") == F.col("b.cell")) & precedes)
             .select(F.col("b.id").alias("id"), F.col("b.cell").alias("cell"),
                     F.col("a.id").alias("kept_id"),
                     F.col("a.pcos").alias("kp"),
                     cosine(F.col("a.v"), F.col("a.nrm"),
                            F.col("b.v"), F.col("b.nrm")).alias("cosine"))
             .filter(F.col("cosine") >= threshold))
    first = Window.partitionBy("id").orderBy("kp", "kept_id", "cell")
    return (pairs.withColumn("_p", F.row_number().over(first))
            .filter(F.col("_p") == 1).drop("_p", "kp"))


def ivf_topk(df: DataFrame, query: Sequence[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_cells: int = IVF_CELLS, nprobe: int = IVF_NPROBE,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF search: score the query against the centroids, probe the
    ``nprobe`` best cells, brute-force within. Recall is nprobe-tunable;
    the scan is bounded by the probed cells' population.

    Probe-cell ranking is a DataFrame orderBy/limit + broadcast semi-join
    — NO driver collect of the codebook (VERDICT r4: the old collect was
    fine at 16 cells but wrong for a 10^5-cell trained codebook)."""
    cent = centroids if centroids is not None else \
        _default_centroids(df, id_col, vec_col, n_cells)
    probes = (cent.select("cell", F.round(
                  cosine_to_const(F.col("cv"), query), 6).alias("qcos"))
              .orderBy(F.col("qcos").desc(), "cell").limit(nprobe)
              .select("cell"))
    assigns = ivf_assignments(df, id_col, vec_col, n_cells, centroids=cent)
    probed_assigns = assigns.join(F.broadcast(probes), "cell", "left_semi")
    cand = df.join(probed_assigns, df[id_col] == probed_assigns["id"],
                   "left_semi")
    return cosine_topk(cand, query, k, id_col, vec_col)


def cosine_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    scored = df.select(
        F.col(id_col),
        F.round(cosine_to_const(F.col(vec_col), query), 6).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def probe_buckets(query: Sequence[float], planes: List[List[float]],
                  probe_bits: int = 0) -> List[str]:
    """The query's own bucket plus all buckets within Hamming ≤ probe_bits
    (multi-probe: the standard recall knob that avoids adding tables)."""
    from itertools import combinations
    home = bucket_of(query, planes)
    out = {home}
    flip = {"0": "1", "1": "0"}
    for r in range(1, min(probe_bits, len(home)) + 1):
        for idxs in combinations(range(len(home)), r):
            b = list(home)
            for i in idxs:
                b[i] = flip[b[i]]
            out.add("".join(b))
    return sorted(out)


def lsh_bucket_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    planes: List[List[float]] | None = None,
                    probe_bits: int = 0) -> DataFrame:
    """Top-k within the query's LSH bucket(s). ``probe_bits=1`` probes the
    P one-bit-flip neighbor buckets too — at scale each bucket is a partition,
    so this reads P+1 partitions instead of 1, for a large recall gain."""
    planes = planes or lsh_planes()
    probes = probe_buckets(query, planes, probe_bits)
    candidates = df.filter(bucket_expr(F.col(vec_col), planes).isin(probes))
    return cosine_topk(candidates, query, k, id_col, vec_col)


def with_lsh_bucket(df: DataFrame, vec_col: str = "embedding",
                    planes: List[List[float]] | None = None) -> DataFrame:
    return df.withColumn("lsh_bucket", bucket_expr(F.col(vec_col), planes or lsh_planes()))


def banded_sig_expr(vec: Column, bands: int = LSH_BANDS,
                    rows: int = LSH_ROWS) -> Column:
    """All bands·rows sign bits as one string (bucket of band b = chars
    [b·rows, (b+1)·rows)). Computed once per vector, sliced per band."""
    return bucket_expr(vec, lsh_planes(bands * rows))


def banded_sig_udf(bands: int = LSH_BANDS, rows: int = LSH_ROWS,
                   dim: int = EMBED_DIM):
    """Arrow-batched twin of ``banded_sig_expr`` — BITWISE identical
    output, ~100× the throughput.

    The Catalyst spelling is n_planes interpreted higher-order
    ``aggregate(zip_with(...))`` expressions per row (no codegen for
    lambda functions): measured 1.5 ms/row at 256 planes — the dominant
    cost of every embedding-index build. This kernel vectorizes ACROSS
    rows while looping the dims IN ORDER, so each accumulator update is
    the same IEEE-754 double add/mul sequence the expression (and the
    DuckDB oracle's list_sum fold) performs: ``acc = acc + v[d]·p[d]``
    for d = 0..dim-1 — bit-for-bit equal dots, hence identical sign
    strings (differential fuzz test pins it, including exact-zero dots
    and the malformed-row semantics below).

    Malformed rows reproduce the expression's null algebra: a NULL
    vector or one whose length ≠ dim zips with nulls, poisoning the
    fold to NULL, and ``CASE WHEN NULL > 0`` takes the else branch —
    i.e. every plane emits '0'."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    planes = np.array(lsh_planes(bands * rows, dim), dtype=np.float64)
    n_planes = planes.shape[0]
    pt = planes.T.copy()  # (dim, n_planes), row d = every plane's dim-d coef

    @pandas_udf(StringType())
    def sig(vs):
        import pandas as pd
        n = len(vs)
        ok = np.zeros(n, dtype=bool)
        mat = np.zeros((n, dim), dtype=np.float64)
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                ok[i] = True
                mat[i, :] = v
        acc = np.zeros((n, n_planes), dtype=np.float64)
        for d in range(dim):  # dim order = the expression's fold order
            acc = acc + mat[:, d:d + 1] * pt[d]
        bits = acc > 0.0
        zeros = "0" * n_planes
        out = [("".join("1" if b else "0" for b in bits[i]) if ok[i]
                else zeros) for i in range(n)]
        return pd.Series(out)

    return sig


def _explode_bands(sig_df: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, sig) → (id, band, bucket) via ONE explode (a bands-way union
    would recompute the sig lineage per branch)."""
    return (sig_df.select("id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.substring("sig", b * rows + 1, rows).alias("bucket"))
        for b in range(bands)])).alias("bb"))
        .select("id", "bb.band", "bb.bucket"))


def banded_buckets(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", bands: int = LSH_BANDS,
                   rows: int = LSH_ROWS) -> DataFrame:
    """(id, band, bucket) for every vector — the SAME banded layout
    cosine_pairs_above joins on (single source of truth; guard telemetry
    counts exactly the buckets the join would use)."""
    sig = df.select(F.col(id_col).alias("id"),
                    banded_sig_udf(bands, rows)(F.col(vec_col)).alias("sig"))
    return _explode_bands(sig, bands, rows)


LSH_TARGET_BUCKET = 32  # aimed-for mean bucket population per band
LSH_MAX_ROWS = 24       # plane-stream budget cap (24 bands × 24 rows planes)


def auto_rows(n_vectors: int, target_bucket: int = LSH_TARGET_BUCKET,
              floor: int = LSH_ROWS, cap: int = LSH_MAX_ROWS) -> int:
    """Planes-per-band for a corpus of ``n_vectors`` — the scaling rule the
    200k-vector soak pinned (BENCH/BASELINE.md): a band has 2^rows buckets,
    so rows must grow ~log₂(N / target bucket population) or every bucket
    degenerates to ~N/2^rows vectors and the guard (correctly) drops them
    all. floor=4 keeps the small-N layout at the 24×4 oracle pin; the cap
    bounds the plane-stream budget (2^24 buckets per band is already far
    beyond any bucket-population concern)."""
    import math
    if n_vectors <= target_bucket:
        return floor
    return min(cap, max(floor, math.ceil(math.log2(n_vectors / target_bucket))))


def _lsh_base_plan(df: DataFrame, id_col: str, vec_col: str,
                   bands: int, rows: int) -> DataFrame:
    """(id, v, nrm, sig) — THE plan cosine_pairs_above caches under the
    ``embed_lsh_base`` slot. Single source of truth: any consumer that
    wants to share that cache (guard telemetry) must build this exact
    shape, or sameSemantics cannot match and the 96-plane sign
    computation silently runs twice in a combined run.

    Repartitioned BY id BEFORE the persist (VERDICT r4 #6 — the
    minhash-bucket trick applied to the verify side): both exact-verify
    joins key the cache side on id, so they read the cache's
    outputPartitioning and add no Exchange that carries the 64-dim
    vectors; the one id-shuffle happens at cache build, where the sig
    column rides along anyway. The repartition also subsumes the
    under-split rebalance _ensure_parallelism used to provide."""
    # the sig UDF sits BELOW the id-repartition: a Python eval node above
    # the exchange would hide the cache's hash(id) outputPartitioning from
    # the verify joins and re-shuffle the vectors twice (plan test pins
    # the exchange count)
    return (df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"))
        .withColumn("sig", banded_sig_udf(bands, rows)(F.col("v")))
        .repartition(F.col("id")))


def banded_buckets_shared(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding", bands: int = LSH_BANDS,
                          rows: int = LSH_ROWS) -> DataFrame:
    """(id, band, bucket) derived from the ``embed_lsh_base`` cache slot
    when a cosine_pairs_above run already populated it (opportunistic —
    a standalone telemetry run computes the signatures fresh WITHOUT
    paying a persist; see stage_cache.peek). Values are identical
    to banded_buckets: both slice the same banded_sig_expr string."""
    base = stage_cache.peek(
        "embed_lsh_base", _lsh_base_plan(df, id_col, vec_col, bands, rows))
    return _explode_bands(base.select("id", "sig"), bands, rows)


def candidate_pairs_from_banded(banded: DataFrame,
                                max_bucket: int | None = None) -> DataFrame:
    """Distinct (id_a, id_b) candidates from a (id, band, bucket) table —
    THE candidate join cosine_pairs_above verifies, exposed as one
    function so telemetry (tools/recall_report.py) counts exactly the
    production join instead of maintaining a hand-copied twin that can
    drift (e.g. if the guard default changes here)."""
    if max_bucket is not None:
        hot = (banded.groupBy("band", "bucket")
               .agg(F.count("*").alias("bsz"))
               .filter(F.col("bsz") > max_bucket).select("band", "bucket"))
        banded = banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    ca, cb = banded.alias("ca"), banded.alias("cb")
    return (ca.join(cb, (F.col("ca.band") == F.col("cb.band"))
                    & (F.col("ca.bucket") == F.col("cb.bucket"))
                    & (F.col("ca.id") < F.col("cb.id")))
            .select(F.col("ca.id").alias("id_a"), F.col("cb.id").alias("id_b"))
            .distinct())


def cosine_pairs_above(df: DataFrame, threshold: float = 0.95,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       bucketed: bool = True, bands: int = LSH_BANDS,
                       rows: int | None = None,
                       max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold.

    ``bucketed=True`` (the scale path) generates candidates from a banded
    hyperplane LSH — docs agreeing exactly on any band of ``rows`` sign bits
    — then verifies every candidate with the exact cosine, so precision is
    1.0 and recall is 1-(1-p^rows)^bands. ``bucketed=False`` is the exact
    all-pairs small-N path (the oracle for the banded one).

    ``rows=None`` (default) SELF-SCALES the layout: one metadata count of
    the corpus feeds ``auto_rows`` (rows ≈ log₂(N / target bucket
    population)), so a caller at 200k vectors gets r≥12 instead of the
    degenerate 16-buckets-per-band small-N layout (the round-3 soak's
    manual override, now automatic). Pass rows explicitly to pin a layout
    — auto equals the 24×4 oracle pin only up to N = 2⁴·32 = 512 vectors,
    so oracle-compared callers (the driver queries) pass rows=LSH_ROWS.

    ``max_bucket`` (scale guard, off by default) drops band-buckets holding
    more than that many vectors before the self-join — a degenerate bucket
    of B vectors costs B² join rows; mirrors max_df in ngram_jaccard_pairs.
    """
    from .dedup import _ensure_parallelism

    def verify(pairs_ab):
        # exact-cosine verify, shared by both paths
        return (pairs_ab
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        cosine(F.col("a.v"), F.col("a.nrm"),
                               F.col("b.v"), F.col("b.nrm")).alias("cosine"))
                .filter(F.col("cosine") >= threshold))

    if not bucketed:
        base = _ensure_parallelism(df).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"))
        a, b = base.alias("a"), base.alias("b")
        return verify(a.join(b, F.col("a.id") < F.col("b.id")))

    if rows is None:
        # self-scaling layout: ONE metadata count (parquet footer statistics
        # — no scan) picks rows ≈ log₂(N / target bucket population); the
        # chosen layout is logged so callers can see (and later pin) what
        # the auto path selected — it determines the candidate set (ADVICE r4)
        import logging
        n = df.count()
        rows = auto_rows(n)
        logging.getLogger(__name__).info(
            "cosine_pairs_above auto layout: n=%d -> bands=%d rows=%d",
            n, bands, rows)

    # sign bits for all bands·rows planes computed once; cached because the
    # candidate join consumes the banded table twice and the verify join
    # consumes base twice. The plan is built by _lsh_base_plan so guard
    # telemetry can share the entry.
    base = stage_cache.persist(
        "embed_lsh_base", _lsh_base_plan(df, id_col, vec_col, bands, rows))
    banded = _explode_bands(base.select("id", "sig"), bands, rows)
    cand = candidate_pairs_from_banded(banded, max_bucket)
    a = base.select(F.col("id"), F.col("v"), F.col("nrm")).alias("a")
    b = base.select(F.col("id"), F.col("v"), F.col("nrm")).alias("b")
    pairs_ab = (cand.join(a, cand.id_a == F.col("a.id"))
                    .join(b, cand.id_b == F.col("b.id")))
    return verify(pairs_ab)
