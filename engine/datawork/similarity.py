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
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame, functions as F

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


def dot(vec: Column, const: Sequence[float]) -> Column:
    """Σ vec[i]·const[i], left-to-right in double precision (matches the
    oracle's list_sum(list_transform(...)) evaluation order)."""
    return F.aggregate(
        F.zip_with(vec.cast("array<double>"), _lit_array(const), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)


def norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.zip_with(vec.cast("array<double>"), vec.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x))


def dot_pair_udf():
    """Arrow-batched twin of the pairwise ``aggregate(zip_with(a, b,
    x·y), 0.0, acc+x)`` spelling — BITWISE identical on every row both
    engines produce (the banded_sig_udf pattern, VERDICT r6 #4 applied to
    the dot products).

    The Catalyst spelling is an interpreted higher-order fold per row (no
    codegen for lambda functions) — the dominant per-row cost of every
    assignment crossJoin and cosine verify join. This kernel vectorizes
    ACROSS rows while looping the dims IN ORDER, so each accumulator
    update is the same IEEE-754 double sequence the expression (and the
    DuckDB oracle's list fold) performs: ``acc = acc + a[d]·b[d]`` for
    d = 0..dim-1.

    Null algebra (differential fuzz test pins it): a NULL array on either
    side → NULL; arrays of UNEQUAL length → NULL (zip_with pads the short
    side with nulls, poisoning the fold); two empty arrays → 0.0 (empty
    fold = the init); a null ELEMENT inside an array → NULL (it reaches
    the kernel as NaN, and the pandas→Arrow return conflates NaN with
    null — which happens to be exactly the expression's fold-poisoning).
    The one documented divergence: an input element that is a REAL NaN
    yields NaN from the expression but NULL from the kernel; no declared
    surface stores NaN vector elements (NaN cosines from zero-norm
    vectors arise in the DIVISION, which stays a Spark expression and is
    therefore identical on both paths)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dd(va, vb):
        import pandas as pd
        n = len(va)
        out = [None] * n
        by_len: dict = {}
        for i in range(n):
            a, b = va.iat[i], vb.iat[i]
            if a is None or b is None or len(a) != len(b):
                continue
            by_len.setdefault(len(a), []).append(i)
        for length, idxs in by_len.items():
            if length == 0:
                for i in idxs:
                    out[i] = 0.0
                continue
            am = np.empty((len(idxs), length), dtype=np.float64)
            bm = np.empty((len(idxs), length), dtype=np.float64)
            for r, i in enumerate(idxs):
                am[r, :] = va.iat[i]
                bm[r, :] = vb.iat[i]
            acc = np.zeros(len(idxs), dtype=np.float64)
            for d in range(length):  # dim order = the expression's fold order
                acc = acc + am[:, d] * bm[:, d]
            for r, i in enumerate(idxs):
                out[i] = float(acc[r])
        return pd.Series(out, dtype="float64")

    # guide §4.4: a filter on a UDF-derived column gets pushed below the
    # projection and the optimizer then evaluates the UDF TWICE (verified:
    # two ArrowEvalPython nodes in the cosine-verify plan). The function is
    # pure — asNondeterministic() only tells Catalyst not to duplicate or
    # reorder it, halving every verify stage.
    return dd.asNondeterministic()


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


#: Crossover switches for the Arrow dot kernel (dot_pair_udf) vs the
#: interpreted fold, measured on this 64-dim surface (local[32], best-of-2,
#: filter+count over synthesized pairs): 0.1M rows expr 0.47 s / kernel
#: 0.68 s; 1M rows 0.50 / 1.38; 4M rows 4.30 / 3.35. The kernel ships both
#: 64-dim vectors through Arrow per row (~1 KB/row), so it pays only once
#: the fold count amortizes the transfer + Python stage dispatch —
#: unlike the 256-plane signature fold (banded_sig_udf), where the
#: expression does 256 folds/row and the kernel wins ~20×. Verify joins
#: evaluate one fold per CANDIDATE PAIR (≈ corpus_n × mean bucket
#: occupancy ≫ corpus_n), so the corpus census crossing 100k vectors
#: implies pair volumes well past the 4M-row crossover; assignment
#: evaluates n_cells folds per vector, so a large codebook is the
#: amortizer there.
DOT_KERNEL_MIN_ROWS = 100_000   # corpus census, cosine_pairs_above auto path
DOT_KERNEL_MIN_CELLS = 64       # codebook size, argmax assignment

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
    from pyspark.sql import Window
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
    from pyspark.sql import Window
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
        assigned = _assign_cells(base, cent,
                                 kernel=n_cells >= DOT_KERNEL_MIN_CELLS)
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
                  nprobe: int = 1,
                  kernel: bool = False) -> DataFrame:
    """argmax-cosine assignment of a (id, v, nrm[, fx]) base against a
    (cell, cv) centroid table — the shared kernel of ivf_assignments and
    every k-means iteration. Broadcast crossJoin: n_cells rows per input
    row, window argmax on (round(cos, 6) desc, cell). ``keep_score=True``
    retains the winning ``ccos`` (semdedup ranks members by it);
    ``nprobe>1`` keeps the top-nprobe cells per vector (one output row
    per (vector, probed cell) — semdedup's cluster-boundary closure)."""
    from pyspark.sql import Window
    c = cent.select("cell", "cv").withColumn("cnrm", norm(F.col("cv")))
    # ``kernel=True`` swaps the interpreted fold for the Arrow twin
    # (bitwise-equal; see dot_pair_udf) — a win only once the evaluation
    # row count (vectors x cells) amortizes the Python stage dispatch;
    # measured a net REGRESSION at the sf0.1 bench scale, so small-N
    # callers keep the expression (OPTIMIZATION_r07.md has the numbers)
    dotprod = (dot_pair_udf()(F.col("v").cast("array<double>"),
                              F.col("cv").cast("array<double>"))
               if kernel else F.aggregate(
                   F.zip_with(F.col("v").cast("array<double>"),
                              F.col("cv").cast("array<double>"),
                              lambda x, y: x * y),
                   F.lit(0.0), lambda acc, x: acc + x))
    scored = (base.crossJoin(F.broadcast(c))
              .withColumn("ccos", F.round(
                  dotprod / (F.col("nrm") * F.col("cnrm")), 6)))
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
    return (_assign_cells(base, cent,
                          kernel=n_cells >= DOT_KERNEL_MIN_CELLS)
            .select("id", "cell"))


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
    from pyspark.sql import Window
    cent = centroids if centroids is not None else train_kmeans(
        df, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     norm(F.col(vec_col)).alias("nrm"))
    asg = _assign_cells(base, cent, keep_score=True, nprobe=nprobe,
                        kernel=n_cells >= DOT_KERNEL_MIN_CELLS)
    if max_cluster is not None:
        sizes = asg.groupBy("cell").agg(F.count("*").alias("_csz"))
        asg = (asg.join(F.broadcast(sizes.filter(F.col("_csz") > max_cluster)
                                    .select("cell")), "cell", "left_anti"))
    # global keep order = (primary-cell ccos ASC, id): within one cell it
    # reduces to the per-cell rank (the oracle's spelling); across probed
    # cells it is the consistent order that makes mutual drops impossible
    pv = Window.partitionBy("id")
    ranked = asg.withColumn("pcos", F.max("ccos").over(pv))
    a, b = ranked.alias("a"), ranked.alias("b")
    precedes = ((F.col("a.pcos") < F.col("b.pcos"))
                | ((F.col("a.pcos") == F.col("b.pcos"))
                   & (F.col("a.id") < F.col("b.id"))))
    pair_cos = F.round(
        F.aggregate(
            F.zip_with(F.col("a.v").cast("array<double>"),
                       F.col("b.v").cast("array<double>"),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        / (F.col("a.nrm") * F.col("b.nrm")), 6)
    pairs = (a.join(b, (F.col("a.cell") == F.col("b.cell")) & precedes)
             .select(F.col("b.id").alias("id"), F.col("b.cell").alias("cell"),
                     F.col("a.id").alias("kept_id"),
                     F.col("a.pcos").alias("kp"),
                     pair_cos.alias("cosine"))
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
    import math
    cent = centroids if centroids is not None else \
        _default_centroids(df, id_col, vec_col, n_cells)
    qn = math.sqrt(sum(v * v for v in query))
    probes = (cent.select("cell", F.round(
                  dot(F.col("cv"), query) / (norm(F.col("cv")) * F.lit(qn)),
                  6).alias("qcos"))
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

    def verify(pairs_ab, kernel=False):
        # exact-cosine verify, shared by both paths. kernel=True swaps the
        # interpreted fold for its bitwise-equal Arrow twin (dot_pair_udf)
        # — identical values by the fuzz pin, chosen per corpus size below.
        dotprod = (dot_pair_udf()(F.col("a.v").cast("array<double>"),
                                  F.col("b.v").cast("array<double>"))
                   if kernel else F.aggregate(
                       F.zip_with(F.col("a.v").cast("array<double>"),
                                  F.col("b.v").cast("array<double>"),
                                  lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x))
        return (pairs_ab
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        F.round(dotprod / (F.col("a.nrm") * F.col("b.nrm")),
                                6).alias("cosine"))
                .filter(F.col("cosine") >= threshold))

    if not bucketed:
        base = _ensure_parallelism(df).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"))
        a, b = base.alias("a"), base.alias("b")
        return verify(a.join(b, F.col("a.id") < F.col("b.id")))

    use_kernel = False
    if rows is None:
        # self-scaling layout: ONE metadata count (parquet footer statistics
        # — no scan) picks rows ≈ log₂(N / target bucket population); the
        # chosen layout is logged so callers can see (and later pin) what
        # the auto path selected — it determines the candidate set (ADVICE r4)
        import logging
        n = df.count()
        rows = auto_rows(n)
        # the same census picks the verify spelling: past the crossover the
        # interpreted fold dominates the verify join and the Arrow twin
        # wins; below it the Python stage dispatch costs more than it saves
        # (measured — see DOT_KERNEL_MIN_ROWS)
        use_kernel = n >= DOT_KERNEL_MIN_ROWS
        logging.getLogger(__name__).info(
            "cosine_pairs_above auto layout: n=%d -> bands=%d rows=%d "
            "kernel=%s", n, bands, rows, use_kernel)

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
    return verify(pairs_ab, kernel=use_kernel)
