"""Vector similarity search over embedding columns (north star).

The embeddings table is (vec_id, embedding array<float>, label). Two paths:

- Brute-force cosine top-k: JVM-side ``zip_with``+``aggregate`` dot product
  — a single scan + TakeOrdered, the exact baseline. Linear per query; use
  for correctness and small query sets.
- LSH-bucketed (random hyperplane / SimHash for vectors): sign-bit sketch
  over D seeded hyperplanes → bucket equi-join → exact re-rank inside
  buckets. This is the 100 TB path: candidate generation is a hash join on
  the sketch, exact cosine only on candidates.

Hyperplanes are generated from a seeded PRNG on the driver and inlined as
literal arrays (a few KB) — broadcast-free determinism.

Input contract: operators here assume non-NULL, finite vectors of one
uniform dimensionality (zero-norm vectors make cosine undefined —
IEEE division yields inf/NaN, and engines disagree on downstream
rounding). Enforce upstream with the conformance ops (P1/P2:
``clean.drop_null_rows`` + a ``size(embedding) = D`` /
``exists(embedding, isnan)`` filter); ``fit_pca`` filters hostile
vectors in-plan and ``infer_dim`` raises a clear error on empty/NULL
input (r5 ADVICE) — the search operators themselves do not re-validate
per row, which would double the scan cost of every query.
"""

from __future__ import annotations

import math
import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from impc_etl_spark.operators.partitioning import fan_out
from impc_etl_spark.operators.text import bind


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns — zip_with + aggregate,
    fully codegen'd (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero vector has norm 0 and plain division is an ANSI
    # DIVIDE_BY_ZERO crash — NULL (undefined similarity) is the contract,
    # matching the zero-vector handling on every internal scoring path
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    Plan: one scan, per-row closed-form cosine, TakeOrdered(k) — no shuffle
    of the data itself (only k rows reach the driver-side ordering). The
    query norm is a Python-side constant (not an aggregate re-evaluated
    per row).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    raw = F.try_divide(dot(F.col(vec_col), q), norm(F.col(vec_col)) * F.lit(qnorm))
    # floor(x·1e6 + 0.5)/1e6, not F.round: one tie rule (toward +inf on
    # exact half-ties) shared with every DuckDB oracle and semantic_dedup —
    # F.round's decimal HALF_UP diverges on negative half-ties at the 7th
    # decimal
    scored = fan_out(df).select(
        F.col(id_col),
        (F.floor(raw * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def cosine_topk_pandas(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k scored by an Arrow-batched NumPy pandas_udf.

    Same results as `cosine_topk` (JVM zip_with/aggregate). Trade-off:
    the JVM path stays in whole-stage codegen with zero serialization;
    this path pays one Arrow hop but scores the whole batch as a single
    (n×d)·d matrix-vector product — for wide vectors (d ≳ 512) the BLAS
    kernel wins. Pick per deployment; both are one scan + TakeOrdered.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = float(np.linalg.norm(q)) or 1.0

    @pandas_udf("double")
    def score(vecs):
        m = np.vstack(vecs.to_numpy())
        dots = m.astype(np.float64) @ q
        norms = np.linalg.norm(m, axis=1)
        zero = norms == 0.0
        safe = np.where(zero, 1.0, norms)
        # same floor tie rule as the JVM cosine_topk (np.round is
        # HALF_EVEN; the oracles are floor(x·1e6+0.5)/1e6)
        out = pd.Series(
            np.floor(dots / (safe * qn) * 1e6 + 0.5) / 1e6
        ).astype("Float64")
        # zero-norm vectors score NULL, matching the JVM path's
        # divide-by-null semantics (NULL sorts LAST under desc) — a 0.0
        # score would rank them above negative-similarity rows
        out[pd.Series(zero)] = pd.NA
        return out

    scored = fan_out(df).select(F.col(id_col), score(F.col(vec_col)).alias("cos_sim"))
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
) -> DataFrame:
    """All-pairs cosine above threshold (a < b) — embedding near-dup.

    Unblocked this is O(n²): acceptable for verification sets; at scale
    pass ``block_col`` (e.g. an LSH bucket from `hyperplane_sketch`) so the
    self-join is per-block equi rather than cartesian.
    """
    # Pre-compute each row's norm ONCE before the join — computing
    # cosine() per pair would redo both norms n times each (O(n²·d)
    # wasted); with norms precomputed the pair stage is just a dot + two
    # multiplies.
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    ]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = fan_out(df).select(*cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = (F.col("a.blk") == F.col("b.blk")) & cond
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("vec_a"),
            F.col("b.id").alias("vec_b"),
            F.round(
                F.try_divide(dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def cosine_banded_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bands: int = 8,
    band_width: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded hyperplane-LSH near-dup pairs — the scale form of
    `cosine_pairs`.

    The sketch is split into ``bands`` bands of ``band_width`` sign bits;
    rows agreeing on ANY band become candidates (equi-join on
    (band, band_key), realized as bucket grouping + in-bucket pair
    expansion — the same shape as MinHash-LSH, no BroadcastNestedLoopJoin
    anywhere). Exact cosine then verifies ONLY the candidates, joining each
    id back to its vector with precomputed norms.

    Recall/cost knobs: P(candidate) per band is p^band_width where
    p = 1 - angle/π; more bands raises recall, wider bands cuts false
    candidates — grow ``band_width`` with corpus size. Deterministic for a
    fixed seed, so the result is exactly reproducible in ANSI SQL (the
    planes are literals).

    Precondition: ``id_col`` is unique in ``df``. The terminal
    ``distinct`` removes a pair found in several bands only because each
    id names one vector, so every occurrence carries the same
    ``cos_sim``; with a repeated id the joins back to the vectors pair
    every copy, and one (vec_a, vec_b) can come out several times with
    different scores.
    """
    from impc_etl_spark.operators.dedup import _bucket_pairs

    n_planes = bands * band_width
    # ONE materialized pass over the (possibly expensive) source feeds the
    # sketch AND both verification join sides — without the cut the
    # upstream subtree executes three times (Spark has no cross-tree CSE;
    # same shared-scan pattern verified_near_dups measures at ~1.9x)
    side = (
        fan_out(df)
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            norm(F.col(vec_col)).alias("__n"),
        )
        .localCheckpoint(eager=True)
    )
    sk = hyperplane_sketch(side, dim, n_planes, seed, "__v", out="__bucket")
    band_entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("__bucket", b * band_width + 1, band_width).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sk.select(
        F.col("__id"), F.explode(F.array(*band_entries)).alias("bk")
    ).select("__id", "bk.band", "bk.band_key")
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_set(F.col("__id"))).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # max_bucket_size: the same mega-bucket star-edge guard the MinHash
    # LSH path exposes — identical/padding embeddings can put 10^5+ ids
    # in one (band, key) bucket, and quadratic expansion there is fatal
    cands = _bucket_pairs(buckets, max_bucket_size=max_bucket_size).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    a = side.select(
        F.col("__id").alias("vec_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na")
    )
    b = side.select(
        F.col("__id").alias("vec_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb")
    )
    # Verify BEFORE the cross-band dedup (r10's simhash trick): cos_sim is
    # a pure function of the two id-keyed vectors, so filter and distinct
    # commute — the distinct exchange then carries only TRUE matches
    # instead of every candidate occurrence. A pair colliding in k>1 bands
    # pays k cosine evaluations (map-side, behind the broadcast-sized
    # `side` joins) in exchange for shrinking the only data-sized shuffle
    # of this plan from |candidates| to |verified| rows; false candidates
    # (the bulk at scale) rarely share more than one band, so the extra
    # verify work is bounded by (bands-1)x the true-pair count.
    return (
        cands.join(a, "vec_a").join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(F.try_divide(dot(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )


def batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k per query for a whole QUERY TABLE (the production search
    shape): broadcast the queries, score corpus×queries, take k per query
    via window.

    Norms are precomputed per side (never per pair); the corpus is
    fanned out so scoring parallelizes; row_number-over-window plans as
    WindowGroupLimit (partial top-k before the shuffle). At scale the
    corpus side stays partition-local — only queries broadcast.
    """
    c = fan_out(corpus).select(
        F.col(id_col), F.col(vec_col).alias("__cv"), norm(F.col(vec_col)).alias("__cn")
    )
    q = queries.select(
        F.col(q_id_col), F.col(q_vec_col).alias("__qv"), norm(F.col(q_vec_col)).alias("__qn")
    )
    scored = c.join(F.broadcast(q)).select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(F.try_divide(dot(F.col("__cv"), F.col("__qv")), F.col("__cn") * F.col("__qn")), 6).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(q_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def hyperplane_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (unit Gaussian, seeded)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / s for x in v])
    return planes


def hyperplane_sketch(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    out: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH sketch: sign bit per plane, concatenated to a
    bucket string. Rows in the same bucket are cosine-near with high
    probability; join buckets, then exact re-rank with `cosine`/`cosine_pairs`."""
    bits = []
    for p in hyperplane_planes(dim, n_planes, seed):
        plane = F.array(*[F.lit(x) for x in p])
        bits.append(F.when(dot(F.col(vec_col), plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.withColumn(out, F.concat(*bits))


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_build(
    df: DataFrame,
    nlist: int = 16,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means (Lloyd, fixed iterations) over the
    corpus, returning (corpus + ``ivf_cluster`` column, centroids).

    Assignment is row-local (distances to centroid LITERALS — centroids
    are model state, a few KB, and live in the plan, not a join).
    Re-centering posexplodes to (cluster, dim, value) and averages —
    one narrow shuffle of nlist×dim aggregates per iteration; only the
    centroid matrix is collected (never the data). Deterministic init:
    first nlist vectors by id.

    ``round_to`` rounds every re-centered centroid coordinate to that
    many decimals (floor(x·10^n + 0.5) form). This makes the whole Lloyd
    trajectory ENGINE-REPLAYABLE: an oracle recomputing the same
    iterations from the same init sees identical centroids, so float
    summation order can never flip an argmin assignment between engines.
    """
    init = (
        df.orderBy(id_col).limit(nlist)
        .select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]
    for _ in range(iterations):
        assigned = ivf_assign(df, centroids, vec_col)
        dim_means = (
            assigned.select("ivf_cluster", F.posexplode(vec_col).alias("d", "v"))
            .groupBy("ivf_cluster", "d")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        new_c = [list(c) for c in centroids]
        for r in dim_means:
            val = float(r["m"])
            if round_to is not None:
                import math as _math

                q = 10.0 ** round_to
                val = _math.floor(val * q + 0.5) / q
            new_c[r["ivf_cluster"]][r["d"]] = val
        centroids = new_c
    return ivf_assign(df, centroids, vec_col), centroids


def ivf_assign_col(vec: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """Nearest-centroid index (0-based) for a vector COLUMN, row-local —
    centroids are literals in the plan, so the assignment composes into
    any projection with no join against the data."""
    cents = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])
    dists = F.transform(cents, lambda c: _l2sq(vec, c))
    # bind the distance array so array_min doesn't recompute all distances
    return bind(dists, lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"))


def ivf_assign(df: DataFrame, centroids: Sequence[Sequence[float]], vec_col: str = "embedding") -> DataFrame:
    """Tag each row with its nearest centroid index (0-based), row-local."""
    return df.withColumn("ivf_cluster", ivf_assign_col(F.col(vec_col), centroids))


def ivf_topk(
    indexed: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: rank centroids by distance to the query driver-side,
    scan only the ``nprobe`` nearest clusters, exact cosine inside. The
    cluster filter is a pushable IN predicate — with the index partitioned
    by ``ivf_cluster`` on disk this prunes partitions, the IVF point."""
    scored = sorted(
        range(len(centroids)),
        key=lambda i: sum((q - c) ** 2 for q, c in zip(query_vec, centroids[i])),
    )
    probes = scored[:nprobe]
    return cosine_topk(
        indexed.where(F.col("ivf_cluster").isin(probes)), query_vec, k, vec_col, id_col
    )


def ann_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket, exact cosine
    inside. ``multiprobe=d`` additionally probes every bucket within d bit
    flips (the standard multi-probe LSH recall lever: 1 flip probes
    n_planes+1 buckets and typically recovers most boundary losses without
    touching index layout). The bucket filter stays a pushable IN
    predicate."""
    planes = hyperplane_planes(len(query_vec), n_planes, seed)
    qbits = "".join(
        "1" if sum(q * p for q, p in zip(query_vec, plane)) >= 0 else "0"
        for plane in planes
    )
    probes = {qbits}
    frontier = {qbits}
    for _ in range(multiprobe):
        nxt = set()
        for b in frontier:
            for i in range(n_planes):
                nxt.add(b[:i] + ("0" if b[i] == "1" else "1") + b[i + 1:])
        probes |= nxt
        frontier = nxt
    sketched = hyperplane_sketch(df, len(query_vec), n_planes, seed, vec_col)
    return cosine_topk(
        sketched.where(F.col("lsh_bucket").isin(sorted(probes))),
        query_vec, k, vec_col, id_col,
    )


def quantize_embeddings(
    df: DataFrame,
    emb_col: str = "embedding",
    out: str = "emb_q",
    scale_out: str = "emb_scale",
    keep_original: bool = True,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round_half_up(x_i / scale)`` — the standard 4× memory/shuffle
    compression for embedding stores (similarity search state, ANN
    bucket payloads) with ~<1% cosine error at d ≳ 64.

    Row-local HOF algebra (one max-abs fold + one transform, let-bound
    single evaluation); rounding uses the portable floor(x+0.5) form so a
    SQL engine replays it bit-for-bit. Zero vectors quantize to zeros
    with scale 0. Dequantize with ``dequantize_embeddings``; at 100 TB
    quantize BEFORE the banding/bucketing shuffle so candidate-pair state
    ships int8, not float32.
    """
    def mk(a: Column) -> Column:
        # NESTED bind: the max-abs fold is O(d), and referencing it inside
        # the per-element transform would re-run the fold per element
        # (O(d^2) per row) — let-bind the SCALAR too, so each element
        # reads a slot instead of re-folding
        def with_max(max_abs: Column) -> Column:
            scale = max_abs / F.lit(127.0)
            return F.struct(
                scale.alias("scale"),
                F.when(max_abs == 0, F.transform(a, lambda x: F.lit(0).cast("int")))
                .otherwise(
                    F.transform(
                        a,
                        lambda x: F.floor(
                            x.cast("double") / scale + F.lit(0.5)
                        ).cast("int"),
                    )
                )
                .alias("q"),
            )

        return bind(
            F.aggregate(
                a,
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
            ),
            with_max,
        )

    packed = df.withColumn("__qz", bind(F.col(emb_col), mk))
    res = packed.withColumn(scale_out, F.col("__qz.scale")).withColumn(
        out, F.col("__qz.q")
    ).drop("__qz")
    return res if keep_original else res.drop(emb_col)


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    out: str = "centroid",
) -> DataFrame:
    """Per-group mean vector (class centroids): the building block for
    semantic cluster summaries, IVF re-training, nearest-centroid
    classification, and embedding-drift monitoring.

    Plan: posexplode to (label, dim, component) — the d-fold fan-out is
    bounded and each exploded row is 24 bytes — then ONE groupBy
    (label, dim) with map-side partial avg (the shuffle carries
    n_labels × d partial sums per mapper, not corpus rows), then a
    per-label sort+collect of the d averaged dims back into an array.
    No collect_list of raw vectors ever happens (that would buffer whole
    groups in executor memory); state per aggregation key is one
    (sum, count) pair.
    """
    comps = fan_out(df).select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("__i", "__v"),
    )
    dims = comps.groupBy(label_col, "__i").agg(
        F.avg(F.col("__v").cast("double")).alias("__c")
    )
    return (
        dims.groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__i", "__c"))),
                lambda s: s["__c"],
            ).alias(out)
        )
    )


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: int = 7,
    vec_col: str = "embedding",
    out: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map ``in_dim``-d embeddings
    onto ``out_dim`` seeded unit-Gaussian directions (the same
    deterministic plane generator the LSH sketch uses). Pairwise cosine /
    distance structure is approximately preserved, so the reduced space
    is the cheap FIRST pass of a two-stage search: brute-force or bucket
    in ``out_dim`` (4–8× less compute and shuffle bytes), exact re-rank
    in ``in_dim`` only on survivors.

    Plan: projection matrix is an out_dim×in_dim literal in the plan
    (KBs — no broadcast machinery), one row-local ``transform``+``dot``
    per output dim, zero shuffle. At 100 TB this runs at scan speed and
    cuts every DOWNSTREAM shuffle carrying vectors by in_dim/out_dim.
    """
    planes = hyperplane_planes(in_dim, out_dim, seed)
    v = F.col(vec_col)
    # floor(x*1e6+0.5)/1e6 rounding (not F.round) so an ANSI-SQL oracle
    # replays the components bit-for-bit
    comps = [
        F.floor(dot(v, F.array(*[F.lit(x) for x in p])) * 1e6 + F.lit(0.5)) / 1e6
        for p in planes
    ]
    return df.withColumn(out, F.array(*comps))


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "emb_q",
    scale_col: str = "emb_scale",
    out: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: x̂_i = q_i · scale (double)."""
    return df.withColumn(
        out,
        F.transform(F.col(q_col), lambda q: q.cast("double") * F.col(scale_col)),
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    a_id_col: str = "anchor_id",
    a_vec_col: str = "anchor_vec",
    a_label_col: str = "anchor_label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor, the ``k`` most-similar corpus vectors with a DIFFERENT label —
    the near-miss examples that make metric-learning batches informative
    (random negatives are trivially separable; hard ones carry the
    gradient signal).

    Same plan shape as ``batch_topk`` (the sanctioned broadcast pattern:
    corpus stays partition-local, only the anchor table broadcasts; norms
    precomputed per side; row_number plans as WindowGroupLimit so each
    mapper ships ≤ k candidates per anchor) with the label-mismatch
    predicate applied BEFORE the top-k window — "k hardest negatives",
    not "negatives among the top k".
    """
    c = fan_out(corpus).select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    a = anchors.select(
        F.col(a_id_col),
        F.col(a_label_col),
        F.col(a_vec_col).alias("__av"),
        norm(F.col(a_vec_col)).alias("__an"),
    )
    scored = (
        c.join(F.broadcast(a), F.col(label_col) != F.col(a_label_col))
        .select(
            a_id_col,
            a_label_col,
            id_col,
            label_col,
            F.round(
                F.try_divide(dot(F.col("__cv"), F.col("__av")), F.col("__cn") * F.col("__an")), 6
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(a_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def positive_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    a_id_col: str = "anchor_id",
    a_vec_col: str = "anchor_vec",
    a_label_col: str = "anchor_label",
) -> DataFrame:
    """Positive-pair mining — ``hard_negatives``' complement for supervised
    contrastive batches: per anchor, the ``k`` most-similar corpus vectors
    with the SAME label (self excluded). Together the two calls build the
    full (anchor, positive, negatives…) tuple stream; identical plan
    shape (broadcast anchors, predicate before the top-k window,
    WindowGroupLimit map-side trim).
    """
    c = fan_out(corpus).select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    a = anchors.select(
        F.col(a_id_col),
        F.col(a_label_col),
        F.col(a_vec_col).alias("__av"),
        norm(F.col(a_vec_col)).alias("__an"),
    )
    scored = (
        c.join(
            F.broadcast(a),
            (F.col(label_col) == F.col(a_label_col))
            & (F.col(id_col) != F.col(a_id_col)),
        )
        .select(
            a_id_col,
            id_col,
            label_col,
            F.round(
                F.try_divide(dot(F.col("__cv"), F.col("__av")), F.col("__cn") * F.col("__an")), 6
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(a_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def pq_build(
    df: DataFrame,
    m: int = 2,
    k: int = 4,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    round_to: int | None = 6,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization: split each vector into ``m`` contiguous
    sub-vectors and k-means-quantize every block independently
    (Jégou et al., TPAMI'11) — the memory-compression workhorse for
    billion-vector ANN (a 64-d float32 vector becomes m bytes of codes +
    shared KB-sized codebooks, a 32-128× shrink with per-block recall).

    Each block runs the same DataFrame-native Lloyd as ``ivf_build``
    (deterministic init = first k vectors' sub-vectors; ``round_to``
    keeps the trajectory engine-replayable), so per block the corpus work
    is one narrow slice projection + iterations × (row-local assign +
    k×width re-center shuffle). Codes attach via row-local assignment
    against codebook LITERALS — no join against the data is ever needed
    at lookup time. Returns (df + ``code_0..code_{m-1}`` int columns,
    per-block codebooks).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    width = dim // m
    codebooks: list[list[list[float]]] = []
    for b in range(m):
        block = df.select(
            id_col, F.slice(vec_col, b * width + 1, width).alias("embedding")
        )
        _, cents = ivf_build(
            block, nlist=k, iterations=iterations, id_col=id_col,
            round_to=round_to,
        )
        codebooks.append(cents)
    # r10: codes attach as row-local assignment columns against the
    # FINAL codebook literals — the former per-block `df JOIN assigned`
    # re-scanned the corpus per block and shuffled it m times for
    # nothing (assignment is a pure projection of the row's own vector:
    # emb_pq_codes planned 3 base scans + 2 joins, 1 scan + 0 joins
    # after). ivf_build's Lloyd trajectory (collect-bounded centroid
    # state only) is unchanged, so the codebooks — and therefore every
    # code — are bit-identical.
    out = df
    for b, cents in enumerate(codebooks):
        out = out.withColumn(
            f"code_{b}",
            ivf_assign_col(F.slice(vec_col, b * width + 1, width), cents),
        )
    return out, codebooks


def pq_adc_topk(
    coded: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance PQ search (ADC): per block, precompute the
    query's squared distance to each of the block's centroids DRIVER-side
    (m × k values — the classic lookup tables), then every row's
    approximate distance is just m table lookups + adds on its stored
    codes. The corpus is scanned once with a row-local projection — no
    vector arithmetic, no join, no shuffle; at billion-vector scale the
    scan touches m bytes of codes per row instead of dim×4 bytes of
    floats.

    Table entries are rounded to 6dp so the ranking replays exactly in
    any engine; ties break on ``id_col``. Returns the top-k (id, adc_dist).
    """
    import math as _math

    width = len(codebooks[0][0])
    dist: Column | None = None
    for b, book in enumerate(codebooks):
        qb = [float(x) for x in query_vec[b * width:(b + 1) * width]]
        table = [
            _math.floor(
                sum((q - c) * (q - c) for q, c in zip(qb, cent)) * 1e6 + 0.5
            ) / 1e6
            for cent in book
        ]
        d = F.element_at(
            F.array(*[F.lit(t) for t in table]), F.col(f"code_{b}") + 1
        )
        dist = d if dist is None else dist + d
    return (
        coded.select(id_col, dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


# --- PCA / whitening ---------------------------------------------------------
#
# Standard embedding preprocessing for training-data pipelines (SemDeDup-
# style clustering, retrieval whitening, dimensionality reduction before
# ANN). The 100 TB shape: a d-dim embedding's second-moment matrix is
# d×d REGARDLESS of row count, so each partition reduces its rows to one
# (n, Σx, ΣxxT) partial via vectorized numpy (mapInPandas), and only
# ≤numPartitions tiny partial rows ever move — no per-row shuffle, no
# driver-side loop over data. The eigendecomposition runs on the d×d
# matrix (microseconds); the projection is pure JVM Column algebra.


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first non-NULL vector, with a clear
    error instead of an opaque ``TypeError: NoneType`` when the frame is
    empty or all vectors are NULL (r5 ADVICE). Bounded: a 1-row limit
    scan, same cost class as the previous bare ``first()``."""
    row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer vector dim: no non-NULL {vec_col!r} values "
            "(empty input?) — pass dim= explicitly"
        )
    return len(row[0])


def moment_partials(df: DataFrame, vec_col: str = "embedding",
                    dim: int | None = None) -> DataFrame:
    """Per-partition (n, sum, flattened second-moment) rows: the mergeable
    sufficient statistic for mean/covariance/PCA. One narrow Arrow map;
    output size = numPartitions × (d² + d + 1) doubles, independent of
    row count. NULL or wrong-dimension vectors are filtered IN-PLAN
    before the numpy stage (a single ragged row would otherwise fail the
    whole-partition matmul — hostile-input robustness, same contract as
    the decode family)."""
    import pandas as pd

    if dim is None:
        dim = _infer_dim(df, vec_col)
    df = df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == int(dim))
        & ~F.exists(vec_col, lambda x: x.isNull())
    )

    def partial(batches):
        import numpy as np

        n = 0
        s = np.zeros(dim)
        m = np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n += X.shape[0]
            s += X.sum(axis=0)
            m += X.T @ X
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "m": [m.reshape(-1).tolist()]}
        )

    return df.select(vec_col).mapInPandas(
        partial, schema="n bigint, s array<double>, m array<double>"
    ).where(F.col("n") > 0)


def covariance_entries(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    row: int | None = None,
    diagonal: bool = True,
) -> DataFrame:
    """Covariance entries cov(i,j) = E[x_i x_j] − E[x_i]E[x_j] as a
    DataFrame (i, j, cov) — combined fully IN-PLAN from the mergeable
    partials (explode ≤numPartitions tiny rows → sum per index), so no
    driver collect anywhere. ``row``/``diagonal`` restrict the output
    (the full d² grid is available with row=None, diagonal=False →
    everything)."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    # the partials frame is referenced THREE times below (n, s, m) —
    # without materialization Spark would rerun the data-sized numpy
    # scan per reference; the checkpoint is ≤numPartitions tiny rows
    parts = moment_partials(df, vec_col, dim).localCheckpoint(eager=True)
    n_tot = parts.agg(F.sum("n").alias("n"))
    s_sum = (
        parts.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i").agg(F.sum("v").alias("s"))
    )
    m_sum = (
        parts.select(F.posexplode("m").alias("pos", "v"))
        .groupBy("pos").agg(F.sum("v").alias("m"))
        .select(
            (F.col("pos") / dim).cast("int").alias("i"),
            F.pmod("pos", F.lit(dim)).cast("int").alias("j"),
            "m",
        )
    )
    keep = None
    if diagonal:
        keep = F.col("i") == F.col("j")
    if row is not None:
        cond = F.col("i") == int(row)
        keep = cond if keep is None else (keep | cond)
    if keep is not None:
        m_sum = m_sum.where(keep)
    out = (
        m_sum.crossJoin(F.broadcast(n_tot))
        .join(F.broadcast(s_sum.withColumnsRenamed({"i": "ii", "s": "si"})),
              F.col("i") == F.col("ii"))
        .join(F.broadcast(s_sum.withColumnsRenamed({"i": "jj", "s": "sj"})),
              F.col("j") == F.col("jj"))
    )
    cov = (F.col("m") / F.col("n")
           - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")))
    return out.select("i", "j", cov.alias("cov"))


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    dim: int | None = None,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit PCA: (mean, components k×d, eigenvalues desc). The only
    driver-side data is the ≤numPartitions moment partials (the same
    bounded-collect pattern as `ivf_build`'s centroids); the d×d ``eigh``
    is microseconds. Component signs are canonicalized (largest-|entry|
    coordinate made positive) so the fit is deterministic up to
    eigenvalue ties."""
    import numpy as np

    if dim is None:
        dim = _infer_dim(df, vec_col)
    parts = moment_partials(df, vec_col, dim).collect()
    return pca_from_moments(parts, dim, k)


def pca_from_moments(parts, dim: int, k: int):
    """The eigen step over collected (n, s, m) moment rows — shared by
    the batch fit and the streaming moments store (`streaming.jobs.
    moments_sink`), so a model fit incrementally from micro-batches is
    the same computation as one fit from a full scan."""
    import numpy as np

    parts = [r for r in parts if r["n"]]
    if not parts:
        raise ValueError("pca_from_moments: no vectors")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    m = np.sum([np.asarray(r["m"]).reshape(dim, dim) for r in parts], axis=0)
    mean = s / n
    cov = m / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)          # ascending, orthonormal
    order = np.argsort(evals)[::-1][: int(k)]
    comps = evecs[:, order].T.copy()
    evals = np.maximum(evals[order], 0.0)       # clip fp-negative tail
    for c in comps:
        j = int(np.argmax(np.abs(c)))
        if c[j] < 0:
            c *= -1.0
    return mean.tolist(), [c.tolist() for c in comps], evals.tolist()


def pca_project(
    df: DataFrame,
    mean: Sequence[float],
    components: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    out: str = "pca",
    whiten: Sequence[float] | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Project vectors onto fitted components: out_j = (x − mean)·c_j,
    optionally whitened by /sqrt(eigval_j + eps). Pure JVM Column algebra
    (zip_with + aggregate — no UDF), with the centered vector let-bound
    via `bind` so it is evaluated ONCE per row, not once per component:
    at k components an unbound expression would re-center the array k
    times — a k× scan-CPU bill at 100 TB."""
    mu = F.array(*[F.lit(float(v)) for v in mean])

    def proj(centered: Column) -> Column:
        cols = []
        for j, comp in enumerate(components):
            c = F.array(*[F.lit(float(v)) for v in comp])
            p = dot(centered, c)
            if whiten is not None:
                p = p / float(math.sqrt(float(whiten[j]) + eps))
            cols.append(p)
        return F.array(*cols)

    centered = F.zip_with(
        F.col(vec_col), mu, lambda x, m: x.cast("double") - m
    )
    return df.withColumn(out, bind(centered, proj))


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "cos_sim",
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    — diversity-aware selection over an ALREADY-BOUNDED candidate set
    (the top-N of a first-stage search): greedily pick
    argmax(λ·relevance − (1−λ)·max-similarity-to-selected), k times.

    The candidate set is search-result-sized (tens of rows), so each
    greedy round is a tiny candidates × selected join — never
    corpus-sized work; the expensive stage stays the first-stage top-N.
    All similarities floor-round to ``round_to`` decimals BEFORE each
    argmax (ties → smallest id), so the whole greedy trajectory replays
    exactly in a chained-CTE oracle. Returns (id, mmr_rank, mmr_score)
    for the k selected rows.

    Cost contract: the greedy argmax is inherently sequential, so this
    runs k driver-side rounds (k+1 small Spark jobs over the
    checkpointed candidate set). Fine for retrieval-sized k (5-50);
    for large k keep the selection in the first stage instead. The id
    column keeps its input type (string doc ids work — r6 ADVICE 4)."""
    q = 10 ** round_to
    rel = candidates.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        (F.floor(F.col(score_col) * q + F.lit(0.5)) / q).alias("rel"),
    ).localCheckpoint(eager=True)

    def pair_sim(a: Column, b: Column) -> Column:
        dot_ab = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        na = F.sqrt(F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0),
            lambda acc, v: acc + v))
        nb = F.sqrt(F.aggregate(
            F.transform(b, lambda x: x * x), F.lit(0.0),
            lambda acc, v: acc + v))
        return F.floor(dot_ab / (na * nb) * q + F.lit(0.5)) / q

    picked: list[tuple] = []  # (id, score) literals, grows to k
    remaining = rel
    for rank in range(1, k + 1):
        if rank == 1:
            scored = remaining.select(
                "cid", "cvec", F.col("rel").alias("mmr")
            )
        else:
            sel = rel.where(
                F.col("cid").isin([p[0] for p in picked])
            ).select(
                F.col("cid").alias("sid"), F.col("cvec").alias("svec")
            )
            scored = remaining.crossJoin(F.broadcast(sel)).groupBy(
                "cid", "cvec", "rel"
            ).agg(F.max(pair_sim(F.col("cvec"), F.col("svec"))).alias("msim"))
            scored = scored.select(
                "cid", "cvec",
                (
                    F.floor(
                        (F.lit(lam) * F.col("rel")
                         - F.lit(1.0 - lam) * F.col("msim")) * q + F.lit(0.5)
                    ) / q
                ).alias("mmr"),
            )
        top = scored.orderBy(F.desc("mmr"), "cid").first()
        if top is None:
            break
        picked.append((top["cid"], float(top["mmr"])))
        remaining = remaining.where(F.col("cid") != top["cid"])
    spark = candidates.sparkSession
    id_type = candidates.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        [(i, r + 1, s) for r, (i, s) in enumerate(picked)],
        f"{id_col} {id_type}, mmr_rank int, mmr_score double",
    )


def semantic_dedup(
    df: DataFrame,
    nlist: int = 4,
    iterations: int = 2,
    threshold: float = 0.4,
    round_to: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): k-means-partition the
    embedding space, then inside each cluster drop every vector that has a
    more-senior (smaller-id) neighbor with cosine >= ``threshold`` — the
    embedding-space sibling of MinHash near-dedup that catches paraphrases
    exact n-gram methods miss. Returns one row per input vector:
    (id, ivf_cluster, is_dup).

    Determinism/replayability: clustering is ``ivf_build``'s rounded Lloyd
    trajectory (engine-replayable for a fixed ``round_to``), and the
    cosine is floor(x*10^6+0.5)/10^6-rounded BEFORE the threshold compare,
    so the keep/drop decision reproduces bit-stably in ANSI SQL.

    Scale shape: the cluster is the candidate-blocking unit — pair
    expansion is row-local over each cluster's sorted id array (same
    combination-generation primitive as MinHash-LSH buckets, no self-join,
    no BroadcastNestedLoopJoin), and exact cosine runs on candidates only.
    SemDeDup's own contract is that ``nlist`` grows with the corpus so
    clusters stay ~10^3-10^4 vectors (the paper uses 50k clusters for
    LAION); ``max_cluster_size`` is the same mega-bucket star-edge guard
    the LSH paths expose — an over-full cluster (embedding-collapsed spam)
    emits representative star edges instead of O(n²) pairs, keeping the
    drop decision for members similar to the cluster head and giving up
    only pair completeness inside the pathological cluster. One
    materialized pass feeds the bucket build and both vector join-backs.
    """
    from impc_etl_spark.operators.dedup import _bucket_pairs

    assigned, _ = ivf_build(
        df, nlist=nlist, iterations=iterations,
        vec_col=vec_col, id_col=id_col, round_to=round_to,
    )
    side = (
        fan_out(assigned)
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            norm(F.col(vec_col)).alias("__n"),
            F.col("ivf_cluster"),
        )
        .localCheckpoint(eager=True)
    )
    buckets = (
        side.groupBy("ivf_cluster")
        .agg(F.sort_array(F.collect_set("__id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = _bucket_pairs(buckets, max_bucket_size=max_cluster_size)
    q = F.lit(10.0 ** 6)
    sim = (
        pairs.join(
            side.select(
                F.col("__id").alias("doc_a"),
                F.col("__v").alias("__va"), F.col("__n").alias("__na"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("__id").alias("doc_b"),
                F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_b",
            (
                F.floor(
                    F.try_divide(
                        dot(F.col("__va"), F.col("__vb")),
                        F.col("__na") * F.col("__nb"),
                    ) * q + F.lit(0.5)
                ) / q
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )
    dups = sim.select(F.col("doc_b").alias("__dup")).distinct()
    return (
        side.join(dups, side["__id"] == dups["__dup"], "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("ivf_cluster"),
            F.col("__dup").isNotNull().alias("is_dup"),
        )
    )


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× memory
    compression every large vector store applies before ANN serving
    (FAISS SQ8 / ScaNN int8): ``scale = max|v| / 127``, ``code_i =
    clamp(floor(v_i/scale + 0.5), -127, 127)``, dequant ``code·scale``.
    Emits per vector the scale, the quantization round-trip MSE (the
    quality number that decides whether SQ8 is safe for a given
    embedding space), and the code extremes as a sanity contract.

    Pure row-local higher-order Column algebra (aggregate for max|v|,
    transform/zip for codes and error) — scan speed, zero shuffle, and
    every double op is replayable in SQL. The floor(x+0.5) form is the
    engine-portable round (ties toward +inf on both engines); zero
    vectors get scale 0 / codes 0 / mse 0. NULL and EMPTY vectors emit
    no row — the similarity-module input contract plus the fact that an
    unnest-style SQL replay produces zero rows for them (emitting a
    NULL-stats row here would row-count-diverge from any such oracle).
    """
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)

    def quantize(s: Column) -> Column:
        def code(x: Column) -> Column:
            return F.when(s == 0.0, F.lit(0.0)).otherwise(
                F.greatest(
                    F.lit(-127.0),
                    F.least(F.lit(127.0), F.floor(x / s + F.lit(0.5))),
                )
            )
        codes = F.transform(v, code)
        err = F.zip_with(v, codes, lambda x, c: (x - c * s) * (x - c * s))
        n = F.size(v).cast("double")
        return F.struct(
            s.alias("scale"),
            (F.aggregate(err, F.lit(0.0), lambda a, e: a + e) / n).alias("mse"),
            F.array_max(codes).cast("long").alias("max_code"),
            F.array_min(codes).cast("long").alias("min_code"),
        )

    q = bind(scale, quantize)
    return fan_out(df).where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(
        F.col(id_col),
        q["scale"].alias("scale"),
        q["mse"].alias("mse"),
        q["max_code"].alias("max_code"),
        q["min_code"].alias("min_code"),
    )
