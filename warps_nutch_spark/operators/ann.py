"""Approximate-nearest-neighbor / embedding near-dup operators.

DataFrame compositions over an ``array<float>`` embedding column. Dot
products and norms are JVM-side ``aggregate``/``zip_with`` expressions
everywhere they run once-per-row; the DENSE per-candidate scoring
stages (batched sim-join, LSH cosine verify) hand whole Arrow batches
to a numpy kernel (``_dot_pass_batches``) whose per-row op order is
bit-identical to the JVM fold — guide §4.2's "vectorized native code
inside mapInArrow" shape, adopted in r6 after measuring the
interpreted higher-order fold at ~0.5-1 us/element on millions of
candidates.

Scale shapes:

- :func:`brute_force_topk` — exact baseline: broadcast the query
  vector, score every row, TakeOrderedAndProject. O(N·d), the
  documented ground truth.
- sign-LSH pipeline (:func:`sign_bits` -> :func:`banded_pairs` ->
  :func:`cosine_verify_pairs`) — the scale path: random-hyperplane
  signatures, banded bucket-join for candidates (never all-pairs),
  exact cosine only on candidates. Mirrors the proven
  minhash -> band -> jaccard-verify pattern. ``n_planes``/``n_bands``
  are parameters: the sandbox queries run 32 planes x 4 bands of 8
  bits (small data); a 100 TB corpus wants 64-256 planes with bands tuned to the
  target cosine threshold (collision prob per plane = 1 - theta/pi).

Hyperplanes are taken from a deterministic DataFrame (e.g. designated
corpus rows or precomputed constants) so results are reproducible
without RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .skew import scan_is_narrow, spread, spread_narrow_scan


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(c: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(c, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# --- unrolled fixed-dimension variants (DISABLED after measurement) --------
# Hypothesis tested in r6: unrolling the fold into a flat 64-term
# element_at chain ((0.0 + a1*b1) + a2*b2) + ... would beat the
# aggregate/zip_with higher-order form. A/B on 2M 64-dim rows measured
# the OPPOSITE — unrolled 8.7-11.1 s vs HOF 1.7-5.0 s (the wide
# element_at tree defeats codegen; the HOF loop is a tight specialized
# evaluator). _MAX_UNROLL_DIM = 0 keeps every dot/norm on the HOF form
# while preserving the call sites; dim_of short-circuits to None so no
# probe job runs. The REAL wins for the scorers were structural: norms
# hoisted to one-per-row below the joins, and candidate stages spread
# across cores (skew.spread) instead of AQE-coalesced to 1 task.
_MAX_UNROLL_DIM = 0


def dim_of(df: DataFrame, col: str = "embedding") -> int | None:
    """Vector dimensionality sampled from the first row (None when the
    table is empty or the probe fails); used only to pick the unrolled
    expression form — never to change results."""
    if _MAX_UNROLL_DIM <= 0:
        return None
    try:
        row = df.select(F.size(F.col(col)).alias("d")).head()
        d = int(row["d"]) if row is not None and row["d"] is not None else None
        return d if d is not None and 0 < d <= _MAX_UNROLL_DIM else None
    except Exception:
        return None


def dot_col_d(a: Column, b: Column, d: int | None) -> Column:
    if d is None:
        return dot_col(a, b)
    acc: Column = F.lit(0.0)
    for i in range(1, d + 1):
        acc = acc + F.element_at(a, i).cast("double") * F.element_at(b, i).cast(
            "double"
        )
    return acc


def norm_col_d(c: Column, d: int | None) -> Column:
    if d is None:
        return norm_col(c)
    acc: Column = F.lit(0.0)
    for i in range(1, d + 1):
        acc = acc + F.element_at(c, i).cast("double") * F.element_at(c, i).cast(
            "double"
        )
    return F.sqrt(acc)


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(
    emb: DataFrame, query: DataFrame, k: int, id_col: str = "vec_id",
    d: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine against a single broadcast query vector
    (column ``qe``). orderBy().limit() compiles to
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort shuffle. ``d``: vector dimension for the unrolled codegen
    scorer (callers composing over derived plans pass it explicitly so
    no probe job runs against the composed plan)."""
    # query norm evaluated once on the (1-row) broadcast side, not per
    # corpus row (guide §2.3: hoist invariant work out of the hot path;
    # cos = dot/(norm_a*norm_q) is the same expression tree factored)
    q = query.withColumn("_bf_nq", norm_col_d(F.col("qe"), d))
    joined = spread_narrow_scan(emb).crossJoin(F.broadcast(q))
    cos = dot_col_d(F.col("embedding"), F.col("qe"), d) / (
        norm_col_d(F.col("embedding"), d) * F.col("_bf_nq")
    )
    return (
        joined.select(id_col, F.round(cos, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def sq8_quantize_col(vec: Column, scale: float = 64.0) -> Column:
    """int8 scalar quantization: q_i = clamp(round(x_i·scale), ±127).
    At 100 TB the quantized corpus is what sits on disk/in cache —
    4× fewer scan bytes per vector than float32 — and because cosine
    is scale-invariant, cosine over the int arrays EQUALS cosine over
    the dequantized vectors (q/scale): the coarse stage needs no
    dequantization at all."""
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), F.round(x.cast("double") * scale, 0))
        ).cast("int"),
    )


def sq8_topk_rescored(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    coarse_factor: int = 4,
    scale: float = 64.0,
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage quantized ANN: coarse top-(k·coarse_factor) by
    int8-quantized cosine (the cheap scan), then exact float cosine
    rescoring of just those candidates, final top-k. Both stages
    compile to TakeOrderedAndProject (per-partition partial top-k, no
    global sort); the rescore touches coarse_factor·k rows, not the
    corpus. Ordering is the total (score DESC, id ASC) in both stages
    so results are deterministic."""
    # quantize + norm the query ONCE on the 1-row broadcast side; the
    # corpus-side scan then pays one quantize + one norm + one dot per
    # row instead of re-quantizing/re-norming the query per row
    q = query.withColumn("_qq", sq8_quantize_col(F.col("qe"), scale))
    q = q.withColumn("_qq_n", norm_col(F.col("_qq")))
    joined = spread_narrow_scan(emb).crossJoin(F.broadcast(q))
    qemb = sq8_quantize_col(F.col("embedding"), scale)
    qcos = dot_col(qemb, F.col("_qq")) / (norm_col(qemb) * F.col("_qq_n"))
    coarse = (
        joined.select(id_col, "embedding", "qe", F.round(qcos, 4).alias("qcosine"))
        .orderBy(F.desc("qcosine"), F.asc(id_col))
        .limit(k * coarse_factor)
    )
    cos = cosine_col(F.col("embedding"), F.col("qe"))
    return (
        coarse.select(id_col, F.round(cos, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def sign_bits(emb: DataFrame, planes: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, bits): sign-LSH signature string over the hyperplanes
    (``plane_id``, ``pe``). Planes broadcast; one wide groupBy."""
    joined = spread_narrow_scan(emb).crossJoin(F.broadcast(planes))
    d = dot_col(F.col("embedding"), F.col("pe"))
    bits = joined.select(
        id_col,
        "plane_id",
        F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")).alias("bit"),
    )
    return bits.groupBy(id_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("plane_id"), F.col("bit")))),
                lambda s: s.getField("bit"),
            ),
        ).alias("bits")
    )


def sign_bits_lit(
    emb: DataFrame, plane_vectors: list[list[float]], id_col: str = "vec_id"
) -> DataFrame:
    """(id, bits) like :func:`sign_bits`, but with the hyperplanes as
    literal arrays evaluated in ONE pass per row. The crossJoin form
    duplicates every embedding P times through the join (P x the Arrow
    and shuffle volume); with P planes of d dims as literals the scan
    stays single-pass — the right shape when P x d is small (planes
    are broadcast-sized by definition). Bit semantics are identical:
    sequential double accumulation, bit = dot >= 0."""
    planes_lit = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in plane])
            for plane in plane_vectors
        ]
    )
    bits = F.concat_ws(
        "",
        F.transform(
            planes_lit,
            lambda p: F.when(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"), p, lambda x, y: x.cast("double") * y
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
    )
    return spread_narrow_scan(emb).select(id_col, bits.alias("bits"))


def banded_pairs(
    bits: DataFrame, n_bands: int, band_len: int, id_col: str = "vec_id"
) -> DataFrame:
    """Distinct candidate pairs sharing at least one band bucket —
    the LSH bucket-join (same shape as the MinHash band join; never
    an all-pairs product)."""
    # one posexplode generator per signature row instead of n_bands
    # unioned scans of the bits subtree (the union form re-ran the
    # full plane-dot projection once per band per join side)
    bands = bits.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.substring("bits", b * band_len + 1, band_len)
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "key"),
    )
    a, bb = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _pair_scores_by_id(vecs, pairs, id_col="vec_id", emb_col="embedding"):
    """Batch-gated ID-closure scoring core: when the vector table is
    batch-bounded (narrow scan), broadcast the (id -> vector) matrix to
    the workers and score ``pairs`` (columns ``id_a``, ``id_b``) from
    their IDs alone — the pair stream crosses the Python boundary at
    16 B/row instead of carrying two ~256 B embedding arrays through
    two joins (30x less Arrow traffic, and the attach joins disappear
    from the plan). Per-vector norms are computed once per task; the
    dot/norm folds run dimension-by-dimension in float64, bit-identical
    to the JVM expression fold. Returns (id_a, id_b, _dot, _na, _nb)
    or None (caller falls back to the join form) when the table is not
    batch-bounded, IDs are not integer-typed, the embedding elements
    are not float (the matrix is float32: cutting ``array<double>``
    to it would change the scores), or the embeddings do not form one
    dense matrix (a null or ragged embedding, a null element).
    Duplicate ids in ``vecs`` are tolerated when they carry the same
    vector (first occurrence wins)."""
    import numpy as np

    if not scan_is_narrow(vecs):
        return None
    id_field = vecs.schema[id_col].dataType.typeName()
    if id_field not in ("long", "integer", "short", "byte"):
        return None
    if vecs.schema[emb_col].dataType.elementType.typeName() != "float":
        return None
    rows = vecs.select(id_col, emb_col).collect()
    if not rows:
        return None
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    try:
        M = np.array([r[1] for r in rows], dtype=np.float32)
    except ValueError:  # ragged, or a null among non-null embeddings
        return None
    # all-null embeddings give a 1-D array; a null element reads as NaN
    # here but as null in the JVM fold, so the join form scores both
    if M.ndim != 2 or np.isnan(M).any():
        return None
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    keep = np.concatenate([[True], np.diff(ids) != 0])
    if not keep.all():
        # a duplicate id is only safe when it carries the identical
        # vector (e.g. a query table that is a slice of the corpus);
        # consecutive-row comparison covers runs of any length
        dup = np.flatnonzero(~keep)
        if not np.array_equal(M[dup], M[dup - 1]):
            return None
    bc = vecs.sparkSession.sparkContext.broadcast((ids[keep], M[keep]))

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        sids, mat = bc.value
        M64 = mat.astype(np.float64)
        norms = np.zeros(len(M64), dtype=np.float64)
        for j in range(M64.shape[1]):
            norms += M64[:, j] * M64[:, j]
        norms = np.sqrt(norms)
        for batch in batches:
            names = batch.schema.names
            a = np.asarray(batch.column(names.index("id_a")), dtype=np.int64)
            b = np.asarray(batch.column(names.index("id_b")), dtype=np.int64)
            ia = np.clip(np.searchsorted(sids, a), 0, len(sids) - 1)
            ib = np.clip(np.searchsorted(sids, b), 0, len(sids) - 1)
            if not (np.array_equal(sids[ia], a) and np.array_equal(sids[ib], b)):
                raise ValueError(
                    "pair_scores_by_id: pair id absent from the broadcast "
                    "vector table — pairs must derive from the same vecs"
                )
            A, B = M64[ia], M64[ib]
            acc = np.zeros(len(A), dtype=np.float64)
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index("id_a")),
                    batch.column(names.index("id_b")),
                    pa.array(acc, pa.float64()),
                    pa.array(norms[ia], pa.float64()),
                    pa.array(norms[ib], pa.float64()),
                ],
                names=["id_a", "id_b", "_dot", "_na", "_nb"],
            )

    from pyspark.sql import types as T

    in_df = pairs.select("id_a", "id_b")
    out_schema = T.StructType(
        [
            in_df.schema["id_a"],
            in_df.schema["id_b"],
            T.StructField("_dot", T.DoubleType()),
            T.StructField("_na", T.DoubleType()),
            T.StructField("_nb", T.DoubleType()),
        ]
    )
    return in_df.mapInArrow(_score, out_schema)


def _verify_pairs_by_id(emb, pairs, threshold, id_col):
    """Batch-gated fast verify over :func:`_pair_scores_by_id`:
    threshold on the unrounded cosine, rounded output columns. Returns
    None when the core declines (caller falls back to the join form)."""
    scored = _pair_scores_by_id(emb, pairs, id_col)
    if scored is None:
        return None
    cos = F.col("_dot") / (F.col("_na") * F.col("_nb"))
    return scored.filter(cos > threshold).select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.round(cos, 4).alias("cosine"),
    )


def cosine_verify_pairs(
    emb: DataFrame, pairs: DataFrame, threshold: float, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine on candidate pairs only; keeps pairs above the
    threshold. Filter runs on the unrounded double (identical IEEE
    math in Spark and DuckDB over the same float32 inputs); the output
    rounds to 4 decimals for hash stability."""
    # norms evaluated once per vector row below the pair join: the
    # verify then costs one dot per candidate pair instead of
    # dot + 2 norms (cos = dot/(n_a*n_b), the same tree factored)
    d = dim_of(emb)
    # pin the verify's parallelism: the pair stream is 16 B/row but the
    # downstream dot is dense, and AQE byte-coalescing would serialize
    # it; an explicit spread exchange of two longs per row is free
    pairs = spread(pairs)
    fast = _verify_pairs_by_id(emb, pairs, threshold, id_col)
    if fast is not None:
        return fast
    ea = emb.select(
        F.col(id_col).alias("id_a"),
        F.col("embedding").alias("emb_a"),
        norm_col_d(F.col("embedding"), d).alias("_na"),
    )
    eb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col("embedding").alias("emb_b"),
        norm_col_d(F.col("embedding"), d).alias("_nb"),
    )
    joined = pairs.join(ea, on="id_a").join(eb, on="id_b")
    # batch-native dot via the shared mapInArrow kernel (bit-exact with
    # the JVM fold; division, threshold and rounding stay JVM-side).
    # The previous inline form also re-evaluated the dot in both the
    # filter and the rounded projection.
    from pyspark.sql import types as T

    in_df = joined.select(
        "id_a",
        "id_b",
        F.col("_na").alias("_ne"),
        F.col("_nb").alias("_nq"),
        F.col("emb_a").alias("embedding"),
        F.col("emb_b").alias("qe"),
    )
    out_schema = T.StructType(
        [
            in_df.schema["id_a"],
            in_df.schema["id_b"],
            in_df.schema["_ne"],
            in_df.schema["_nq"],
            T.StructField("_dot", T.DoubleType()),
        ]
    )
    cos = F.col("_dot") / (F.col("_ne") * F.col("_nq"))
    return (
        in_df.mapInArrow(_dot_pass_batches, out_schema)
        .filter(cos > threshold)
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(cos, 4).alias("cosine"),
        )
    )


def lsh_cosine_dedup(
    emb: DataFrame,
    planes,
    n_bands: int,
    band_len: int,
    threshold: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """bucket-join -> exact-cosine verify: the scale-safe near-dup
    pipeline (replaces the r1 within-label all-pairs join, which was
    O(n^2/labels) and flagged `weak`). ``planes`` is either a
    DataFrame (plane_id, pe) or a local list of plane vectors (the
    single-pass literal form)."""
    if isinstance(planes, list):
        bits = sign_bits_lit(emb, planes, id_col)
    else:
        bits = sign_bits(emb, planes, id_col)
    pairs = banded_pairs(bits, n_bands, band_len, id_col)
    return cosine_verify_pairs(emb, pairs, threshold, id_col)


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
    d: int | None = None,
) -> DataFrame:
    """(id, centroid_id): assign each vector to its nearest centroid
    by cosine (IVF coarse quantizer). Centroids (``centroid_id``,
    ``ce``) broadcast; ties break on centroid_id. At 100 TB the
    assignment is computed once and persisted as a partition column so
    probes prune partitions."""
    # centroid norms evaluated once on the broadcast side (K rows), and
    # the row's own norm once per row instead of once per (row, centroid)
    cent = centroids.withColumn("_nc", norm_col_d(F.col("ce"), d))
    joined = spread_narrow_scan(emb).withColumn(
        "_ne", norm_col_d(F.col("embedding"), d)
    ).crossJoin(F.broadcast(cent))
    cos = dot_col_d(F.col("embedding"), F.col("ce"), d) / (
        F.col("_ne") * F.col("_nc")
    )
    # argmax as a map-side-combinable aggregate instead of a
    # row_number window: max(struct(cos, -centroid_id)) picks the same
    # row as rank-1 under (cos DESC, centroid_id ASC) — double
    # comparison semantics are the sort's, ties on cos break to the
    # smaller centroid via the negated id — and the partial aggregation
    # collapses the n_rows x n_centroids product to one row per vector
    # BEFORE the exchange, where the window shuffled and sorted it all
    return (
        joined.select(id_col, "centroid_id", cos.alias("cos"))
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("cos"), (-F.col("centroid_id")).alias("_negc"))
            ).alias("_b")
        )
        .select(id_col, (-F.col("_b._negc")).alias("centroid_id"))
    )


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: probe the ``n_probe`` centroids nearest the query,
    exact top-k only within their clusters — the inverted-file ANN
    path (brute_force_topk is the exact baseline). Scale shape: the
    candidate scan is ``n_probe / n_centroids`` of the corpus, and with
    the assignment persisted as a partition column it is a partition-
    pruned scan, not a filter."""
    d = dim_of(emb)
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select("centroid_id", cosine_col(F.col("ce"), F.col("qe")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    assign = ivf_assign(emb, centroids, id_col, d=d)
    cand = emb.join(assign, on=id_col).join(
        F.broadcast(probe), on="centroid_id", how="left_semi"
    )
    return brute_force_topk(cand, query, k, id_col, d=d)


def ivf_write_index(
    emb: DataFrame, centroids: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Materialize the IVF inverted file: embeddings written to disk
    PARTITIONED BY their centroid assignment. This is the 100 TB form
    of :func:`ivf_topk`'s docstring claim — the assignment is computed
    once, and every probe afterwards is a partition-pruned scan that
    reads only n_probe / n_centroids of the corpus."""
    assign = ivf_assign(emb, centroids, id_col)
    (
        emb.join(assign, on=id_col)
        # cluster rows by the partition value before the write:
        # without this every write task emits one file per centroid it
        # happens to hold (tasks x centroids tiny files — 256 at the
        # bench shape), and both the write commit and every later
        # probe pay the per-file overhead. Hash-clustering bounds the
        # file count at one per centroid; at scale a hot centroid's
        # single-task file is bounded by splitting clusters across
        # more centroids (n_list scales with corpus size in IVF), not
        # by fragmenting the write.
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search over a materialized index (:func:`ivf_write_index`).

    The probe list is n_probe ints chosen by ranking the (tiny,
    broadcastable) centroid table against the single query vector —
    resolved driver-side so the scan filter is LITERAL IN on the
    partition column: static partition pruning (``PartitionFilters``
    in the plan, ``n_probe`` partition dirs read), not a post-scan
    filter. Same results as :func:`ivf_topk` by construction."""
    probe_ids = [
        r["centroid_id"]
        for r in (
            centroids.crossJoin(F.broadcast(query))
            .select("centroid_id", cosine_col(F.col("ce"), F.col("qe")).alias("cos"))
            .orderBy(F.desc("cos"), F.asc("centroid_id"))
            .limit(n_probe)
            .collect()
        )
    ]
    cand = spark.read.parquet(index_path).filter(F.col("centroid_id").isin(probe_ids))
    return brute_force_topk(cand, query, k, id_col)


def allpairs_cosine(emb: DataFrame, threshold: float, id_col: str = "vec_id") -> DataFrame:
    """All-pairs ground truth — TEST-TIME ONLY (O(n^2)); used by pytest
    to measure the LSH pipeline's recall on constructed near-dups."""
    a = emb.alias("a")
    b = emb.alias("b")
    joined = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cos = cosine_col(F.col("a.embedding"), F.col("b.embedding"))
    return joined.filter(cos > threshold).select(
        F.col(f"a.{id_col}").alias("vec_a"),
        F.col(f"b.{id_col}").alias("vec_b"),
        F.round(cos, 4).alias("cosine"),
    )


def _dot_pass_batches(batches):
    """mapInArrow kernel: per-row dot(embedding, qe) with EXACTLY the
    JVM fold's IEEE semantics — each float is widened to double and the
    products are accumulated left-to-right in dimension order. The
    vectorized path loops over DIMENSIONS (one double mul + one double
    add per dim, vectorized across the batch's rows), so per-row op
    order matches ``dot_col`` bit for bit
    (verified: 0/1.66M mismatches vs the JVM scorer at sf1). Division
    and HALF_UP rounding stay JVM-side — only the dot crosses.
    Falls back to a per-row Python fold (same op order) for ragged or
    null-bearing batches."""
    import numpy as np
    import pyarrow as pa

    def as_mat(col):
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        if arr.null_count:
            return None
        offs = np.asarray(arr.offsets)
        if len(offs) < 2:
            return None
        d = offs[1] - offs[0]
        if d <= 0 or not np.all(np.diff(offs) == d):
            return None
        vals = np.asarray(arr.values, dtype=np.float64)[offs[0] : offs[-1]]
        return vals.reshape(len(arr), d)

    for batch in batches:
        names = batch.schema.names
        a = batch.column(names.index("embedding"))
        b = batch.column(names.index("qe"))
        A, B = as_mat(a), as_mat(b)
        if A is not None and B is not None and A.shape == B.shape:
            acc = np.zeros(len(A), dtype=np.float64)
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            dots = pa.array(acc, pa.float64())
        else:
            rows_a, rows_b = a.to_pylist(), b.to_pylist()
            out = []
            for x, y in zip(rows_a, rows_b):
                if x is None or y is None or len(x) != len(y):
                    out.append(None)  # zip_with null-padding -> null sum
                    continue
                s = 0.0
                for xj, yj in zip(x, y):
                    s += float(xj) * float(yj)
                out.append(s)
            dots = pa.array(out, pa.float64())
        keep = [n for n in names if n not in ("embedding", "qe")]
        yield pa.RecordBatch.from_arrays(
            [batch.column(names.index(n)) for n in keep] + [dots],
            names=keep + ["_dot"],
        )


def _scored_candidates(cand: DataFrame, query_id_col: str, id_col: str) -> DataFrame:
    """(query_id, id, cosine) for candidate rows carrying embedding/qe
    and the pre-hoisted norms. The dot runs batch-native via mapInArrow
    (~2-3x the interpreted higher-order fold at 1.7M candidates);
    cosine = round(dot/(_ne*_nq), 4) stays JVM-side so rounding and
    division are untouched."""
    from pyspark.sql import types as T

    in_df = cand.select(query_id_col, id_col, "_ne", "_nq", "embedding", "qe")
    out_schema = T.StructType(
        [
            in_df.schema[query_id_col],
            in_df.schema[id_col],
            in_df.schema["_ne"],
            in_df.schema["_nq"],
            T.StructField("_dot", T.DoubleType()),
        ]
    )
    return in_df.mapInArrow(_dot_pass_batches, out_schema).select(
        query_id_col,
        id_col,
        F.round(F.col("_dot") / (F.col("_ne") * F.col("_nq")), 4).alias("cosine"),
    )


def ivf_topk_batch(
    emb: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batched similarity JOIN: exact top-k per query over the probed
    IVF clusters, for a whole DataFrame of queries (``query_id``,
    ``qe``) at once — the realistic retrieval shape (a single query is
    ivf_topk; a training-data pipeline scores millions).

    Scale shape: the corpus is assigned once (ivf_assign; persisted,
    it is a partition column); each query probes its ``n_probe``
    nearest centroids via a broadcast of the (small) centroid table;
    the candidate join keys on centroid_id, so the shuffle is
    ~|Q| x corpus/n_centroids x n_probe candidate rows — never
    |Q| x corpus. Per-query top-k is a rank window over candidates,
    partitioned by query (no global sort).
    """
    from pyspark.sql import Window

    narrow = scan_is_narrow(emb)
    d = dim_of(emb)
    probe = _probe_table(queries, centroids, n_probe, query_id_col, d=d)
    assign = ivf_assign(emb, centroids, id_col, d=d)
    scored = None
    if narrow:
        # ID-closure fast path (batch-gated, same as the LSH verify):
        # candidates cross the Python boundary as (query_id, vec_id)
        # pairs at 16 B/row against a broadcast (id -> vector) matrix,
        # instead of carrying embedding + qe (~0.5 KB/row) through the
        # probe join and the Arrow transpose. Query vectors ride in the
        # same matrix (duplicate ids tolerated because a query slice of
        # the corpus carries identical vectors; mismatching duplicates
        # decline the fast path).
        vecs = emb.select(id_col, "embedding").unionByName(
            queries.select(
                F.col(query_id_col).alias(id_col), F.col("qe").alias("embedding")
            )
        )
        pair_ids = spread(
            assign.join(probe.select(query_id_col, "centroid_id"), on="centroid_id")
            .select(
                F.col(query_id_col).alias("id_a"), F.col(id_col).alias("id_b")
            )
        )
        fast = _pair_scores_by_id(vecs, pair_ids, id_col)
        if fast is not None:
            scored = fast.select(
                F.col("id_a").alias(query_id_col),
                F.col("id_b").alias(id_col),
                F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 4).alias(
                    "cosine"
                ),
            )
    if scored is None:
        # corpus norm computed once per corpus row BELOW the candidate
        # join; with |cand| ~ |Q| x corpus x n_probe / n_centroids rows
        # the per-candidate work is then a single dot instead of
        # dot + 2 norms
        corpus = emb.withColumn("_ne", norm_col_d(F.col("embedding"), d)).join(
            assign, on=id_col
        )
        if narrow:
            # a few-MB corpus gets AQE-coalesced to ~1 task after the
            # assign join, serializing the dense per-candidate dot stage;
            # an explicit repartition is AQE-exempt (skew.spread docs)
            corpus = spread(corpus)
        cand = corpus.join(probe, on="centroid_id")
        scored = _scored_candidates(cand, query_id_col, id_col)
    topw = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(topw))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, id_col, "cosine", F.col("_rn").cast("bigint").alias("rank"))
    )


def _probe_table(queries, centroids, n_probe, query_id_col, d=None):
    """(query_id, qe, centroid_id): each query's n_probe nearest
    centroids, via a broadcast of the (small) centroid table."""
    from pyspark.sql import Window

    # norms hoisted to one evaluation per query row / per centroid row
    # (below the join, so the (query x centroid) product only pays the
    # dot); the probe rows also carry the query norm out so the
    # candidate scorer downstream never re-norms the query per pair
    cent = centroids.withColumn("_nc", norm_col_d(F.col("ce"), d))
    return (
        queries.withColumn("_nq", norm_col_d(F.col("qe"), d))
        .crossJoin(F.broadcast(cent))
        .select(
            query_id_col,
            "qe",
            "_nq",
            F.col("centroid_id"),
            (
                dot_col_d(F.col("qe"), F.col("ce"), d)
                / (F.col("_nq") * F.col("_nc"))
            ).alias("pcos"),
        )
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.desc("pcos"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("_pr") <= n_probe)
        .select(query_id_col, "qe", "_nq", "centroid_id")
    )


def ivf_topk_batch_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batched similarity join over a MATERIALIZED IVF index
    (:func:`ivf_write_index`) — same results as :func:`ivf_topk_batch`
    by construction, but the corpus assignment is NOT recomputed per
    call: the index directory already stores embeddings partitioned by
    ``centroid_id``, and the scan filter is a LITERAL IN over the
    union of every query's probe set (at most n_centroids values, so
    the driver-side resolve is O(1) regardless of |Q|), giving static
    partition pruning (``PartitionFilters`` in the plan — only the
    probed partition directories are read).

    This is the production retrieval shape at 100 TB: write the index
    once (one assign + one partitioned write), then every batch of
    queries reads corpus/n_centroids x n_probed_partitions bytes."""
    from pyspark.sql import Window

    d = dim_of(centroids, "ce")
    probe = _probe_table(queries, centroids, n_probe, query_id_col, d=d)
    probed_ids = sorted(
        r["centroid_id"]
        for r in probe.select("centroid_id").distinct().collect()
    )
    idx = spark.read.parquet(index_path).filter(F.col("centroid_id").isin(probed_ids))
    scored = None
    if scan_is_narrow(idx):
        # ID-closure fast path (see ivf_topk_batch): candidate rows are
        # (query_id, vec_id) pairs against a broadcast vector matrix
        # built from the pruned index partitions plus the query slice
        vecs = idx.select(id_col, "embedding").unionByName(
            queries.select(
                F.col(query_id_col).alias(id_col), F.col("qe").alias("embedding")
            )
        )
        pair_ids = spread(
            idx.select("centroid_id", id_col)
            .join(probe.select(query_id_col, "centroid_id"), on="centroid_id")
            .select(
                F.col(query_id_col).alias("id_a"), F.col(id_col).alias("id_b")
            )
        )
        fast = _pair_scores_by_id(vecs, pair_ids, id_col)
        if fast is not None:
            scored = fast.select(
                F.col("id_a").alias(query_id_col),
                F.col("id_b").alias(id_col),
                F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 4).alias(
                    "cosine"
                ),
            )
    if scored is None:
        corpus = spread_narrow_scan(idx).withColumn(
            "_ne", norm_col_d(F.col("embedding"), d)
        )
        cand = corpus.join(probe, on="centroid_id")
        scored = _scored_candidates(cand, query_id_col, id_col)
    topw = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(topw))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, id_col, "cosine", F.col("_rn").cast("bigint").alias("rank"))
    )
