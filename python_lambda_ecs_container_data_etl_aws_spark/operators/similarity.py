"""Similarity search over an embedding column (array<float>).

- :func:`brute_force_topk` — exact cosine top-k via a relational dot
  product (posexplode + join on position + sum). The correctness
  baseline; O(|Q|·|C|·dim) — fine for small query sets, the verify
  stage of ANN, and re-ranking.
- :func:`lsh_topk` / :func:`lsh_near_dup_pairs` — the scale path:
  random-hyperplane LSH (sign-bit signature) sliced into bands and run
  through the package's one banded-candidate primitive
  (``dedup._band_rows`` / ``dedup._band_pairs``): the band join
  carries ids only, and the embeddings are attached once, after the
  candidate distinct, for the exact cosine verify. Planes are
  generated from a fixed seed on the driver (a few KB) and inlined as
  a literal — no UDF, no shuffle for signatures.
- :func:`ivf_topk` — inverted-file cells from a k-means-lite fit:
  assign → cell join → exact verify.

At 100 TB the candidate side is partitioned by bucket and only
bucket-local pairs are scored; recall is tuned by (num_bits, num_bands).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _attach_payload, _band_pairs, _band_rows, _bit_bands


def _norm_sq(col):
    return F.aggregate(
        col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_norm_sq(a)) * F.sqrt(_norm_sq(b)))


def with_cosine(pairs: DataFrame, a_col: str = "a_emb", b_col: str = "b_emb") -> DataFrame:
    """Add ``cosine`` between two embedding columns (fold-based, JVM-side)."""
    return pairs.withColumn("cosine", _cosine(F.col(a_col), F.col(b_col)))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, cand_id, cosine, rnk)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    )
    c = emb.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_emb"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cosine(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def _hyperplanes(dim: int, num_bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian planes (Box-Muller over a tiny
    xorshift PRNG) — no numpy dependency on executors, fully seeded."""
    state = (seed or 1) & 0xFFFFFFFFFFFFFFFF

    def nxt() -> float:
        nonlocal state
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        return (state % 10_000_000) / 10_000_000.0

    planes = []
    for _ in range(num_bits):
        row = []
        while len(row) < dim:
            u1, u2 = max(nxt(), 1e-9), nxt()
            g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2)
            row.append(g)
        planes.append(row)
    return planes


def _matrix_sql(rows: list[list[float]]) -> str:
    """Render a small driver-side matrix as ONE nested-array literal.

    Emitting the matrix once and indexing it with ``element_at`` inside
    an ``aggregate`` lambda keeps the expression tree (and codegen)
    O(rows·dim) literals total, instead of repeating per-row dot
    expressions — the literal-per-bit loop this replaces compiled 16
    separate fold expressions and dominated wall-clock at small scale.
    """
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(repr(float(x)) + "D" for x in row) + ")"
            for row in rows
        )
        + ")"
    )


def lsh_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    num_bits: int = 16,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Append ``sig`` (BIGINT): bit i = sign(v · plane_i).

    One fold over the bit indices with the plane matrix as a single
    literal — same planes, same dots, same signature values as the
    per-bit expression chain, at a fraction of the codegen cost. Still
    a pure projection: no UDF, no shuffle."""
    planes_sql = _matrix_sql(_hyperplanes(dim, num_bits, seed))
    expr = (
        f"aggregate(sequence(0, {num_bits - 1}), cast(0 as bigint),"
        f" (acc, i) -> acc + IF("
        f"   aggregate(zip_with({vec_col}, element_at({planes_sql}, i + 1),"
        f"             (x, y) -> cast(x as double) * y),"
        f"             cast(0 as double), (a, v) -> a + v) > 0,"
        f"   shiftleft(1L, i), 0L))"
    )
    return df.withColumn("sig", F.expr(expr))


def _centroids_to_rows(centroids: list[list[float]]):
    return [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]


def ivf_fit(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
) -> list[list[float]]:
    """Deterministic k-means-lite for IVF cells.

    Init = the n_cells lowest-id vectors (seedless, reproducible);
    Lloyd iterations run distributed (assignment via literal-centroid
    expressions, means via posexplode + groupBy), only the k×dim
    centroid matrix ever touches the driver — the classic
    Spark k-means shape.

    ``fit_fraction`` fits on a seeded sample — the standard move at
    scale: centroid quality needs only a sketch of the density, not
    every vector, and each Lloyd iteration is a full job over the fit
    set. Assignment/probing (ivf_assign, ivf_topk) always run over the
    FULL corpus regardless.

    Tiny-corpus behavior (round-10 ADVICE): if the SAMPLE yields fewer
    than ``n_cells`` vectors the fit falls back to the full corpus; if
    the FULL corpus itself has fewer than ``n_cells`` vectors the cell
    count clamps to the corpus size (``len(init)`` drives everything
    downstream — ivf_assign/ivf_topk take ``len(centroids)`` as k, and
    an n_probe above the clamped count degrades to an exhaustive scan,
    never an error). Duplicate vectors in the init set leave a cell
    empty; its centroid persists unchanged, which is harmless.
    """
    fit = emb
    sampled = fit_fraction is not None and fit_fraction < 1.0
    if sampled:
        # persist the sketch: init + every Lloyd iteration scans it,
        # and without the cache each of those jobs re-reads the corpus
        # and re-evaluates the sample filter (guide §5: reuse ×
        # recompute cost). Released before returning — fit state must
        # not outlive the fit.
        fit = emb.sample(
            withReplacement=False, fraction=fit_fraction, seed=42
        ).persist()
    # Init = the n_cells lowest-id vectors. Deliberately NOT k-means++
    # or farthest-point: both were implemented and measured WORSE here
    # (recall@5 with n_probe=4/8 cells: lowest-id 0.92 full / 0.80
    # sampled, farthest-point 0.82/0.76, seeded k-means++ 0.74/0.78).
    # At fixed n_probe, recall tracks how much corpus the probed cells
    # cover — better-balanced cells cover exactly n_probe/n_cells of
    # it, while the skew this init tolerates makes hot probed cells
    # cover more. Revisit only together with the n_probe policy.
    init = fit.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    if len(init) < n_cells and fit is not emb:
        # a small corpus can sample away partially or entirely; fall
        # back to the full corpus rather than crash or silently return
        # fewer cells than asked (sketch-fit is an optimization, not a
        # semantic requirement)
        fit.unpersist()
        fit, sampled = emb, False
        init = fit.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    if not init:
        if sampled:
            fit.unpersist()
        raise ValueError("cannot fit IVF cells on an empty corpus")
    centroids = [[float(x) for x in r[0]] for r in init]
    for _ in range(iters):
        assigned = ivf_assign(fit, centroids, id_col, vec_col)
        comp = assigned.select(
            "cell", F.posexplode(vec_col).alias("pos", "val")
        )
        # per-(cell, pos) means collect directly — k×dim rows, BYTES.
        # The former second aggregate (collect_list + array_sort into
        # per-cell arrays) only re-shaped those rows and cost one more
        # exchange + stage in EVERY iteration's job; assembling the
        # arrays on the driver is free and numerically untouchable
        # (the avg itself — the float-order-pinned part — is the same
        # posexplode + groupBy(cell, pos) plan as before).
        means = (
            comp.groupBy("cell", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = float(r["m"])
        new = {
            c: [pm[p] for p in sorted(pm)] for c, pm in by_cell.items()
        }
        centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    if sampled:
        fit.unpersist()
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cell`` = argmin squared-L2 distance to the centroids
    (one nested-array literal — no shuffle, pure expression evaluation;
    ties break to the lowest cell index via struct ordering)."""
    return df.withColumn("cell", F.expr(_cell_dists_sql(centroids, vec_col) + "[0]['i']"))


def _cell_dists_sql(centroids: list[list[float]], vec_col: str) -> str:
    """SQL for the sorted array of (squared-L2 distance, cell-index)
    structs against a literal centroid matrix — shared by assignment
    (take [0]) and query probing (take a slice). Single-literal form:
    the matrix is emitted once and indexed per cell inside transform."""
    cents_sql = _matrix_sql(centroids)
    k = len(centroids)
    return (
        f"array_sort(transform(sequence(0, {k - 1}),"
        f" i -> struct("
        f"   aggregate(zip_with({vec_col}, element_at({cents_sql}, i + 1),"
        f"             (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        f"             cast(0 as double), (a, v) -> a + v) as d,"
        f"   i as i)))"
    )


def _coverage_probes_expr(
    centroids: list[list[float]],
    counts: list[int] | None,
    vec_col: str,
    n_probe: int,
    min_coverage: float,
):
    """Coverage-adaptive probe-list expression: take distance-ordered
    cells until BOTH floors hold (>= n_probe cells AND the taken
    cells' sizes cover >= min_coverage of the corpus). Cell sizes
    ride in either as a literal array (a stored :func:`ivf_index`)
    or, when ``counts`` is None, as a one-row ``__cell_counts``
    broadcast column computed lazily inside the consuming action
    (round 12 — no eager sizes job). Either way the take-while is
    pure expression evaluation — no UDF, no extra shuffle.

    The coverage target is ceil(min_coverage * Σcounts): with a
    literal it is folded on the driver; in the lazy form the SQL
    ``CAST(ceil(...) AS BIGINT)`` over the same double product is
    the identical IEEE computation, so probe lists cannot differ
    between the two forms."""
    if counts is not None:
        target_sql = f"{int(math.ceil(min_coverage * sum(counts)))}L"
        counts_sql = "array(" + ", ".join(f"{c}L" for c in counts) + ")"
    else:
        counts_sql = "__cell_counts"
        # double-cast BOTH operands: a bare 0.5 literal parses as
        # DECIMAL in Spark SQL, and decimal arithmetic would not be
        # the same IEEE product Python's math.ceil(float * int) sees
        target_sql = (
            f"CAST(ceil(CAST('{min_coverage!r}' AS DOUBLE)"
            f" * CAST(aggregate(__cell_counts, 0L, (a, v) -> a + v)"
            f"        AS DOUBLE)) AS BIGINT)"
        )
    return F.expr(
        f"aggregate({_cell_dists_sql(centroids, vec_col)},"
        f" named_struct('cells', cast(array() as array<int>),"
        f"              'cov', cast(0 as bigint)),"
        f" (acc, c) -> CASE WHEN acc.cov < {target_sql}"
        f"                    OR size(acc.cells) < {n_probe}"
        f"   THEN named_struct('cells', acc.cells || array(c.i),"
        f"        'cov', acc.cov + element_at({counts_sql}, c.i + 1))"
        f"   ELSE acc END,"
        f" acc -> acc.cells)"
    )


def ivf_index(
    emb: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
) -> dict:
    """The persistable IVF index artifact: ``{"centroids": [[...]],
    "cell_sizes": [...]}`` — plain JSON-able python, the ANN
    equivalent of `dedup.lsh_index_of`'s stored relations. At scale
    you fit ONCE, store this beside the corpus (it is k×dim floats +
    k longs — bytes, not data), and every probe batch reads it
    instead of re-running Lloyd iterations and the cell-count
    aggregate; `ivf_topk(..., index=...)` consumes it directly. The
    cell sizes are what the coverage-adaptive probe needs, so a
    maintained deployment updates them incrementally as the corpus
    grows (append: one groupBy over the new batch's assignments)."""
    centroids = ivf_fit(emb, n_cells, iters, id_col, vec_col, fit_fraction)
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    sizes = {
        int(r["cell"]): int(r["n"])
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    return {
        "centroids": centroids,
        "cell_sizes": [sizes.get(i, 0) for i in range(len(centroids))],
    }


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_fraction: float | None = None,
    min_coverage: float | None = None,
    index: dict | None = None,
) -> DataFrame:
    """IVF ANN: cluster the corpus into cells, probe each query's
    ``n_probe`` nearest cells, exact-cosine only within probed cells.
    Candidate cost ≈ |Q| · (n_probe/n_cells) · |C| — the inverted-file
    pruning that makes brute force tractable at scale. Returns
    (query_id, cand_id, cosine, rnk); recall tuned by n_probe.

    ``min_coverage`` (round-10 verdict item 5) makes the probe list
    COVERAGE-adaptive: each query keeps taking nearest cells past
    ``n_probe`` until the probed cells hold at least that fraction of
    the corpus. Fixed n_probe has a recall floor problem under cell-size
    skew — a query whose nearest cells are all small scans far less
    than the nominal n_probe/n_cells fraction (RECALL_r10: one q35
    query at 0.33 recall@3 while the mean sat at 0.87). Cell sizes are
    an n_cells-row aggregate (one extra corpus pass at fit time; a
    maintained deployment stores them with the index) folded into the
    probe expression as a literal, so the adaptive take-while is still
    pure expression evaluation — no extra shuffle, no UDF.

    ``index`` (a :func:`ivf_index` dict) skips BOTH corpus-sized fit
    passes — Lloyd iterations and the cell-size aggregate — the
    fit-once / probe-many deployment shape."""
    if index is not None:
        centroids = index["centroids"]
        counts = index.get("cell_sizes")
    else:
        centroids = ivf_fit(emb, n_cells, iters, id_col, vec_col, fit_fraction)
        counts = None
    cand_cells = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_emb"), "cell"
    )
    lazy_counts = min_coverage is not None and counts is None
    if lazy_counts:
        # no stored index: the cell sizes feed the probe expression,
        # but they do NOT need to be a driver-side literal — they ride
        # in as a one-row broadcast array computed INSIDE the main
        # action (round 12). That removes one whole eager driver job
        # per call, and persisting the assigned corpus means the
        # argmin-assignment expression — the heaviest per-row work
        # here — is evaluated ONCE instead of twice (sizes pass +
        # probe join). Identical numbers reach the probe take-while,
        # so the probe lists and results are unchanged. Both branches
        # of the RETURNED plan read it, so it cannot be released here:
        # its lifetime is caller-owned (package cache-ownership
        # convention, see the package docstring).
        cand_cells = cand_cells.persist()
    if min_coverage is None:
        # per-query probe list: n_probe nearest centroids
        probes = F.expr(
            f"slice({_cell_dists_sql(centroids, 'q_emb')}, 1, {n_probe})['i']"
        )
    else:
        probes = _coverage_probes_expr(
            centroids, counts, "q_emb", n_probe, min_coverage
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    )
    if lazy_counts:
        n_cells_out = len(centroids)
        cnts_row = (
            cand_cells.groupBy("cell")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("cell", "n"))
                ).alias("__m")
            )
            .select(
                F.expr(
                    f"transform(sequence(0, {n_cells_out - 1}),"
                    f" i -> coalesce(element_at(__m, i), 0L))"
                ).alias("__cell_counts")
            )
        )
        q = q.crossJoin(F.broadcast(cnts_row))
    q = q.select("query_id", "q_emb", F.explode(probes).alias("cell"))
    scored = (
        F.broadcast(q)
        .join(cand_cells, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cosine(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 16,
    num_bands: int = 8,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate PAIRS at scale: banded hyperplane-LSH
    buckets generate candidates (corpus self-join per bucket, linear in
    bucket sizes), exact cosine verifies ≥ threshold. Returns
    (a_id, b_id, cosine).

    This is the scale path for the exact pair-join (q29): all-pairs
    cosine is O(N²·dim) and unrunnable at corpus scale; LSH makes the
    candidate set proportional to true-duplicate density. High
    thresholds (≥0.9, the dedup regime) collide in most bands, so
    recall is high exactly where the operator is meant to operate;
    precision is exact (verify stage).

    ``max_bucket_size`` drops degenerate (band, bucket) groups before
    the self-join — the same mega-bucket skew cap the MinHash path
    carries: an embedding corpus with a dominant cluster (near-zero
    vectors, template images) would otherwise pay a quadratic join in
    that one bucket.
    """
    payload = _payload(emb, id_col, vec_col)
    bands = _lsh_band_rows(payload, num_bits, num_bands, seed, dim)
    cand = _band_pairs(bands, max_bucket_size=max_bucket_size)
    return _cosine_pairs(cand, payload).filter(F.col("cosine") >= threshold)


def _payload(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))


def _lsh_band_rows(
    payload: DataFrame, num_bits: int, num_bands: int, seed: int, dim: int
) -> DataFrame:
    """(id, band, bucket) hyperplane-LSH bands of an (id, emb) payload:
    ``num_bands`` slices of ``num_bits // num_bands`` signature bits."""
    width = num_bits // num_bands
    spans = [(i * width, width) for i in range(num_bands)]
    sig = lsh_signature(payload, "emb", num_bits, seed, dim)
    return _band_rows(sig, _bit_bands(["sig"], spans))


def _cosine_pairs(
    cand: DataFrame, payload: DataFrame, b_payload: DataFrame | None = None
) -> DataFrame:
    """(a_id, b_id, cosine) for distinct id-only candidate pairs: the
    embeddings are attached once, after the distinct, never dragged
    through the band join."""
    return _attach_payload(cand, payload, b_payload).select(
        "a_id", "b_id", _cosine(F.col("pa.emb"), F.col("pb.emb")).alias("cosine")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 16,
    num_bands: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH banded buckets → exact cosine within
    candidates. Returns (query_id, cand_id, cosine, rnk); recall < 1 by
    design, tuned by (num_bits, num_bands)."""
    qp, cp = _payload(queries, id_col, vec_col), _payload(emb, id_col, vec_col)
    # the query side is small by contract: broadcast its bands and
    # payload, stream the corpus side
    cand = _band_pairs(
        F.broadcast(_lsh_band_rows(qp, num_bits, num_bands, seed, dim)),
        _lsh_band_rows(cp, num_bits, num_bands, seed, dim),
        directed=True,
    )
    scored = _cosine_pairs(cand, F.broadcast(qp), cp).select(
        F.col("a_id").alias("query_id"), F.col("b_id").alias("cand_id"), "cosine"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 32,
    vec_col: str = "embedding",
    out_col: str = "proj",
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """Seeded Johnson-Lindenstrauss random projection dim→out_dim:
    ``proj[j] = (1/√out_dim) · Σ_i vec[i]·R[j][i]`` with a Gaussian
    ``R`` from the same deterministic generator as the LSH planes.

    The point at scale: downstream pairwise work (clustering,
    centroids, candidate verify) over a narrower vector cuts both
    shuffle bytes and per-pair arithmetic by dim/out_dim while
    distances survive within the JL distortion bound. Pure zero-shuffle
    projection — the matrix is emitted once as a nested-array literal
    and indexed via ``element_at`` inside the fold (same codegen-lean
    shape as :func:`lsh_signature`); nothing touches the driver."""
    planes = _hyperplanes(dim, out_dim, seed)
    m = _matrix_sql(planes)
    scale = repr(1.0 / math.sqrt(out_dim))
    expr = (
        f"transform(sequence(1, {out_dim}), j -> "
        f"  aggregate(zip_with({vec_col}, element_at({m}, j),"
        f"            (x, r) -> cast(x as double) * r),"
        f"  0D, (a, v) -> a + v) * {scale}D)"
    )
    return df.withColumn(out_col, F.expr(expr))


def _rademacher_matrix(dim: int, out_dim: int, seed: int) -> list[list[int]]:
    """Deterministic ±1 matrix from md5 parity — reproducible in any
    engine (and in plain hashlib), unlike float Gaussians whose
    summation order is engine-specific."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}|{j}|{i}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def rademacher_projection(
    df: DataFrame,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "qproj",
    seed: int = 65,
    dim: int = 64,
    quant: int = 1000,
) -> DataFrame:
    """Exact-integer JL projection: quantize the vector to BIGINTs
    (floor(x·quant), the q29 convention) and project through a seeded
    ±1 Rademacher matrix — JL distortion guarantees equal to the
    Gaussian variant (Achlioptas 2001) with NO floating point anywhere,
    so results hash-match across engines bit-for-bit (q65). Outputs are
    unscaled (true distances are recovered by /(quant²·out_dim) — a
    uniform factor that cancels in comparisons/rankings). Zero-shuffle
    literal-matrix fold, same shape as :func:`random_projection`."""
    m = _rademacher_matrix(dim, out_dim, seed)
    m_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x}L" for x in row) + ")" for row in m
        )
        + ")"
    )
    # quantize ONCE per row (the same hoist as simhash_signatures —
    # leaving it inside the per-j lambda re-materializes the 64-wide
    # array out_dim times per row)
    expr = (
        f"transform(sequence(1, {out_dim}), j -> "
        f"  aggregate(zip_with(__qv, element_at({m_sql}, j), (x, s) -> x * s),"
        f"  0L, (a, v) -> a + v))"
    )
    qv = (
        f"transform({vec_col}, x -> cast(floor(cast(x as double) * {quant}) as bigint))"
    )
    return (
        df.withColumn("__qv", F.expr(qv))
        .withColumn(out_col, F.expr(expr))
        .drop("__qv")
    )
