"""Similarity search over embedding columns (`array<float>`).

- `knn_bruteforce`: the (small) query set ships in the task closure,
  the base table is scored map-only, per-query top-k. Zero shuffle on
  the base table — the plan that scales to 100 TB of vectors.
- `knn_ivf`: inverted-file ANN — broadcast coarse centroids, assign
  rows to cells (map-only), probe the nprobe nearest cells per query.
  Cuts scored candidates by ~ncells/nprobe at the cost of recall.
- `embedding_dedup_pairs`: exact pairwise cosine >= threshold; the
  documented scale path buckets by random-hyperplane signs first.

The kNN operators share one set of kernels:

- `_collect_vectors`: a small side collected for the task closure —
  the queries or new batch of `knn_bruteforce`, `knn_int8`,
  `knn_batch_candidates`, `knn_pq` and `query_ivf_index`, and the
  size-gated comparison matrix of `knn_join` and
  `embedding_dedup_pairs`.
- `_seq_norms` / `_seq_cosine`: the exact tier's arithmetic —
  `knn_bruteforce`, `knn_batch_candidates` (raw sims, rounded to 6 dp
  before its in-kernel selection), `knn_join`'s rescore, `knn_int8`'s
  norms and `queries.llm.embedding_pair_cosine_audit`'s norms.
- `_assign_cells` (nearest, or `top` nearest, centroids): `knn_ivf`
  (base rows and query probes), `build_ivf_index`, `append_ivf_index`.
- `_cell_top_k` (per-cell top-k scorer): `knn_ivf`, `query_ivf_index`.
- `_top_k`: the per-query ranking window of every kNN operator.

Emitted exact-tier sims never come from BLAS: a matmul sums the
dimension in pairwise/SIMD order, DuckDB's `list_inner_product` sums
it left to right, and the last-bit difference flips 6-dp rounding on
near-ties, so the oracle hashes would not match. `_seq_cosine`
accumulates left to right and is bit-equal to the oracle; `knn_join`
uses BLAS only to preselect candidates, then rescores them with it.
The approximate tiers rank on their own arithmetic — IVF on BLAS
cosines of normalized vectors, PQ on ADC tables, int8 on integer dots
of codes — and IVF and PQ are gated by invariants and recall, not by
the oracle's float bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def _dim_of(df: DataFrame, vec_col: str) -> int | None:
    row = df.select(F.size(vec_col)).first()
    return int(row[0]) if row else None


def _collect_vectors(df: DataFrame, id_col: str, vec_col: str):
    """Collect a side that is small by contract (queries, a new batch)
    for a task closure: (int64 ids, float64 n×dim matrix)."""
    import numpy as np

    rows = (
        _as_double(df, vec_col)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .collect()
    )
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    return ids, np.array([r["v"] for r in rows], dtype=np.float64)


def _seq_norms(M):
    """Row L2 norms of an (n × dim) matrix, accumulated left to right
    over the dimension: bit-equal to DuckDB's
    sqrt(list_inner_product(v, v)). np.dot's pairwise/SIMD order would
    flip 6-dp rounding on ties."""
    import numpy as np

    acc = np.zeros(M.shape[0])
    for i in range(M.shape[1]):
        acc = acc + M[:, i] * M[:, i]
    return np.sqrt(acc)


def _seq_cosine(A, B, na=None, nb=None):
    """(n × m) cosines of A's rows against B's rows, every dot
    accumulated left to right like `_seq_norms`. `na`/`nb` are the
    rows' `_seq_norms` when the caller already has them."""
    import numpy as np

    dots = np.zeros((A.shape[0], B.shape[0]))
    for i in range(A.shape[1]):
        dots += A[:, i][:, None] * B[:, i][None, :]
    if na is None:
        na = _seq_norms(A)
    if nb is None:
        nb = _seq_norms(B)
    return dots / (na[:, None] * nb[None, :])


def _top_k(scored: DataFrame, k: int, order) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, score) rows:
    `row_number` within query_id by `order`, ties broken by
    neighbor_id, kept while rank <= k."""
    w = Window.partitionBy("query_id").orderBy(order, "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def knn_bruteforce(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, sim, rank); similarity rounded to
    6 dp before ranking so ordering is reproducible across engines.
    """
    base = _as_double(base, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_base")
    )
    q_ids, Q = _collect_vectors(queries, id_col, vec_col)
    if not len(q_ids):
        return base.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    nq = _seq_norms(Q)

    # Score map-side with blocked numpy instead of a 64-term Catalyst
    # product chain: the chain falls out of whole-stage codegen inside
    # the join and evaluates interpreted per pair (see the measured
    # cliff in CLAUDE.md).
    def score(batches):
        import numpy as np
        import pandas as pd

        m = len(q_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.array(list(pdf["v_base"]), dtype=np.float64)  # (n × dim)
            n = B.shape[0]
            sims = _seq_cosine(B, Q, nb=nq)
            neigh = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(neigh, m),
                    "sim_raw": sims.T.reshape(-1),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    from dbeam_spark.operators.util import rebalance_for_arrow

    scored = rebalance_for_arrow(base).mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    ).select(
        "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
    )
    return _top_k(scored, k, F.desc("sim")).orderBy("query_id", "rank")


def knn_int8(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors under int8 FIXED-POINT scoring — the quantized
    serving path (4× memory, SIMD int dot products) audited as a
    first-class operator.

    Every vector is L2-normalized then quantized to a SHARED scale:
    code_i = round_half_away(x_i / ||x|| * 127). Unlike per-vector
    max-abs scales (embedding_quantize's storage audit), the shared
    scale makes integer dot products directly comparable across
    neighbors — dot(q_codes, b_codes) ≈ cosine × 127², so ranking by
    the integer dot IS the quantized-index ranking, with no float
    rescale at query time.

    Engine-exactness: the norm accumulates left-to-right over the
    dimension (bit-identical to DuckDB's list_inner_product loop),
    quantization rounds half-away-from-zero via floor(|x|+0.5)·sign(x)
    (the explicit form both engines compute identically — SQL ROUND's
    shortest-repr behavior differs between engines, FLOOR does not),
    and every downstream value is int64 math — so the full top-k
    output hash-matches a DuckDB restatement, ties broken by
    neighbor_id. Returns (query_id, neighbor_id, dot_q, rank).

    Scale shape: identical to knn_bruteforce — the query codes ship in
    the task closure, the base table is scored map-only (codes never
    leave the worker), no shuffle of the base."""
    base = _as_double(base, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_base")
    )
    q_ids, Q = _collect_vectors(queries, id_col, vec_col)
    if not len(q_ids):
        return base.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, dot_q long, rank int"
        )

    def _codes(M):
        """(n × d) float64 → int64 codes; zero-norm rows masked out."""
        import numpy as np

        nrm = _seq_norms(M)
        ok = nrm > 0
        safe = np.where(ok, nrm, 1.0)
        X = M / safe[:, None] * 127.0
        C = (np.floor(np.abs(X) + 0.5) * np.sign(X)).astype(np.int64)
        return C, ok

    def score(batches):
        import numpy as np
        import pandas as pd

        Qc, q_ok = _codes(Q)
        ids = q_ids[q_ok]
        Qc = Qc[q_ok]
        m = len(ids)
        for pdf in batches:
            if not len(pdf) or not m:
                continue
            B = np.array(list(pdf["v_base"]), dtype=np.float64)
            Bc, b_ok = _codes(B)
            neigh = pdf["neighbor_id"].to_numpy(dtype=np.int64)[b_ok]
            Bc = Bc[b_ok]
            n = len(neigh)
            if not n:
                continue
            dots = Bc @ Qc.T  # int64 matmul: |dot| ≤ d·127² — exact
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, n),
                    "neighbor_id": np.tile(neigh, m),
                    "dot_q": dots.T.reshape(-1),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    from dbeam_spark.operators.util import rebalance_for_arrow

    scored = rebalance_for_arrow(base).mapInPandas(
        score, "query_id long, neighbor_id long, dot_q long"
    )
    return _top_k(scored, k, F.desc("dot_q")).orderBy("query_id", "rank")


def knn_batch_candidates(
    base: DataFrame,
    new_batch: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-BASE-row top-k among a small NEW batch: (query_id = base
    id, neighbor_id = new id, sim) — the update probe of incremental
    kNN-graph maintenance. Only k new vectors can ever enter an
    existing node's top-k, so the kernel keeps k candidates per base
    row IN the Arrow pass: output is ≤ k·|base| rows, the batch ships
    in the task closure, and the base is scored map-only (knn_bruteforce
    transposed — same `_seq_cosine` sims, same 6-dp rounding BEFORE
    selection so ties break like the full recompute)."""
    import numpy as np

    base = _as_double(base, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("v_base")
    )
    new_ids, Q = _collect_vectors(new_batch, id_col, vec_col)
    if not len(new_ids):
        return base.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double"
        )
    nq = _seq_norms(Q)

    def score(batches):
        import pandas as pd

        m = len(new_ids)
        t = min(k, m)
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.array(list(pdf["v_base"]), dtype=np.float64)
            n = B.shape[0]
            sims = np.round(_seq_cosine(B, Q, nb=nq), 6)
            b_ids = pdf["query_id"].to_numpy(dtype=np.int64)
            # top-k per BASE row on (sim desc, new_id asc) — the same
            # tie order the full recompute's ranking window uses
            order = np.lexsort(
                (np.broadcast_to(new_ids, (n, m)), -sims), axis=1
            )[:, :t]
            sel_sims = np.take_along_axis(sims, order, axis=1)
            sel_ids = new_ids[order]
            keep = np.repeat(b_ids, t) != sel_ids.ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(b_ids, t)[keep],
                    "neighbor_id": sel_ids.ravel()[keep],
                    "sim": sel_sims.ravel()[keep],
                }
            )

    from dbeam_spark.operators.util import rebalance_for_arrow

    return rebalance_for_arrow(base).mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )


def _coarse_centroids(based, n_cells, id_col, vec_col):
    """Deterministic coarse centroids: min-id row of every id-stride —
    a map-side-combinable min_by aggregate. The centroid matrix is
    c×dim ≈ √n×dim: 16 MB at a BILLION rows — safe to hold on the
    driver and broadcast."""
    import numpy as np

    cent_rows = (
        based.withColumn(
            "cell", F.pmod(F.col(id_col), F.lit(n_cells)).cast("int")
        )
        .groupBy("cell")
        .agg(F.min_by(F.col(vec_col), F.col(id_col)).alias("centroid"))
        .orderBy("cell")
        .collect()
    )
    cell_ids = np.array([r["cell"] for r in cent_rows], dtype=np.int64)
    C = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    return cell_ids, Cn


def _assign_cells(based, cell_ids, Cn, id_col, vec_col, top=1):
    """Map-only nearest-centroid assignment: (rid, v, cell) rows with
    the codebook shipped in the task closure (√n×dim — broadcastable
    at any corpus size). `top` > 1 emits one row per each of the `top`
    nearest cells (a query's probes), nearest first."""
    import numpy as np

    bc = based.sparkSession.sparkContext.broadcast((cell_ids, Cn))

    def assign(batches):
        import pandas as pd

        cells_, Cn_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            An = A / np.maximum(
                np.linalg.norm(A, axis=1, keepdims=True), 1e-300
            )
            S = An @ Cn_.T
            if top == 1:
                # ties: argmax takes the first (lowest) cell
                idx = np.argmax(S, axis=1)[:, None]
            else:
                idx = np.argsort(-S, axis=1, kind="stable")[:, :top]
            rows = np.repeat(np.arange(len(pdf)), idx.shape[1])
            yield pd.DataFrame(
                {
                    "rid": pdf["rid"].to_numpy()[rows],
                    "v": pdf["v"].iloc[rows].to_numpy(),
                    "cell": cells_[idx].ravel(),
                }
            )

    from dbeam_spark.operators.util import rebalance_for_arrow

    return rebalance_for_arrow(
        based.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("v"))
    ).mapInPandas(assign, "rid long, v array<double>, cell int")


def _cell_top_k(k: int):
    """Cogroup scorer for one IVF cell: the cell's base rows × the
    queries probing it, per-query top-k WITHIN the cell (k rows per
    query per cell reach the global rank — n_probe·k candidates per
    query, never the cell contents). Cosine is a matmul of the
    normalized vectors; a stable argsort keeps the earlier base row
    on ties, and self-matches are excluded."""

    def score(key, a_pdf, q_pdf):
        import numpy as np
        import pandas as pd

        if not len(a_pdf) or not len(q_pdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim": []}
            ).astype(
                {"query_id": "int64", "neighbor_id": "int64", "sim": "float64"}
            )
        B = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        b_ids = a_pdf["rid"].to_numpy(dtype=np.int64)
        Q = np.stack(q_pdf["v"].to_numpy()).astype(np.float64)
        q_ids = q_pdf["rid"].to_numpy(dtype=np.int64)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
        S = Qn @ Bn.T
        S[q_ids[:, None] == b_ids[None, :]] = -np.inf  # self-match
        t = min(k, S.shape[1])
        idx = np.argsort(-S, axis=1, kind="stable")[:, :t]
        sims = np.take_along_axis(S, idx, axis=1).ravel()
        keep = sims > -np.inf
        return pd.DataFrame(
            {
                "query_id": np.repeat(q_ids, t)[keep],
                "neighbor_id": b_ids[idx.ravel()][keep],
                "sim": np.round(sims[keep], 6),
            }
        )

    return score


def knn_ivf(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: coarse-quantize the base table into `n_cells` cells
    (deterministic seed vectors as centroids), probe the `n_probe`
    closest cells per query, exact top-k within the probed subset.

    `n_cells` defaults to ~√n (floored at 10, the historical default
    for small bases): a FIXED cell count keeps the probed fraction
    constant, so a self-join stays O(n²/c) — √n cells make it
    O(n^1.5) (assignment n·√n + scoring n·n_probe·√n), the standard
    IVF sizing rule.

    All vector math runs as Arrow-batched numpy (assignment is a
    map-only matmul against the broadcast centroid matrix; scoring is
    a per-cell cogrouped blocked matmul emitting only each query's
    in-cell top-k) — the Catalyst 64-term cosine chain falls out of
    whole-stage codegen inside joins and evaluates interpreted per
    pair (the measured cliff in CLAUDE.md). The only JVM shuffle is
    the (cell) cogroup plus a final top-k window over n_probe·k
    candidate rows per query.

    At scale the cell assignment is a one-pass map with broadcast
    centroids and the base table can be *stored* partitioned by cell,
    making each query touch only nprobe/ncells of the data.
    """
    based = _as_double(base, vec_col)
    if n_cells is None:
        n_cells = max(10, int(based.count() ** 0.5))
    cell_ids, Cn = _coarse_centroids(based, n_cells, id_col, vec_col)
    assigned = _assign_cells(based, cell_ids, Cn, id_col, vec_col)
    probed = _assign_cells(
        _as_double(queries, vec_col), cell_ids, Cn, id_col, vec_col,
        top=n_probe,
    )
    scored = (
        assigned.groupBy("cell")
        .cogroup(probed.groupBy("cell"))
        .applyInPandas(
            _cell_top_k(k), "query_id long, neighbor_id long, sim double"
        )
    )
    return _top_k(scored, k, F.desc("sim")).orderBy("query_id", "rank")


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Pairs with cosine >= threshold (exact all-pairs) via blocked
    matrix multiply.

    A pairwise self-join materializes O(n²) rows before filtering —
    and Spark's codegen falls back to interpreted evaluation on the
    64-term dot expression, so that plan is both memory- and
    CPU-hostile. Instead: broadcast the (small) normalized comparison
    matrix to every executor and stream the base table through an
    Arrow-batched numpy matmul — one scan, no shuffle, no pair
    materialization.

    The broadcast path is SIZE-GATED: above `max_broadcast_rows`
    (500k rows ≈ 256 MB of float64 at dim 64 — the practical driver/
    broadcast ceiling) the exact all-pairs collect would OOM the
    driver, so the operator falls through to the bucketed
    random-hyperplane LSH path (`rh_lsh_embedding_pairs`: bucket join
    + exact cosine verify, recall governed by the table/plane knobs,
    precision 1.0) — the formulation that survives 100 TB.
    """
    import numpy as np

    d = _as_double(df, vec_col).select(
        F.col(id_col).alias("pid"), F.col(vec_col).alias("v")
    )
    n = d.count()
    if n > max_broadcast_rows:
        return rh_lsh_embedding_pairs(
            df, threshold, id_col=id_col, vec_col=vec_col
        )
    # comparison matrix: bounded by the gate above
    ids, mat = _collect_vectors(df, id_col, vec_col)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = d.sparkSession.sparkContext.broadcast((ids, mat_n))

    def block_sims(batches):
        import pandas as pd

        b_ids, b_mat = bc.value
        n_b = len(b_ids)
        b_mat_t = np.ascontiguousarray(b_mat.T)
        # cap the m×n similarity temp at ~4M doubles (32 MB): an
        # Arrow batch (10k rows) against a 200k-row comparison matrix
        # is otherwise a 16 GB allocation PER TASK — the same
        # swap-storm shape the r7 exhaustive sweep caught in the kNN
        # self-join kernel (dedup_embedding measured 20.6x at the 10x
        # probe before this). Row-chunked dgemm computes each row's
        # dots with the identical summation order, so emitted sims
        # are unchanged.
        chunk_m = max(16, int(4_000_000 // max(n_b, 1)))
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf["pid"].to_numpy(dtype=np.int64)
            a_mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
            for c0 in range(0, len(a_ids), chunk_m):
                ac_ids = a_ids[c0 : c0 + chunk_m]
                sims = a_mat[c0 : c0 + chunk_m] @ b_mat_t
                ia, ib = np.nonzero(
                    (sims >= threshold)
                    & (ac_ids[:, None] < b_ids[None, :])
                )
                if not len(ia):
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": ac_ids[ia],
                        "id_b": b_ids[ib],
                        "sim": np.round(sims[ia, ib], 4),
                    }
                )

    from dbeam_spark.operators.util import rebalance_for_arrow

    return rebalance_for_arrow(d).mapInPandas(
        block_sims, "id_a long, id_b long, sim double"
    ).orderBy("id_a", "id_b")


def rh_lsh_embedding_pairs(
    df: DataFrame,
    threshold: float,
    n_tables: int | None = None,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 4096,
    include_raw: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH scale path for embedding near-dup pairs.

    `include_raw=True` adds a `sim_raw` column (the unrounded
    verified cosine) for consumers that gate on sub-rounding-grain
    tolerances — `sim` itself stays 4dp so downstream hashes are
    stable across the flag.

    Multi-table (banded) LSH: L independent tables of k sign bits
    each; a pair is a candidate when it collides in ANY table, then
    exact cosine verifies. P[candidate] = 1-(1-(1-θ/π)^k)^L — with
    8×8 that is ≈0.99 at cos 0.95 and ≈0.23 at cos 0.45, so recall is
    governed by the (L, k) knobs while precision stays 1.0 via the
    exact check. This replaces `embedding_dedup_pairs`' all-pairs
    broadcast at 100 TB.

    Scale shape (the r7 exhaustive sweep's catch — a FIXED 2^8
    bucket space made expected bucket occupancy n/256, i.e. the
    candidate join quadratic in n): both knobs now ADAPT —
    k = log2(n/32) targets ~32 rows/bucket at any n, so candidate
    volume is O(L·n·occupancy) = linear, and L grows with k to hold
    recall (p^k shrinks as k rises; L ≈ k keeps 1-(1-p^k)^L ≳ 0.95
    at cos 0.95 out to millions of rows). Verification happens
    INSIDE the (table, bucket) group: one applyInPandas per bucket
    runs a within-bucket normalized matmul and emits only pairs at
    or above threshold — no candidate-pair materialization, no
    join-back of vectors, and no interpreted 64-term Catalyst dot
    chain (the measured codegen cliff). Cross-table duplicates
    collapse in one (id_a, id_b) groupBy. `max_bucket` is the
    ABSOLUTE companion bound (CLAUDE.md's fractional-cap rule) on
    the per-bucket quadratic: degenerate buckets are truncated to
    the lowest-id members, deterministically.
    """
    import numpy as np

    rng = np.random.RandomState(42)
    d = _as_double(df, vec_col).select(
        F.col(id_col).alias("pid"), F.col(vec_col).alias("v")
    )
    n = d.count()
    if n_planes is None:
        n_planes = max(8, int(np.ceil(np.log2(max(n, 2) / 32.0))))
    if n_tables is None:
        n_tables = max(8, n_planes)
    dim = _dim_of(d, "v")
    planes = rng.standard_normal((n_tables * n_planes, dim))
    bc = d.sparkSession.sparkContext.broadcast(planes)

    def bucketize(batches):
        import pandas as pd

        pl = bc.value
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            bits = (mat @ pl.T) >= 0  # (rows, L*k)
            out = []
            for t in range(n_tables):
                bucket = bits[:, t * n_planes : (t + 1) * n_planes] @ weights
                out.append(
                    pd.DataFrame(
                        {
                            "pid": pdf["pid"],
                            "v": pdf["v"],
                            "table": t,
                            "bucket": bucket,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    from dbeam_spark.operators.util import rebalance_for_arrow

    buckets = rebalance_for_arrow(d).mapInPandas(
        bucketize, "pid long, v array<double>, table int, bucket long"
    )

    def bucket_pairs(batches):
        """Per-PARTITION segment kernel. One pandas DataFrame per
        (table, bucket) group costs ~70µs of construction overhead a
        group (the applyInPandas floor) — with occupancy-targeted
        buckets that is ~L·n/32 groups, i.e. the overhead DOMINATED
        the 30x probe (29.4x; ~500k groups). Instead the partition
        arrives whole (hash-partitioned on (table, bucket) below, so
        no bucket straddles partitions), rows are lexsorted by
        (table, bucket, pid), and a python loop over np.unique
        segment boundaries runs each bucket's matmul — a few µs per
        bucket, vectorized math unchanged."""
        import pandas as pd

        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pids = pdf["pid"].to_numpy(dtype=np.int64)
        # composite segment key: bucket < 2^n_planes, table < 2^8
        seg = (
            pdf["table"].to_numpy(dtype=np.int64) << np.int64(n_planes + 1)
        ) | pdf["bucket"].to_numpy(dtype=np.int64)
        order = np.lexsort((pids, seg))
        seg, pids = seg[order], pids[order]
        mat = np.stack(pdf["v"].to_numpy())[order].astype(np.float64)
        mat /= np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-300
        )
        bounds = np.concatenate(
            ([0], np.nonzero(np.diff(seg))[0] + 1, [len(seg)])
        )
        a_out, b_out, s_out = [], [], []
        for s0, s1 in zip(bounds[:-1], bounds[1:]):
            if s1 - s0 < 2:
                continue
            s1 = min(s1, s0 + max_bucket)  # rows are pid-sorted: the
            # cap keeps the lowest-id members, deterministically
            ids = pids[s0:s1]
            m = mat[s0:s1]
            sims = m @ m.T
            ia, ib = np.nonzero(
                (sims >= threshold) & (ids[:, None] < ids[None, :])
            )
            if len(ia):
                a_out.append(ids[ia])
                b_out.append(ids[ib])
                s_out.append(sims[ia, ib])
        if a_out:
            raw = np.concatenate(s_out)
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(a_out),
                    "id_b": np.concatenate(b_out),
                    "sim": np.round(raw, 4),
                    "sim_raw": raw,
                }
            )

    n_parts = max(
        8, d.sparkSession.sparkContext.defaultParallelism
    )
    out = (
        buckets.repartition(n_parts, "table", "bucket")
        .mapInPandas(
            bucket_pairs,
            "id_a long, id_b long, sim double, sim_raw double",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.max("sim").alias("sim"),
            F.max("sim_raw").alias("sim_raw"),
        )
    )
    if not include_raw:
        out = out.drop("sim_raw")
    return out.orderBy("id_a", "id_b")


def kmeans_fit(
    df: DataFrame,
    k: int = 10,
    max_iter: int = 20,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], int]:
    """Distributed Lloyd's k-means over an embedding column; returns
    (centroids, iterations_run).

    Spark-first shape: per round, centroids (k×dim — tiny) ship to the
    tasks in the closure; assignment + per-cluster partial sums happen
    in ONE Arrow-batched numpy pass per partition (no per-row UDF, no
    shuffle of the vectors); only the k partial (sum, count) rows per
    partition shuffle to the driver for the update step. At 100 TB
    each round is a map over the vectors plus a k-row reduce — the
    textbook scalable k-means loop (seeding via deterministic id
    stride; k-means|| would slot in here for better seeds).
    """
    import numpy as np

    based = _as_double(df, vec_col)
    seeds = (
        based.withColumn("cell", F.pmod(F.col(id_col), F.lit(k)).cast("int"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cell").orderBy(F.col(id_col))
            ),
        )
        .filter(F.col("rn") == 1)
        .orderBy("cell")
        .select(vec_col)
        .collect()
    )
    centroids = np.array([list(r[0]) for r in seeds], dtype=np.float64)
    from dbeam_spark.operators.util import rebalance_for_arrow

    # rebalanced ONCE outside the loop: every iteration's Arrow pass
    # then parallelizes even from a single-file local input
    vecs = rebalance_for_arrow(
        based.select(F.col(vec_col).alias("v"))
    ).localCheckpoint(eager=True)
    it = 0
    for it in range(1, max_iter + 1):
        c_list = centroids.tolist()

        def partial(batches):
            import numpy as np
            import pandas as pd

            C = np.array(c_list, dtype=np.float64)  # (k × dim)
            sums = np.zeros_like(C)
            counts = np.zeros(C.shape[0], dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(list(pdf["v"]), dtype=np.float64)
                # nearest centroid by euclidean distance
                d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                np.add.at(sums, a, X)
                np.add.at(counts, a, 1)
            yield pd.DataFrame(
                {
                    "cluster": range(len(counts)),
                    "count": counts,
                    "sum": [s.tolist() for s in sums],
                }
            )

        parts = vecs.mapInPandas(
            partial, "cluster int, count long, sum array<double>"
        ).collect()
        sums = np.zeros_like(centroids)
        counts = np.zeros(centroids.shape[0], dtype=np.int64)
        for r in parts:
            sums[r["cluster"]] += np.array(r["sum"])
            counts[r["cluster"]] += r["count"]
        new = centroids.copy()
        nonzero = counts > 0
        new[nonzero] = sums[nonzero] / counts[nonzero, None]
        shift = float(np.max(np.abs(new - centroids)))
        centroids = new
        if shift < tol:
            break
    return centroids.tolist(), it


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only cluster assignment: (id, cluster, dist) per row, with
    the centroid matrix shipped in the task closure."""
    based = _as_double(df, vec_col)
    vecs = based.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.array(centroids, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf["v"]), dtype=np.float64)
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(),
                    "cluster": a.astype("int32"),
                    "dist": np.sqrt(d2[np.arange(len(a)), a]),
                }
            )

    import pandas as pd  # noqa: F401

    return vecs.mapInPandas(assign, "vid long, cluster int, dist double")


def knn_join(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """k-NN self-join: every vector's exact top-k cosine neighbors
    within the same table — the all-pairs neighbor primitive behind
    semantic-dedup graphs and hard-negative mining.

    Same size-gated topology as `embedding_dedup_pairs`: at or below
    `max_broadcast_rows` the normalized comparison matrix ships in
    the task closure and each partition scores its rows map-only
    (exact, no shuffle of the base table; the only exchange is the
    per-query top-k window over k·n result rows). Above the gate the
    exact collect would OOM the driver, so it falls through to the
    IVF approximate join (`knn_ivf(df, df)`) — broadcast centroids,
    cell-pruned probes — which is the 100 TB formulation.

    Unlike `knn_bruteforce(df, df)` — which emits ALL n×m scored
    pairs into the ranking window — each row selects its own top
    (k + 8) candidates in-batch against the closure matrix, so the
    window ranks n×(k+8) rows instead of n². The +8 pad keeps the
    raw-sim preselection safe against 6-dp rounding reordering: the
    final rank still orders by the SPARK-rounded similarity, and a
    candidate can only be displaced across the rounding boundary by
    a near-tie within 1e-6 — ties deeper than the pad would require
    nine raw sims inside one rounding ulp.

    Kernel shape (the r7 exhaustive probe's catch): the old kernel
    accumulated an m×n dots array in dim explicit passes — at the
    200k-row 10x point that is a ~10 GB per-task temp and ~20 TB of
    DRAM traffic (605 s measured, memory-bound swap storm). Scoring
    now PRESELECTS with one tiled BLAS matmul over bounded row
    chunks (temp capped ~128 MB regardless of n) and then RESCORES
    only the selected pad candidates with the explicit left-to-right
    accumulation — so every EMITTED sim is still bit-equal to the
    SQL oracle's list_inner_product, while the O(n²d) part runs at
    matmul speed. matmul-vs-sequential differences are ~1e-15
    relative, nine orders below the 1e-6 pad guard, so preselection
    cannot displace a candidate the pad logic doesn't already
    absorb; within the preselected pool the original deterministic
    (-sim, id) lexsort cut is preserved."""
    import numpy as np

    d = _as_double(df, vec_col).select(
        F.col(id_col).alias("rid"), F.col(vec_col).alias("v")
    )
    if d.count() > max_broadcast_rows:
        return knn_ivf(df, df, k=k, id_col=id_col, vec_col=vec_col)
    bc = d.sparkSession.sparkContext.broadcast(
        _collect_vectors(df, id_col, vec_col)
    )
    pad = k + 8

    def score(batches):
        import pandas as pd

        b_ids, B = bc.value
        n = B.shape[0]
        nb = _seq_norms(B)
        Bt = np.ascontiguousarray(B.T)
        # cap the m×n preselection temp at ~4M doubles (32 MB): big
        # enough for dgemm efficiency, small enough that 32 workers'
        # first-touch doesn't stall in kernel page compaction on a
        # fragmented box (observed: 28-78s first run vs 4.5s steady
        # with 128 MB temps after a heavy sweep)
        chunk_m = max(16, int(4_000_000 // max(n, 1)))
        # take extra preselection slack so an unstable argpartition
        # boundary among raw-sim ties cannot drop an id the (-sim,
        # id) lexsort cut would have kept
        presel = pad + 8

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            a_ids = pdf["rid"].to_numpy(dtype=np.int64)
            m = A.shape[0]
            na = _seq_norms(A)
            q_out, n_out, s_out = [], [], []
            for c0 in range(0, m, chunk_m):
                Ac = A[c0: c0 + chunk_m]
                approx = (Ac @ Bt) / (
                    na[c0: c0 + chunk_m, None] * nb[None, :]
                )
                take = min(presel, n - 1) if n > 1 else 1
                idx = np.argpartition(-approx, take - 1, axis=1)[
                    :, :take + 1
                ]
                for cj in range(Ac.shape[0]):
                    j = c0 + cj
                    sel = idx[cj]
                    # tie-safe widening: argpartition keeps an
                    # ARBITRARY subset of candidates tied at the
                    # selection boundary (exact-duplicate vectors),
                    # which could drop a lower-id tied neighbor the
                    # (-sim, id) lexsort would have ranked in. If the
                    # boundary approx value also occurs outside the
                    # selection, take EVERY candidate at >= boundary
                    # (bounded by the tie multiplicity, not n).
                    if take < n:
                        row = approx[cj]
                        boundary = row[sel].min()
                        wide = np.flatnonzero(row >= boundary)
                        if len(wide) > len(sel):
                            sel = wide
                    sel = sel[b_ids[sel] != a_ids[j]]
                    sims_sel = _seq_cosine(
                        A[j : j + 1], B[sel], na[j : j + 1], nb[sel]
                    )[0]
                    order = np.lexsort((b_ids[sel], -sims_sel))[:pad]
                    q_out.append(np.full(len(order), a_ids[j]))
                    n_out.append(b_ids[sel][order])
                    s_out.append(sims_sel[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(q_out),
                    "neighbor_id": np.concatenate(n_out),
                    "sim_raw": np.concatenate(s_out),
                }
            )

    from dbeam_spark.operators.util import rebalance_for_arrow

    scored = rebalance_for_arrow(d).mapInPandas(
        score, "query_id long, neighbor_id long, sim_raw double"
    ).select(
        "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
    )
    return _top_k(scored, k, F.desc("sim")).orderBy("query_id", "rank")


def knn_graph_artifact(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_root: str | None = None,
) -> str:
    """Build-once/serve-many persisted exact kNN graph — the graph
    sibling of `build_ivf_index`: the edge set (query_id, neighbor_id,
    sim, rank) lands as a parquet artifact under a CONTENT-derived
    directory name, so maintenance queries read the standing graph
    instead of re-deriving it through the n² self-join every run.

    Content key = linear aggregates over the input (row count, crc32
    sums of ids and stringified vectors, bit_xor of id hashes): the
    same dataset always maps to the same artifact (a rerun serves from
    cache), while any change to ids OR vector payloads forces a fresh
    build — the cache can never serve a stale graph. Concurrent
    builders race benignly: each writes its own tmp dir and promotes
    with an atomic rename; the loser discards its copy.

    At 100 TB this is the operating split the probe should measure:
    graph CONSTRUCTION is a one-time indexing job (exact tier here;
    `knn_ivf` above the broadcast gate), while daily batches touch
    only the maintenance delta (`knn_batch_candidates` + bounded
    merges). Returns the artifact directory path."""
    import os
    import shutil
    import tempfile
    import uuid

    d = _as_double(df, vec_col)
    agg = d.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.col(id_col).cast("string"))).alias("si"),
        F.sum(F.crc32(F.col(vec_col).cast("string"))).alias("sv"),
        F.expr(f"bit_xor(hash(cast({id_col} AS STRING)))").alias("x"),
    ).collect()[0]
    key = (
        f"n{agg['n'] or 0:x}-k{k}"
        f"-i{(agg['si'] or 0) & 0xFFFFFFFFFF:x}"
        f"-v{(agg['sv'] or 0) & 0xFFFFFFFFFF:x}"
        f"-x{(agg['x'] or 0) & 0xFFFFFFFF:x}"
    )
    root = cache_root or os.path.join(
        tempfile.gettempdir(), "dbeam_knn_graph"
    )
    path = os.path.join(root, key)
    if os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    knn_join(df, k=k, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # a concurrent builder promoted the same content first —
        # its artifact is byte-equivalent, keep it
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _l2_normalized(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Map-only Arrow pass replacing each vector with its unit-norm
    form (keeps only id + vector — enough for PQ train/encode)."""
    d = _as_double(df, vec_col).select(F.col(id_col), F.col(vec_col))

    def norm_part(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), vec_col: list(X)}
            )

    from dbeam_spark.operators.util import rebalance_for_arrow

    return rebalance_for_arrow(d).mapInPandas(
        norm_part, f"{id_col} long, {vec_col} array<double>"
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    nbits: int = 4,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector splits into
    `m` subspaces, each quantized to 2^nbits codewords by k-means —
    the memory-reduction step that lets an ANN index hold 100 TB of
    embeddings in RAM (64 float32 dims -> m bytes per vector).

    Distributed shape: ALL m subspace k-means run inside the SAME
    Arrow pass — each iteration is one mapInPandas over the vectors
    emitting (subspace, code, partial sum, count) rows, reduced
    driver-side into m*(2^nbits) centroid updates (a few KB). m
    separate kmeans_fit loops would cost m× the scans. Init is
    deterministic: the first k vectors in id order seed every
    subspace, so codebooks (and codes) are bit-reproducible."""
    import numpy as np

    k = 1 << nbits
    d = _as_double(df, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    )
    seed_rows = d.orderBy("vid").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least {k} vectors to train PQ")
    dim = len(seed_rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    seeds = np.array([r["v"] for r in seed_rows], dtype=np.float64)
    # codebooks[j]: (k × sub) for subspace j
    books = np.stack(
        [seeds[:, j * sub: (j + 1) * sub].copy() for j in range(m)]
    )

    from dbeam_spark.operators.util import rebalance_for_arrow

    # materialized + rebalanced once; every training iteration then
    # re-reads the checkpoint in parallel instead of re-scanning
    d = rebalance_for_arrow(d).localCheckpoint(eager=True)

    for _ in range(n_iter):
        bc = d.sparkSession.sparkContext.broadcast(books)

        def partial(batches):
            import pandas as pd

            B = bc.value  # (m × k × sub)
            mm, kk, ss = B.shape
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                rows = []
                for j in range(mm):
                    Xj = X[:, j * ss: (j + 1) * ss]
                    d2 = (
                        (Xj[:, None, :] - B[j][None, :, :]) ** 2
                    ).sum(axis=2)
                    a = d2.argmin(axis=1)
                    for code in np.unique(a):
                        mask = a == code
                        rows.append(
                            (
                                j,
                                int(code),
                                Xj[mask].sum(axis=0).tolist(),
                                int(mask.sum()),
                            )
                        )
                yield pd.DataFrame(
                    rows, columns=["sub", "code", "sum", "count"]
                )

        parts = d.mapInPandas(
            partial,
            "sub int, code int, sum array<double>, count long",
        ).collect()
        sums = np.zeros((m, k, sub))
        counts = np.zeros((m, k), dtype=np.int64)
        for r in parts:
            sums[r["sub"], r["code"]] += np.array(r["sum"])
            counts[r["sub"], r["code"]] += r["count"]
        nz = counts > 0
        books[nz] = sums[nz] / counts[nz][:, None]
        bc.destroy()
    return books.tolist()


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: (id, codes) with codes[j] = nearest
    codeword of subvector j. The codebook ships in the task closure
    (m × 2^nbits × sub doubles — KBs)."""
    import numpy as np

    B = np.array(codebooks, dtype=np.float64)
    d = _as_double(df, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    )

    def enc(batches):
        import pandas as pd

        mm, kk, ss = B.shape
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            codes = np.zeros((X.shape[0], mm), dtype=np.int32)
            err = np.zeros(X.shape[0])
            for j in range(mm):
                Xj = X[:, j * ss: (j + 1) * ss]
                d2 = ((Xj[:, None, :] - B[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = d2.argmin(axis=1)
                err += d2[np.arange(len(Xj)), codes[:, j]]
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(),
                    "codes": list(codes),
                    "recon_err": np.sqrt(err),
                }
            )

    import pandas as pd  # noqa: F401

    return d.mapInPandas(
        enc, "vid long, codes array<int>, recon_err double"
    )


def knn_pq(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    nbits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN by asymmetric distance computation: the base
    side is PQ codes only (m small ints per vector), each query
    precomputes its (m × 2^nbits) distance table, and scanning a
    candidate costs m table lookups instead of a dim-length dot —
    the FAISS IVFADC inner loop, here as the flat-ADC variant.

    Distributed shape: codes are produced map-only, the query tables
    ship in the task closure, scoring is one mapInPandas over the
    code rows (no shuffle of the base table), and only n×k candidate
    rows reach the ranking window. Approximate by construction →
    rows-only gate; recall is asserted against knn_bruteforce in
    tests.

    Vectors are L2-NORMALIZED before training/encoding: ADC ranks by
    Euclidean distance, and on unit vectors the L2 order equals the
    cosine order knn_bruteforce uses — without this the two rank
    different neighbors and recall craters on unnormalized data."""
    import numpy as np

    q_ids, Q = _collect_vectors(queries, id_col, vec_col)
    if not len(q_ids):
        return base.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adist double, rank int"
        )
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    normed = _l2_normalized(base, id_col, vec_col)
    books = pq_train(
        normed, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col
    )
    B = np.array(books, dtype=np.float64)
    codes = pq_encode(normed, books, id_col=id_col, vec_col=vec_col)

    mm, kk, ss = B.shape
    # tables[q, j, c] = ||Q[q, sub j] - codeword c||²
    tables = np.zeros((len(q_ids), mm, kk))
    for j in range(mm):
        Qj = Q[:, j * ss: (j + 1) * ss]
        tables[:, j, :] = (
            (Qj[:, None, :] - B[j][None, :, :]) ** 2
        ).sum(axis=2)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())  # (n × m)
            n = C.shape[0]
            # adc[q, row] = Σ_j tables[q, j, C[row, j]]
            adc = np.zeros((len(q_ids), n))
            for j in range(mm):
                adc += tables[:, j, C[:, j]]
            vids = pdf["vid"].to_numpy(dtype=np.int64)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(vids, len(q_ids)),
                    "adist": np.sqrt(adc.reshape(-1)),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = codes.mapInPandas(
        score, "query_id long, neighbor_id long, adist double"
    )
    return (
        _top_k(scored, k, "adist")
        .select(
            "query_id",
            "neighbor_id",
            F.round("adist", 6).alias("adist"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def covariance_sufficient_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple:
    """Exact distributed covariance of an embedding column.
    Returns (cov ndarray, mean ndarray, n, S1, S2) where S1 (dim
    Python ints, Σq per component) and S2 (dim² Python ints, Σqqᵀ
    flattened row-major) are the EXACT integer sufficient statistics
    — callers needing cross-engine integer-exact derived values
    (e.g. the quantized trace an SQL oracle can restate) work from
    S1/S2 directly instead of re-rounding the float cov.

    Each component is quantized to integer units (floor(v·scale)) and
    the sufficient statistics — Σqqᵀ (dim×dim), Σq (dim), n — are
    accumulated per partition as exact Python big ints (per-batch
    matmuls in int64, folded into object-dtype running sums; partials
    ship as decimal strings), then reduced on the driver as
    arbitrary-precision Python ints — no silent int64 wrap at any
    partition size. Integer accumulation makes the
    result bit-identical regardless of partitioning or row order
    (a float covariance pass is summation-order dependent), at the
    cost of scale⁻¹ quantization — noise far below the variance
    structure PCA reads.

    Shape at 100 TB: ONE Arrow map pass over the vectors; partials
    are dim²+dim+1 longs per partition — the classic sufficient-
    statistics reduce, no shuffle of the data."""
    import numpy as np

    d = _as_double(df, vec_col).select(F.col(vec_col).alias("v"))

    from dbeam_spark.operators.util import rebalance_for_arrow

    d = rebalance_for_arrow(d)

    def partial(batches):
        import numpy as np
        import pandas as pd

        S2 = None
        S1 = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            Q = np.floor(X * scale).astype(np.int64)
            if S2 is None:
                dim = Q.shape[1]
                # object dtype = Python big ints: the PER-BATCH
                # Q.T @ Q is int64-safe (|q|≤scale ⇒ ≤1e12/term,
                # ≲1e16 per ~10k-row Arrow batch), but accumulating
                # many batches within one partition would silently
                # wrap int64 — so the running sums hold exact ints.
                S2 = np.zeros((dim, dim), dtype=object)
                S1 = np.zeros(dim, dtype=object)
            S2 += Q.T @ Q
            S1 += Q.sum(axis=0)
            n += Q.shape[0]
        if n:
            # partials ship as DECIMAL STRINGS: a partition's exact
            # total can exceed int64 (the whole point of the object
            # accumulator), so an array<long> yield would re-truncate
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s1": [[str(x) for x in S1.tolist()]],
                    "s2": [[str(x) for x in S2.reshape(-1).tolist()]],
                }
            )

    rows = d.mapInPandas(
        partial, "n long, s1 array<string>, s2 array<string>"
    ).collect()
    if not rows:
        raise ValueError("covariance over an empty frame")
    dim = len(rows[0]["s1"])
    # python-int reduce: immune to int64 overflow across partitions
    n = sum(r["n"] for r in rows)
    S1 = [sum(int(r["s1"][i]) for r in rows) for i in range(dim)]
    S2 = [
        sum(int(r["s2"][k]) for r in rows) for k in range(dim * dim)
    ]
    import numpy as _np

    mean = _np.array(S1, dtype=_np.float64) / (n * scale)
    E2 = _np.array(S2, dtype=_np.float64).reshape(dim, dim) / (
        n * scale * scale
    )
    cov = E2 - _np.outer(mean, mean)
    return cov, mean, n, S1, S2


def covariance_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple:
    """Exact distributed covariance — see covariance_sufficient_stats
    (this is its (cov, mean, n) projection)."""
    cov, mean, n, _s1, _s2 = covariance_sufficient_stats(df, vec_col, scale)
    return cov, mean, n


def build_ivf_index(
    base: DataFrame,
    index_dir: str,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize an IVF index as an ARTIFACT: cell-partitioned
    vector parquet plus the centroid codebook — build once, serve
    many, the FAISS-on-disk shape. Layout:

        cells/cell=NNN/*.parquet    (rid, v) rows of that cell
        _CENTROIDS.json             cell ids + centroid vectors + meta
        _SUCCESS

    The cell directory partitioning IS the serving win:
    query_ivf_index filters on the probed cells, so partition pruning
    reads nprobe/ncells of the data — at 100 TB a query touches a few
    directories, never the table. Build cost: one centroid aggregate
    + one map-only assignment pass + one partitioned write."""
    import json as _json
    from pathlib import Path

    import numpy as np

    based = _as_double(base, vec_col)
    if n_cells is None:
        n_cells = max(10, int(based.count() ** 0.5))
    cell_ids, Cn = _coarse_centroids(based, n_cells, id_col, vec_col)

    out = Path(index_dir)
    out.mkdir(parents=True, exist_ok=True)
    assigned = _assign_cells(based, cell_ids, Cn, id_col, vec_col)
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(str(out / "cells"))
    )
    meta = {
        "n_cells": int(n_cells),
        "cell_ids": [int(c) for c in cell_ids],
        "centroids_normed": [[float(x) for x in row] for row in Cn],
    }
    (out / "_CENTROIDS.json").write_text(_json.dumps(meta) + "\n")
    (out / "_SUCCESS").write_text("")
    return meta


def append_ivf_index(
    spark: SparkSession,
    index_dir: str,
    new_vectors: DataFrame,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally maintain a persisted IVF index — the daily
    operating mode at 100 TB: new embeddings are assigned to the
    FROZEN codebook map-only (no retrain, no touch of existing cells)
    and land as an LSM-style delta under

        deltas/batch=<id>/cell=NNN/*.parquet

    The write is idempotent-per-batch: the batch directory is
    rewritten wholesale (dbeam's numbered-overwrite pattern), so an
    orchestrator retry replaces rather than duplicates. Serving
    (query_ivf_index) unions base cells with all deltas — both sides
    prune on the `cell` partition column, so probes still read
    n_probe/n_cells of base AND delta. compact_ivf_index folds deltas
    into the base when the delta share grows.

    Returns {'batch_id', 'n_appended', 'cells_touched'}."""
    import json as _json
    from pathlib import Path

    import numpy as np

    out = Path(index_dir)
    meta = _json.loads((out / "_CENTROIDS.json").read_text())
    cell_ids = np.array(meta["cell_ids"], dtype=np.int64)
    Cn = np.array(meta["centroids_normed"], dtype=np.float64)
    assigned = _assign_cells(
        _as_double(new_vectors, vec_col), cell_ids, Cn, id_col, vec_col
    )
    dest = out / "deltas" / f"batch={batch_id}"
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(str(dest))
    )
    report = (
        spark.read.parquet(str(dest))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {
        "batch_id": batch_id,
        "n_appended": int(sum(r["n"] for r in report)),
        "cells_touched": sorted(int(r["cell"]) for r in report),
    }


def _index_cells(spark: SparkSession, index_dir: str) -> DataFrame:
    """(rid, v, cell) across base + any delta batches, cell-prunable
    on both sides."""
    from pathlib import Path

    base = spark.read.parquet(str(Path(index_dir) / "cells")).select(
        "rid", "v", "cell"
    )
    delta_root = Path(index_dir) / "deltas"
    if delta_root.exists() and any(delta_root.iterdir()):
        deltas = spark.read.parquet(str(delta_root)).select(
            "rid", "v", "cell"
        )
        return base.unionByName(deltas)
    return base


def compact_ivf_index(spark: SparkSession, index_dir: str) -> dict:
    """Fold accumulated deltas into the base cell layout (one
    partitioned rewrite), then drop the delta directories — the
    compaction half of the LSM shape. Serving before and after
    compaction is IDENTICAL by construction (same rows, same cells);
    ivf_maintain_report asserts that equality exactly."""
    import shutil
    from pathlib import Path

    out = Path(index_dir)
    delta_root = out / "deltas"
    if not delta_root.exists():
        return {"compacted": 0}
    merged = _index_cells(spark, str(out)).localCheckpoint()
    n = merged.count()
    (
        merged.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(str(out / "cells"))
    )
    shutil.rmtree(delta_root)
    return {"compacted": n}


def query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve top-k from a persisted IVF index: probe each query's
    n_probe nearest centroids (driver-side — the codebook is √n×dim),
    read ONLY the probed cell directories (partition pruning), and
    score with the per-cell cogrouped blocked matmul. Repeated query
    batches never touch unprobed cells or rebuild anything."""
    import json as _json
    from pathlib import Path

    import numpy as np

    meta = _json.loads((Path(index_dir) / "_CENTROIDS.json").read_text())
    cell_ids = np.array(meta["cell_ids"], dtype=np.int64)
    Cn = np.array(meta["centroids_normed"], dtype=np.float64)
    q_ids, Q = _collect_vectors(queries, id_col, vec_col)
    if not len(q_ids):
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank int"
        )
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    t = min(n_probe, Cn.shape[0])
    probe_idx = np.argsort(-(Qn @ Cn.T), axis=1, kind="stable")[:, :t]
    probed = spark.createDataFrame(
        [
            (int(q_ids[i]), [float(x) for x in Q[i]], int(cell_ids[j]))
            for i in range(len(q_ids))
            for j in probe_idx[i]
        ],
        "rid long, v array<double>, cell int",
    )
    probe_cells = sorted({int(cell_ids[j]) for row in probe_idx for j in row})
    base_cells = _index_cells(spark, index_dir).filter(
        F.col("cell").isin(probe_cells)
    )
    scored = (
        base_cells.groupBy("cell")
        .cogroup(probed.groupBy("cell"))
        .applyInPandas(
            _cell_top_k(k), "query_id long, neighbor_id long, sim double"
        )
    )
    return _top_k(scored, k, F.desc("sim")).orderBy("query_id", "rank")
