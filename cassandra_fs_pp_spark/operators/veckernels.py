"""Arrow-vectorized numpy kernels: every numpy loop over an embedding column.

Catalyst does not codegen higher-order lambdas (``aggregate`` /
``zip_with`` / ``transform``): the PQ code-assign argmin, the SQ8
dequantize, and the per-candidate cosine folds all evaluate INTERPRETED
— measured 150-260 ms of executor time per task on the sf0.1 bench for
a few thousand rows (VERDICT r17 item 3).  These kernels move the same
arithmetic to numpy batches, reproducing Spark's float64 semantics
BIT-EXACTLY:

* every ``+ - * /`` and ``sqrt`` is one IEEE-754 double op — identical
  results in the JVM and numpy;
* dot/norm folds run LEFT-TO-RIGHT over the dimension index
  (``acc = acc + X[:, i] * Y[:, i]``), the exact operation sequence of
  :func:`similarity.dot`'s ``aggregate(zip_with(...))`` fold — numpy's
  own pairwise-summing ``np.dot`` would round differently;
* ``round(v, 0)`` on DOUBLE in Spark is
  ``BigDecimal(Double.toString(v)).setScale(0, HALF_UP)`` — DECIMAL-
  string rounding, not ``floor(v + 0.5)``: e.g.
  ``round(0.49999999999999994) = 0`` but ``floor(v + 0.5) = 1``.
  :func:`round_half_up` fast-paths ``floor(v + 0.5)`` and re-does any
  element within a few ulp of a ``.5`` boundary exactly via
  ``Decimal(repr(v))`` — Python's ``repr`` and Java's
  ``Double.toString`` both emit the shortest round-trip decimal, so
  the fallback is exact (pinned by tests/test_veckernels.py on
  adversarial boundary fixtures and a 200k-value random differential);
* a cosine with a zero denominator is NULL (:func:`cosine_array`,
  :func:`unit_rows`), as ``try_divide`` gives, so it ranks last.

NULL/NaN contract: a kernel returns what its expression form (kept in
``tests/vecref.py``) returns with ``spark.sql.ansi.enabled=false``;
under ANSI (the Spark 4 default) that form raises ``DIVIDE_BY_ZERO`` or
``CAST_OVERFLOW`` where the kernel returns NULL, 0 or a saturated value.
Only the argmin and the LSH bucket kernels define a NULL vector; the
scorers and the Gram/PCA kernels take non-NULL vectors: a NULL vector
fails their batch (:func:`_mat_arrow`'s reshape).  A NULL element makes
a scorer's cosine NULL, as the expression form's fold is, so it ranks
last (:func:`_null_rows`); the PQ ADC score is the exception, since its
argmin ignores the element and the reconstructed vector has none.

* The PQ/k-means argmin (:func:`pq_assign_codes`) adds, per element,
  ``CAST(round((x - c)^2 * 1e9) AS BIGINT)``: NaN casts to 0, a term at
  or above 2^63 saturates to ``Long.MAX_VALUE``, the BIGINT sums wrap,
  and ties go to the lowest code.  A NULL element adds 0 like NaN, so a
  NULL component is ignored and a NULL vector takes code 0.
* An LSH sign bit (:func:`lsh_buckets_map`) is set on ``dot >= 0`` in
  Spark's order, where NaN sorts above every double, and cleared on a
  NULL dot.

The kernels fall in three groups, built on three row helpers —
:func:`seq_l2` (the exact-fold norm), :func:`unit_rows` (the zero-safe
normaliser) and :func:`fixed_rows` (the ``floor(X * scale)`` quantiser):

* exact-fold kernels for the quantized ANN path, PQ training and LSH
  (:func:`pq_codes_map`, :func:`score_sq8_map`, :func:`score_pq_map`,
  :func:`score_fp32_map`, :func:`lsh_buckets_map`), bit-identical to the
  SQL expression forms;
* BLAS scorers over unit rows for the exact small-query-set top-k
  (:func:`blas_topk_map`, :func:`unit_cosine_map`);
* fixed-point integer kernels (:func:`gram_partials_map`,
  :func:`pca_project_map`).

Every map factory returns a ``mapInArrow`` function reading the list
columns' flat Arrow buffers (:func:`_mat_arrow`).  It closes over
bounded driver-resident artifacts (quantizer stats, PQ codebooks, coarse
centroids, LSH planes, a broadcast query matrix), so per-task setup is
paid once (guide §4.5).  Callers MUST pre-project exactly the input
columns (guide §4.1 — Spark cannot prune through an opaque Python
function).  Python workers import this module from the package zip that
``session.tune`` ships.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def round_half_up(y: np.ndarray) -> np.ndarray:
    """Exact replica of Spark's ``round(v, 0)`` on DOUBLE (HALF_UP over
    the shortest-round-trip decimal repr), vectorized.

    Fast path ``floor(y + 0.5)``; any element within a few ulp of a
    ``k + 0.5`` boundary (where binary arithmetic can disagree with
    decimal rounding, in either direction) is recomputed exactly with
    ``Decimal(repr(v))``.  Correct for negative inputs too (HALF_UP =
    ties away from zero: the fast path is wrong ONLY inside the same
    boundary band, which the fallback covers).
    """
    y = np.asarray(y, dtype=np.float64)
    out = np.floor(y + 0.5)
    frac = y - np.floor(y)
    # |frac - 0.5| <= a few ulp of y marks every value whose decimal
    # repr could fall on the other side of the .5 boundary, plus every
    # value where the float add y + 0.5 itself crosses a boundary.
    band = np.abs(frac - 0.5) <= 16.0 * np.spacing(np.abs(y) + 1.0)
    if band.any():
        flat = out.reshape(-1)
        ys = y.reshape(-1)
        for i in np.nonzero(band.reshape(-1))[0]:
            flat[i] = float(
                Decimal(repr(float(ys[i]))).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    return out


def _mat_arrow(col, dim: int, null_rows: bool = False) -> np.ndarray:
    """Arrow list<float|double> array -> (n, dim) float64 matrix via the
    FLAT values buffer (guide §4.2: a list column is one contiguous data
    buffer plus offsets, so this is a zero-copy view + one exact-widening
    astype — measured ~20x cheaper than materializing a pandas Series of
    per-row ndarrays at 250k x 64).  A NULL element reads as NaN.  A NULL
    vector fails the reshape unless ``null_rows``, which reads it as a
    row of NaNs; only the kernels that mask such rows afterwards set it."""
    if null_rows and col.null_count:
        col = pc.fill_null(col, pa.scalar([None] * dim, col.type))
    flat = col.flatten()
    return np.asarray(flat).reshape(len(col), dim).astype(np.float64)


def _null_rows(col) -> np.ndarray:
    """Mask of the rows whose vector is NULL or holds a NULL element: a
    Spark fold over such a row is NULL."""
    null = np.array(col.is_null(), dtype=bool)
    flat = col.flatten()
    if flat.null_count:
        parent = np.asarray(pc.list_parent_indices(col))
        null[parent[np.array(flat.is_null(), dtype=bool)]] = True
    return null


def _np_col(batch, name: str) -> np.ndarray:
    return np.asarray(batch.column(batch.schema.get_field_index(name)))


def _arrow_col(batch, name: str):
    return batch.column(batch.schema.get_field_index(name))


def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise LEFT-TO-RIGHT dot fold: ``((0 + a0*b0) + a1*b1) + ...``
    — the IEEE op sequence of :func:`similarity.dot`, vectorized across
    rows."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def seq_l2(A: np.ndarray) -> np.ndarray:
    """Row-wise ``sqrt(((0 + a0*a0) + a1*a1) + ...)`` — the op sequence
    of :func:`similarity.l2_norm`."""
    return np.sqrt(seq_dot(A, A))


def cosine_array(dots: np.ndarray, qn: np.ndarray, nn: np.ndarray, null: np.ndarray):
    """``dots / (qn * nn)`` as a float64 Arrow array, NULL where the
    denominator is 0 — Spark's non-ANSI ``Divide`` (``try_divide``) —
    and on the ``null`` rows (a NULL vector element).  numpy gives NaN
    or +-inf there instead, and under ``desc()`` NaN sorts first while
    NULL sorts last: a zero-norm vector would jump from the tail of a
    top-k to its head."""
    denom = np.asarray(qn, dtype=np.float64) * nn
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / denom
    return pa.array(cos, type=pa.float64(), mask=(denom == 0.0) | null)


def unit_rows(M: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Rows of ``M`` scaled to unit L2 norm (``np.linalg.norm``) and the
    mask of zero-norm rows, which stay 0.  A cosine a masked row takes
    part in is NULL, as :func:`cosine_array` gives."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    zero = n[:, 0] == 0.0
    return M / np.where(zero[:, None], 1.0, n), zero


def fixed_rows(X: np.ndarray, scale: int) -> np.ndarray:
    """``floor(X * scale)`` as int64: the portable fixed-point quantizer of
    the Gram/PCA kernels (floor of the identical IEEE product, where
    engines' round-half modes disagree on float32 ``.5`` ties)."""
    return np.floor(X * scale).astype(np.int64)


def sq_dequantize(X: np.ndarray, mn: np.ndarray, mx: np.ndarray, levels: int) -> np.ndarray:
    """SQ8 dequantize, operation-for-operation the SQL form
    ``tests/vecref.py`` keeps:
    per element ``code = CAST(round(((v - mn) / rng) * levels) AS INT)``
    (0 where ``rng = 0``), ``dq = mn + code * (rng / levels)``.  The
    non-ANSI cast turns a NaN into code 0 and saturates +-inf and every
    out-of-range value to the int32 range, as Java's ``d2i`` does."""
    lv = float(levels)
    rng = mx - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        scaled = ((X - mn) / rng) * lv
        code = round_half_up(np.where(rng == 0.0, 0.0, scaled))
    i32 = np.iinfo(np.int32)
    code = np.clip(np.where(np.isnan(code), 0.0, code), i32.min, i32.max)
    return mn + code * (rng / lv)


def pq_assign_codes(
    X: np.ndarray, books: list[np.ndarray], dsub: int
) -> np.ndarray:
    """PQ code assignment over rows ``X`` (n, m*dsub): per subspace j,
    ``argmin_c sum_p CAST(round((x-c)^2 * 1e9) AS BIGINT)`` with ties to
    the LOWEST code (``np.argmin`` keeps the first minimum), under the
    module's argmin contract: a NaN or NULL element adds 0, a term at or
    above 2^63 saturates, the sums wrap."""
    n = X.shape[0]
    m = len(books)
    codes = np.empty((n, m), dtype=np.int32)
    for j, book in enumerate(books):
        S = X[:, j * dsub : (j + 1) * dsub]
        D = np.empty((n, book.shape[0]), dtype=np.int64)
        for c in range(book.shape[0]):
            diff = S - book[c]
            q = round_half_up(diff * diff * 1e9)
            # CAST(q AS BIGINT) is Java's saturating narrowing (>= 2^63 ->
            # Long.MAX_VALUE, NaN -> 0) where astype would wrap around
            # (residuals above ~9.6e4 reach 2^63)
            sat = q >= 2.0**63
            qi = np.where(sat | np.isnan(q), 0.0, q).astype(np.int64)
            qi[sat] = np.iinfo(np.int64).max
            D[:, c] = qi.sum(axis=1)
        codes[:, j] = np.argmin(D, axis=1)
    return codes


def pq_reconstruct(
    codes: np.ndarray, books: list[np.ndarray]
) -> np.ndarray:
    """ADC vector from codes: ``concat(books[j][code_j])`` rows."""
    return np.concatenate(
        [book[codes[:, j]] for j, book in enumerate(books)], axis=1
    )


def pq_codes_map(cb, keep_vec: bool = False):
    """mapInArrow factory: PQ code assignment.  Input rows end with the
    vector column; output the input columns before it (and the vector
    itself when ``keep_vec``) plus ``__ks``, the ``array<int>`` of the
    :func:`pq_assign_codes` codes under the ``m x ks x dsub`` codebooks
    ``cb``.  Spark cannot prune a column through ``mapInArrow``, so a
    caller that reads only the codes leaves the vector here."""
    books = [np.asarray(b, dtype=np.float64) for b in cb]
    m, dsub = len(books), books[0].shape[1]

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            X = _mat_arrow(b.column(b.num_columns - 1), m * dsub, null_rows=True)
            codes = pq_assign_codes(X, books, dsub)
            offsets = np.arange(0, n * m + 1, m, dtype=np.int32)
            keep = b.num_columns if keep_vec else b.num_columns - 1
            ks = pa.ListArray.from_arrays(offsets, codes.reshape(-1))
            yield pa.RecordBatch.from_arrays(
                [*b.columns[:keep], ks], names=[*b.schema.names[:keep], "__ks"]
            )

    return _fn


def _adc_map(dim: int, encode, vec_nulls: bool):
    """mapInArrow factory of the ADC scorers.  Input rows ``(query_id,
    neighbor_id, qn, qv, vec[, cell])`` (one per probed candidate);
    output ``(query_id, neighbor_id, adc_cos)`` with ``adc_cos = dot(qv,
    a) / (qn * l2(a))``, ``a`` the ADC vector ``encode(V, b, first)`` of
    the batch's DISTINCT neighbors (rows ``first`` of batch ``b``, fp32
    vectors ``V``).  A neighbor appears once per probing query, so each
    is encoded once and scattered: the same deterministic function of its
    row, ~|queries|x less work, and the candidate stream ships fp32
    vectors instead of float64 ADC vectors.  A NULL ``qv`` element makes
    ``adc_cos`` NULL, and so does a NULL ``vec`` element when
    ``vec_nulls`` (the encoding carries it into ``a``)."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            qv, vec = _arrow_col(b, "qv"), _arrow_col(b, "vec")
            Q = _mat_arrow(qv, dim)
            V = _mat_arrow(vec, dim)
            _, first, inv = np.unique(
                _np_col(b, "neighbor_id"), return_index=True, return_inverse=True
            )
            A = encode(V[first], b, first)
            null = _null_rows(qv) | (_null_rows(vec) if vec_nulls else False)
            cos = cosine_array(
                seq_dot(Q, A[inv]), _np_col(b, "qn"), seq_l2(A)[inv], null
            )
            yield pa.RecordBatch.from_arrays(
                [_arrow_col(b, "query_id"), _arrow_col(b, "neighbor_id"), cos],
                names=["query_id", "neighbor_id", "adc_cos"],
            )

    return _fn


def score_sq8_map(dim: int, mn, mx, levels: int):
    """:func:`_adc_map` over SQ8-dequantized vectors: ``adc_cos =
    dot(qv, dq(vec)) / (qn * l2(dq(vec)))``, bit-identical to the
    ``_dq_vec_sql`` + ``dot``/``l2_norm`` expression form."""
    mnv = np.asarray(mn, dtype=np.float64)
    mxv = np.asarray(mx, dtype=np.float64)
    return _adc_map(
        dim, lambda V, b, first: sq_dequantize(V, mnv, mxv, levels), vec_nulls=True
    )


def score_pq_map(dim: int, dsub: int, cb, cent_map: dict):
    """:func:`_adc_map` over PQ-reconstructed residuals.  Per candidate
    (input rows carry ``cell``): ``rvec = CAST(vec AS DOUBLE) -
    centroid(cell)``, ``codes = argmin`` (``_pq_code_sql``), ``pqv =
    centroid + reconstruct(codes)``, ``adc_cos = dot(qv, pqv) / (qn *
    l2(pqv))`` — all operation-for-operation the expression forms."""
    books = [np.asarray(b, dtype=np.float64) for b in cb]
    cells = sorted(cent_map)
    cell_idx = {c: i for i, c in enumerate(cells)}
    C = np.array([cent_map[c] for c in cells], dtype=np.float64).reshape(
        len(cells), dim
    )

    def encode(V, b, first):
        ci = [cell_idx[c] for c in _np_col(b, "cell")[first]]
        cent = C[np.array(ci, dtype=np.int64)]
        codes = pq_assign_codes(V - cent, books, dsub)
        return cent + pq_reconstruct(codes, books)

    return _adc_map(dim, encode, vec_nulls=False)


def score_fp32_map(dim: int, ids: tuple[str, str] = ("query_id", "neighbor_id")):
    """mapInArrow factory: exact cosine of vector pairs.  Input rows
    ``(*ids, qn, qv, nv[, nn])``; output ``(*ids, cos_raw)`` with
    ``cos_raw = dot(qv, nv) / (qn * l2(nv))``.  The neighbor norm is the
    ``nn`` column when the input carries one (:func:`lsh_buckets_map`
    stores it per distinct vector) and is folded per row otherwise — a
    deterministic function of ``nv``, the same values either way."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            qv, nv = _arrow_col(b, "qv"), _arrow_col(b, "nv")
            Q = _mat_arrow(qv, dim)
            N = _mat_arrow(nv, dim)
            nn = _np_col(b, "nn") if "nn" in b.schema.names else seq_l2(N)
            null = _null_rows(qv) | _null_rows(nv)
            cos = cosine_array(seq_dot(Q, N), _np_col(b, "qn"), nn, null)
            yield pa.RecordBatch.from_arrays(
                [_arrow_col(b, ids[0]), _arrow_col(b, ids[1]), cos],
                names=[*ids, "cos_raw"],
            )

    return _fn


def lsh_buckets_map(planes, tables: int, bits: int, keep_vec: bool = False):
    """mapInArrow factory: hyperplane-LSH bucket ids.  Input rows ``(key,
    vec)``; output ``(key, __bt)``, or ``(key, vec, __n, __bt)`` when
    ``keep_vec``, with ``__n`` the :func:`seq_l2` norm and ``__bt[t]`` the
    ``bits``-bit sign bucket of table ``t``.  ``planes`` is the ``(tables
    * bits, dim)`` table of :func:`similarity.hyperplane_lsh_perms` rows.  Bit b is set when
    ``dot(vec, plane_b) >= 0`` in Spark's order, where NaN sorts above
    every double, so a NaN dot sets it; a NULL dot (a NULL vector or
    element) clears it and makes ``__n`` NULL.  The dot folds run over the
    dimension index in ascending order, the SQL fold's exact IEEE
    sequence, so buckets and norms are bit-identical to the
    ``zip_with``/``aggregate`` expression form."""
    P = np.asarray(planes, dtype=np.float64)
    dim = P.shape[1]
    weights = 1 << np.arange(bits, dtype=np.int64)

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            X = _mat_arrow(b.column(1), dim, null_rows=True)
            null = _null_rows(b.column(1))
            acc = np.zeros((n, P.shape[0]))
            for i in range(dim):
                acc += X[:, i][:, None] * P[None, :, i]
            bit = ((acc >= 0.0) | np.isnan(acc)) & ~null[:, None]
            bt = (bit.reshape(n, tables, bits) * weights).sum(axis=2)
            offsets = np.arange(0, n * tables + 1, tables, dtype=np.int32)
            cols, names = [b.column(0)], [b.schema.names[0]]
            if keep_vec:
                cols += [b.column(1), pa.array(seq_l2(X), mask=null)]
                names += [b.schema.names[1], "__n"]
            yield pa.RecordBatch.from_arrays(
                [*cols, pa.ListArray.from_arrays(offsets, bt.reshape(-1))],
                names=[*names, "__bt"],
            )

    return _fn


def query_matrix(rows) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collected ``(id, vector)`` query rows -> ``(ids, unit rows, NULL
    mask)``, the broadcast operand of :func:`blas_topk_map` and
    :func:`unit_cosine_map`.  A row with zero norm or a NULL element
    scores NULL against every candidate."""
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    qm, zero = unit_rows(np.array([r[1] for r in rows], dtype=np.float64))
    null = np.array([any(x is None for x in r[1]) for r in rows], dtype=bool)
    return ids, qm, zero | null


def blas_topk_map(bc, k: int, score: str, prefix_dim: int | None = None):
    """mapInArrow factory: per-batch cosine partial top-k against the
    broadcast :func:`query_matrix` ``bc``.  Input rows ``(id, vec)``;
    output ``(query_id, neighbor_id, <score>)``, at most ``k`` rows per
    query per batch.  One ``Q x B`` BLAS matmul over unit rows (the first
    ``prefix_dim`` dims when set), self-pairs excluded, and
    ``argpartition`` (O(B) per row) instead of a full sort.  A pair with a
    zero-norm row scores NULL and is picked after every real score,
    smaller ``neighbor_id`` first — the final window's order."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids, qmat, qzero = bc.value
        q = qmat if prefix_dim is None else qmat[:, :prefix_dim]
        for b in batches:
            if not b.num_rows:
                continue
            cid = np.asarray(b.column(0)).astype(np.int64, copy=False)
            cm, czero = unit_rows(_mat_arrow(b.column(1), qmat.shape[1]))
            czero |= _null_rows(b.column(1))
            scores = q @ (cm if prefix_dim is None else cm[:, :prefix_dim]).T
            null = qzero[:, None] | czero[None, :]
            key = -scores
            if null.any():
                # past every real key (-1..1), in neighbor_id order
                key = np.where(null, 2.0 + np.argsort(np.argsort(cid)), key)
            own = ids[:, None] == cid[None, :]
            key[own] = np.inf
            kk = min(k, key.shape[1])
            top = np.argpartition(key, kk - 1, axis=1)[:, :kk]
            rows = np.repeat(np.arange(len(ids)), kk)
            cols = top.ravel()
            keep = ~own[rows, cols]
            rows, cols = rows[keep], cols[keep]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[rows]),
                    pa.array(cid[cols]),
                    pa.array(scores[rows, cols], mask=null[rows, cols]),
                ],
                names=["query_id", "neighbor_id", score],
            )

    return _fn


def unit_cosine_map(bc):
    """mapInArrow factory: cosine of each ``(query_id, neighbor_id)``
    candidate, the query's unit row from the broadcast
    :func:`query_matrix` ``bc`` against the candidate's unit row.  Input
    rows ``(neighbor_id, __cv, query_id)``; output ``(query_id,
    neighbor_id, cosine)``, NULL where either row has zero norm."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids, qmat, qzero = bc.value
        idx = {int(q): i for i, q in enumerate(ids)}
        for b in batches:
            if not b.num_rows:
                continue
            cv = _arrow_col(b, "__cv")
            cm, czero = unit_rows(_mat_arrow(cv, qmat.shape[1]))
            czero |= _null_rows(cv)
            qi = np.array([idx[q] for q in _np_col(b, "query_id").tolist()], dtype=np.int64)
            cos = np.einsum("ij,ij->i", qmat[qi], cm)
            yield pa.RecordBatch.from_arrays(
                [
                    _arrow_col(b, "query_id"),
                    _arrow_col(b, "neighbor_id"),
                    pa.array(cos, mask=qzero[qi] | czero),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    return _fn


def gram_partials_map(dim: int, scale: int):
    """mapInArrow factory: one task's exact integer Gram partials.  Input
    rows ``(vec)``; output the upper triangle ``(i, j, s)`` of
    ``sum fixed_rows(X)^T fixed_rows(X)`` over every batch of the task,
    once per non-empty task (int64 matmul — exact and order-free)."""
    iu = np.triu_indices(dim)

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for b in batches:
            if not b.num_rows:
                continue
            Q = fixed_rows(_mat_arrow(b.column(0), dim), scale)
            acc += Q.T @ Q
            seen = True
        if seen:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu[0].astype(np.int32)),
                    pa.array(iu[1].astype(np.int32)),
                    pa.array(acc[iu]),
                ],
                names=["i", "j", "s"],
            )

    return _fn


def pca_project_map(va: np.ndarray, vb: np.ndarray, den_a: float, den_b: float, scale: int):
    """mapInArrow factory: projection onto two integer principal axes.
    Input rows ``(id, vec)``; output ``(id, pc1_fp, pc2_fp, pc1, pc2)``
    with ``pcN_fp = fixed_rows(vec) . vN`` (exact int64) and ``pcN =
    pcN_fp / denN`` (one IEEE divide)."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            Q = fixed_rows(_mat_arrow(b.column(1), len(va)), scale)
            f1 = Q @ va
            f2 = Q @ vb
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(f1),
                    pa.array(f2),
                    pa.array(f1.astype(np.float64) / den_a),
                    pa.array(f2.astype(np.float64) / den_b),
                ],
                names=[b.schema.names[0], "pc1_fp", "pc2_fp", "pc1", "pc2"],
            )

    return _fn
