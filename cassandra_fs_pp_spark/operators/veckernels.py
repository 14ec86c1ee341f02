"""Arrow-vectorized numpy kernels for the quantized ANN hot loops (r18).

Catalyst does not codegen higher-order lambdas (``aggregate`` /
``zip_with`` / ``transform``): the PQ code-assign argmin, the SQ8
dequantize, and the per-candidate cosine folds all evaluate INTERPRETED
— measured 150-260 ms of executor time per task on the sf0.1 bench for
a few thousand rows (VERDICT r17 item 3).  These kernels move the same
arithmetic to numpy batches behind ``mapInPandas``/``ArrowEvalPython``,
reproducing Spark's float64 semantics BIT-EXACTLY:

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
  adversarial boundary fixtures and a 200k-value random differential).

Every kernel factory closes over bounded driver-resident index
artifacts (quantizer stats, PQ codebooks, coarse centroids — the same
bounded-collect class as the r17 centroid injection) and is shaped as
an iterator ``mapInPandas`` so per-task setup is paid once (guide
§4.5).  Callers MUST pre-project exactly the input columns (guide
§4.1 — Spark cannot prune through an opaque Python function).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pandas as pd


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


def _mat(col, dim: int) -> np.ndarray:
    """pandas Series of fixed-``dim`` arrays -> (n, dim) float64 matrix.
    float32 -> float64 widening is exact (same as ``CAST(x AS DOUBLE)``)."""
    return np.array([np.asarray(v) for v in col], dtype=np.float64).reshape(
        len(col), dim
    )


def _mat_arrow(col, dim: int) -> np.ndarray:
    """Arrow list<float|double> array -> (n, dim) float64 matrix via the
    FLAT values buffer (guide §4.2: a list column is one contiguous data
    buffer plus offsets, so this is a zero-copy view + one exact-widening
    astype — measured ~20x cheaper than materializing a pandas Series of
    per-row ndarrays at 250k x 64)."""
    flat = col.flatten()
    return np.asarray(flat).reshape(len(col), dim).astype(np.float64)


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
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * A[:, i]
    return np.sqrt(acc)


def cosine_array(dots: np.ndarray, qn: np.ndarray, nn: np.ndarray):
    """``dots / (qn * nn)`` as a float64 Arrow array, NULL where the
    denominator is 0 — Spark's non-ANSI ``Divide`` (``try_divide``).
    numpy gives NaN or +-inf there instead, and under ``desc()`` NaN
    sorts first while NULL sorts last: a zero-norm vector would jump
    from the tail of a top-k to its head."""
    import pyarrow as pa

    denom = np.asarray(qn, dtype=np.float64) * nn
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / denom
    return pa.array(cos, type=pa.float64(), mask=denom == 0.0)


def sq_dequantize(X: np.ndarray, mn: np.ndarray, mx: np.ndarray, levels: int) -> np.ndarray:
    """SQ8 dequantize, operation-for-operation ``_dq_vec_sql``:
    per element ``code = round(((v - mn) / rng) * levels)`` (0 where
    ``rng = 0``), ``dq = mn + code * (rng / levels)``."""
    lv = float(levels)
    rng = mx - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        scaled = ((X - mn) / rng) * lv
    code = np.where(rng == 0.0, 0.0, round_half_up(np.where(rng == 0.0, 0.0, scaled)))
    return mn + code * (rng / lv)


def pq_assign_codes(
    X: np.ndarray, books: list[np.ndarray], dsub: int
) -> np.ndarray:
    """PQ code assignment over residual rows ``X`` (n, m*dsub):
    per subspace j, ``argmin_c sum_p CAST(round((x-c)^2 * 1e9) AS
    BIGINT)`` with ties to the LOWEST code — operation-for-operation
    ``_pq_code_sql`` under non-ANSI Spark (quantized integer distances,
    the CAST's saturation, wrapping int64 sums, ``np.argmin`` keeps the
    first minimum like the strict-< fold)."""
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


def score_sq8_map(dim: int, mn, mx, levels: int):
    """mapInArrow factory: fused SQ8 dequantize + candidate cosine.

    Input rows ``(query_id, neighbor_id, qn, qv, vec)`` (one per probed
    candidate); output ``(query_id, neighbor_id, adc_cos)`` with
    ``adc_cos = dot(qv, dq(vec)) / (qn * l2(dq(vec)))`` — bit-identical
    to the ``_dq_vec_sql`` + ``dot``/``l2_norm`` expression form.
    Dequantizing per CANDIDATE (not per corpus row) recomputes a
    deterministic function of ``vec`` — identical values, and the
    candidate stream ships the narrower fp32 codes instead of the
    float64 dq vectors."""
    import pyarrow as pa

    mnv = np.asarray(mn, dtype=np.float64)
    mxv = np.asarray(mx, dtype=np.float64)

    def _fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            if not b.num_rows:
                continue
            Q = _mat_arrow(_arrow_col(b, "qv"), dim)
            V = _mat_arrow(_arrow_col(b, "vec"), dim)
            # a neighbor appears once per probing query: dequantize each
            # DISTINCT neighbor once and scatter (same deterministic
            # function of vec — identical values, ~|queries|x less work)
            _, first, inv = np.unique(
                _np_col(b, "neighbor_id"), return_index=True, return_inverse=True
            )
            DQu = sq_dequantize(V[first], mnv, mxv, levels)
            NNu = seq_l2(DQu)
            cos = cosine_array(seq_dot(Q, DQu[inv]), _np_col(b, "qn"), NNu[inv])
            yield pa.RecordBatch.from_arrays(
                [_arrow_col(b, "query_id"), _arrow_col(b, "neighbor_id"), cos],
                names=["query_id", "neighbor_id", "adc_cos"],
            )

    return _fn


def score_pq_map(dim: int, dsub: int, cb, cent_map: dict):
    """mapInArrow factory: fused PQ residual-encode + reconstruct +
    candidate cosine.

    Input rows ``(query_id, neighbor_id, qn, qv, cell, vec)``; output
    ``(query_id, neighbor_id, adc_cos)``.  Per candidate:
    ``rvec = CAST(vec AS DOUBLE) - centroid(cell)`` (residualize),
    ``codes = argmin`` (``_pq_code_sql``), ``pqv = centroid +
    reconstruct(codes)``, ``adc_cos = dot(qv, pqv) / (qn * l2(pqv))``
    — all operation-for-operation the expression forms."""
    import pyarrow as pa

    books = [np.asarray(b, dtype=np.float64) for b in cb]
    cells = sorted(cent_map)
    cell_idx = {c: i for i, c in enumerate(cells)}
    C = np.array([cent_map[c] for c in cells], dtype=np.float64).reshape(
        len(cells), dim
    )

    def _fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            if not b.num_rows:
                continue
            Q = _mat_arrow(_arrow_col(b, "qv"), dim)
            V = _mat_arrow(_arrow_col(b, "vec"), dim)
            # a neighbor appears once per probing query: encode each
            # DISTINCT neighbor once and scatter (same deterministic
            # function of (cell, vec) — identical values, ~|queries|x
            # less argmin work)
            _, first, inv = np.unique(
                _np_col(b, "neighbor_id"), return_index=True, return_inverse=True
            )
            ci = np.array(
                [cell_idx[c] for c in _np_col(b, "cell")[first]],
                dtype=np.int64,
            )
            cent = C[ci]
            R = V[first] - cent
            codes = pq_assign_codes(R, books, dsub)
            PQVu = cent + pq_reconstruct(codes, books)
            NNu = seq_l2(PQVu)
            cos = cosine_array(seq_dot(Q, PQVu[inv]), _np_col(b, "qn"), NNu[inv])
            yield pa.RecordBatch.from_arrays(
                [_arrow_col(b, "query_id"), _arrow_col(b, "neighbor_id"), cos],
                names=["query_id", "neighbor_id", "adc_cos"],
            )

    return _fn


def score_fp32_map(dim: int):
    """mapInArrow factory: exact rerank cosine.  Input rows
    ``(query_id, neighbor_id, qn, qv, nv)``; output ``(query_id,
    neighbor_id, cos_raw)`` with ``cos_raw = dot(qv, nv) / (qn *
    l2(nv))`` — the fp32 norm computed per survivor (deterministic
    function of ``nv``, identical values to the hoisted projection)."""
    import pyarrow as pa

    def _fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            if not b.num_rows:
                continue
            Q = _mat_arrow(_arrow_col(b, "qv"), dim)
            N = _mat_arrow(_arrow_col(b, "nv"), dim)
            cos = cosine_array(seq_dot(Q, N), _np_col(b, "qn"), seq_l2(N))
            yield pa.RecordBatch.from_arrays(
                [_arrow_col(b, "query_id"), _arrow_col(b, "neighbor_id"), cos],
                names=["query_id", "neighbor_id", "cos_raw"],
            )

    return _fn


def pq_codes_udf(cb, dsub: int, vec_dim: int):
    """pandas_udf: residual vector -> ``array<int>`` of the m PQ codes
    (the training-loop form of :func:`pq_assign_codes` — ArrowEvalPython
    replaces m interpreted ``_pq_code_sql`` projections)."""
    from pyspark.sql import functions as F

    books = [np.asarray(b, dtype=np.float64) for b in cb]

    @F.pandas_udf("array<int>")
    def _codes(vec: pd.Series) -> pd.Series:
        if not len(vec):
            return pd.Series([], dtype=object)
        X = _mat(vec, vec_dim)
        codes = pq_assign_codes(X, books, dsub)
        return pd.Series(list(codes))

    return _codes
