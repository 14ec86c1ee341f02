"""Spark expression forms of the vector kernels, kept for the tests only.

The engine runs every vector decision as a ``mapInArrow`` kernel in
``cassandra_fs_pp_spark.operators.veckernels``.  These are the
interpreted ``zip_with``/``aggregate`` forms those kernels reproduce
bit-exactly; the tests compare each kernel against its form here.  Run
them with ``spark.sql.ansi.enabled=false`` wherever an edge case would
raise under ANSI (``CAST_OVERFLOW`` on a NaN or an out-of-range term):
the kernels follow the non-ANSI results (see the ``veckernels`` module
docstring).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.operators.similarity import VEC_FIXED_SCALE


def _dlit(x: float) -> str:
    """SQL DOUBLE literal with full round-trip precision (repr is the
    shortest decimal that parses back to the same IEEE double in both
    Python and the JVM)."""
    return repr(float(x)) + "D"


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit b set when ``dot(vec, plane_b) >= 0``, the
    reference form of ``veckernels.lsh_buckets_map`` for one table.  A
    NaN dot sets the bit (Spark orders NaN above every double); a NULL
    dot clears it."""
    bucket = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array([F.lit(float(x)) for x in plane]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(1 << b)).otherwise(F.lit(0)).cast(
            "long"
        )
    return bucket


def _dq_vec_sql(vec_col: str, levels: int) -> str:
    """SQL text of the SQ8-dequantized vector from ``vec_col`` and the
    1-row stats arrays ``__mn``/``__mx``: per element,
    ``code = round(((v - mn) / rng) * levels)`` (0 when ``rng = 0``) and
    ``dq = mn + code * (rng / levels)`` — the reference form of
    ``veckernels.sq_dequantize``."""
    lv = repr(float(levels))
    mn = "element_at(__mn, i)"
    mx = "element_at(__mx, i)"
    rng = f"({mx} - {mn})"
    v = f"cast(element_at({vec_col}, i) as double)"
    code = (
        f"cast(CASE WHEN {rng} = cast(0 as double) THEN 0"
        f" ELSE cast(round((({v} - {mn}) / {rng}) * {lv}, 0) as int)"
        f" END as double)"
    )
    return (
        f"transform(sequence(1, size({vec_col})),"
        f" i -> {mn} + {code} * ({rng} / {lv}))"
    )


def _pq_code_sql(
    book: list[list[float]], vec_col: str, start: int, dsub: int
) -> str:
    """SQL text of the PQ code of ONE subspace: the quantized integer
    distance from ``slice(vec_col, start, dsub)`` to each literal centroid
    in ``book``, folded to the lowest-index argmin (strict ``<`` keeps the
    earlier code on ties) — the reference form of
    ``veckernels.pq_assign_codes``.  A NULL term counts 0, as a NaN term
    casts to 0 with ANSI off: a NULL component is ignored."""
    cb_lit = "array(" + ", ".join(
        "array(" + ", ".join(_dlit(x) for x in cent) + ")" for cent in book
    ) + ")"
    sub = f"slice({vec_col}, {start}, {dsub})"
    qd = (
        f"aggregate(zip_with({sub}, cent, (x, c) ->"
        f" coalesce(CAST(round((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)"
        f" * {VEC_FIXED_SCALE}) AS BIGINT), CAST(0 AS BIGINT))),"
        f" CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    return (
        "aggregate("
        f"zip_with(transform({cb_lit}, cent -> {qd}), sequence(1, {len(book)}),"
        " (d, i) -> named_struct('d', d, 'i', i)),"
        " cast(null as struct<d: bigint, i: int>),"
        " (acc, s) -> case when acc is null or s.d < acc.d then s else acc end"
        ").i - 1"
    )


def _pq_reconstruct_sql(cb: list[list[list[float]]], code_prefix: str) -> str:
    """SQL text reconstructing the PQ vector from per-row code columns
    ``{code_prefix}{j}`` and the literal codebooks — the reference form
    of ``veckernels.pq_reconstruct``."""
    parts = []
    for j, book in enumerate(cb):
        arrs = ", ".join(
            "array(" + ", ".join(_dlit(x) for x in cent) + ")" for cent in book
        )
        parts.append(f"element_at(array({arrs}), {code_prefix}{j} + 1)")
    return "concat(" + ", ".join(parts) + ")"
