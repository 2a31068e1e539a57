"""Vector similarity over ``array<float>`` columns — UDF-free.

North-star extension (SURVEY.md section 2.11 X3): similarity math stays in
native Catalyst expressions (``aggregate``/``zip_with``/``transform``) so it
runs JVM-side inside whole-stage codegen — no Python round trip, no Arrow
batching, scales linearly with executor count.

Precision contract: each float*float product is exact in double (24-bit
mantissas -> 48-bit product < 53), so cross-engine differences are confined
to summation order; callers that hash-compare against another engine should
round the final similarity (6 dp leaves ~1e-10 headroom over the ~1e-15
noise for unit-normalized 64-dim embeddings).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


VecOperand = "Column | str | list | tuple"


def _sql_ref(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for SQL."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _operand(v) -> tuple[str | None, Column]:
    """(sql_fragment_or_None, Column) for a vector operand.

    A ``str`` is a column reference; a ``list``/``tuple`` is a literal
    vector (emitted as exact round-trip double literals — Java
    ``Double.parseDouble`` and Python ``repr`` are both correctly
    rounded, so the parsed value is bit-identical to ``F.lit(float(x))``).
    A ``Column`` yields no SQL fragment — callers that want the unrolled
    fast path must pass a name or a literal."""
    if isinstance(v, str):
        return _sql_ref(v), F.col(v)
    if isinstance(v, (list, tuple)):
        frag = (
            "array("
            + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in v)
            + ")"
        )
        return frag, F.expr(frag)
    return None, v


def _render_lit(v) -> str:
    if isinstance(v, (list, tuple)):
        if not v:
            raise ValueError(
                "sql_array_lit: empty array has no SQL element type"
            )
        return "array(" + ",".join(_render_lit(x) for x in v) + ")"
    if isinstance(v, bool):
        raise TypeError("sql_array_lit: bool elements are not supported")
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            raise ValueError(f"sql_array_lit: {v} exceeds BIGINT range")
        return f"{v}L"
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"sql_array_lit: non-finite element {v!r}")
    return f"CAST('{f!r}' AS DOUBLE)"


def sql_array_lit(vals: list | tuple) -> Column:
    """Literal (possibly nested) numeric array built in ONE JVM round
    trip (r14 optimization, guide §1.2 driver cost).

    ``F.lit`` on a Python list constructs the array element-by-element
    over py4j — ~0.6 ms of driver time PER ELEMENT, a measured 310 ms
    for one 8x64 centroid matrix and ~600 ms for an 8x16x8 PQ codebook,
    paid at EVERY plan construction (fit loops reconstruct per
    iteration). Parsing one SQL string is sub-millisecond and yields
    the identical foldable literal tree. Ints emit as BIGINT (``42L``);
    floats emit as exact round-trip double literals (the ``_operand``
    contract: Python ``repr`` and Java ``Double.parseDouble`` are both
    correctly rounded, so the parsed value is bit-identical to
    ``F.lit(float(x))``). Non-finite floats and empty arrays raise —
    fail loudly rather than emit SQL Spark would type differently."""
    if not isinstance(vals, (list, tuple)):
        raise TypeError("sql_array_lit: top-level value must be a list")
    return F.expr(_render_lit(vals))


def inline_rows_df(spark, rows, fields):
    """Small MODEL-sized local DataFrame built as a JVM inline table —
    the ``createDataFrame(python_list)`` replacement for hot paths
    (r14 optimization, guide §4.1: eliminate the Python boundary).

    ``spark.createDataFrame(list)`` yields a DataFrame backed by a
    pickled Python RDD: EVERY action that touches it launches a Python
    worker to re-deserialize the rows — a measured ~0.6 s per count /
    noop and ~5 s per parquet WRITE of an 8-row centroid table, paid
    per bench rep and per fit iteration wherever such a frame sits
    inside a bigger plan. One ``inline(array(named_struct(...)))``
    expression is a pure JVM local relation: sub-ms actions, identical
    rows and schema.

    ``fields``: ``[(name, SQL_TYPE)]`` with SQL_TYPE in INT / BIGINT /
    DOUBLE / STRING / BOOLEAN / ARRAY<BIGINT> / ARRAY<DOUBLE> (extend as
    needed). Ints emit via CAST, floats as exact round-trip ``repr``
    strings (the ``sql_array_lit`` contract), non-empty arrays through
    ``_render_lit`` cast to the declared type (so elements are nullable,
    as in ``createDataFrame``), None as a typed NULL. Strings are
    rejected unless they are printable and free of
    quotes/backslashes/newlines — the callers pass fixed model labels;
    anything richer should keep ``createDataFrame``. Empty ``rows``
    yields a correctly-typed empty frame (one dummy row filtered out)."""

    def cell(v, t) -> str:
        if v is None:
            return f"CAST(NULL AS {t})"
        if t == "BOOLEAN":
            return "true" if v else "false"
        if t in ("DOUBLE", "FLOAT"):
            f = float(v)
            if f != f or f in (float("inf"), float("-inf")):
                raise ValueError(f"inline_rows_df: non-finite {v!r}")
            return f"CAST('{f!r}' AS {t})"
        if t in ("ARRAY<BIGINT>", "ARRAY<DOUBLE>"):
            elem = int if t == "ARRAY<BIGINT>" else float
            return f"CAST({_render_lit([elem(x) for x in v])} AS {t})"
        if t == "STRING":
            s = str(v)
            if ("'" in s or "\\" in s or not s.isprintable()):
                raise ValueError(
                    f"inline_rows_df: string {s!r} needs escaping — use "
                    "createDataFrame for arbitrary text"
                )
            return f"'{s}'"
        return f"CAST({int(v)} AS {t})"

    def struct(r) -> str:
        return (
            "named_struct("
            + ",".join(f"'{n}', {cell(v, t)}" for v, (n, t) in zip(r, fields))
            + ")"
        )

    if not rows:
        dummy = struct(tuple(None for _ in fields))
        return (
            spark.range(1)
            .select(F.inline(F.expr(f"array({dummy})")))
            .where(F.lit(False))
        )
    return spark.range(1).select(
        F.inline(F.expr("array(" + ",".join(struct(r) for r in rows) + ")"))
    )


def _dot_hof(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_sql(a: str, b: str, dim: int) -> str:
    # Same left-to-right fold as the HOF form: ((0.0 + t1) + t2) + ...
    terms = " + ".join(
        f"CAST(element_at({a}, {i}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    hof = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {hof} END"
    )


def _norm_sq_sql(a: str, dim: int) -> str:
    terms = " + ".join(
        f"CAST(element_at({a}, {i}) AS DOUBLE) * "
        f"CAST(element_at({a}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    hof = (
        f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
        f"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        f"CASE WHEN size({a}) = {dim} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {hof} END"
    )


def dot(a, b, dim: int | None = None) -> Column:
    """Dot product of two equal-length float arrays, computed in double.

    ``a``/``b``: Column, column-name string, or literal number list.

    ``dim`` (r14 optimization): Spark's higher-order functions
    (``aggregate``/``zip_with``/``transform``) are ``CodegenFallback`` —
    every pair is scored through the INTERPRETED evaluator with per-element
    boxing, which dominates pair-heavy stages (guide §4.2: per-task work).
    With a statically known dimensionality the same left-to-right fold is
    emitted as an unrolled ``element_at`` sum that whole-stage codegen
    compiles to straight-line double arithmetic — bit-identical (IEEE
    addition in the identical order; micro-benched at 0 mismatches over
    499k pairs, ~2-4x faster). Rows whose arrays are not exactly ``dim``
    long fall back to the HOF form via a lazy CASE branch, so NULL/ragged
    semantics are unchanged (and ANSI out-of-bounds access can never
    fire).

    The unrolled form is emitted as ONE ``F.expr`` SQL string (a single
    py4j round trip): building it as ~dim*6 ``Column`` operations costs
    ~1-3 ms of driver time EACH, which measured 1.2-4x slower end-to-end
    at sf0.1 — the JVM SQL parser handles the same tree in ~ms. The fast
    path therefore requires name/literal operands; a ``Column`` operand
    with ``dim`` set silently uses the HOF form. Literal operands
    additionally constant-fold (the query-side norm becomes a literal)."""
    af, ac = _operand(a)
    bf, bc = _operand(b)
    if dim is None or af is None or bf is None:
        return _dot_hof(ac, bc)
    return F.expr(_dot_sql(af, bf, dim))


def l2_norm(a, dim: int | None = None) -> Column:
    """L2 norm of a float array; see ``dot`` for the ``dim`` fast path."""
    af, ac = _operand(a)
    if dim is None or af is None:
        return F.sqrt(
            F.aggregate(
                F.transform(
                    ac, lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.sqrt(F.expr(_norm_sq_sql(af, dim)))


def cosine_similarity(a, b, dim: int | None = None) -> Column:
    """cos(a, b) = a.b / (|a| |b|); NULL-safe on zero vectors (returns
    NULL). Operands as in ``dot``."""
    na, nb = l2_norm(a, dim), l2_norm(b, dim)
    return F.when((na > 0) & (nb > 0), dot(a, b, dim) / (na * nb))


def random_projection(
    df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dims: int = 8,
    salt: str = "rp0",
    ticks: int = 1_000_000,
    dim: int | None = None,
):
    """Johnson-Lindenstrauss sign random projection: reduce each vector
    to ``out_dims`` components ``p_j = sum_i s(j,i) * x_i`` with
    content-addressed signs ``s(j,i) = ±1`` from ``md5(salt:j:i)`` — the
    Achlioptas database-friendly projection (±1 entries preserve pairwise
    distances in expectation like Gaussian ones). The cheap dimension
    squeeze before ANN indexing, clustering, or sketching when the full
    embedding is too wide to shuffle.

    Output columns: (id, p0..p{out_dims-1}). Scalar per-dimension columns
    (not an array) so the result is driver-canonicalizer-hashable and
    directly usable as join/sort keys.

    Determinism: components quantize to integer ``ticks`` units BEFORE
    the signed sum — each p_j is an EXACT integer sum (fold-order- and
    engine-immune; no floating accumulation anywhere), divided once at
    the end. The conventional 1/sqrt(k) scale is omitted (a constant
    factor — distances scale uniformly; apply downstream if magnitudes
    matter).

    Scale design (100 TB): pure projection — one pass, no shuffle, no
    UDF; the sign for (j, i) derives in-plan from md5 of two literals
    and the element index, so there is no weight matrix to broadcast at
    ANY dimensionality (the matrix is the hash function).

    ``dim`` (r14 optimization, guide §4.2 / §1.2): the md5 sign matrix
    is DATA-INDEPENDENT — ``md5(salt:j:i)`` depends only on the literal
    output/input indices — yet the HOF fold recomputed it per ROW
    through the interpreted evaluator (out_dims x dim md5+conv+substring
    evals per row; a measured 9.7 s single-task stage at sf0.1). With a
    statically known input dimensionality the signs are computed ONCE in
    Python (``hashlib.md5`` over the identical bytes — md5 is md5) and
    the projection unrolls into plain codegen ``±element_at`` sums; the
    quantized terms are exact longs, so the fold order cannot matter and
    the result is bit-identical. Rows whose vectors are not exactly
    ``dim`` long fall back to the HOF form via a lazy CASE branch
    (NULL/ragged semantics unchanged; ANSI element_at cannot fire).
    No ``spread_scan`` here: with the unroll the per-row work is plain
    codegen arithmetic, and the r14 same-session A/B measured the
    repartition as a net loss (3.6 s vs 2.8 s without).
    """
    import hashlib

    from pyspark.sql import functions as F

    if out_dims < 1:
        raise ValueError(f"out_dims must be >= 1, got {out_dims}")
    v = F.col(vec_col)
    idx = F.sequence(F.lit(1), F.size(v))
    vref = _sql_ref(vec_col)
    cols = [F.col(id_col)]
    for j in range(out_dims):
        # sign = +1 iff the first hex nibble of md5('salt:j:i') is even.
        # aggregate() folds EXACT LONGS: x_i quantizes to ticks first.
        term = F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit(salt),
                                F.lit(str(j)),
                                i.cast("string"),
                            )
                        ),
                        1,
                        1,
                    ),
                    16,
                    10,
                ).cast("int")
                % 2
                == 0,
                F.lit(1),
            ).otherwise(F.lit(-1))
            * F.round(F.element_at(v, i).cast("double") * ticks).cast("long"),
        )
        if dim is not None:
            signs = [
                1
                if int(
                    hashlib.md5(
                        f"{salt}:{j}:{i}".encode()
                    ).hexdigest()[0],
                    16,
                )
                % 2
                == 0
                else -1
                for i in range(1, dim + 1)
            ]
            unrolled = " + ".join(
                ("" if s > 0 else "-")
                + f"CAST(round(CAST(element_at({vref}, {i}) AS DOUBLE)"
                f" * {ticks}) AS BIGINT)"
                for i, s in zip(range(1, dim + 1), signs)
            )
            term = F.when(
                F.size(v) == dim, F.expr(f"0L + {unrolled}")
            ).otherwise(term)
        cols.append(
            (term.cast("double") / F.lit(float(ticks))).alias(f"p{j}")
        )
    return df.select(*cols)


def embedding_diagnostics(
    df,
    vec_col: str = "embedding",
    ticks: int = 1_000_000,
):
    """Per-DIMENSION health profile of an embedding column: (dim, n,
    mean, variance, min, max) — the "is this embedding space alive"
    check before indexing or training on it: a dimension with ~zero
    variance is collapsed (wasted capacity, and a degenerate axis for
    any quantizer trained on it); wildly uneven variances (anisotropy)
    degrade cosine retrieval.

    Determinism: components quantize to integer ``ticks`` units; mean
    and variance derive from exact decimal(38,0) sums of q and q*q
    (population variance, the sufficient-statistics discipline) with
    one fixed-order double expression each.

    Scale design (100 TB): one `posexplode` Generate over the scan into
    a partial-aggregated groupBy(dim) — output bounded by the embedding
    WIDTH regardless of corpus size; no shuffle beyond the dim-keyed
    exchange of per-task partials.
    """
    from pyspark.sql import functions as F

    v = F.col(vec_col)
    q = F.round(F.col("__x").cast("double") * ticks).cast("long")
    qt = F.lit(float(ticks))
    exploded = df.select(
        F.posexplode(v).alias("__d", "__x")
    ).select(
        (F.col("__d") + 1).cast("long").alias("dim"), q.alias("__q")
    )
    g = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__q").cast("decimal(38,0)")).alias("__s"),
        F.sum(
            F.col("__q").cast("decimal(38,0)") * F.col("__q")
        ).alias("__ss"),
        F.min("__q").alias("__mn"),
        F.max("__q").alias("__mx"),
    )
    nf = F.col("n").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    return g.select(
        "dim",
        "n",
        (s / qt / nf).alias("mean"),
        ((ss - s * s / nf) / nf / qt / qt).alias("variance"),
        (F.col("__mn").cast("double") / qt).alias("min"),
        (F.col("__mx").cast("double") / qt).alias("max"),
    )
