"""Codegen-friendly vector math over array<float> columns.

Spark's higher-order functions (zip_with / aggregate / transform) are
evaluated by the interpreted expression path — they sit OUTSIDE
whole-stage codegen, and a lambda-per-element dot product measured ~30x
slower than the equivalent unrolled expression on the sf0.1 embeddings
fixture (4.7s -> 0.15s for brute-force top-k). These helpers unroll the
loop over a statically-known dimension into a flat sum of GetArrayItem
products, which Tungsten compiles into one tight codegen span.

The unroll is bounded by dim (64 in the fixtures), and every helper
takes the dimension explicitly so the expression is fixed at plan time.
Codegen does NOT keep a large unroll fast: HotSpot never JIT-compiles a
method over 8,000 bytes of bytecode (``DontCompileHugeMethods``, the
JDK 17 default), so such a kernel runs in the bytecode interpreter.
Largest generated method at sf0.01 (``debug.codegenStringSeq``):
22,366-22,510 bytes for sim_topk_cosine, sim_lsh_ann, sim_ivf_ann,
sim_pq_ann, sim_ivfpq_ann and sim_ivf_incremental; 5,385 bytes for
multimodal_columns. dedup_embedding_cosine verifies in a numpy kernel
built on :func:`tree_sum` instead, which reproduces these sums bit for
bit (its 64-term SQL cosine compiled to 39,647 bytes).

Construction goes through ONE ``F.expr(sql)`` call when the inputs are
plain column names (every hot call site) instead of building the tree
Column-by-Column: each ``col[i].cast(...) * ...`` operator is a Py4J
round trip, and a 64-dim dot built that way costs ~0.5s of driver time
PER CALL — profiled r5 on the ANN serving path, where expression
construction (2.1s) dwarfed execution (0.8s). The SQL string mirrors
the exact balanced-tree parenthesization and uses D-suffixed double
literals, so the parsed expression — and every downstream rounded
value — is identical to the Column-built tree (pinned by the ANN
recall regression tests). Column inputs fall back to the original
per-element construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _is_ref(c) -> bool:
    """True when `c` is a plain (possibly dot-qualified) column name we
    can splice into a SQL string (backtick-quoted by `_ref_sql`)."""
    return isinstance(c, str) and c.replace(".", "_").isidentifier()


def _ref_sql(c: str) -> str:
    """Backtick-quote each dot-separated segment so the spliced name
    resolves exactly like F.col(c) — an unquoted identifier that is also
    an argless SQL function (current_date, current_user) or a reserved
    word would otherwise parse/resolve differently (r5 ADVICE)."""
    return ".".join(f"`{seg}`" for seg in c.split("."))


def _balanced(terms: list, add) -> object:
    """Pairwise-balanced addition tree (depth log2 n instead of n).

    Float addition isn't associative, so the tree SHAPE is part of each
    kernel's deterministic contract — both shapes are deterministic, but
    the balanced one plans measurably faster on the driver and its
    partial sums stay closer in magnitude (mildly better numerics than
    left-to-right). The same pairing is used for the Column path and
    the SQL-string path so the two construct the SAME expression."""
    while len(terms) > 1:
        terms = [add(terms[i], terms[i + 1]) if i + 1 < len(terms)
                 else terms[i]
                 for i in range(0, len(terms), 2)]
    return terms[0]


def _balanced_sum(terms: list[Column]) -> Column:
    return _balanced(terms, lambda a, b: a + b)


def _balanced_sum_sql(terms: list[str]) -> str:
    return _balanced(terms, lambda a, b: f"({a} + {b})")


def tree_sum(terms):
    """numpy mirror of the SQL kernels' sum: reduces the LAST axis of a
    float64 array with `_balanced`'s pairing, so ``tree_sum(a * b)``
    and ``np.sqrt(tree_sum(x * x))`` equal ``dot``/``norm`` bit for bit
    (IEEE float64 ops are deterministic; pinned in tests/test_pipeline.py).
    Vectorized verify kernels use it to emit the engine's exact values."""
    return _balanced([terms[..., i] for i in range(terms.shape[-1])],
                     lambda a, b: a + b)


def _dlit(v: float) -> str:
    """A double literal that parses to the same IEEE value F.lit(float)
    would produce: repr() is the shortest round-trip form and the D
    suffix makes the parser build a DoubleType literal directly (a bare
    decimal would go through DECIMAL and could differ in the last ulp)."""
    return f"{float(v)!r}D"


def dot(a, b, dim: int) -> Column:
    """sum_i a[i]*b[i] as a flat codegen'd expression."""
    if _is_ref(a) and _is_ref(b):
        qa, qb = _ref_sql(a), _ref_sql(b)
        return F.expr(_balanced_sum_sql(
            [f"(CAST({qa}[{i}] AS DOUBLE) * CAST({qb}[{i}] AS DOUBLE))"
             for i in range(dim)]))
    a, b = _col(a), _col(b)
    return _balanced_sum([a[i].cast("double") * b[i].cast("double")
                          for i in range(dim)])


def dot_lit(col, coeffs: list[float]) -> Column:
    """Dot product against a driver-side constant vector (hyperplane,
    centroid): constants fold into the codegen'd expression — no array
    literal, no per-element lambda."""
    if _is_ref(col):
        qc = _ref_sql(col)
        return F.expr(_balanced_sum_sql(
            [f"(CAST({qc}[{i}] AS DOUBLE) * {_dlit(v)})"
             for i, v in enumerate(coeffs)]))
    col = _col(col)
    return _balanced_sum([col[i].cast("double") * F.lit(float(v))
                          for i, v in enumerate(coeffs)])


def norm_sq(col, dim: int) -> Column:
    if _is_ref(col):
        qc = _ref_sql(col)
        return F.expr(_balanced_sum_sql(
            [f"(CAST({qc}[{i}] AS DOUBLE) * CAST({qc}[{i}] AS DOUBLE))"
             for i in range(dim)]))
    col = _col(col)
    return _balanced_sum([col[i].cast("double") * col[i].cast("double")
                          for i in range(dim)])


def norm(col, dim: int) -> Column:
    return F.sqrt(norm_sq(col, dim))
