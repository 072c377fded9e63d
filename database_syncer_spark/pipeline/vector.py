"""The package's one vector arithmetic: Arrow kernels on :func:`tree_sum`.

Every dot product, norm, cosine and hyperplane projection over an
``array<float>`` embedding column is float64 numpy inside a kernel run
by :func:`~database_syncer_spark.arrow_map.map_arrow`, summed by
:func:`tree_sum`:

- :func:`cosine` appends the raw cosine of two vector columns to any
  pair frame (brute force, the LSH/IVF/PQ re-ranks, incremental dedup);
- :func:`with_norm` appends a vector column's L2 norm;
- :func:`_lsh_bucket_vectors` projects every vector onto the md5
  hyperplanes of all LSH tables at once (similarity and dedup);
- ``dedup._cosine_verify`` scores block pairs with :func:`row_norms` and
  :func:`cosines`.

Why not SQL. An unrolled SQL sum (one ``GetArrayItem`` product per
dimension) grows with dim. HotSpot never JIT-compiles a method over
8,000 bytes of bytecode (``DontCompileHugeMethods``), and the 64-term
cosine already compiled to 22-40 KB methods at the fixtures' dim 64, so
it ran in the bytecode interpreter. Janino rejects a method over 64 KB:
at dim 768 a dot + norm over 20k rows failed with "Code grows beyond
64 KB", fell back out of whole-stage codegen and took 5.1-6.9 s warm,
against 0.90-1.03 s for the same math as a kernel (the two were equal at
dim 64). Higher-order functions (``zip_with``/``aggregate``) are
interpreted per element. A kernel's generated JVM code does not depend
on dim, and its numpy cost is linear in it.

Determinism. Float addition is not associative, so the summation order
is part of every pinned value: :func:`tree_sum` adds in a fixed
pairwise-balanced tree over the vector axis, the same for every row
whatever the Arrow batch size, so results are partition-independent and
``tests/ann_reference.py`` replays them in plain numpy.

Inputs. These kernels and ``similarity``'s IVF/PQ kernels
(``_with_probe_cells``, ``_with_pq_codes``, ``_with_cell_and_codes``,
``_adc_scan``) view a column as one n×dim matrix (:func:`_list_matrix`):
a NULL row, a NULL element or a row of any other length raises
``ValueError``, never a silently truncated or shifted vector. Work
runs in row tiles of at most :data:`_TILE_FLOATS` values per operand,
so the working set stays bounded at any width.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_syncer_spark.arrow_map import map_arrow

#: float64 values per operand matrix in one kernel step (8 MB): a tile
#: is max(1, _TILE_FLOATS // width) rows, so memory is bounded at any dim.
_TILE_FLOATS = 1 << 20


def _balanced(terms: list, add) -> object:
    """Pairwise-balanced addition tree (depth log2 n instead of n).

    Float addition isn't associative, so the tree SHAPE is part of the
    arithmetic's deterministic contract; the balanced shape keeps
    partial sums closer in magnitude than left-to-right."""
    while len(terms) > 1:
        terms = [add(terms[i], terms[i + 1]) if i + 1 < len(terms)
                 else terms[i]
                 for i in range(0, len(terms), 2)]
    return terms[0]


def tree_sum(terms):
    """Sum the LAST axis of a float64 array in :func:`_balanced`'s
    pairing. ``tree_sum(a * b)`` is the package's dot product and
    ``np.sqrt(tree_sum(x * x))`` its norm (IEEE float64 ops are
    deterministic, so every row gets the same bits on every host)."""
    return _balanced([terms[..., i] for i in range(terms.shape[-1])],
                     lambda a, b: a + b)


def row_norms(x):
    """Row L2 norms of an n×dim float64 matrix."""
    import numpy as np

    return np.sqrt(tree_sum(x * x))


def cosines(x, y, nx, ny):
    """Row-wise raw cosine of two n×dim matrices whose row norms are
    ``nx``/``ny``: one tree dot, one norm product, one division."""
    return tree_sum(x * y) / (nx * ny)


def _list_matrix(col, width: int):
    """An Arrow ``list<...>`` column whose rows all hold ``width``
    non-NULL values, as an n×width numpy matrix viewing the child
    buffer in place (no per-row numpy objects). Anything else raises:
    a ragged or NULL row would silently shift every later row."""
    import pyarrow.compute as pc

    flat = col.flatten()
    if (col.null_count or flat.null_count
            or pc.any(pc.not_equal(pc.list_value_length(col),
                                   width)).as_py()):
        raise ValueError(
            f"expected non-NULL rows of exactly {width} non-NULL values")
    return flat.to_numpy().reshape(len(col), width)


def _row_tiles(batch, width: int):
    """``batch`` as consecutive slices of at most
    max(1, _TILE_FLOATS // width) rows."""
    step = max(1, _TILE_FLOATS // width)
    for lo in range(0, batch.num_rows, step):
        yield batch.slice(lo, step)


def _map_rows(frame: DataFrame, vectors: list[str], drop: list[str],
              dim: int, name: str, fn) -> DataFrame:
    """``frame`` minus ``drop`` plus a double column ``name`` =
    fn(*matrices), one matrix per column of ``vectors``; every other
    column passes through unchanged."""
    import numpy as np

    from pyspark.sql import types as T

    rest = [f for f in frame.schema.fields if f.name not in drop]
    schema = T.StructType(rest + [T.StructField(name, T.DoubleType())])

    def gen(batches):
        for b in batches:
            for t in _row_tiles(b, dim * len(vectors)):
                xs = [_list_matrix(t.column(c), dim).astype(np.float64)
                      for c in vectors]
                yield [t.column(f.name) for f in rest] + [fn(*xs)]

    return map_arrow(frame, schema, gen)


def _checked_cosines(x, y):
    nx, ny = row_norms(x), row_norms(y)
    if not (nx * ny).all():
        raise ValueError("cosine of a zero vector is undefined")
    return cosines(x, y, nx, ny)


def cosine(pairs: DataFrame, a: str, b: str, dim: int) -> DataFrame:
    """The raw cosine of vector columns ``a`` and ``b`` of every row:
    ``pairs`` with those two columns replaced by a double ``cosine``.
    Callers round in Spark (``F.round(cosine, 6)``). A zero vector
    raises ``ValueError``, as the SQL division by zero did."""
    return _map_rows(pairs, [a, b], [a, b], dim, "cosine", _checked_cosines)


def with_norm(frame: DataFrame, col: str, dim: int, name: str) -> DataFrame:
    """``frame`` plus a double column ``name``: the L2 norm of vector
    column ``col`` (which is kept)."""
    return _map_rows(frame, [col], [], dim, name, row_norms)


# --- random-hyperplane LSH ---------------------------------------------------


def _hyperplanes(n_planes: int, dim: int, table: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    same planes on every executor and every run."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"dss-lsh:{table}:{p}:{d}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            row.append((u / 2**63) - 1.0)  # uniform [-1, 1)
        planes.append(row)
    return planes


def _lsh_bucket_vectors(embeddings: DataFrame, n_planes: int, n_tables: int,
                        dim: int) -> DataFrame:
    """(vec_id, buckets array<long>[n_tables], embedding) — every LSH
    table's bucket id in ONE row per vector, the embedding carried
    through. Bucket t holds table t's n_planes sign bits (plane p sets
    bit p when the projection is > 0) against :func:`_hyperplanes`. One
    ``map_arrow`` pass projects each row tile onto all n_tables·n_planes
    planes at once through :func:`tree_sum`, so a bucket id depends only
    on its own row (partition-count-independent)."""
    import numpy as np

    planes = np.array(
        [row for t in range(n_tables)
         for row in _hyperplanes(n_planes, dim, t)])  # (T*r, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def gen(batches):
        for batch in batches:
            for b in _row_tiles(batch, dim * len(planes)):
                n = b.num_rows
                X = _list_matrix(b.column("embedding"), dim).astype(np.float64)
                bits = tree_sum(X[:, None, :] * planes[None, :, :]) > 0
                buckets = bits.reshape(n, n_tables, n_planes) @ weights
                yield [b.column("vec_id"), buckets, b.column("embedding")]

    return map_arrow(
        embeddings.select("vec_id", "embedding"),
        "vec_id long, buckets array<long>, embedding array<float>", gen)


def _lsh_band_rows(bucketed: DataFrame) -> DataFrame:
    """Explode a bucket-vector frame into one row per vector and LSH
    table: its columns plus (tbl, bucket)."""
    return bucketed.select(
        "*", F.posexplode("buckets").alias("tbl", "bucket"))
