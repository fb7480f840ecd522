"""Arrow-vectorized exact kernels (r13/r14 optimization rounds).

r13 shipped ``cos_seq_fold``, a pandas_udf that vectorized the exact
sequential-fold cosine ACROSS pairs but still paid a per-row Python
list conversion (``Series.tolist()``) on both embedding columns.
r14 replaces it with :func:`cos_rerank`, a ``mapInArrow`` kernel that
reads the Arrow list buffers directly — ``ListArray.flatten()`` hands
back the flat float buffer with no per-element Python objects — and
fixes the zero-norm divide semantics flagged in ADVICE r13 (the SQL
form the kernel replaced returns NULL for a zero divisor; numpy
returned inf/NaN, and NaN compares GREATER than any threshold in
Spark, so an all-zero embedding would have silently passed the d48
filter).
"""

import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Workers unpickle the mapInArrow function by reference unless this
# module is registered by value with pyspark's VENDORED cloudpickle —
# same worker-shipping constraint as streaming/sessions.py et al.
# (the driver contract imports the package from an arbitrary cwd, so
# the repo is NOT on the Python workers' sys.path).
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_RERANK_SCHEMA = "vec_a long, vec_b long, cosine double"
_RERANK_COLS = ["vec_a", "vec_b", "emb_a", "emb_b", "nrm_a", "nrm_b"]


def _embedding_dim(emb_a, emb_b) -> int:
    """The one list length shared by every row of both embedding
    columns; ValueError on a null list, a null element or a ragged
    batch. ``flatten()`` skips null lists and concatenates ragged ones,
    so without this check ``reshape(n, -1)`` still succeeds whenever
    the total happens to divide by n, and the cosines come out wrong."""
    for name, emb in (("emb_a", emb_a), ("emb_b", emb_b)):
        if emb.null_count or emb.flatten().null_count:
            raise ValueError(f"cos_rerank: null {name} embedding or element")
    lens = pc.min_max(pa.chunked_array([pc.list_value_length(emb_a),
                                        pc.list_value_length(emb_b)]))
    if lens["min"] != lens["max"]:
        raise ValueError(
            f"cos_rerank: ragged embeddings in one batch "
            f"(lengths {lens['min'].as_py()}..{lens['max'].as_py()})"
        )
    return lens["min"].as_py()


def _rerank_batches(it):
    for batch in it:
        if batch.num_rows == 0:
            continue
        col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
        n = batch.num_rows
        dim = _embedding_dim(col["emb_a"], col["emb_b"])
        # embeddings are float32 in parquet: cast every element to
        # double BEFORE the multiply (matching fold_dot's
        # ``cast("double")``) or the products round in float32 first
        A = col["emb_a"].flatten().to_numpy(zero_copy_only=False)
        B = col["emb_b"].flatten().to_numpy(zero_copy_only=False)
        A = A.astype(np.float64, copy=False).reshape(n, dim)
        B = B.astype(np.float64, copy=False).reshape(n, dim)
        na = col["nrm_a"].to_numpy(zero_copy_only=False)
        nb = col["nrm_b"].to_numpy(zero_copy_only=False)
        # dot product as the j-order sequential fold: acc starts at
        # 0.0 and adds a_j*b_j per dimension, so every IEEE
        # multiply/add rounds exactly like fold_dot (and the oracle's
        # list_reduce) — vectorized across pairs, sequential across
        # dimensions
        acc = np.zeros(n)
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        den = na * nb
        zero = den == 0
        cos = pa.array(
            acc / np.where(zero, 1.0, den), type=pa.float64(), mask=zero
        )
        yield pa.RecordBatch.from_arrays(
            [col["vec_a"], col["vec_b"], cos], ["vec_a", "vec_b", "cosine"]
        )


def cos_rerank(df):
    """Exact-rerank cosine over candidate pairs, zero-copy via Arrow.

    Input must carry ``vec_a, vec_b, emb_a, emb_b, nrm_a, nrm_b``;
    returns ``(vec_a, vec_b, cosine)`` where cosine is bit-identical
    to ``fold_dot(emb_a, emb_b) / (nrm_a * nrm_b)`` — proven
    frame-equal (float bits included) against the fold form at sf0.1.

    Preconditions (ADVICE r13): embeddings must be non-null, with no
    null element, and of one length within a batch. Every batch is
    checked (vectorized, two Arrow kernels per column) and a violation
    raises ``ValueError`` naming it: the flat-buffer reshape alone does
    NOT catch it, it silently misaligns rows whenever the flattened
    total divides by the row count. Fine for the fixed-dim embeddings
    table.

    Zero-norm pairs yield NULL cosine (SQL divide semantics), so a
    ``cosine >= tau`` filter drops them exactly as the SQL form did.
    """
    return df.select(*_RERANK_COLS).mapInArrow(_rerank_batches, _RERANK_SCHEMA)
