"""The Arrow list boundary of the list-valued numpy kernels (MinHash,
SimHash, langid scores, MLP and BoW embeddings, PQ encode): each is an
``F.arrow_udf`` iterator UDF that gets the ``ListArray`` itself, offsets
plus one typed values buffer, and decides NULL and empty rows here
only. Both are length-0 rows; a kernel writes its own NULL/zero output
for them. A NULL element raises: through pandas, one anywhere in a batch
turned every list of it into float64, rounding 60-bit hashes. The BoW
and MLP embedders share one signed dense fold, ``signed_dense``. The
grouped SemDeDup passes read each cluster's vectors through ``matrix``,
where a NULL or ragged row raises instead."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def ragged(arr: pa.Array, dtype) -> tuple[np.ndarray, np.ndarray]:
    """``(flat, lens)``: the rows' values back to back as ``dtype`` and
    each row's length (a NULL row is 0). ValueError on a NULL element."""
    flat = arr.flatten()  # honours slicing, skips NULL rows' values
    if flat.null_count:
        raise ValueError(f"{flat.null_count} NULL list element(s) in an "
                         "Arrow batch; keep a NULL input a NULL list")
    lens = pc.list_value_length(arr).fill_null(0).to_numpy()
    return flat.to_numpy().astype(dtype, copy=False), lens.astype(np.int64)


def matrix(arr: pa.Array, d: int) -> np.ndarray:
    """The ``(n, d)`` float64 matrix of a list column whose every row
    holds ``d`` values (zero-copy for a double list). ValueError on a
    NULL row or a ragged row (lengths as ``ragged`` reads them: a NULL
    row is 0) and on a NULL element."""
    flat, lens = ragged(arr, np.float64)
    if (lens != d).any():
        raise ValueError(f"{int((lens != d).sum())} NULL or ragged list "
                         f"row(s) where {d}-vectors are required")
    return flat.reshape(len(arr), d)


def signed_dense(buckets: np.ndarray, signs: np.ndarray, lens: np.ndarray,
                 dim: int) -> np.ndarray:
    """``(rows, dim)`` int64: each row's ±1 ``signs`` summed into its
    ``buckets`` (flat, as ``ragged`` reads them); an empty row is zeros.
    The sums are small integers, exact in bincount's float64."""
    n = len(lens)
    idx = np.repeat(np.arange(n), lens) * dim + buckets
    acc = np.bincount(idx, weights=signs, minlength=n * dim)
    return acc.astype(np.int64).reshape(n, dim)


def segments(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(nz, starts)``: the non-empty rows and their offsets in ``flat``
    — ``np.ufunc.reduceat``'s indices, which must skip empty rows (a
    trailing one is out of bounds, an inner one yields a bogus value)."""
    nz = np.flatnonzero(lens)
    return nz, (np.cumsum(lens) - lens)[nz]


def rows(matrix: np.ndarray) -> pa.ListArray:
    """One list row per row of ``matrix``, typed by its dtype."""
    n, d = matrix.shape
    return pa.ListArray.from_arrays(
        np.arange(0, n * d + 1, d, dtype=np.int32),
        pa.array(np.ascontiguousarray(matrix).ravel()))
