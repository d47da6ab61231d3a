"""Chu-Liu/Edmonds parity: brute force + the reference implementation.

The reference decode file (phonlp/models/common/chuliu_edmonds.py) is
pure numpy, so where it is available on disk we load it BY PATH (no
package import, no torch) and assert identical trees on random scores —
a behavioral oracle, not a code dependency; all engine code is
independent (phonlp_spark/kernel/mst.py).
"""

import importlib.util
import itertools
import os

import numpy as np
import pytest

from phonlp_spark.kernel.mst import max_spanning_tree, mst_single_root

REF_FILE = "/root/reference/phonlp/models/common/chuliu_edmonds.py"


def brute_force(scores, single_root):
    """Enumerate all head assignments; keep the best valid arborescence."""
    n = scores.shape[0]
    best, best_tree = -np.inf, None
    for heads in itertools.product(*[range(n)] * (n - 1)):
        heads = (0,) + heads
        if any(heads[i] == i for i in range(1, n)):
            continue
        if single_root and sum(1 for i in range(1, n) if heads[i] == 0) != 1:
            continue
        # validity: every node reaches 0 without cycling
        ok = True
        for i in range(1, n):
            seen, u = set(), i
            while u != 0:
                if u in seen:
                    ok = False
                    break
                seen.add(u)
                u = heads[u]
            if not ok:
                break
        if not ok:
            continue
        total = sum(scores[i, heads[i]] for i in range(1, n))
        if total > best:
            best, best_tree = total, heads
    return best, best_tree


def tree_score(scores, tree):
    return sum(scores[i, tree[i]] for i in range(1, len(tree)))


@pytest.mark.parametrize("n", [2, 3, 4, 5])
def test_against_brute_force(n):
    rng = np.random.default_rng(100 + n)
    for _ in range(40):
        s = rng.normal(size=(n, n))
        for single in (False, True):
            tree = (mst_single_root if single else max_spanning_tree)(s)
            assert tree[0] == 0
            best, _ = brute_force(s, single)
            assert np.isclose(tree_score(s, tree), best), (s, tree)
            if single:
                assert int(np.sum(tree[1:] == 0)) == 1


def test_handles_cycles_deterministically():
    # a matrix engineered to produce a greedy 2-cycle
    s = np.array([
        [0.0, -9, -9, -9],
        [1.0, -9, 5.0, 0.1],
        [0.2, 5.0, -9, 0.1],
        [0.3, 4.0, 0.1, -9],
    ])
    t1 = mst_single_root(s)
    t2 = mst_single_root(s)
    assert np.array_equal(t1, t2)
    best, _ = brute_force(s, True)
    assert np.isclose(tree_score(s, t1), best)


@pytest.mark.skipif(not os.path.exists(REF_FILE), reason="reference not on disk")
def test_matches_reference_module():
    spec = importlib.util.spec_from_file_location("ref_cle", REF_FILE)
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    rng = np.random.default_rng(7)
    for n in (2, 3, 5, 9, 17, 33):
        for _ in range(20):
            s = rng.normal(size=(n, n)).astype(np.float32)
            ours = mst_single_root(s)
            theirs = ref.chuliu_edmonds_one_root(s.copy())
            # scores tie-break identically only by accident; compare totals
            s64 = s.astype(np.float64)
            assert np.isclose(tree_score(s64, ours), tree_score(s64, theirs))
            assert int(np.sum(ours[1:] == 0)) == 1 == int(np.sum(np.asarray(theirs)[1:] == 0))


def test_native_solver_bit_identical_to_numpy():
    """The C fast path (kernel/_mst_c.c) must decode the EXACT tree the
    numpy implementation decodes — including argmax tie-breaking (first
    max) and float summation order (numpy pairwise sum) on exact-tie
    integer matrices.  Skipped implicitly when no compiler exists (the
    dispatcher then routes every call to the numpy path anyway)."""
    from phonlp_spark.kernel.mst import _mst_single_root_py, _native_fn
    if _native_fn() is None:
        pytest.skip("no C toolchain on this host")
    rng = np.random.default_rng(123)
    for trial in range(4000):
        n = int(rng.integers(2, 15)) if trial % 10 else int(rng.integers(15, 41))
        if trial % 3 == 0:
            s = rng.integers(-3, 4, size=(n, n)).astype(np.float64)
        elif trial % 3 == 1:
            s = rng.normal(size=(n, n))
        else:
            s = np.round(rng.normal(size=(n, n)) * 2) / 2
        assert np.array_equal(mst_single_root(s), _mst_single_root_py(s))


def test_nan_matrices_take_the_numpy_path():
    """The C argmax assumes NaN-free rows while np.argmax returns the
    first NaN, so matrices holding NaN must decode exactly as the
    numpy implementation does."""
    from phonlp_spark.kernel.mst import _mst_single_root_py
    rng = np.random.default_rng(11)
    for _ in range(200):
        n = int(rng.integers(2, 12))
        s = rng.normal(size=(n, n))
        s[rng.random((n, n)) < 0.2] = np.nan
        assert np.array_equal(mst_single_root(s), _mst_single_root_py(s))


def test_native_library_refused_when_writable_by_others(tmp_path, monkeypatch):
    """The compiled solver lives in a per-user 0700 directory, and a
    library there that group or others could have written is never
    loaded (the caller falls back to numpy)."""
    import shutil
    import stat
    import tempfile

    from phonlp_spark.kernel import mst
    if shutil.which("cc") is None:
        pytest.skip("no C toolchain on this host")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    assert mst._load_native() is not None
    [so] = tmp_path.glob(f"phonlp_spark-{os.getuid()}/phonlp_mst_*.so")
    assert stat.S_IMODE(os.stat(so.parent).st_mode) == 0o700
    for mode in (0o664, 0o646):
        os.chmod(so, mode)
        assert mst._load_native() is None
    os.chmod(so, 0o700)
    assert mst._load_native() is not None
    os.chmod(so.parent, 0o777)
    assert mst._load_native() is None
